package graft.sources

import graft.SparkSpec
import graft.operators.SnapshotLog
import org.apache.spark.sql.functions._

/** Parquet-level predicate pushdown in the vectorized snapshot scan:
  * pushed predicates translate (per file) into parquet FilterApi
  * predicates, so row groups whose statistics exclude every match are
  * never DECODED — witnessed by [[SnapshotVectorized.rawRows]], the
  * count of raw rows the vectorized reader actually materialized.
  *
  *  1. a selective equality over a sorted column decodes a small
  *     fraction of the file (row-group skipping), result exact;
  *  2. group skipping composes with position deletes and `_pos` stays
  *     the PHYSICAL row index;
  *  3. string range predicates push (byte-order = Catalyst order);
  *  4. a renamed + widened column filters through the FILE's old
  *     field name at the FILE's physical type;
  *  5. page-level (column-index) filtering stays OFF: with it on, a
  *     projection without the filter column would read that column as
  *     all-null and drop every row.
  */
class ParquetFilterSpec extends SparkSpec {

  private def fresh(tag: String): String = {
    val base = s"/tmp/graft-test/pqfilter-$tag"
    graft.Scratch.clear(base)
    s"$base/t"
  }

  /** rows the vectorized reader decoded while running `body`. */
  private def decoded(body: => Unit): Long = {
    val before = SnapshotVectorized.rawRows.sum()
    body
    SnapshotVectorized.rawRows.sum() - before
  }

  /** one sorted single-file table with many small row groups and NO
    * manifest stats (so every file survives manifest pruning and any
    * skipping below is parquet's own). */
  private def sortedTable(dir: String, n: Long): String = {
    import spark.implicits._
    (0L until n).map(i => (i, s"s${"%07d".format(i)}", i % 7))
      .toDF("id", "s", "g")
      .coalesce(1).write.option("parquet.block.size", "65536")
      .parquet(s"$dir/data")
    val f = SnapshotLog.dataFiles(s"$dir/data").head
    SnapshotLog.commitEntries(dir, Seq(
      SnapshotLog.FileEntry(f, "D", "", Map.empty, seq = 1L,
        rows = n, bytes = SnapshotLog.statBytes(f))))
    f
  }

  test("selective equality skips row groups; result exact") {
    val dir = fresh("eq")
    val n = 200000L
    sortedTable(dir, n)
    val df = spark.read.format("graft-snapshot").option("path", dir).load()
    var got: Array[org.apache.spark.sql.Row] = null
    val raw = decoded {
      got = df.filter(col("id") === 123456L).select("id", "s").collect()
    }
    assert(got.map(_.getLong(0)).toSeq == Seq(123456L))
    assert(got.head.getString(1) == "s0123456")
    assert(raw > 0L, "the match's own row group must decode")
    assert(raw < n / 4,
      s"a one-row equality over a sorted $n-row file must skip most " +
        s"row groups (decoded $raw raw rows)")
  }

  test("group skipping composes with position deletes; _pos physical") {
    import spark.implicits._
    val dir = fresh("posdel")
    val n = 120000L
    val f = sortedTable(dir, n)
    // kill a band of rows inside the SURVIVING range (and a few in
    // skipped ranges, which must be a no-op for this query)
    val dead = ((100000L to 100040L) ++ Seq(5L, 70000L)).sorted
    dead.map(p => (f, p)).toDF("file_path", "row_pos")
      .coalesce(1).write.parquet(s"$dir/deletes")
    SnapshotLog.commitEntries(dir,
      SnapshotLog.entries(dir, 1) ++
        SnapshotLog.dataFiles(s"$dir/deletes").map(p =>
          SnapshotLog.FileEntry(p, "P", "", Map.empty, seq = 2L,
            bytes = SnapshotLog.statBytes(p))))
    val df = spark.read.format("graft-snapshot").option("path", dir).load()
      .filter(col("id").between(99990L, 100100L))
    var rows: Array[org.apache.spark.sql.Row] = null
    val raw = decoded {
      rows = df.select(col("id"), col(SnapshotDelta.PosCol).as("p"))
        .collect()
    }
    // in a sorted 0..n-1 single file, _pos == id for every live row
    val want = (99990L to 100100L).filterNot(dead.toSet)
    assert(rows.map(_.getLong(0)).sorted.toSeq == want)
    assert(rows.forall(r => r.getLong(0) == r.getLong(1)),
      "_pos must stay the physical row index under group skipping")
    assert(raw < n / 4,
      s"the range query must skip non-overlapping groups (decoded $raw)")
  }

  test("string range predicates push at byte order") {
    val dir = fresh("str")
    val n = 150000L
    sortedTable(dir, n)
    val df = spark.read.format("graft-snapshot").option("path", dir).load()
    var c = 0L
    val raw = decoded {
      c = df.filter(col("s") >= lit("s0149000")).count()
    }
    assert(c == 1000L)
    assert(raw < n / 4,
      s"a tail string range over a sorted file must skip the leading " +
        s"groups (decoded $raw)")
  }

  test("IS NOT NULL skips all-null row groups; result exact") {
    import spark.implicits._
    val dir = fresh("notnull")
    val n = 200000L
    // x is NULL for the first 3/4 of the (sorted, many-group) file —
    // the leading row groups are ALL-NULL in x and their null-count
    // statistics must veto them under the IS_NOT_NULL rider
    (0L until n).map(i =>
        (i, if (i < n * 3 / 4) None else Some(i), i % 7))
      .toDF("id", "x", "g")
      .coalesce(1).write.option("parquet.block.size", "65536")
      .parquet(s"$dir/data")
    val f = SnapshotLog.dataFiles(s"$dir/data").head
    SnapshotLog.commitEntries(dir, Seq(
      SnapshotLog.FileEntry(f, "D", "", Map.empty, seq = 1L,
        rows = n, bytes = SnapshotLog.statBytes(f))))
    val df = spark.read.format("graft-snapshot").option("path", dir).load()
    var cnt = -1L; var sum = -1L
    val raw = decoded {
      val r = df.filter(col("x").isNotNull)
        .agg(count(lit(1)), org.apache.spark.sql.functions.sum(col("x")))
        .head
      cnt = r.getLong(0); sum = r.getLong(1)
    }
    assert(cnt == n / 4)
    assert(sum == (n * 3 / 4 until n).sum)
    assert(raw < n / 2,
      s"all-null groups must skip under IS NOT NULL (decoded $raw of $n)")
  }

  test("an oversized IN set still prunes groups via its range") {
    val dir = fresh("bigin")
    val n = 200000L
    sortedTable(dir, n)
    // 1000 values, clustered: the OR-chain is past MaxInValues so the
    // translation collapses to [min, max] — exactly the shape a DPP
    // runtime value set over a clustered key takes
    val vals = (100000L until 101000L).toSeq
    val df = spark.read.format("graft-snapshot").option("path", dir).load()
    var got = -1L
    val raw = decoded {
      got = df.filter(col("id").isin(vals: _*)).count()
    }
    assert(got == 1000L)
    assert(raw < n / 4,
      s"a clustered 1000-value set must still skip groups via its " +
        s"range (decoded $raw of $n)")
    // plan-level pin (independent of what Spark chooses to push): the
    // translation itself emits a gtEq∧ltEq range for the big set
    val msg = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message m { optional int64 id; }")
    val fp = SnapshotParquetFilter.build(
      Seq(SnapshotPrune.InSet("id", vals)), msg, c => Some(c))
    assert(fp.isDefined, "big IN must range-collapse, not refuse")
    val s = fp.get.toString
    assert(s.contains("gteq(id, 100000)") && s.contains("lteq(id, 100999)"),
      s"expected a range collapse, got $s")
  }

  test("renamed + widened column filters through the file's old field") {
    import spark.implicits._
    val dir = fresh("rename")
    val n = 100000L
    // the FILE carries int32 `old_id`; the canonical schema serves
    // long `id` from it
    (0L until n).map(i => (i.toInt, i % 5)).toDF("old_id", "g")
      .coalesce(1).write.option("parquet.block.size", "65536")
      .parquet(s"$dir/data")
    val f = SnapshotLog.dataFiles(s"$dir/data").head
    SnapshotLog.commitEntries(dir, Seq(
      SnapshotLog.FileEntry(f, "D", "", Map.empty, seq = 1L,
        rows = n, bytes = SnapshotLog.statBytes(f))))
    SnapshotLog.commitSchemaChange(dir,
      org.apache.spark.sql.types.StructType.fromDDL(
        "id BIGINT, g BIGINT"),
      renames = Map("old_id" -> "id"))
    val df = spark.read.format("graft-snapshot").option("path", dir).load()
    var got: Seq[Long] = Nil
    val raw = decoded {
      got = df.filter(col("id") === 88888L).select("id")
        .as[Long].collect().toSeq
    }
    assert(got == Seq(88888L))
    assert(raw < n / 4,
      s"the rename/widen translation must still skip groups " +
        s"(decoded $raw)")
  }

  test("column-index filtering stays off; pruned outputs stay exact") {
    import spark.implicits._
    val dir = fresh("page")
    val n = 200000L
    // ONE row group (big block), many SMALL pages: stats-level
    // skipping has nothing to cut, only a column index could skip here
    (0L until n).map(i => (i, s"s${"%07d".format(i)}", i % 7))
      .toDF("id", "s", "g")
      .coalesce(1).write
      .option("parquet.block.size", (256L * 1024 * 1024).toString)
      .option("parquet.page.size", "4096")
      .option("parquet.page.row.count.limit", "1000")
      .parquet(s"$dir/data")
    val f = SnapshotLog.dataFiles(s"$dir/data").head
    SnapshotLog.commitEntries(dir, Seq(
      SnapshotLog.FileEntry(f, "D", "", Map.empty, seq = 1L,
        rows = n, bytes = SnapshotLog.statBytes(f))))
    def q = spark.read.format("graft-snapshot").option("path", dir).load()
      .filter(col("id").between(50000L, 50100L))
    // outputs that leave out the filter column: a projection and the
    // zero-column count(*) shape
    var rows: Seq[String] = Nil
    val rawSel = decoded { rows = q.select("s").as[String].collect().toSeq }
    assert(rows.sorted ==
      (50000L to 50100L).map(i => s"s${"%07d".format(i)}"))
    var cnt = -1L
    val rawCnt = decoded { cnt = q.count() }
    assert(cnt == 101L)
    // the single group's stats admit the range, and no page is skipped
    assert(rawSel == n && rawCnt == n,
      s"one row group, page level off: every row decodes " +
        s"(got $rawSel / $rawCnt of $n)")
  }
}
