package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Write-side statistics collection (the task-side replacement for the
  * per-file driver footer loop). Claims:
  *  - `collectFileStats` == `footerStats` per file for INT64 columns,
  *    and its row counts == the parquet footers' — the distributed agg
  *    and the footer walk can never disagree;
  *  - string bounds land in the manifest and drive `prunedReadStr`
  *    (metadata-only, proven by deleting the pruned files);
  *  - `metaCount` answers COUNT(*) BY partition with ZERO data files
  *    opened (also proven by deletion), and refuses vectored tables.
  */
class TaskStatsSpec extends SparkSpec {

  test("distributed stats == footer stats, rows == footer row counts") {
    import spark.implicits._
    val root = "/tmp/graft-test/taskstats/w"
    graft.Scratch.clear("/tmp/graft-test/taskstats")
    (0L until 500L).map(i => (i, i % 5, s"s${i % 23}",
      if (i % 11 == 0) null.asInstanceOf[java.lang.Long] else
        java.lang.Long.valueOf(i * 3)))
      .toDF("id", "grp", "tag", "sparse")
      .repartition(4).write.parquet(root)
    val files = SnapshotLog.dataFiles(root)
    val st = SnapshotLog.collectFileStats(spark, files,
      Seq("id", "sparse", "tag"))
    assert(st.size == files.size)
    files.foreach { f =>
      val SnapshotLog.FileStats(rows, longs, strs, nulls, sums) =
        st(SnapshotLog.normPath(f))
      val footer = SnapshotLog.footerStats(spark, f, Seq("id", "sparse"))
      assert(longs == footer,
        s"task-side long stats diverged from the footer at $f")
      // row count from the footer blocks, independently
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f),
          spark.sparkContext.hadoopConfiguration))
      val nFooter = try {
        import scala.jdk.CollectionConverters._
        reader.getFooter.getBlocks.asScala.map(_.getRowCount).sum
      } finally reader.close()
      assert(rows == nFooter, s"row count diverged at $f")
      assert(strs.contains("tag"), "string bounds missing")
      // null counts: id has none, `sparse` nulls every 11th id
      assert(nulls("id") == 0L)
      val sparseNulls = spark.read.parquet(f)
        .filter(col("sparse").isNull).count()
      assert(nulls("sparse") == sparseNulls,
        s"null count diverged at $f")
      // exact sums for the long columns (nulls skipped, like SQL SUM)
      val wantSum = spark.read.parquet(f)
        .agg(org.apache.spark.sql.functions.sum(col("id"))).head.getLong(0)
      assert(sums("id") == wantSum, s"sum diverged at $f")
      assert(sums.contains("sparse"))
    }
  }

  test("string-bounds pruning is metadata-only; metaCount opens no file") {
    import spark.implicits._
    val dir = "/tmp/graft-test/taskstats-prune/t"
    graft.Scratch.clear("/tmp/graft-test/taskstats-prune")
    // dates as ISO strings, one month per partition — bounds per file
    val df = (0 until 360).map { i =>
      val m = i % 12 + 1
      (i.toLong, m.toLong, f"2024-$m%02d-${i % 28 + 1}%02d")
    }.toDF("id", "grp", "d")
    SnapshotMerge.writeInitial(spark, df, dir, "grp",
      statsCols = Seq("id", "d"))
    val v = SnapshotLog.latest(dir)
    val es = SnapshotLog.entries(dir, v)
    assert(es.forall(e => e.rows >= 0 && e.strStats.contains("d")))

    // the manifest answers COUNT(*) by partition before any deletion
    val counted = SnapshotLog.metaCount(spark, dir, v)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counted.values.sum == 360 && counted.size == 12)

    val want = spark.sparkContext.range(0, 360).count() // warm context
    val expect = df.filter(col("d").between("2024-03-01", "2024-03-31"))
      .select("id").collect().map(_.getLong(0)).sorted.toSeq

    // DELETE every file whose string bounds cannot overlap March —
    // the pruned read must not notice
    es.filter(e => !e.overlapsStr("d", "2024-03-01", "2024-03-31"))
      .foreach(e => java.nio.file.Files.delete(
        java.nio.file.Paths.get(e.path)))
    val got = SnapshotLog.prunedReadStr(spark, dir, v,
      "d", "2024-03-01", "2024-03-31")
      .filter(col("d").between("2024-03-01", "2024-03-31"))
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == expect, "string-pruned read lost rows or opened files")

    // metaCount still answers with EVERY data file gone
    es.filter(e => java.nio.file.Files.exists(
        java.nio.file.Paths.get(e.path)))
      .foreach(e => java.nio.file.Files.delete(
        java.nio.file.Paths.get(e.path)))
    val counted2 = SnapshotLog.metaCount(spark, dir, v)
      .agg(sum(col("n_rows"))).head.getLong(0)
    assert(counted2 == 360, "metaCount opened a data file (or lost rows)")
  }

  test("metaCount serves POSITION-deleted tables exactly, still with " +
      "every data file gone") {
    import spark.implicits._
    val dir = "/tmp/graft-test/taskstats-pos/t"
    graft.Scratch.clear("/tmp/graft-test/taskstats-pos")
    val df = (0L until 120L).map(i => (i, (i % 3).toInt)).toDF("id", "grp")
    val v1 = SnapshotMerge.writeInitial(spark, df, dir, "grp",
      statsCols = Seq("id")) // stats pass on → row counts recorded
    // position-delete 7 rows of grp=1 via the SQL DML door (kind "P")
    graft.GraftExtensions.ensure(spark)
    spark.sql(s"DELETE FROM graft_lake.`$dir` " +
      "WHERE grp = 1 AND id < 21") // ids 1,4,7,10,13,16,19 → 7 rows
    val v2 = SnapshotLog.latest(dir)
    val want = SnapshotLog.readMor(spark, dir, v2)
      .groupBy("grp").count().collect()
      .map(r => (r.getInt(0), r.getLong(1))).toMap
    // now delete EVERY data file: the count must come from manifests
    // + the churn-sized position files alone
    SnapshotLog.files(dir, v2).foreach(p =>
      java.nio.file.Files.delete(java.nio.file.Paths.get(p)))
    val got = SnapshotLog.metaCount(spark, dir, v2).collect()
      .map(r => (r.getString(0).stripPrefix("grp=").toInt, r.getLong(1)))
      .toMap
    assert(got == want,
      s"position-aware metaCount diverged: got $got want $want")
    assert(got(1) == 40L - 7L)
  }

  test("metaCount refuses vectored snapshots and pre-stats writers") {
    import spark.implicits._
    val dir = "/tmp/graft-test/taskstats-refuse/t"
    graft.Scratch.clear("/tmp/graft-test/taskstats-refuse")
    val df = (0L until 50L).map(i => (i, i % 2)).toDF("id", "grp")
    SnapshotMerge.writeInitial(spark, df, dir, "grp")
    DeleteVectors.appendDeletes(spark, dir,
      Seq((1L, 1L)).toDF("id", "grp"))
    intercept[IllegalArgumentException] {
      SnapshotLog.metaCount(spark, dir, SnapshotLog.latest(dir))
    }
    // entries committed without a row count (rows = -1) refuse too
    val dir2 = "/tmp/graft-test/taskstats-refuse/norows"
    SnapshotLog.commitEntries(dir2, Seq(SnapshotLog.FileEntry(
      s"$dir2/data/a.parquet", "D", "p=1", Map.empty, seq = 1L,
      rows = -1L)))
    intercept[IllegalArgumentException] {
      SnapshotLog.metaCount(spark, dir2, 1)
    }
  }
}
