package graft

import org.apache.spark.sql.functions._

/** Head-to-head for the S65 vectorized scan: builds (once) a snapshot
  * table from lineitem at the given sf dir, then times the same
  * scan-bound aggregate through the COLUMNAR path and the forced ROW
  * path (`option("rowMode","true")`) — the recorded ratio is the
  * constant factor a scan-bound 100-TB read keeps or pays.
  *
  *   tools/run.sh graft.ScanBench /root/testdata/sf0.1 3
  *
  * prints one JSON line {"columnar_sec":…,"row_sec":…,"ratio":…}.
  */
object ScanBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(1).map(_.toInt).getOrElse(3)
    // copies > 1: replicate lineitem with OFFSET keys so per-file
    // bytes reach realistic row-group sizes (the decode constant the
    // head-to-head exists to measure; at 2 MB/file the task overheads
    // dominate both paths)
    val copies = args.lift(2).map(_.toInt).getOrElse(1)
    val spark = Sessions.local()
    val dir =
      s"${graft.Scratch.dirFor(s"s65_scan_v3x$copies", sfDir)}/t"
    if (graft.operators.SnapshotLog.latest(dir) == 0) {
      graft.Scratch.clear(dir)
      val one = graft.Tables.lineitem(spark, sfDir).select(
        col("l_orderkey").as("ok"),
        col("l_partkey").as("pk"),
        col("l_quantity").cast("decimal(18,2)").cast("long").as("qty"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100)
          .cast("long").as("cents"),
        date_format(col("l_shipdate"), "yyyy-MM-dd").as("sd"),
        month(to_date(col("l_shipdate"))).as("m"))
      val base = (0 until copies).map(k =>
        one.withColumn("ok", col("ok") + lit(k.toLong * 100000000L)))
        .reduce(_.unionByName(_))
      graft.operators.SnapshotMerge.writeInitial(spark, base, dir, "m")
    }
    def agg(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(col("m"))
        .agg(count(lit(1)), sum(col("qty") * (col("ok") % 7)),
          sum(col("cents")), min(col("sd")), max(col("sd")))
        .collect()
    def time(f: => Unit): Double = (1 to reps).map { _ =>
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }.min
    def run(rowMode: Boolean): Double = time(agg(
      spark.read.format("graft-snapshot").option("path", dir)
        .option("rowMode", rowMode.toString).load()))
    // the GOLD STANDARD: Spark's own vectorized parquet file source
    // over the exact same files — parity with it is the ceiling
    val files = graft.operators.SnapshotLog.files(dir,
      graft.operators.SnapshotLog.latest(dir))
    def native(): Double = time(agg(spark.read.parquet(files: _*)))
    run(rowMode = true) // JIT + page-cache warm-up, untimed
    val colSec = run(rowMode = false)
    val rowSec = run(rowMode = true)
    val natSec = native()
    // SELECTIVE face: the same table under a narrow non-partition
    // WHERE — what parquet-level predicate pushdown buys. Timed with
    // the filter pushed (default), with the push disabled (the
    // escape hatch), and through the native source; rawRows records
    // how many raw rows each variant actually DECODED.
    val band = col("ok").between(lit(100L), lit(2000L))
    def selAgg(df: org.apache.spark.sql.DataFrame) =
      df.filter(band).groupBy(col("m"))
        .agg(count(lit(1)), sum(col("qty")), sum(col("cents")))
        .collect()
    def rawDelta(f: => Unit): Long = {
      val b = graft.sources.SnapshotVectorized.rawRows.sum(); f
      graft.sources.SnapshotVectorized.rawRows.sum() - b
    }
    def selRun(push: Boolean): Double = time(selAgg(
      spark.read.format("graft-snapshot").option("path", dir)
        .option("parquetFilter", push.toString).load()))
    var rawOn = 0L; var rawOff = 0L
    val selOnSec = selRun(push = true)
    val selOffSec = selRun(push = false)
    // page-level (column-index) opt-in face: same selective read with
    // option("pageFilter","true") — the projection widens by the
    // filter column and parquet evaluates pages, not just groups.
    // BOTH numbers are recorded honestly: the win face needs pages
    // finer than the row groups (big groups, clustered key); on
    // stats-friendly layouts the widened decode makes it a LOSS.
    def selPage(): Double = time(selAgg(
      spark.read.format("graft-snapshot").option("path", dir)
        .option("pageFilter", "true").load()))
    val selPageSec = selPage()
    rawOn = rawDelta(selAgg(spark.read.format("graft-snapshot")
      .option("path", dir).load()))
    rawOff = rawDelta(selAgg(spark.read.format("graft-snapshot")
      .option("path", dir).option("parquetFilter", "false").load()))
    val rawPage = rawDelta(selAgg(spark.read.format("graft-snapshot")
      .option("path", dir).option("pageFilter", "true").load()))
    val selNatSec = time(selAgg(spark.read.parquet(files: _*)))
    println(f"""{"columnar_sec":$colSec%.3f,"row_sec":$rowSec%.3f,""" +
      f""""native_sec":$natSec%.3f,""" +
      f""""row_over_columnar":${rowSec / colSec}%.2f,""" +
      f""""columnar_over_native":${colSec / natSec}%.2f,""" +
      f""""selective_sec":$selOnSec%.3f,""" +
      f""""selective_nopush_sec":$selOffSec%.3f,""" +
      f""""selective_page_sec":$selPageSec%.3f,""" +
      f""""selective_native_sec":$selNatSec%.3f,""" +
      f""""selective_raw_rows":$rawOn,""" +
      f""""selective_nopush_raw_rows":$rawOff,""" +
      f""""selective_page_raw_rows":$rawPage,""" +
      f""""selective_over_native":${selOnSec / selNatSec}%.2f}""")
    spark.stop()
  }
}
