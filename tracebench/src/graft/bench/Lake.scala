package graft.bench

import java.nio.file.Path

import scala.collection.mutable

import graft.operators.SnapshotLog
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `lake_daily`: one closed-loop client replays a wide tape into a fresh
  * `graft-snapshot` table, one commit per day, and after each commit reads
  * back [[Reads]] pruned slices (a bond-id range over the last 5 days).
  * Every read is checked against the same filter applied to the tape.
  *
  * The table stays far inside the default manifest caches; tables larger
  * than the caches are `graft.ManifestProbe`'s subject, not this one's.
  */
final class LakeBench(spark: SparkSession, a: Args, rep: Report) {
  import Util._
  import LakeBench._

  private val spec = Workloads.lake
  private val schema = StructType.fromDDL(
    "event_id BIGINT, user_id BIGINT, day INT, secs INT, event_type STRING, value DOUBLE")

  /** One day of the tape: Spark rows for the append, and columns sorted by
    * bond for the expected answer of a read. */
  private final class Day(val rows: java.util.List[Row], val bond: Array[Long],
      val id: Array[Long], val value: Array[Double], val bytes: Long)

  private def days(bonds: Seq[Tape.Bond]): Array[Day] = {
    val byDay = Array.fill(spec.days)(mutable.ArrayBuffer.empty[Event])
    bonds.foreach(_.events.foreach(e =>
      byDay((e.ts.toLocalDate.toEpochDay - Tape.Start.toEpochDay).toInt) += e))
    byDay.map { es =>
      val sorted = es.sortBy(e => (e.user_id, e.event_id))
      val rows = new java.util.ArrayList[Row](sorted.size)
      sorted.foreach(e => rows.add(Row(e.event_id, e.user_id,
        (e.ts.toLocalDate.toEpochDay - Tape.Start.toEpochDay).toInt,
        e.ts.toLocalTime.toSecondOfDay, e.event_type, e.value)))
      new Day(rows, sorted.map(_.user_id).toArray, sorted.map(_.event_id).toArray,
        sorted.map(_.value).toArray, sorted.map(32L + _.event_type.length).sum)
    }
  }

  private var n = 0
  private def freshTable(): Path = {
    n += 1
    val dir = a.work.resolve(s"table-$n")
    spark.sql(s"CREATE TABLE graft_lake.`$dir` (event_id BIGINT, user_id BIGINT, " +
      "day INT, secs INT, event_type STRING, value DOUBLE) PARTITIONED BY (day)")
    dir
  }

  private def append(dir: Path, day: Day, trace: Option[Trace]): Double = {
    val df = spark.createDataFrame(day.rows, schema)
    val t0 = System.nanoTime()
    val write = () => df.write.format("graft-snapshot").option("path", dir.toString)
      .mode("append").save()
    trace.fold(write())(_.span("lake.write")(write()))
    secs(t0)
  }

  /** Order-independent checksum of (event_id, value) pairs. */
  private def checksum(ids: Iterator[Long], values: Iterator[Double]): (Long, Long, Long) = {
    var c = 0L; var s = 0L; var h = 0L
    ids.zip(values).foreach { case (i, v) =>
      c += 1; s += i; h += java.lang.Long.rotateLeft(i, 17) ^ java.lang.Double.doubleToLongBits(v)
    }
    (c, s, h)
  }

  private def expected(tape: Array[Day], lo: Long, hi: Long, d0: Int, d1: Int) = {
    val sel = (d0 to d1).iterator.flatMap { d =>
      val t = tape(d)
      t.bond.indices.iterator.filter(i => t.bond(i) >= lo && t.bond(i) < hi)
        .map(i => (t.id(i), t.value(i)))
    }.toSeq
    checksum(sel.iterator.map(_._1), sel.iterator.map(_._2))
  }

  /** One pruned read; returns (seconds, ok) and, when traced, its split. */
  private def read(dir: Path, tape: Array[Day], day: Int, rnd: java.util.SplittableRandom,
      trace: Option[Trace], split: mutable.Map[String, Double]): (Double, Boolean) = {
    val width = spec.bonds / 50
    val lo = rnd.nextInt(spec.bonds - width).toLong
    val hi = lo + width
    val d0 = math.max(0, day - Window + 1)
    // the clock starts before load(): resolving the table is part of a read
    val t0 = System.nanoTime()
    val df = spark.read.format("graft-snapshot").option("path", dir.toString).load()
      .filter(col("user_id") >= lo && col("user_id") < hi &&
        col("day") >= d0 && col("day") <= day)
      .select("event_id", "value")
    val rows = trace match {
      case None => df.collect()
      case Some(t) => t.span("lake.scan") {
        val plan = df.queryExecution.executedPlan
        val files = filesRead(plan)
        val t1 = System.nanoTime()
        val r = df.collect()
        split ++= Seq("lake.scan.plan_s" -> (t1 - t0) / 1e9,
          "lake.scan.exec_s" -> secs(t1),
          "lake.scan.prune_ratio" -> files.toDouble /
            SnapshotLog.entries(dir.toString, SnapshotLog.latest(dir.toString))
              .count(_.kind == "D"))
        r
      }
    }
    val s = secs(t0)
    val got = checksum(rows.iterator.map(_.getLong(0)), rows.iterator.map(_.getDouble(1)))
    val want = expected(tape, lo, hi, d0, day)
    if (got != want) System.err.println(s"read [$lo,$hi) days $d0..$day: got $got, want $want")
    (s, got == want)
  }

  /** Appends the first `days` days of the tape to a fresh table, each
    * followed by [[Reads]] reads. The day count is fixed, never a time
    * limit: how far the manifest grows must not depend on how fast the
    * code or the host is. */
  private final case class Loop(cycles: Seq[Double], commits: Seq[Double],
      reads: Seq[Double], split: Seq[Map[String, Double]], dir: Path, bytes: Long)

  private def loop(tape: Array[Day], days: Int, trace: Option[Trace]): Loop = {
    val dir = freshTable()
    val rnd = new java.util.SplittableRandom(a.seed)
    val cycles, commits, reads = mutable.ArrayBuffer.empty[Double]
    val split = mutable.ArrayBuffer.empty[Map[String, Double]]
    var bytes = 0L
    for (d <- 0 until days) {
      val m = mutable.Map.empty[String, Double]
      trace.foreach(_.reset())
      var c = 0.0
      if (rep.op(s"commit day $d") {
          c = append(dir, tape(d), trace)
          // CREATE TABLE published version 1; day d is version d + 2
          SnapshotLog.latest(dir.toString) == d + 2 }) commits += c
      bytes += tape(d).bytes
      trace.foreach { t =>
        val job = t.covered(Some("lake.write"))
        m ++= Seq("lake.write.job_s" -> job, "lake.commit.driver_s" -> (c - job))
      }
      var r = 0.0
      (1 to Reads).foreach { k =>
        val one = mutable.Map.empty[String, Double]
        trace.foreach(_.reset())
        var s = 0.0
        if (rep.op(s"read $k after day $d") {
            val (t, ok) = read(dir, tape, d, rnd, trace, one); s = t; ok }) reads += s
        r += s
        trace.foreach(t => one("lake.scan.bytes_read") = t.totals("lake.scan").bytesRead.toDouble)
        split += one.toMap
      }
      cycles += c + r
      split += m.toMap
    }
    Loop(cycles.toSeq, commits.toSeq, reads.toSeq, split.toSeq, dir, bytes)
  }

  def run(sessionS: Double): Unit = {
    var tape: Array[Day] = null
    var info: TapeInfo = null
    val setups = (1 to Workloads.SetupReps).map { i =>
      val t0 = System.nanoTime()
      val (bonds, got) = Tape.generate(spec, a.seed)
      tape = days(bonds)
      rep.op(s"setup $i tape digest")(info == null || got.digest == info.digest)
      info = got
      val warm = loop(tape, WarmDays, None)
      delete(warm.dir)
      secs(t0)
    }
    rep.setup(sessionS, setups)
    rep.tape(a.workload, spec, info)

    // whole passes over the tape, each into a fresh table, until the
    // measuring time is used; every pass builds the same table
    val measure = if (a.trace) a.seconds / 2 else a.seconds
    val t0 = System.nanoTime()
    val passes = mutable.ArrayBuffer(loop(tape, tape.length, None))
    while (secs(t0) < measure) passes += loop(tape, tape.length, None)
    val cycles = passes.flatMap(_.cycles).toSeq
    val commits = passes.flatMap(_.commits).toSeq
    val reads = passes.flatMap(_.reads).toSeq
    rep.e2e("wall_s", median(cycles))
    rep.e2e("stored_ratio", dirBytes(passes.head.dir).toDouble / passes.head.bytes)
    rep.info(s"samples: ${passes.size} passes, ${cycles.size} days (commits), ${reads.size} reads")
    val pct = Seq(
      "lake.commit_p50_ms" -> percentile(commits, 0.5) * 1e3,
      "lake.commit_p90_ms" -> percentile(commits, 0.9) * 1e3,
      "lake.scan_p50_ms" -> percentile(reads, 0.5) * 1e3,
      "lake.scan_p90_ms" -> percentile(reads, 0.9) * 1e3)
    pct.foreach { case (k, v) => rep.info(f"$k%-20s $v%.3f ms") }
    passes.foreach(p => delete(p.dir))

    if (a.trace) {
      pct.foreach { case (k, v) => rep.layer(k, v) }
      val trace = new Trace(spark).attach()
      val t = loop(tape, tape.length, Some(trace))
      trace.detach()
      val med = medians(t.split)
      med.toSeq.sortBy(_._1).foreach { case (k, v) => rep.layer(k, v) }
      val latest = SnapshotLog.latest(t.dir.toString)
      rep.layer("lake.manifest_entries", SnapshotLog.entries(t.dir.toString, latest).size)
      rep.layer("lake.manifest_bytes", dirBytes(t.dir.resolve("_manifests")).toDouble)
      rep.layer("trace.overhead_s", median(t.cycles) - median(cycles))
      delete(t.dir)
    }
  }
}

object LakeBench {
  /** reads after each commit */
  val Reads = 4
  /** days in a read's window */
  val Window = 5
  /** days committed by each set-up's warm-up */
  val WarmDays = 4

  /** Files a DSv2 snapshot scan reads: the scan tasks name their files
    * through their `paths`. */
  def filesRead(plan: org.apache.spark.sql.execution.SparkPlan): Int =
    Trace.nodes(plan).collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.inputPartitions.flatMap { p =>
          p.getClass.getMethod("paths").invoke(p).asInstanceOf[Seq[String]]
        }
    }.flatten.distinct.size
}
