package graft.bench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import graft.{Caches, SparkEntry}
import graft.agg.DailyMetrics
import graft.clean.BounceBack
import graft.queries.{QStage1, QTracePipeline, Trades}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** `stage0_trace` and `stage1_enrich`: cold executions from the raw tape
  * to snappy Parquet, through the pipelines' public entry points. */
final class PipelineBench(spark: SparkSession, a: Args, rep: Report) {
  import Util._

  private val stage0 = a.workload == Workloads.Stage0
  private val spec = if (stage0) Workloads.dense else Workloads.wide
  private val prefix = if (stage0) "stage0" else "stage1"
  private val entry: (SparkSession, String) => DataFrame =
    if (stage0) QTracePipeline.dailyPanel else QStage1.enrichedPanel
  /** the `SparkEntry` query whose DuckDB oracle checks `entry` */
  private val oracleName = if (stage0) "tp_full_panel" else "tp_stage1_panel"
  private val parts = spark.sparkContext.defaultParallelism * 4

  private var n = 0
  private def fresh(tag: String): Path = { n += 1; a.work.resolve(s"$tag-$n") }

  private var reference: String = _

  /** The output digest must equal the first timed execution's, and no
    * execution may find a memo left warm by an earlier one. */
  private def verify(out: Path): Boolean = {
    val d = digest(spark, out.toString)
    if (reference == null) reference = d
    val memoCold = !Caches.memoHitSeen
    if (d != reference) System.err.println(s"output digest $d != first execution's $reference")
    if (!memoCold) System.err.println("execution found a warm memo")
    d == reference && memoCold
  }

  private def cold(): Unit = {
    Caches.clearAll()
    Caches.resetMemoHit()
    quiesce()
  }

  /** One untraced cold execution: its wall time, whether its checks
    * held, and the bytes it wrote. */
  private def execute(tape: String): (Double, Boolean, Long) = {
    cold()
    val out = fresh("out")
    val t0 = System.nanoTime()
    entry(spark, tape).write.parquet(out.toString)
    val wall = secs(t0)
    val ok = verify(out)
    val bytes = dirBytes(out)
    delete(out)
    (wall, ok, bytes)
  }

  /** Set-up, timed as a whole and repeated: generate the full tape, then
    * run the pipeline once on a reduced tape from the same generator. The
    * first set-up's run is the JVM's cold execution, and `run.py` compares
    * its output with the DuckDB oracle; the later runs must give the same
    * digest. The full tape is only read by the timed executions. */
  def run(sessionS: Double): Unit = {
    var tape: Path = null
    var info: TapeInfo = null
    var small: String = null
    val oracle = a.work.resolve("oracle")
    val setups = (1 to Workloads.SetupReps).map { i =>
      val t0 = System.nanoTime()
      if (tape != null) delete(tape)
      tape = fresh("tape")
      val got = Tape.write(spark, spec, a.seed, tape.toString, parts)
      rep.op(s"setup $i tape digest")(info == null || got.digest == info.digest)
      info = got
      rep.info(f"setup $i: tape written in ${secs(t0)}%.3f s")
      // the first set-up's reduced tape and output stay for the oracle
      val (reduced, out) =
        if (i == 1) (oracle.resolve("tape"), oracle.resolve(oracleName))
        else (fresh("reduced"), fresh("out"))
      rep.op(s"setup $i run on the reduced tape") {
        Tape.write(spark, Workloads.reduced, a.seed, reduced.toString, 4)
        cold()
        entry(spark, reduced.toString).write.parquet(out.toString)
        val d = digest(spark, out.toString)
        if (small == null) small = d
        if (i > 1) { delete(reduced); delete(out) }
        if (d != small) System.err.println(s"reduced-tape digest $d != set-up 1's $small")
        d == small && !Caches.memoHitSeen
      }
      secs(t0)
    }
    Files.writeString(oracle.resolve("oracle_sql.json"), "{" +
      json(oracleName) + ": " + json(SparkEntry.oracleSql(oracleName)) + "}\n")
    rep.setup(sessionS, setups)
    rep.tape(a.workload, spec, info)

    val tapeDir = tape.toString
    val measure = if (a.trace) a.seconds / 2 else a.seconds
    val walls = mutable.ArrayBuffer.empty[Double]
    var bytes = 0L
    var tries = 0
    val t0 = System.nanoTime()
    while (secs(t0) < measure || tries < Workloads.MinSamples) {
      tries += 1
      rep.op(s"execution $tries") {
        val (w, ok, b) = execute(tapeDir)
        if (ok) { walls += w; bytes = b }
        ok
      }
    }
    require(walls.nonEmpty, "no execution succeeded")
    rep.info(s"untraced executions: ${walls.size}, wall ${walls.map(w => f"$w%.3f").mkString(" ")} s")
    rep.e2e("wall_s", median(walls.toSeq))
    rep.e2e("stored_ratio", bytes.toDouble / info.logicalBytes)

    // the last untraced execution is the nearest in JIT warm-up
    if (a.trace) traced(tapeDir, walls.last)
  }

  /** The traced run: the production call with the listener attached (its
    * wall minus the last untraced execution's is the tracing overhead)
    * and, for Stage 0, the same chain split into one span per layer. */
  private def traced(tape: String, untracedWall: Double): Unit = {
    val trace = new Trace(spark).attach()
    val its = mutable.ArrayBuffer.empty[Map[String, Double]]
    var tries = 0
    val t0 = System.nanoTime()
    while (secs(t0) < a.seconds / 2 || tries == 0) {
      tries += 1
      rep.op(s"traced execution $tries") {
        val (ok, m) = production(trace, tape)
        if (stage0) {
          val (ok2, m2) = layers(trace, tape)
          its += m ++ m2
          ok && ok2
        } else { its += m; ok }
      }
    }
    trace.detach()
    require(its.nonEmpty, "no traced execution succeeded")
    val med = medians(its.toSeq)
    rep.info(s"traced executions: ${its.size}")
    (med - "trace.wall_s").toSeq.sortBy(_._1).foreach { case (k, v) => rep.layer(k, v) }
    rep.info(f"traced wall ${med("trace.wall_s")}%.3f s, untraced $untracedWall%.3f s")
    rep.layer("trace.overhead_s", med("trace.wall_s") - untracedWall)
  }

  /** The entry point as production calls it: build (Stage 0's barriers run
    * here), planning of the write and its execution. */
  private def production(trace: Trace, tape: String): (Boolean, Map[String, Double]) = {
    cold()
    trace.reset()
    val out = fresh("out")
    val t0 = System.nanoTime()
    val df = trace.span(prefix)(entry(spark, tape))
    val tb = System.nanoTime()
    val tbMs = System.currentTimeMillis()
    trace.span(prefix)(df.write.parquet(out.toString))
    val wall = secs(t0)
    val build = (tb - t0) / 1e9
    val qes = trace.queriesSince(tbMs)
    val plan = qes.map(Trace.planSeconds).sum
    val m = mutable.Map[String, Double](
      "trace.wall_s" -> wall,
      s"$prefix.build_s" -> build,
      s"$prefix.plan_s" -> plan,
      s"$prefix.exec_s" -> (wall - build - plan),
      s"$prefix.jobs" -> trace.jobCount,
      "caches.cached_mb" -> trace.peakBlockBytes / 1e6)
    if (!stage0) {
      val t = trace.all()
      m ++= Seq("stage1.cpu_s" -> t.cpuNs / 1e9, "stage1.gc_s" -> t.gcMs / 1e3,
        "stage1.shuffle_write_mb" -> t.shuffleWrite / 1e6,
        "stage1.spill_mb" -> t.spill / 1e6,
        "driver.gap_s" -> (wall - trace.covered()))
      Trace.opMetrics(qes.map(_.executedPlan)).foreach { case (node, (ms, rows)) =>
        m(s"stage1.op.$node.ms") = ms
        m(s"stage1.op.$node.rows") = rows.toDouble
      }
    }
    val ok = verify(out)
    delete(out)
    (ok, m.toMap)
  }

  /** Stage 0 split at its layer boundaries. Each layer's result is held by
    * a `Caches.barrier`, so each span's jobs do only that layer's work.
    * Production holds only the cleaned and corrected frames; the barriers
    * after the scan, the bounce-back flags and the panel are the split's
    * own (README.md says what each span therefore covers).
    *
    * Each span is timed by its own clock. Their sum against the clock
    * around the whole chain (`trace.accounted_ratio`) shows how much driver
    * time falls between spans; `driver.gap_s` is the time no job covers. */
  private def layers(trace: Trace, tape: String): (Boolean, Map[String, Double]) = {
    cold()
    trace.reset()
    val out = fresh("out")
    val walls = mutable.LinkedHashMap.empty[String, Double]
    def span[T](name: String)(body: => T): T = {
      val t = System.nanoTime()
      try trace.span(name)(body) finally walls(name) = secs(t)
    }
    val t0 = System.nanoTime()
    val src = span("sources.scan")(Caches.barrier(Trades.df(spark, tape)))
    val cleaned = span("clean.dn")(
      Caches.barrier(QTracePipeline.cleanedDagFrom(src)))
    val corrected = span("clean.shift")(
      Caches.barrier(QTracePipeline.correctedDag(cleaned)))
    val flags = span("clean.bounce")(
      Caches.barrier(BounceBack.flags(corrected, "id", "ord", "price")))
    val panel = span("agg.panel")(Caches.barrier(DailyMetrics.panel(
      corrected.join(flags.filter(col("filtered_error") === 1).select("id", "ord"),
        Seq("id", "ord"), "left_anti"), sumScale = 8)))
    span("sink.write")(panel.write.parquet(out.toString))
    val wall = secs(t0)
    val gap = wall - trace.covered()
    val m = mutable.Map[String, Double]("driver.gap_s" -> gap)
    walls.foreach { case (s, w) => m ++= spanMetrics(s, w, trace.covered(Some(s)), trace.totals(s)) }
    val accounted = walls.values.sum / wall
    rep.info(f"layer split: wall $wall%.3f s, spans ${accounted * 100}%.1f%% of it, " +
      f"jobs ${(wall - gap) / wall * 100}%.1f%%; " +
      walls.map { case (s, w) => f"$s ${w / wall * 100}%.0f%%" }.mkString(", "))
    // counts are taken after the timed window, from the held barriers
    val shifted = cleaned.select(col("id"), col("ord"), col("price").as("p0"))
      .join(corrected, Seq("id", "ord"))
      .filter(col("p0").cast("decimal(18,3)") =!= col("price")).count()
    m ++= Seq(
      "sources.rows" -> src.count().toDouble,
      "clean.dn_rows_out" -> cleaned.count().toDouble,
      "clean.shift_flagged" -> shifted.toDouble,
      "clean.bounce_flagged" -> flags.filter(col("filtered_error") === 1).count().toDouble,
      "agg.panel_rows" -> panel.count().toDouble,
      "sink.bytes" -> dirBytes(out).toDouble,
      "trace.accounted_ratio" -> accounted)
    val ok = verify(out)
    delete(out)
    (ok, m.toMap)
  }
}
