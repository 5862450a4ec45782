package graft.bench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import graft.Sessions
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Command-line arguments, as `run.py` passes them on. */
final case class Args(workload: String, seed: Long, seconds: Double,
    trace: Boolean, work: Path)

/** Workload definitions. Sizes keep one run near 30-50 s on a 4-core
  * host; see README.md. */
object Workloads {
  val Stage0 = "stage0_trace"
  val Stage1 = "stage1_enrich"
  val Lake = "lake_daily"
  val names: Seq[String] = Seq(Stage0, Stage1, Lake)

  /** dense: ~17 trades per bond-day, so the intraday windows have work */
  val dense: TapeSpec = TapeSpec(bonds = 150, days = 30, rate = 17.0)
  /** wide and sparse: ~0.2 trades per bond-day, panel-grain work dominates */
  val wide: TapeSpec = TapeSpec(bonds = 8000, days = 50, rate = 0.2)
  /** the lake replays a wide tape one day per commit; 25 days of 4 reads
    * give the 100 reads that put 10 samples beyond the read p90 */
  val lake: TapeSpec = TapeSpec(bonds = 40000, days = 25, rate = 0.2)
  /** reduced tape checked against the DuckDB oracles at set-up; few trades
    * per bond, because the bounce-back oracle recurses once per trade */
  val reduced: TapeSpec = TapeSpec(bonds = 100, days = 6, rate = 2.0)

  /** set-ups per run; `setup_s` reports their median */
  val SetupReps = 3
  /** fewest timed executions per run, however long they take. The first
    * still runs while the JIT compiler warms the JVM; with 4, the median
    * (the mean of the middle two) stays clear of it. More do not fit the
    * time budget (README.md). */
  val MinSamples = 4
}

/** Metrics, checks and their output. An operation is one timed unit (a
  * pipeline execution, a commit, a read) or one set-up check; it fails
  * when it throws or any of its checks does not hold. Metrics are bare
  * values: `run.py` attaches each one's unit from BENCHMARK.json. */
final class Report {
  private val endToEnd = mutable.LinkedHashMap.empty[String, Double]
  private val layers = mutable.LinkedHashMap.empty[String, Double]
  var attempted = 0L
  var failed = 0L

  def op(what: String)(body: => Boolean): Boolean = {
    attempted += 1
    val ok = try body catch {
      case e: Exception =>
        System.err.println(s"operation $what threw: $e")
        e.printStackTrace()
        false
    }
    if (!ok) { failed += 1; System.err.println(s"operation $what failed") }
    ok
  }

  def e2e(name: String, v: Double): Unit = endToEnd(name) = v
  def layer(name: String, v: Double): Unit = layers(name) = v

  def info(line: String): Unit = println(line)

  /** `setup_s`: the one session start plus the median set-up. */
  def setup(sessionS: Double, setups: Seq[Double]): Unit = {
    info(s"setup runs: ${setups.map(s => f"$s%.3f").mkString(" ")} s")
    e2e("setup_s", sessionS + Util.median(setups))
  }

  def tape(workload: String, spec: TapeSpec, t: TapeInfo): Unit = {
    info(s"tape $workload: bonds ${spec.bonds}, days ${spec.days}, " +
      f"trades per bond-day ${t.tradesPerBondDay(spec)}%.3f, digest ${t.digest}")
    info("tape injected: " + Tape.Kinds.map(k => s"$k=${t.counts(k)}").mkString(" "))
    layer("tape.trades_per_bond_day", t.tradesPerBondDay(spec))
  }

  /** Human-readable lines, then the result object as the last line. */
  def emit(): Unit = {
    def obj(m: mutable.LinkedHashMap[String, Double]) =
      m.map { case (k, v) => s"${Util.json(k)}: ${Util.num(v)}" }.mkString("{", ", ", "}")
    println(s"""{"attempted": $attempted, "failed": $failed, """ +
      s""""end_to_end": ${obj(endToEnd)}, "per_layer": ${obj(layers)}}""")
  }
}

object Util {
  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Span totals in the per-layer naming scheme `<span>.<field>`: `wall`
    * is the span's own clock, `covered` the time its jobs ran. */
  def spanMetrics(name: String, wall: Double, covered: Double,
      t: SpanTotals): Seq[(String, Double)] = Seq(
    s"$name.s" -> wall, s"$name.driver_s" -> (wall - covered),
    s"$name.cpu_s" -> t.cpuNs / 1e9, s"$name.gc_s" -> t.gcMs / 1e3,
    s"$name.shuffle_write_mb" -> t.shuffleWrite / 1e6,
    s"$name.spill_mb" -> t.spill / 1e6, s"$name.jobs" -> t.jobs.toDouble)

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Linear interpolation between closest ranks. */
  def percentile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Per-key medians over iterations of a traced measurement. */
  def medians(its: Seq[Map[String, Double]]): Map[String, Double] =
    its.flatMap(_.keys).distinct.map(k => k -> median(its.flatMap(_.get(k)))).toMap

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(Files.isRegularFile(_))
          .filterNot(_.getFileName.toString.startsWith("."))
          .map(Files.size).sum
      } finally s.close()
    }

  def delete(p: Path): Unit = graft.Scratch.clear(p.toString)

  /** Row-order-independent digest of a Parquet output: row count, the
    * exact sum of the rows' 64-bit hashes, and their xor. */
  def digest(spark: SparkSession, dir: String): String = {
    val df = spark.read.parquet(dir)
    val h = xxhash64(df.columns.sorted.map(col).toSeq: _*)
    val r = df.agg(count(lit(1)), sum(h.cast("decimal(38,0)")), bit_xor(h)).head()
    s"${r.getLong(0)}:${r.get(1)}:${r.get(2)}"
  }

  def json(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Drop the previous execution's unreferenced checkpoint blocks, so
    * every execution starts with the same free storage memory. */
  def quiesce(): Unit = { System.gc(); Thread.sleep(150) }
}

/** Fixed workloads run on every core at once, timed as the median of 3:
  * an integer loop that stays in registers, and a pointer chase through
  * 32 MB that misses the caches on every step. On a contended host they
  * slow down, so `host.calib_s` and `host.calib_mem_s` explain a slow
  * run; a single-threaded loop misses neighbours that take some of the
  * cores, and a register-only loop misses neighbours that take the shared
  * caches and memory bandwidth. */
object Calib {
  @volatile private var sink = 0L

  private def spin(): Unit = {
    var x = 0x243F6A8885A308D3L
    var i = 0
    while (i < 20000000) { x = x * 6364136223846793005L + 1442695040888963407L; x ^= x >>> 29; i += 1 }
    sink += x
  }

  /** one random cycle through all 8M slots */
  private lazy val ring: Array[Int] = {
    val n = 1 << 23
    val perm = Array.range(0, n)
    val r = new java.util.SplittableRandom(7)
    for (i <- n - 1 until 0 by -1) {
      val j = r.nextInt(i + 1); val t = perm(i); perm(i) = perm(j); perm(j) = t
    }
    val next = new Array[Int](n)
    for (i <- 0 until n) next(perm(i)) = perm((i + 1) % n)
    next
  }

  private def chase(start: Int): Unit = {
    var p = start
    var i = 0
    while (i < 500000) { p = ring(p); i += 1 }
    sink += p
  }

  private def allCores(body: Int => Unit): Double = Util.median((1 to 3).map { _ =>
    val t0 = System.nanoTime()
    val threads = (1 to Runtime.getRuntime.availableProcessors)
      .map(k => new Thread(() => body(k << 20)))
    threads.foreach(_.start())
    threads.foreach(_.join())
    Util.secs(t0)
  })

  /** (integer loop, pointer chase) seconds */
  def seconds(): (Double, Double) = { ring; (allCores(_ => spin()), allCores(chase)) }
}

object Main {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    val a = Args(need("--workload"), need("--seed").toLong, need("--seconds").toDouble,
      need("--trace") == "1", Paths.get(need("--work")).toAbsolutePath)
    require(Workloads.names.contains(a.workload), s"unknown workload ${a.workload}")
    require(a.seconds > 0, "--seconds must be positive")
    a
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val rep = new Report
    val calib0 = Calib.seconds()
    val t0 = System.nanoTime()
    val spark = Sessions.local()
    // what SparkEntry.queries does first: functions, planner rules and the
    // graft_lake catalog for sessions that do not have them yet
    graft.GraftExtensions.ensure(spark)
    val sessionS = Util.secs(t0)
    rep.info(f"session start: $sessionS%.3f s")

    if (a.workload == Workloads.Lake) new LakeBench(spark, a, rep).run(sessionS)
    else new PipelineBench(spark, a, rep).run(sessionS)

    val calib1 = Calib.seconds()
    rep.info(f"host calibration: start ${calib0._1}%.4f s, end ${calib1._1}%.4f s; " +
      f"memory: start ${calib0._2}%.4f s, end ${calib1._2}%.4f s")
    rep.layer("host.calib_s", (calib0._1 + calib1._1) / 2)
    rep.layer("host.calib_mem_s", (calib0._2 + calib1._2) / 2)
    spark.stop()
    rep.emit()
  }
}
