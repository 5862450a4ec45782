package graft.queries

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.{Success, TaskContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The Stage-0 queries and `tp_stage1_panel` in a `local[4,2]` session
  * (tasks get a second attempt), with first attempts failing partway
  * through their output. Prints one `hash <query> <md5>` line per query
  * and `failed_tasks <n>`.
  *
  *   java -cp <test classpath> graft.queries.RetryCheck <sfDir>
  *
  * Stage 0: the failure is thrown by a projection over the pass's output,
  * in the kernel's own task while the kernel is part-way through its
  * bonds, so the retry re-runs the kernel from the start of its
  * partition. Stage 1: the failure is thrown while the `events` scan
  * feeds the id exchange and again while the winsorized panel is
  * produced, so both the map side and the last stage re-run.
  * `BucketedTradesSpec` runs it in its own JVM: local mode retries tasks
  * only when the master says so, and the test JVM's shared session is
  * `local[4]`.
  */
object RetryCheck {

  val queries: Seq[String] = Seq("tp_clean_chain", "tp_decimal_shift",
    "tp_bounceback_flags", "tp_error_replay", "tp_full_panel")

  /** order-free MD5 over the rows' string forms */
  def hashOf(df: DataFrame): String = {
    val rows = df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[4,2]")
      .appName("retry-check")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val failed = new AtomicInteger
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.reason != Success) failed.incrementAndGet()
    })
    val failFirstAttempt = udf { (ord: Long) =>
      if (TaskContext.get().attemptNumber() == 0 && ord % 7 == 3)
        throw new IllegalStateException("injected first-attempt failure")
      ord
    }.asNondeterministic()
    val flagged = QTracePipeline.flaggedFrom(Trades.df(spark, args(0)))
      .withColumn("ord", failFirstAttempt(col("ord")))
    queries.foreach(q => println(s"hash $q ${hashOf(QTracePipeline.overFlagged(q, flagged))}"))
    val ev = graft.Tables.events(spark, args(0))
      .withColumn("event_id", failFirstAttempt(col("event_id")))
    val panel = QStage1.enrichedFrom(ev)
      .withColumn("id", failFirstAttempt(col("id")))
    println(s"hash tp_stage1_panel ${hashOf(panel)}")
    // the listener bus is asynchronous: stop() delivers every event
    spark.stop()
    println(s"failed_tasks ${failed.get}")
  }
}
