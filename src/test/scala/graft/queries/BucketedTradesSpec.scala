package graft.queries

import scala.collection.mutable

import graft.SparkSpec
import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The Stage-0 chain and the Stage-1 panel over different layouts and
  * executions of the same trades.
  *
  * The bucketed-layout flagship: trades written `bucketBy(8, "id")` feed
  * the SAME sorted pass per bond (clean, shift, bounce-back) with ZERO
  * exchanges — the pass groups on `id` itself, so the bucket scan's hash
  * partitioning satisfies it, and only the panel's (id, dt) aggregate
  * shuffles. At 100 TB this turns the pipeline's id-shuffle into none:
  * bucket once at ingest, and every re-run of the cleaning chain (daily,
  * per-regime, backfills) is exchange-free up to the panel.
  *
  * The answers must not depend on how rows arrive or how the plan runs:
  * `tp_clean_chain`, `tp_decimal_shift`, `tp_bounceback_flags`,
  * `tp_error_replay` and `tp_full_panel` hash-equal their default answer
  * when the trades are repartitioned (1, 7, 64 partitions) or shuffled,
  * under `spark.sql.shuffle.partitions` 1, 4 and 200, with AQE on and off,
  * and when the first attempt of every kernel task fails
  * ([[RetryCheck]], `local[4,2]`). `tp_stage1_panel` does the same over
  * its `events` input: it runs every per-bond step inside one
  * `repartition(id)`, and this is what pins that the answer does not
  * depend on how rows reach that partitioning.
  *
  * The memo the other Stage-0 queries share labels its build's jobs with
  * its key ([[graft.Caches.memo]]).
  */
class BucketedTradesSpec extends SparkSpec {

  import RetryCheck.{hashOf, queries}

  private val sf = "/root/testdata/sf0.001"

  private lazy val bucketed = {
    val base = graft.Scratch.dirFor("bkt_trades", sf)
    Trades.df(spark, sf).write.mode("overwrite")
      .option("path", s"$base/trades")
      .bucketBy(8, "id").sortBy("id")
      .saveAsTable("graft_bkt_trades")
    spark.table("graft_bkt_trades")
  }

  private def panelOver(tr: DataFrame): DataFrame =
    QTracePipeline.overFlagged("tp_full_panel", QTracePipeline.flaggedFrom(tr))

  test("clean + decimal-shift chain over bucketed trades plans zero exchanges") {
    val c = graft.Plans.planCounts(QTracePipeline.flaggedFrom(bucketed))
    // the pass groups on the real `id` column, so the bucket layout
    // satisfies it, and nothing joins back
    assert(c.shuffles == 0 && c.broadcasts == 0,
      s"expected exchange-free pass, got shuffles=${c.shuffles}, " +
        s"broadcasts=${c.broadcasts}")
    // the panel's (id, dt) aggregate is the one exchange left
    val panel = graft.Plans.planCounts(panelOver(bucketed))
    assert(panel.shuffles == 1 && panel.broadcasts == 0,
      s"panel over buckets: shuffles=${panel.shuffles}, broadcasts=${panel.broadcasts}")
    // the plain-scan path pays the id-shuffle the bucket layout removes
    val plain = QTracePipeline.flaggedFrom(Trades.df(spark, sf))
    assert(graft.Plans.planCounts(plain).shuffles > 0)
  }

  test("bucketed chain output is identical to the plain-scan chain") {
    val key = (r: org.apache.spark.sql.Row) => r.toSeq.map(String.valueOf)
    val viaBuckets = panelOver(bucketed).collect().map(key).toSet
    val viaPlain = panelOver(Trades.df(spark, sf)).collect().map(key).toSet
    assert(viaBuckets == viaPlain && viaBuckets.nonEmpty)
  }

  private def registered(name: String): String =
    try hashOf(graft.SparkEntry.queries(name)(spark, sf))
    finally graft.Caches.clearAll()

  /** the queries over the raw pass, fed from `tr`: the memo-served ones
    * over one checkpoint of the flagged rows, as in production, and
    * `tp_full_panel` over the lazy pass */
  private def overTrades(tr: DataFrame): Map[String, String] = {
    val flagged = QTracePipeline.flaggedFrom(tr)
    val held = flagged.localCheckpoint()
    queries.map { q =>
      q -> hashOf(QTracePipeline.overFlagged(q,
        if (q == "tp_full_panel") flagged else held))
    }.toMap
  }

  private def withConf[T](k: String, v: String)(body: => T): T = {
    val old = spark.conf.getOption(k)
    spark.conf.set(k, v)
    try body
    finally old.fold(spark.conf.unset(k))(spark.conf.set(k, _))
  }

  private lazy val default: Map[String, String] =
    queries.map(q => q -> registered(q)).toMap

  test("shift queries: the raw chain over the plain scan matches the registered queries") {
    assert(overTrades(Trades.df(spark, sf)) == default)
  }

  test("shift queries: input repartitioned to 1, 7 and 64 partitions, same answers") {
    Seq(1, 7, 64).foreach { n =>
      assert(overTrades(Trades.df(spark, sf).repartition(n)) == default,
        s"repartition($n)")
    }
  }

  test("shift queries: input rows in a shuffled order, same answers") {
    Seq(7L, 8L).foreach { seed =>
      assert(overTrades(Trades.df(spark, sf).orderBy(rand(seed))) == default,
        s"orderBy(rand($seed))")
    }
  }

  test("shift queries: shuffle.partitions 1, 4 and 200, same answers") {
    Seq("1", "4", "200").foreach { n =>
      withConf("spark.sql.shuffle.partitions", n) {
        queries.foreach(q => assert(registered(q) == default(q), s"$q at $n"))
      }
    }
  }

  test("shift queries: AQE on and off, same answers") {
    Seq("true", "false").foreach { on =>
      withConf("spark.sql.adaptive.enabled", on) {
        queries.foreach(q => assert(registered(q) == default(q), s"$q aqe=$on"))
      }
    }
  }

  /** the `local[4,2]` child's `hash` lines, after checking that it ran
    * and that some task failed and was retried */
  private lazy val retried: Map[String, String] = {
    import scala.jdk.CollectionConverters._
    val jvm = java.lang.management.ManagementFactory.getRuntimeMXBean
    val opens = jvm.getInputArguments.asScala.filter(a =>
      a.startsWith("--add-opens") || a.startsWith("-Dspark."))
    val cmd = Seq(s"${System.getProperty("java.home")}/bin/java", "-Xmx1g") ++ opens ++
      Seq("-cp", System.getProperty("java.class.path"),
        "graft.queries.RetryCheck", sf)
    val out = new StringBuilder
    val exit = scala.sys.process.Process(cmd)
      .!(scala.sys.process.ProcessLogger(l => out ++= l + "\n", _ => ()))
    assert(exit == 0, s"child JVM exited $exit:\n$out")
    val lines = out.toString.linesIterator.map(_.split(" ")).toSeq
    val failed = lines.collectFirst { case Array("failed_tasks", n) => n.toInt }
    assert(failed.exists(_ > 0), s"no task failed, so nothing was retried:\n$out")
    lines.collect { case Array("hash", q, h) => q -> h }.toMap
  }

  test("shift queries: first attempts failing inside the kernel's tasks, same answers (local[4,2])") {
    assert(retried.view.filterKeys(queries.contains).toMap == default,
      s"retried answers differ: $retried")
  }

  private val stage1 = "tp_stage1_panel"
  private lazy val stage1Default = registered(stage1)
  private def stage1Over(ev: DataFrame): String = hashOf(QStage1.enrichedFrom(ev))
  private def events = graft.Tables.events(spark, sf)

  test("stage-1 panel: input repartitioned to 1, 7 and 64 partitions, same answer") {
    assert(stage1Over(events) == stage1Default)
    Seq(1, 7, 64).foreach { n =>
      assert(stage1Over(events.repartition(n)) == stage1Default, s"repartition($n)")
    }
  }

  test("stage-1 panel: input rows in a shuffled order, same answer") {
    Seq(7L, 8L).foreach { seed =>
      assert(stage1Over(events.orderBy(rand(seed))) == stage1Default,
        s"orderBy(rand($seed))")
    }
  }

  test("stage-1 panel: shuffle.partitions 1, 4 and 200, same answer") {
    Seq("1", "4", "200").foreach { n =>
      withConf("spark.sql.shuffle.partitions", n) {
        assert(registered(stage1) == stage1Default, s"at $n")
      }
    }
  }

  test("stage-1 panel: AQE on and off, same answer") {
    Seq("true", "false").foreach { on =>
      withConf("spark.sql.adaptive.enabled", on) {
        assert(registered(stage1) == stage1Default, s"aqe=$on")
      }
    }
  }

  test("stage-1 panel: first attempts failing in the scan and output tasks, same answer (local[4,2])") {
    assert(retried.get(stage1).contains(stage1Default), s"retried: $retried")
  }

  test("the Stage-0 memo's jobs carry the memo's key") {
    val sc = spark.sparkContext
    val seen = mutable.ArrayBuffer.empty[Option[String]]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = seen.synchronized {
        seen += Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
      }
    }
    graft.Caches.clearAll()
    sc.setJobDescription("caller")
    ListenerDrain(sc)
    sc.addSparkListener(listener)
    try {
      // the query function builds the memo (the eager barrier runs its
      // jobs) and returns a lazy projection over it
      graft.SparkEntry.queries("tp_decimal_shift")(spark, sf)
      ListenerDrain(sc)
      assert(seen.nonEmpty, "the memo build ran no job")
      assert(seen.forall(_.contains(s"tp_stage0:$sf")), s"job descriptions: $seen")
      assert(sc.getLocalProperty("spark.job.description") == "caller")
    } finally {
      sc.removeSparkListener(listener)
      sc.setJobDescription(null)
      graft.Caches.clearAll()
    }
  }
}
