package graft.queries

import graft.SparkSpec
import graft.clean.DecimalShift
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The Stage-0 chain over different layouts of the same trades.
  *
  * The bucketed-layout flagship: trades written `bucketBy(8, "id")` feed
  * the SAME cleaning + decimal-shift chain with ZERO exchanges — every
  * cleaning window and the decimal-shift anchor pass partition by a
  * superset of `id`, so the bucket scan's hash partitioning satisfies them
  * all. At 100 TB this turns the pipeline's one id-shuffle into none:
  * bucket once at ingest, and every re-run of the cleaning chain (daily,
  * per-regime, backfills) is exchange-free.
  *
  * The decimal-shift anchors must not depend on how rows arrive either:
  * `tp_decimal_shift` and `tp_full_panel` hash-equal their default answer
  * when the trades are repartitioned (1, 7, 64 partitions), under
  * `spark.sql.shuffle.partitions` 1, 4 and 200, and with AQE on and off.
  */
class BucketedTradesSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private lazy val bucketed = {
    val base = graft.Scratch.dirFor("bkt_trades", sf)
    Trades.df(spark, sf).write.mode("overwrite")
      .option("path", s"$base/trades")
      .bucketBy(8, "id").sortBy("id")
      .saveAsTable("graft_bkt_trades")
    spark.table("graft_bkt_trades")
  }

  test("clean + decimal-shift chain over bucketed trades plans zero exchanges") {
    val chain = QTracePipeline.correctedDag(
      QTracePipeline.cleanedDagFrom(bucketed))
    val c = graft.Plans.planCounts(chain)
    // DecimalShift's anchors are a grouped pass on the real `id` column,
    // so the bucket layout satisfies it too, and nothing joins back
    assert(c.shuffles == 0 && c.broadcasts == 0,
      s"expected exchange-free chain, got shuffles=${c.shuffles}, " +
        s"broadcasts=${c.broadcasts}")
    // the plain-scan path pays the id-shuffle the bucket layout removes
    val plain = QTracePipeline.correctedDag(
      QTracePipeline.cleanedDagFrom(Trades.df(spark, sf)))
    assert(graft.Plans.planCounts(plain).shuffles > 0)
  }

  test("bucketed chain output is identical to the plain-scan chain") {
    val key = (r: org.apache.spark.sql.Row) => r.toSeq.map(String.valueOf)
    val viaBuckets = QTracePipeline.dailyPanelDag(
      QTracePipeline.correctedDag(QTracePipeline.cleanedDagFrom(bucketed)))
      .collect().map(key).toSet
    val viaPlain = QTracePipeline.dailyPanelDag(
      QTracePipeline.correctedDag(
        QTracePipeline.cleanedDagFrom(Trades.df(spark, sf))))
      .collect().map(key).toSet
    assert(viaBuckets == viaPlain && viaBuckets.nonEmpty)
  }

  private val queries = Seq("tp_decimal_shift", "tp_full_panel")

  /** order-free MD5 over the rows' string forms */
  private def hashOf(df: DataFrame): String = {
    val rows = df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  private def registered(name: String): String =
    try hashOf(graft.SparkEntry.queries(name)(spark, sf))
    finally graft.Caches.clearAll()

  /** both queries over the raw chain, fed from `tr` */
  private def overTrades(tr: DataFrame): Map[String, String] = {
    val cleaned = QTracePipeline.cleanedDagFrom(tr)
    Map(
      "tp_decimal_shift" -> hashOf(DecimalShift.withSuggestions(
          cleaned, "id", "dt", "ord", "price")
        .select(col("id"), col("ord"), col("dec_shift_flag"),
          col("dec_shift_factor"), col("suggested_price"), col("anchor_price"))),
      "tp_full_panel" -> hashOf(QTracePipeline.dailyPanelDag(
        QTracePipeline.correctedDag(cleaned))))
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
}
