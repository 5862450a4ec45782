package graft.queries

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** [[QStage1.enrichedFrom]] (one id partitioning: one aggregate per
  * (id, dt), partition-local windows) against the stage-by-stage form it
  * replaced ([[Stage1Reference]]). On generated `events` frames and on the
  * sf0.01 tables the two panels must hash-equal.
  *
  * The generated frames hold every case the rewrite reasons about:
  * duplicate (id, ord) reports, error-only days of otherwise clean bonds,
  * a null-valued purchase after a non-null one, several purchases and
  * clicks on one day, bonds with `id % 19 = 0`, null `user_id` and null
  * `ts` rows.
  */
class Stage1EquivalenceSpec extends SparkSpec {

  import RetryCheck.hashOf

  private val schema = new StructType()
    .add("event_id", LongType)
    .add("ts", TimestampType)
    .add("user_id", LongType)
    .add("event_type", StringType)
    .add("value", DoubleType)

  private val day0 = java.time.LocalDateTime.of(2024, 1, 20, 0, 0)
  private def at(day: Int, secs: Int) =
    java.sql.Timestamp.valueOf(day0.plusDays(day.toLong).plusSeconds(secs.toLong))

  /** ids 1 to 40 trade on days 0 to 14 (across a month end, for the
    * linker); ids 31 to 40 have no error of their own but an error-only
    * day 20; ids 7 and 12 carry only the hand-placed rows. */
  private def frame(seed: Long): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val kinds = Vector("click", "signup", "error", "view", "purchase")
    def px(level: Int) = level + rnd.nextInt(400) / 100.0
    val base = (1 to 40).filterNot(Set(7, 12)).flatMap { id =>
      val level = 40 + rnd.nextInt(150)
      (0 until 8 + rnd.nextInt(20)).map { _ =>
        val k = kinds(rnd.nextInt(5)) match {
          case "error" if id > 30 => "view"
          case k => k
        }
        (id.toLong: java.lang.Long, at(rnd.nextInt(15), rnd.nextInt(86400)), k,
          px(level): java.lang.Double)
      }
    }
    val extra = Seq(
      // error-only days of the error-free ids 31 to 40
      (31 to 40).map(id => (id.toLong: java.lang.Long, at(20, 60), "error",
        1.0: java.lang.Double)),
      // a null-valued purchase after a non-null one, then plain days
      Seq((7L: java.lang.Long, at(3, 10), "purchase", 61.5: java.lang.Double),
        (7L: java.lang.Long, at(5, 10), "purchase", null),
        (7L: java.lang.Long, at(6, 10), "view", 62.0: java.lang.Double),
        (7L: java.lang.Long, at(9, 10), "click", 63.0: java.lang.Double),
        (7L: java.lang.Long, at(10, 10), "view", 62.5: java.lang.Double)),
      // several purchases and clicks on one day
      (1 to 6).flatMap(i => Seq(
        (12L: java.lang.Long, at(4, 100 * i), "purchase", (70.0 + i): java.lang.Double),
        (12L: java.lang.Long, at(4, 100 * i + 50), "click", (80.0 - i): java.lang.Double))),
      // null user_id and null ts
      (0 until 12).map(i => (null: java.lang.Long, at(i, 500), kinds(i % 5),
        px(90): java.lang.Double)),
      (0 until 5).map(i => ((2L + i): java.lang.Long, null: java.sql.Timestamp,
        kinds(i), px(100): java.lang.Double))
    ).flatten
    val all = base ++ extra
    // ords unique but in a random order, so ord order is not time order
    val ords = rnd.shuffle(all.indices.toVector).map(_ * 7L + 3)
    val rows = all.zip(ords).map { case ((id, ts, k, v), ord) =>
      Row(ord, ts, id, k, v)
    }
    // duplicate (id, ord): exact copies, and an error report sharing a
    // trade's (id, ord) with another time and price
    val dups = rows.zipWithIndex.collect {
      case (r, i) if i % 23 == 0 => r
      case (r, i) if i % 23 == 11 && r.getString(3) != "error" =>
        Row(r.get(0), at(rnd.nextInt(15), 7), r.get(2), "error", 999.0)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rnd.shuffle(rows ++ dups), 3), schema)
  }

  test("generated frames: the one-partitioning chain hash-equals the reference") {
    Seq(11L, 12L, 13L).foreach { seed =>
      val ev = frame(seed)
      val got = QStage1.enrichedFrom(ev)
      assert(hashOf(got) == hashOf(Stage1Reference.enrichedFrom(ev)),
        s"seed $seed")
      // the cases above reach the output
      val out = got.collect()
      def of(id: Long) = out.filter(r => !r.isNullAt(0) && r.getLong(0) == id)
      assert(out.forall(r => !r.isNullAt(0) && r.getLong(0) % 19 != 0))
      assert((31L to 40L).exists(id => of(id).nonEmpty &&
        of(id).forall(_.getInt(13) == 1)), s"seed $seed: no error-only callable")
      assert(of(7L).exists(r => r.getDate(1).toLocalDate.getDayOfMonth == 26 &&
        r.isNullAt(11)), s"seed $seed: the null purchase did not carry")
      val lastPurchase = ev.filter(col("user_id") === 12 &&
          col("event_type") === "purchase")
        .orderBy(col("event_id").desc).first().getDouble(4)
      assert(of(12L).map(_.getDouble(11)).toSeq == Seq(lastPurchase),
        s"seed $seed: the day's max-ord purchase did not win")
    }
  }

  test("sf0.01 events: the one-partitioning chain hash-equals the reference") {
    val ev = Tables.events(spark, "/root/testdata/sf0.01")
    assert(hashOf(QStage1.enrichedFrom(ev)) ==
      hashOf(Stage1Reference.enrichedFrom(ev)))
  }
}
