package graft.clean

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** [[Stage0]]'s Dick-Nielsen step against the window-flag formulation it
  * replaced ([[Stage0References.windowCleaned]]), and the whole fused pass
  * against the three references composed: window cleaning → window anchors
  * and column gates → the secondary-sort bounce-back scan over the
  * decimal(18,3)-corrected price. On generated trade frames the surviving
  * rows and every flag must agree bit for bit.
  */
class DickNielsenEquivalenceSpec extends SparkSpec {

  import Stage0References._

  private def schema(priceType: DataType) = new StructType()
    .add("id", LongType)
    .add("dt", DateType)
    .add("ord", LongType)
    .add("secs", IntegerType)
    .add("price", priceType)
    .add("qty", DecimalType(18, 2))
    .add("side", StringType)
    .add("contra", StringType)
    .add("trc_st", StringType)

  private val dec = DecimalType(18, 2)

  /** Fixed-seed trade frame: 16 bonds over three days, a few prices and
    * quantities per bond (so (price, qty) repeats), X/R/T rows with R
    * sometimes outnumbering T on a side, (S,D) and (B,D) copies, one- and
    * two-print spikes and ×10/×0.1 prints. Ords are unique but drawn in a
    * random order, so ord order is not (dt, ord) order. With `nulls`, a
    * few dts, prices, quantities, sides and contras are null; with
    * `doubles`, prices are doubles with -0.0, 0.0 and NaN mixed in. */
  private def frame(seed: Long, nulls: Boolean, doubles: Boolean): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val day0 = java.time.LocalDate.of(2024, 1, 2)
    def maybeNull[T](v: T): Any = if (nulls && rnd.nextInt(25) == 0) null else v
    val raw = (0 until 16).flatMap { b =>
      val level = 60 + rnd.nextInt(80)
      val n = if (b % 5 == 0) 1 + rnd.nextInt(3) else 15 + rnd.nextInt(40)
      (0 until n).flatMap { _ =>
        val day = rnd.nextInt(3)
        val p0 = rnd.nextInt(12) match {
          case 0 => level * 10.0
          case 1 => level / 10.0
          case 2 => level + 45.0
          case _ => level + rnd.nextInt(4) * 0.25
        }
        val qty = 1 + rnd.nextInt(3)
        val side = if (rnd.nextBoolean()) "B" else "S"
        val contra = if (rnd.nextInt(3) == 0) "D" else "C"
        val st = rnd.nextInt(10) match {
          case 0 | 1 => "X"
          case 2 | 3 => "R"
          case _ => "T"
        }
        val base = (b.toLong, day, p0, qty, side, contra, st)
        // a (B,D) copy of an (S,D) trade, for J9 to find
        if (side == "S" && contra == "D" && rnd.nextBoolean())
          Seq(base, base.copy(_5 = "B", _7 = "T"))
        else Seq(base)
      }
    }
    val ords = rnd.shuffle(raw.indices.toVector).map(_ * 3L + 1)
    val rows = raw.zip(ords).map { case ((id, day, p0, qty, side, contra, st), ord) =>
      val price: Any =
        if (doubles) rnd.nextInt(20) match {
          case 0 => 0.0
          case 1 => -0.0
          case 2 => Double.NaN
          case _ => p0
        }
        else new java.math.BigDecimal(p0).setScale(2, java.math.RoundingMode.HALF_UP)
      Row(id,
        maybeNull(java.sql.Date.valueOf(day0.plusDays(day.toLong))),
        ord, (ord % 86400).toInt, maybeNull(price),
        maybeNull(new java.math.BigDecimal(qty).setScale(2)),
        maybeNull(side), maybeNull(contra), st)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3),
      schema(if (doubles) DoubleType else dec))
  }

  private def frames: Seq[(String, DataFrame)] =
    (1L to 4L).map(s => s"decimal seed $s" -> frame(s, nulls = false, doubles = false)) ++
      (5L to 7L).map(s => s"nulls seed $s" -> frame(s, nulls = true, doubles = false)) ++
      (8L to 9L).map(s => s"doubles seed $s" -> frame(s, nulls = true, doubles = true))

  /** every row as its exact string, sorted (a multiset compare) */
  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSeq.sorted

  private val dnOnly = Stage0.Steps(dickNielsen = true, shift = false, bounce = false)

  test("the sorted pass keeps exactly the window formulation's rows") {
    frames.foreach { case (name, df) =>
      val got = rowsOf(Stage0.pass(df, dnOnly))
      val want = rowsOf(windowCleaned(df))
      assert(got.size < df.count(), s"$name: nothing was cleaned")
      assert(got == want, s"$name: ${got.diff(want).take(3)} vs ${want.diff(got).take(3)}")
    }
  }

  test("generated frames cover the cases the cleaning must agree on") {
    val df = frame(5L, nulls = true, doubles = false)
    val key = Seq("id", "dt", "price", "qty").map(col)
    assert(df.filter(col("trc_st") === "T").groupBy(key: _*).count()
      .filter(col("count") > 1).count() > 0, "no duplicate (price, qty)")
    val perSide = df.groupBy("id", "dt", "side").agg(
      sum(when(col("trc_st") === "R", 1).otherwise(0)).as("r"),
      sum(when(col("trc_st") === "T", 1).otherwise(0)).as("t"))
    assert(perSide.filter(col("r") > col("t")).count() > 0, "no side with more R than T")
    Seq("dt", "price", "qty", "side", "contra").foreach { c =>
      assert(df.filter(col(c).isNull).count() > 0, s"no null $c")
    }
    // (B,D) rows both dropped for a surviving (S,D) twin and kept
    val bd = col("side") === "B" && col("contra") === "D"
    val cleaned = windowCleaned(df)
    val sells = cleaned.filter(col("side") === "S" && col("contra") === "D")
      .select(key: _*).distinct()
    val bdIn = df.filter(bd && col("trc_st") === "T").select((key :+ col("ord")): _*)
    val bdOut = cleaned.filter(bd).select((key :+ col("ord")): _*)
    assert(bdIn.join(sells, Seq("id", "dt", "price", "qty")).except(bdOut).count() > 0,
      "no (B,D) row dropped for a surviving (S,D)")
    assert(bdOut.count() > 0, "no (B,D) row kept")
  }

  test("the fused pass equals the three references composed") {
    val p = DecimalShift.Params()
    val outCols = Seq("price", "dec_shift_flag", "dec_shift_factor",
      "suggested_price", "anchor_price", "filtered_error")
    def keyed(df: DataFrame) =
      df.select((Seq("id", "ord") ++ outCols).map(col): _*).collect()
        .map(r => s"${r.get(0)}/${r.get(1)}" -> r.toSeq.drop(2).map(String.valueOf))
        .toMap
    (1L to 4L).foreach { seed =>
      val df = frame(seed, nulls = false, doubles = false)
      val got = keyed(Stage0.pass(df, Stage0.Steps.all))
      val shifted = columnSuggest(windowAnchored(windowCleaned(df), p.window), p)
      val corrected = shifted
        .withColumn("price3", col("suggested_price").cast("decimal(18,3)"))
      val flags = groupScanFlags(
        corrected.select(col("id"), col("ord"), col("price3").as("price")),
        BounceBack.Params())
      val want = keyed(corrected.join(flags, Seq("id", "ord")))
      assert(got.size == want.size, s"seed $seed: ${got.size} rows vs ${want.size}")
      val diffs = want.collect { case (k, v) if !got.get(k).contains(v) =>
        s"$k want $v got ${got.get(k)}" }
      assert(diffs.isEmpty, s"seed $seed: ${diffs.take(3).mkString("; ")}")
      assert(got.values.exists(_(1) == "1"), s"seed $seed: no shift fired")
      assert(got.values.exists(_(5) == "1"), s"seed $seed: no bounce-back fired")
    }
  }

  test("bounce-back runs in ord order, not in (dt, ord) order") {
    // the later day holds the lower ords: in ord order the 170 spike sits
    // between 95s and is flagged; read in (dt, ord) order it would be the
    // last print, with nothing to bounce back to
    val rows = Seq((2, 1L, 95.0), (2, 2L, 96.0), (2, 3L, 170.0), (1, 4L, 95.5),
      (1, 5L, 96.2), (1, 6L, 95.8), (1, 7L, 96.1))
      .map { case (day, ord, p) =>
        Row(1L, java.sql.Date.valueOf(s"2024-01-0$day"), ord, 0,
          java.math.BigDecimal.valueOf(p).setScale(2), java.math.BigDecimal.valueOf(1L, 0).setScale(2),
          "S", "C", "T") }
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema(dec))
    val flags = Stage0.pass(df, Stage0.Steps.all).select("ord", "filtered_error")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val want = groupScanFlags(df, BounceBack.Params()).collect()
      .map(r => r.getLong(1) -> r.getInt(2)).toMap
    assert(flags == want && flags(3L) == 1, s"$flags vs $want")
  }

  test("floating keys match as Spark groups them: -0.0 with 0.0, NaN with NaN") {
    val one = new java.math.BigDecimal("1.00")
    val d = java.sql.Date.valueOf("2024-01-02")
    val rows = Seq((1L, -0.0, "X"), (2L, 0.0, "T"), (3L, Double.NaN, "X"),
      (4L, Double.NaN, "T"), (5L, 7.0, "T"))
      .map { case (ord, p, st) => Row(1L, d, ord, 0, p, one, "S", "C", st) }
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
      schema(DoubleType))
    val got = rowsOf(Stage0.pass(df, dnOnly))
    assert(got == rowsOf(windowCleaned(df)))
    assert(got.size == 1 && got.head.contains("|7.0|"), got)
  }
}
