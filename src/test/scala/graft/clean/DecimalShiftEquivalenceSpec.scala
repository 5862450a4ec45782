package graft.clean

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The sorted per-id anchor pass and the scalar gates of [[DecimalShift]]
  * against the window and column formulation they replaced, kept in
  * [[Stage0References]] as the test-only reference: the (id, dt,
  * price)-deduplicated rows get four `collect_list … rows between` sliding
  * frames, sorted and reduced to medians, the anchors join back on (id,
  * dt, price), and the factor search and gates run as column algebra. On
  * generated frames `anchor_price`, `dec_shift_flag`, `dec_shift_factor`
  * and `suggested_price` must agree bit for bit, row by row.
  */
class DecimalShiftEquivalenceSpec extends SparkSpec {

  import Stage0References.{columnSuggest, windowAnchored}

  private val schema = new StructType()
    .add("id", LongType)
    .add("dt", DateType)
    .add("ord", LongType)
    .add("price", DoubleType)

  /** Fixed-seed trade frame: ids with one print, with fewer than six
    * distinct prints and with long series over several days; prices drawn
    * from a small per-id set (so (dt, price) repeats), with 10x/100x
    * shifts, nulls, both zeros and NaN mixed in, plus a few null dts and a
    * null id. */
  private def frame(seed: Long): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val day0 = java.time.LocalDate.of(2024, 1, 2)
    var ord = 0L
    val rows = (0 until 24).flatMap { b =>
      val n = b % 6 match {
        case 0 => 1
        case 1 => 2 + rnd.nextInt(4)
        case _ => 10 + rnd.nextInt(60)
      }
      val levels = Seq.fill(1 + rnd.nextInt(4))(
        math.round((60 + rnd.nextDouble() * 80) * 100) / 100.0)
      val id: java.lang.Long = if (b == 23) null else Long.box(b.toLong)
      (0 until n).map { _ =>
        ord += 1 + rnd.nextInt(3)
        val dt =
          if (rnd.nextInt(40) == 0) null
          else java.sql.Date.valueOf(day0.plusDays(rnd.nextInt(4).toLong))
        val base = levels(rnd.nextInt(levels.size))
        val price: java.lang.Double = rnd.nextInt(30) match {
          case 0 => null
          case 1 => 0.0
          case 2 => -0.0
          case 3 => Double.NaN
          case 4 => base * 10
          case 5 => base / 100
          case _ => base
        }
        Row(id, dt, ord, price)
      }
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
  }

  private val outCols =
    Seq("anchor_price", "dec_shift_flag", "dec_shift_factor", "suggested_price")

  /** (id, ord) → output columns as exact strings (-0.0 and NaN included) */
  private def keyed(df: DataFrame): Map[String, Seq[String]] =
    df.select((Seq("id", "ord") ++ outCols).map(col): _*).collect()
      .map(r => s"${r.get(0)}/${r.get(1)}" ->
        outCols.indices.map(i => String.valueOf(r.get(i + 2))))
      .toMap

  test("the sorted pass matches the window formulation row by row") {
    val p = DecimalShift.Params()
    (1L to 6L).foreach { seed =>
      val df = frame(seed)
      val got = keyed(Stage0.pass(df,
        Stage0.Steps(dickNielsen = false, shift = true, bounce = false), shiftP = p))
      val want = keyed(columnSuggest(windowAnchored(df, p.window), p))
      assert(got.size == df.count(), s"seed $seed: a row was lost or duplicated")
      val diffs = want.collect { case (k, v) if !got.get(k).contains(v) =>
        s"$k want $v got ${got.get(k)}" }
      assert(diffs.isEmpty, s"seed $seed: ${diffs.take(5).mkString("; ")}")
    }
  }

  test("generated frames cover the edge cases the anchors must agree on") {
    val df = frame(1L)
    val perId = df.groupBy("id").agg(
      count(lit(1)).as("n"),
      countDistinct(col("dt"), col("price")).as("distinct"))
    assert(perId.filter(col("n") === 1).count() > 0, "no single-row id")
    assert(perId.filter(col("distinct") < 6 && col("n") > 1).count() > 0,
      "no id with fewer than six distinct prints")
    assert(df.groupBy("id", "dt", "price").count()
      .filter(col("count") > 1).count() > 0, "no duplicate (dt, price)")
    assert(df.filter(col("price").isNull).count() > 0, "no null price")
    assert(df.filter(col("price").isNaN).count() > 0, "no NaN price")
    val zeros = df.filter(col("price") === 0.0).collect().map(_.getDouble(3))
    assert(zeros.exists(z => 1 / z < 0) && zeros.exists(z => 1 / z > 0),
      "need both -0.0 and 0.0")
  }

  test("anchorsOf: null prints hold a position but no value or anchor") {
    val d = "2024-01-02"
    // positions: 100, null, 101, 102; the dup 100 and the second null
    // fold onto the first of their (dt, price)
    val prices: Array[Any] = Array(100.0, null, 100.0, 101.0, null, 102.0)
    val out = DecimalShift.anchorsOf(Array.fill[Any](6)(d), prices, 5)
    // fewer than 6 values in ±5 → forward median of the values at and
    // after each position
    assert(out.toSeq == Seq(101.0, null, 101.0, 101.5, null, 102.0))
  }

  test("the scalar gates match the column gates on edge prices and anchors") {
    val p = DecimalShift.Params()
    val edges: Seq[java.lang.Double] = Seq(null, 0.0, -0.0, Double.NaN,
      Double.PositiveInfinity, -5.0, 0.05, 0.5, 5.0, 50.0, 99.9, 100.0,
      100.2, 300.0, 999.0, 1002.0, 3000.0, 30000.0, 88.15, 1000.0)
    val rows = for (x <- edges; a <- edges) yield Row(x, a)
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2),
      new StructType().add("__p", DoubleType).add("anchor_price", DoubleType))
      .withColumn("x", col("__p")).withColumn("a", col("anchor_price"))
    val want = columnSuggest(df, p).collect()
    assert(want.length == edges.size * edges.size)
    val diffs = want.flatMap { r =>
      val (x, a) = (r.get(r.fieldIndex("x")), r.get(r.fieldIndex("a")))
      val s = DecimalShift.gate(x, a, p)
      val got = Seq(s.flag, s.factor, s.price).map(String.valueOf)
      val exp = Seq("dec_shift_flag", "dec_shift_factor", "suggested_price")
        .map(c => String.valueOf(r.get(r.fieldIndex(c))))
      if (got == exp) None else Some(s"($x, $a): want $exp got $got")
    }
    assert(diffs.isEmpty, diffs.take(5).mkString("; "))
    // the grid reaches every gate: some flags fire, some by par alone
    assert(want.exists(_.getAs[Int]("dec_shift_flag") == 1))
  }
}
