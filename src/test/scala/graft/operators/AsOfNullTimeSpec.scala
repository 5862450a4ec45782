package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The SQL rule for null times in every as-of variant: a null `on` on
  * either side never matches. A null-dated event reaches no row, and a
  * null-dated row gets no payload; dated rows still match as before.
  *
  * DuckDB 1.0's `ASOF LEFT JOIN` agrees on dated left rows but gives a
  * null-dated left row the key's right payload; this spec pins the SQL
  * rule, not that.
  */
class AsOfNullTimeSpec extends SparkSpec {

  import spark.implicits._

  private val nullT = Option.empty[Long]

  private def left: DataFrame = Seq((1L, Option(5L), "a"), (1L, nullT, "b"),
      (2L, Option(5L), "c"), (2L, Option(1L), "d"))
    .toDF("id", "t", "tag")
  /** key 1: a null-time event only; key 2: a null-time event and one at 3 */
  private def right: DataFrame = Seq((1L, nullT, 7.0), (2L, nullT, 9.0),
      (2L, Option(3L), 8.0))
    .toDF("id", "r_t", "pay")

  private def byTag(df: DataFrame): Map[String, Option[Double]] =
    df.select(col("tag"), col("pay")).collect()
      .map(r => r.getString(0) -> Option(r.get(1)).map(_.asInstanceOf[Double]))
      .toMap

  private val backwardWant = Map("a" -> None, "b" -> None,
    "c" -> Some(8.0), "d" -> None)
  private val forwardWant = Map("a" -> None, "b" -> None,
    "c" -> None, "d" -> Some(8.0))

  test("backward, composed and native, inclusive and strict") {
    for (strict <- Seq(false, true)) {
      assert(byTag(AsOfJoin.backward(left, right, Seq("id"), "t", "r_t",
        Seq("pay"), strict = strict)) == backwardWant, s"strict=$strict")
      assert(byTag(AsOfJoin.backwardNative(left, right, Seq("id"), "t", "r_t",
        Seq("pay"), strict)) == backwardWant, s"native strict=$strict")
    }
  }

  test("forward, composed and native, inclusive and strict") {
    for (strict <- Seq(false, true)) {
      assert(byTag(AsOfJoin.forward(left, right, Seq("id"), "t", "r_t",
        Seq("pay"), strict = strict)) == forwardWant, s"strict=$strict")
      assert(byTag(AsOfJoin.forwardNative(left, right, Seq("id"), "t", "r_t",
        Seq("pay"), strict)) == forwardWant, s"native strict=$strict")
    }
  }

  test("backward with tolerance") {
    def ts(df: DataFrame, c: String) =
      df.withColumn(c, timestamp_micros(col(c) * 1000000L))
    val got = AsOfJoin.backwardTolerance(ts(left, "t"), ts(right, "r_t"),
      Seq("id"), "t", "r_t", Seq("pay"), toleranceMicros = 10000000L)
    assert(byTag(got) == backwardWant)
  }
}
