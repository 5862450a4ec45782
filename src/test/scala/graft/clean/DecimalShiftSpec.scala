package graft.clean

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Golden vectors from the reference's decimal-shift README
  * (`stage0/README_decimal_shift_corrector.md:245-360`, FIXTURES.md §2.1).
  */
class DecimalShiftSpec extends SparkSpec {

  private def run(prices: Seq[Double]): Array[(Int, Double, Double)] = {
    import spark.implicits._
    val df = prices.zipWithIndex
      .map { case (p, i) => (1L, "2024-01-01", i.toLong, p) }
      .toDF("id", "dt", "ord", "price")
    Stage0.pass(df, Stage0.Steps(dickNielsen = false, shift = true, bounce = false))
      .orderBy("ord")
      .select(col("dec_shift_flag"), col("dec_shift_factor"),
        col("suggested_price"))
      .collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
  }

  test("basic 10x fix: 985.0 amid ~99 prices is corrected to 98.5") {
    val out = run(Seq(98.5, 99.0, 985.0, 98.8, 99.2))
    assert(out(2)._1 == 1)
    assert(out(2)._2 == 0.1)
    assert(math.abs(out(2)._3 - 98.5) < 1e-9)
    assert(out.zipWithIndex.filter(_._2 != 2).forall(_._1._1 == 0))
  }

  test("genuine jump preserved: raw_rel below 5% gate") {
    val out = run(Seq(95.0, 94.5, 85.0, 84.8, 85.5))
    assert(out.forall(_._1 == 0))
  }

  test("par-proximity acceptance: corrected via par rule when pct/abs gates fail") {
    // anchor ≈ 88.15; candidate 100.0 has best_rel ≈ 13.4% (> 2%) and
    // |best−anchor| ≈ 11.85 (> 8) — only the par rule (both within 15 of
    // 100) accepts the correction
    val out = run(Seq(88.0, 88.5, 1000.0, 87.8, 88.2, 88.1, 87.9, 88.3))
    assert(out(2)._1 == 1)
    assert(out(2)._2 == 0.1)
    assert(math.abs(out(2)._3 - 100.0) < 1e-9)
    assert(out.zipWithIndex.filter(_._2 != 2).forall(_._1._1 == 0))
  }

  test("improvement gate: volatile series around anchor not corrected") {
    // large raw_rel but no candidate achieves <= 20% of it
    val out = run(Seq(100.0, 160.0, 100.0, 160.0, 100.0))
    assert(out.forall(_._1 == 0))
  }
}
