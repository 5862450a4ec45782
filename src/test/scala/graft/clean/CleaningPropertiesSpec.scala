package graft.clean

import graft.SparkSpec
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property tests for the cleaning operators (SURVEY.md §5 invariants):
  * decimal-shift never fires below the raw-relative gate; bounce-back
  * never flags monotone series; corrections land near the anchor. Uses
  * plain ScalaCheck generators sampled under fixed seeds (the
  * scalatest-scalacheck bridge is not on the offline classpath).
  */
class CleaningPropertiesSpec extends SparkSpec {

  private val smallSeries: Gen[List[Double]] =
    Gen.chooseNum(4, 12).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(80.0, 120.0)
        .map(v => math.round(v * 100) / 100.0)))

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  private def shift(prices: Seq[Double]) = {
    import spark.implicits._
    val df = prices.zipWithIndex
      .map { case (p, i) => (1L, "2024-01-01", i.toLong, p) }
      .toDF("id", "dt", "ord", "price")
    Stage0.pass(df, Stage0.Steps(dickNielsen = false, shift = true, bounce = false))
      .orderBy("ord")
      .select("dec_shift_flag", "suggested_price", "anchor_price")
      .collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
  }

  private def bounce(prices: Seq[Double]) = {
    import spark.implicits._
    val df = prices.zipWithIndex.map { case (p, i) => (1L, i.toLong, p) }
      .toDF("id", "ord", "price")
    BounceBack.flags(df, "id", "ord", "price")
      .orderBy("ord").collect().map(_.getInt(2))
  }

  test("decimal-shift never fires on a tight band (raw_rel below the 5% gate)") {
    samples(smallSeries, 12).foreach { prices =>
      val tight = prices.map(p => 95.0 + (p % 5)) // values in [95, 100)
      assert(shift(tight).forall(_._1 == 0), s"flagged in $tight")
    }
  }

  test("accepted corrections land within the acceptance gates of the anchor") {
    samples(smallSeries, 8).foreach { prices =>
      val injected = prices.updated(prices.size / 2,
        math.round(prices(prices.size / 2) * 1000) / 100.0) // 10x error
      shift(injected).foreach { case (flag, suggested, anchor) =>
        if (flag == 1) {
          val relErr = math.abs(suggested - anchor) / anchor
          val absOk = math.abs(suggested - anchor) <= 8.0 + 1e-9
          val parOk = math.abs(anchor - 100.0) <= 15.0 &&
            math.abs(suggested - 100.0) <= 15.0
          assert(relErr <= 0.02 + 1e-9 || absOk || parOk,
            s"accepted correction violates gates: $suggested vs $anchor")
        }
      }
    }
  }

  test("bounce-back never flags monotone series") {
    samples(Gen.zip(Gen.chooseNum(5, 15), Gen.chooseNum(0.5, 30.0)), 15)
      .foreach { case (n, step) =>
        val up = (0 until n).map(i => 50.0 + i * step)
        val down = (0 until n).map(i => 50.0 + (n - i) * step)
        assert(bounce(up).forall(_ == 0), s"up flagged: n=$n step=$step")
        assert(bounce(down).forall(_ == 0), s"down flagged: n=$n step=$step")
      }
  }
}
