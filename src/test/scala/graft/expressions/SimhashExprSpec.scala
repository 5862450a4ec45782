package graft.expressions

import graft.SparkSpec
import graft.llmdata.Dedup
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** The native per-row `simhash60` must be bit-identical to the exploded
  * groupBy formulation it replaced — the DuckDB oracle replays the md5
  * family, so divergence is a silent
  * correctness break for the whole simhash tier.
  */
class SimhashExprSpec extends SparkSpec {

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(11042L + i)))

  private val vocab = Vector("alpha", "beta", "Gamma", "DELTA", "rho", "phi")
  private val docGen: Gen[String] = Gen.chooseNum(0, 30).flatMap {
    case 0 => Gen.const("")
    case n => Gen.listOfN(n, Gen.oneOf(vocab)).map(_.mkString("  "))
  }

  private def sigs(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("native simhash60 equals the exploded formulation on random corpora") {
    import spark.implicits._
    graft.GraftExtensions.ensure(spark)
    val docs = samples(docGen, 80).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val native = sigs(Dedup.simhash(docs, "doc_id", "text"))
    val exploded = sigs(Dedup.simhashExploded(docs, "doc_id", "text"))
    assert(native == exploded,
      s"native/exploded simhash diverge: " +
        s"${native.toSet.diff(exploded.toSet).take(3)}")
  }
}
