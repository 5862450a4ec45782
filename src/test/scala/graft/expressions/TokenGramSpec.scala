package graft.expressions

import graft.SparkSpec
import graft.llmdata.TextOps
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Native `tokengramhash60` must emit the same (id, gram-hash) ROW SET as
  * the composed slice/join/hash lambda it replaced — gram hashes feed decontamination's semi/anti joins, so set
  * equality is the correctness contract (order is irrelevant).
  */
class TokenGramSpec extends SparkSpec {

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(13042L + i)))

  // multi-byte tokens exercise the byte-offset space scan; repeated
  // tokens exercise gram-level distinct
  private val vocab = Vector("alpha", "beta", "ß", "Łukasz", "日本", "x")
  private val docGen: Gen[String] = Gen.chooseNum(0, 25).flatMap {
    case 0 => Gen.const("")
    case n => Gen.listOfN(n, Gen.oneOf(vocab)).map(_.mkString("  \t"))
  }

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("native gram hashing equals the composed lambda on random corpora") {
    import spark.implicits._
    graft.GraftExtensions.ensure(spark)
    val docs = samples(docGen, 80).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    for (n <- Seq(1, 2, 8)) {
      val native = rows(TextOps.gramHashes(docs, "doc_id", "text", n))
      val composed = rows(TextOps.gramHashesComposed(docs, "doc_id", "text", n))
      assert(native == composed,
        s"[n=$n] native/composed gram hashes diverge: " +
          s"${native.diff(composed).take(3)} / ${composed.diff(native).take(3)}")
    }
  }
}
