package graft.expressions

import graft.SparkSpec
import graft.llmdata.TextOps
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Native `tokengrampos60` must emit the same (id, start, hash) row set
  * as the composed transform/slice/join lambda. Unlike the distinct sibling, POSITION and MULTIPLICITY are
  * part of the contract here — duplicated-span extents are computed from
  * the start offsets, and a window repeated inside one document still
  * counts toward the corpus occurrence threshold.
  */
class TokenGramPosSpec extends SparkSpec {

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(70211L + i)))

  // small vocab forces repeated windows; multi-byte tokens exercise the
  // byte-offset space scan
  private val vocab = Vector("a", "bb", "ß", "日本", "çé")
  private val docGen: Gen[String] = Gen.chooseNum(0, 30).flatMap {
    case 0 => Gen.const("")
    case n => Gen.listOfN(n, Gen.oneOf(vocab)).map(_.mkString(" \n "))
  }

  private def composed(docs: org.apache.spark.sql.DataFrame,
      w: Int): org.apache.spark.sql.DataFrame = {
    docs.select(col("doc_id").as("id"), TextOps.tokens(col("text")).as("t"))
      .filter(size(col("t")) >= w)
      .select(col("id"), posexplode(transform(
        sequence(lit(1), size(col("t")) - (w - 1)),
        i => TextOps.hash60(array_join(slice(col("t"), i, lit(w)), " ")))))
      .select(col("id"), (col("pos") + 1).as("start"), col("col").as("fp"))
  }

  private def native(docs: org.apache.spark.sql.DataFrame,
      w: Int): org.apache.spark.sql.DataFrame = {
    docs.select(col("doc_id").as("id"),
        posexplode(call_function("tokengrampos60",
          TextOps.normalized(col("text")), lit(w))))
      .select(col("id"), (col("pos") + 1).as("start"), col("col").as("fp"))
  }

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet

  test("native positional window hashing equals the composed lambda") {
    import spark.implicits._
    graft.GraftExtensions.ensure(spark)
    val docs = samples(docGen, 80).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    for (w <- Seq(1, 3, 8)) {
      val n = rows(native(docs, w))
      val c = rows(composed(docs, w))
      assert(n == c,
        s"[w=$w] native/composed positional hashes diverge: " +
          s"${n.diff(c).take(3)} / ${c.diff(n).take(3)}")
    }
  }

  test("duplicateWindowSpans finds the shared paragraph doc-level tiers miss") {
    import spark.implicits._
    graft.GraftExtensions.ensure(spark)
    val boiler = "this content is provided as is without warranty of any kind"
    val docs = Seq(
      (1L, s"unique opening line one two three four five six seven. $boiler"),
      (2L, s"$boiler. a completely different body follows here nine ten"),
      (3L, "no shared text at all in this document body whatsoever today")
    ).toDF("doc_id", "text")
    val spans = Dedup_spansHelper(docs)
    // normalization keeps punctuation, so doc 2's trailing "kind." is a
    // different token from doc 1's "kind": the shared run is the first
    // 10 boilerplate tokens = 3 consecutive 8-windows in each doc,
    // starting at token 11 in doc 1 and token 1 in doc 2; doc 3
    // contributes nothing
    assert(spans == Map(1L -> (11, 10), 2L -> (1, 10)),
      s"expected the 10-token shared runs, got $spans")
  }

  private def Dedup_spansHelper(
      docs: org.apache.spark.sql.DataFrame): Map[Long, (Int, Int)] =
    graft.llmdata.Dedup.duplicateWindowSpans(docs, "doc_id", "text", w = 8)
      .collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2)))
      .toMap
}
