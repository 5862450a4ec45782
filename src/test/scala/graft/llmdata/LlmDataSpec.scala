package graft.llmdata

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Unit tests for the training-data operators. */
class LlmDataSpec extends SparkSpec {

  test("charShingles: short texts yield themselves; duplicates collapse") {
    import spark.implicits._
    val docs = Seq((1L, "abc"), (2L, "aaaaaaa")).toDF("doc_id", "text")
    val sh = Dedup.charShingles(docs, "doc_id", "text", 5)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(sh.contains((1L, "abc")))
    // "aaaaaaa" has 3 5-gram positions, all "aaaaa" → ONE distinct shingle
    assert(sh.count(_._1 == 2L) == 1 && sh.contains((2L, "aaaaa")))
  }

  test("identical documents collide in every dedup tier") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "completely different content about spark catalyst planning"))
      .toDF("doc_id", "text")
    // simhash: identical docs → identical signature, hamming 0
    val pairs = Dedup.simhashPairs(
      Dedup.simhash(docs, "doc_id", "text"), maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 0))
    assert(!pairs.exists(p => p._2 == 3L || p._1 == 3L))
    // minhash+LSH: identical docs are certain candidates with jaccard 1.0
    val hashed = Dedup.shingleHashes(docs, "doc_id", "text", 5)
    val cands = Dedup.lshCandidates(Dedup.minhash(hashed, 32), 32, 4)
    val verified = Dedup.jaccardVerify(
      hashed.select(col("id"), col("sh")).dropDuplicates("id", "sh"), cands, 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(verified.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 1.0))
  }

  test("docProfilesLocal equals the exploded groupBy-min formulation") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and AGAIN"),
      (3L, "completely different content about spark catalyst planning"),
      (4L, "abc")) // shorter than the shingle width
      .toDF("doc_id", "text")
    // signatures: per-doc MinHashK minima == the exploded min-aggregate
    val hashed = Dedup.shingleHashes(docs, "doc_id", "text", 5)
    val exploded = Dedup.minhash(hashed, 32)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    val local = Dedup.docProfilesLocal(docs, "doc_id", "text", 5, 32)
    val localSigs = local.select(col("id"), posexplode(col("mh")))
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(localSigs == exploded)
    // candidates: band buckets built from the array == the grouped form
    val candsG = Dedup.lshCandidates(Dedup.minhash(hashed, 32), 32, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val candsL = Dedup.lshCandidatesLocal(local, 32, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(candsL == candsG)
    // the distinct-hash sets and sizes match the exploded relation
    val szG = hashed.select(col("id"), col("sh")).distinct()
      .groupBy("id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val szL = local.select(col("id"), col("sz")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(szL == szG)
  }

  test("canonicalClusters closes transitive chains to the min id") {
    import spark.implicits._
    // chain 5-3-9 (pairwise edges only), isolated pair 2-7: transitivity
    // must put 9 in 3's cluster even though (3,9) was never a pair
    val pairs = Seq((3L, 5L), (5L, 9L), (2L, 7L)).toDF("id_a", "id_b")
    val got = Dedup.canonicalClusters(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(3L -> 3L, 5L -> 3L, 9L -> 3L, 2L -> 2L, 7L -> 2L))
  }

  test("Embeddings.topK ranks by cosine with id tie-break") {
    import spark.implicits._
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(1.0f, 0.01f)),   // nearly parallel to 0
      (2L, Array(0.0f, 1.0f)),    // orthogonal
      (3L, Array(-1.0f, 0.0f)))   // opposite
      .toDF("vid", "vvec")
      .withColumn("vn2", Embeddings.norm2Decimal(col("vvec")))
    val queries = vecs.filter(col("vid") === 0)
      .select(col("vid").as("qid"), col("vvec").as("qvec"), col("vn2").as("qn2"))
    val out = Embeddings.topK(vecs, queries, k = 3)
      .orderBy("rank").collect()
      .map(r => (r.getInt(1), r.getLong(2)))
    assert(out.toSeq == Seq((1, 1L), (2, 2L), (3, 3L)))
  }

  test("TextOps: langId picks the dominant stopword language") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat and the dog in the house"),
      (2L, "der hund und die katze ist nicht da"),
      (3L, "zzz qqq www")).toDF("doc_id", "text")
    val out = docs.select(col("doc_id"),
        TextOps.langId(TextOps.tokens(col("text"))).as("lang"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(out(1L) == "en" && out(2L) == "de" && out(3L) == "und")
  }

  test("sourceBlocklist blocks a template-heavy source, keeps clean ones") {
    import spark.implicits._
    // templ: 3 of 4 docs sit in near-dup pairs (75% ≥ 16% → blocked);
    // clean: 1 of 4 (25% ≥ 16% → blocked at 16 but NOT at 30 — the
    // threshold is a real parameter); empty pair membership → kept
    val docs = Seq(
      (1L, "templ"), (2L, "templ"), (3L, "templ"), (4L, "templ"),
      (5L, "clean"), (6L, "clean"), (7L, "clean"), (8L, "clean"),
      (9L, "quiet"), (10L, "quiet")).toDF("doc_id", "source")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 1L)).toDF("id_a", "id_b")
    def run(pct: Int) = Dedup.sourceBlocklist(docs, pairs,
        "doc_id", "source", blockPct = pct)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(4)))).toMap
    val at16 = run(16)
    assert(at16("templ") == ((4L, 3L, true)))
    assert(at16("clean") == ((4L, 1L, true)))   // 25% ≥ 16%
    assert(at16("quiet") == ((2L, 0L, false)))
    val at30 = run(30)
    assert(!at30("clean")._3 && at30("templ")._3)
    // a doc on BOTH sides of pairs counts once (distinct membership)
    val shares = run(16)
    assert(shares.values.forall { case (n, nd, _) => nd <= n })
  }
}
