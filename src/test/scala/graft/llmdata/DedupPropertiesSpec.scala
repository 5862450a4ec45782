package graft.llmdata

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property tests for the dedup ladder's per-document formulations:
  * random corpora must produce byte-identical signatures/candidates in
  * the shuffle-free local path and the exploded groupBy formulation the
  * DuckDB oracles mirror, and connected components must equal a
  * driver-side union-find on the same edges. Plain ScalaCheck generators
  * sampled under fixed seeds (the scalatest-scalacheck bridge is not on
  * the offline classpath).
  */
class DedupPropertiesSpec extends SparkSpec {

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(1042L + i)))

  // word-salad docs over a tiny vocabulary — maximizes shingle collisions
  private val vocab = Vector("alpha", "beta", "gamma", "delta", "rho", "phi")
  private val docGen: Gen[String] =
    Gen.chooseNum(1, 40).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf(vocab)).map(_.mkString(" ")))

  test("local MinHash profiles equal the exploded formulation on random corpora") {
    import spark.implicits._
    val docs = samples(docGen, 60).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val hashed = Dedup.shingleHashes(docs, "doc_id", "text", 5)
    val exploded = Dedup.minhash(hashed, 16)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    val local = Dedup.docProfilesLocal(docs, "doc_id", "text", 5, 16)
    val localSigs = local.select(col("id"), posexplode(col("mh")))
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(localSigs == exploded)
    val candsG = Dedup.lshCandidates(Dedup.minhash(hashed, 16), 16, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the tiny-vocab corpus collides signatures aggressively — disable
    // the occupancy cap so the equivalence is against the full clique
    // (LshCapSpec pins the capped behavior)
    spark.conf.set("spark.graft.lsh.maxBucket", Int.MaxValue.toString)
    val candsL =
      try Dedup.lshCandidatesLocal(local, 16, 4)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      finally spark.conf.unset("spark.graft.lsh.maxBucket")
    assert(candsL == candsG)
  }

  /** min-id union-find reference over an edge list */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    def union(a: Long, b: Long): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    edges.foreach { case (a, b) => union(a, b) }
    edges.flatMap(e => Seq(e._1, e._2)).distinct
      .map(x => x -> find(x)).toMap
  }

  private val edgeGen: Gen[List[(Long, Long)]] =
    Gen.chooseNum(1, 60).flatMap(m => Gen.listOfN(m,
      Gen.zip(Gen.chooseNum(0L, 40L), Gen.chooseNum(0L, 40L))
        .suchThat(p => p._1 != p._2)))

  test("canonicalClusters equals driver-side union-find on random graphs") {
    import spark.implicits._
    // includes a long path — the adversarial shape for round counts
    val path = (0 until 20).map(i => ((i * 7919L) % 101, ((i + 1) * 7919L) % 101))
    (samples(edgeGen, 8) :+ path.toList).foreach { edges =>
      val got = Dedup.canonicalClusters(edges.toDF("id_a", "id_b"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(got == unionFind(edges), s"edges $edges")
    }
  }

  test("dd_pagerank equals a driver-side replay of the integer iteration") {
    graft.GraftExtensions.ensure(spark)
    val sf = "/root/testdata/sf0.001"
    val got = graft.SparkEntry.queries("dd_pagerank")(spark, sf).collect()
      .map(r => r.getAs[Long]("id") -> (r.getAs[Long]("deg"),
        r.getAs[Long]("pr"))).toMap
    assert(got.nonEmpty, "the near-dup graph has nodes at sf0.001")
    val pairs = graft.queries.QDedup.minhashPairsDag(spark, sf)
      .select(col("id_a"), col("id_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val adj = (pairs ++ pairs.map(p => (p._2, p._1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    var pr = adj.keys.map(_ -> 1000L).toMap
    for (_ <- 1 to 3)
      pr = adj.keys.map { v =>
        val in = adj(v).map(u => pr(u) / adj(u).size).sum
        v -> (150L + (850L * in) / 1000L)
      }.toMap
    assert(got == adj.keys.map(v => v -> (adj(v).size.toLong, pr(v))).toMap)
  }
}
