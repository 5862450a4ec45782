package graft.queries

import graft.SparkSpec

/** The two wedge-close strategies of g1_triangles, both exercised on the
  * same data: the broadcast map-side close (under the edge cap — right at
  * tested scale, where the edge list is the small side) and the
  * Suri–Vassilvitskii shuffle equi-join close (past the cap — the 100 TB
  * path, where the edge list outgrows a broadcast). Cap 0 reaches the
  * shuffle arm at fixture size. Claims pinned: both arms return the
  * identical per-node triangle table, and each plans the shape its name
  * promises (broadcast join on e3 vs a shuffled hash join with NO
  * broadcast of the edge relation).
  */
class TriangleCloseSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private val cap = "spark.graft.triangles.broadcastMaxEdges"

  private def run(maxEdges: Option[String]): (Set[(Long, Long)], String) = {
    maxEdges.foreach(spark.conf.set(cap, _))
    try {
      val df = graft.SparkEntry.queries("g1_triangles")(spark, sf)
      val plan = graft.Plans.formatted(df)
      val rows = df.collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      graft.Caches.clearTransient()
      (rows, plan)
    } finally spark.conf.unset(cap)
  }

  test("shuffle close == broadcast close, node for node") {
    // warm the shared co-purchase edge memo first: a cold (unmaterialized)
    // cache has no size stats, so the first run would plan the degree and
    // wedge joins as SMJ while the warm second run broadcasts them — the
    // BHJ-count comparison below needs both arms planned from the SAME
    // cache temperature
    run(None)
    // cap 0: every edge set exceeds it → the shuffle arm
    val (sRows, sPlan) = run(Some("0"))
    // default cap (4M edges): the fixture is far under → broadcast arm
    val (bRows, bPlan) = run(None)
    assert(bRows.nonEmpty, "fixture produced no triangles")
    assert(sRows == bRows,
      s"close arms disagree: ${sRows.diff(bRows)} vs ${bRows.diff(sRows)}")
    // broadcast arm: the close join's edge side is a broadcast
    assert(bPlan.contains("BroadcastHashJoin"),
      s"broadcast close did not plan a broadcast join:\n${bPlan.take(2000)}")
    // shuffle arm: the hinted close is a shuffled hash join, and the close
    // join moved off broadcast (the degree joins building `oriented` may
    // stay broadcast at fixture size — deg is metadata-sized at every
    // scale, the edge relation is not)
    assert(sPlan.contains("ShuffledHashJoin"),
      s"shuffle close did not plan a shuffled hash join:\n${sPlan.take(2000)}")
    def nBhj(p: String) = "BroadcastHashJoin".r.findAllIn(p).size
    assert(nBhj(sPlan) < nBhj(bPlan),
      s"close join did not leave broadcast: ${nBhj(sPlan)} vs ${nBhj(bPlan)}")
  }

  test("auto close selects the arm from the measured edge count") {
    import org.apache.spark.sql.functions.col
    run(None) // warm the shared edge memo (same reason as above)
    // the distinct co-purchase edges g1 counts: parts sharing an order
    val li = graft.Tables.lineitem(spark, sf)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
    val nEdges = li.as("a").join(li.as("b"),
        col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .select(col("a.pk"), col("b.pk")).distinct().count()
    assert(nEdges > 1)
    // the cap is inclusive: exactly |E| broadcasts, one below shuffles
    val (atRows, atPlan) = run(Some(nEdges.toString))
    val (belowRows, belowPlan) = run(Some((nEdges - 1).toString))
    assert(atRows == belowRows, "auto arms disagree")
    assert(!atPlan.contains("ShuffledHashJoin"),
      s"cap = |E| did not keep the broadcast close:\n${atPlan.take(2000)}")
    assert(belowPlan.contains("ShuffledHashJoin"),
      s"cap = |E| - 1 did not shuffle:\n${belowPlan.take(2000)}")
  }
}
