package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Bounded-hop label propagation (g2_label_prop) — the closed form that
  * makes the heuristic deterministic: after k synchronous min-label
  * rounds, label(v) = min id within v's k-hop neighborhood. On a path
  * graph 1–2–…–n that is exactly max(1, v − k).
  */
class LabelPropSpec extends SparkSpec {

  private val cap = "spark.graft.labelprop.broadcastMaxNodes"
  private def withCap[T](v: Option[String])(body: => T): T = {
    v.foreach(spark.conf.set(cap, _))
    try body finally spark.conf.unset(cap)
  }

  test("g2 arms agree and auto selects by the measured node count") {
    val sf = "/root/testdata/sf0.001"
    def rows(v: Option[String]): Map[Long, Long] = withCap(v) {
      val got = graft.SparkEntry.queries("g2_label_prop")(spark, sf)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      graft.Caches.clearTransient()
      got
    }
    // auto, cap 0: every node set exceeds it → the shuffle arm
    val loRows = rows(Some("0"))
    // auto, default cap (8M): fixture far under → the broadcast arm
    val hiRows = rows(None)
    assert(hiRows.nonEmpty && loRows == hiRows, "g2 join arms disagree")
    // the decision g2 takes from |V|, and the round it feeds: each round
    // is checkpointed in g2, so one round's frame carries the join shape.
    // The ANALYZED plan retains the broadcast hint — the decision's
    // witness; the physical plan can coincide at fixture size because
    // the planner broadcasts the tiny label table on its own estimate
    import spark.implicits._
    val adj = Seq((1L, 2L), (2L, 1L), (1L, 1L), (2L, 2L)).toDF("src", "dst")
    val lbl = Seq((1L, 1L), (2L, 2L)).toDF("id", "lbl")
    def roundPlan(v: Option[String]): String = withCap(v) {
      QJoins.labelPropRound(adj, lbl,
          QJoins.labelPropBroadcast(spark, hiRows.size.toLong))
        .queryExecution.analyzed.toString
    }
    val hiPlan = roundPlan(None)
    val loPlan = roundPlan(Some("0"))
    assert(hiPlan.contains("ResolvedHint"),
      s"auto under the cap did not pick broadcast:\n${hiPlan.take(2000)}")
    assert(!loPlan.contains("ResolvedHint"),
      s"auto over the cap still picked broadcast:\n${loPlan.take(2000)}")
  }

  test("k rounds on a path graph: label(v) == max(1, v - k)") {
    import spark.implicits._
    val n = 12
    val e = (1 until n).map(i => (i.toLong, (i + 1).toLong)).toDF("u", "v")
    val sym = e.select(col("u").as("src"), col("v").as("dst"))
      .unionByName(e.select(col("v").as("src"), col("u").as("dst")))
    val nodes = sym.select(col("src").as("id")).distinct()
    val adj = sym.unionByName(
      nodes.select(col("id").as("src"), col("id").as("dst")))
    for (k <- Seq(1, 3, 5)) {
      var lbl = nodes.select(col("id"), col("id").as("lbl"))
      for (_ <- 1 to k)
        lbl = QJoins.labelPropRound(adj, lbl, bcast = false)
          .localCheckpoint(true)
      val got = lbl.collect()
        .map(r => r.getAs[Long]("id") -> r.getAs[Long]("lbl")).toMap
      (1 to n).foreach { v =>
        assert(got(v.toLong) == math.max(1, v - k).toLong,
          s"k=$k node $v: got ${got(v.toLong)}")
      }
    }
  }
}
