package graft.queries

import graft.{Plans, SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** The trained-weight classifier path (`tx_quality_classifier_weights`):
  * the element_at lookup into an explicit 16k weight vector must keep
  * the affine-mix path's zero-exchange single-scan shape, and with the
  * affine mix ITSELF tabulated into the vector the two paths must score
  * identically — the proof that swapping in a real fastText export is a
  * drop-in weight change, not a replan.
  */
class ClassifierWeightsSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("weighted lookup path is zero-exchange, like the affine path") {
    val affine = Plans.planCounts(
      graft.SparkEntry.queries("tx_quality_classifier")(spark, sf))
    val looked = Plans.planCounts(
      graft.SparkEntry.queries("tx_quality_classifier_weights")(spark, sf))
    assert(affine.shuffles == 0 && affine.broadcasts == 0,
      s"affine path: ${affine.shuffles} shuffles, ${affine.broadcasts} broadcasts")
    assert(looked.shuffles == 0 && looked.broadcasts == 0,
      s"lookup path: ${looked.shuffles} shuffles, ${looked.broadcasts} broadcasts")
  }

  test("lookup with the affine mix tabulated reproduces the affine scores exactly") {
    graft.GraftExtensions.ensure(spark)
    // weights[b] = (b*40503 + 12345) % 2001 - 1000 IS the affine mix —
    // tabulating it into the vector must make the two engines agree on
    // every document, so weight-swapping provably changes only weights
    val affineTable =
      Array.tabulate(16384)(b => ((b.toLong * 40503L + 12345L) % 2001L) - 1000L)
    val docs = Tables.documents(spark, sf)
    val both = docs.select(
      col("doc_id"),
      QText.classifierScoreCol.as("s_affine"),
      QText.classifierScoreWeighted(affineTable).as("s_lookup"))
    assert(both.count() > 0)
    val diff = both.filter(col("s_affine") =!= col("s_lookup")).count()
    assert(diff == 0L, s"$diff documents scored differently via the lookup path")
  }

  test("demo weight vector differs from the affine mix (the lookup is really read)") {
    val n = QText.demoWeights.zipWithIndex.count { case (w, b) =>
      w != ((b.toLong * 40503L + 12345L) % 2001L) - 1000L
    }
    assert(n > 10000, s"demo weights collide with the affine mix on all but $n buckets")
  }
}
