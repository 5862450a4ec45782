package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The substring stage composed into the corpus build: present, and
  * token-attriting, never doc-attriting.
  */
class CorpusSubstringSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("default chain carries substring_clean: same docs, fewer-or-equal tokens") {
    val stages = QText.corpusStages(spark, sf)
    assert(stages.contains("substring_clean"))
    val surv = stages("exact_keeper")
      .agg(count(lit(1)), sum(col("n_tokens"))).head
    val sub = stages("substring_clean")
      .agg(count(lit(1)), sum(col("n_tokens"))).head
    assert(sub.getLong(0) == surv.getLong(0),
      "substring stage must attrit tokens, not documents")
    assert(sub.getLong(1) <= surv.getLong(1),
      s"substring stage grew tokens: ${surv.getLong(1)} -> ${sub.getLong(1)}")
    graft.Caches.clearAll()
  }
}
