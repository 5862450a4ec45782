package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Q-gram blocking for fuzzy entity resolution (the candidate-generation
  * stage of `j26_fuzzy_er_join`), with the occupancy cap the LSH family
  * (`llmdata.Dedup.bandedPairs`) applies to its banded buckets —
  * re-shaped for the R×S (dirty-probe × clean-index) case.
  *
  * The hazard: on real name distributions a HOT gram ("Corp", "Inc ",
  * " Ltd") occurs in nearly every clean name, so the gram equi-join
  * emits a quadratic |dirty|×|clean| bucket — candidate generation
  * degenerates into the all-pairs scan blocking exists to avoid. Such a
  * gram also carries no blocking INFORMATION (it matches everyone), so
  * the classic ER fix is to treat it as a STOP GRAM and exclude it from
  * blocking on both sides. Recall loss is confined to pairs whose ONLY
  * shared grams are stop grams — names that agree solely on a token the
  * whole corpus shares, which no gram scheme separates from
  * non-matches anyway.
  *
  * Mechanically this reuses `bandedPairs`' broadcast-the-rare shape:
  * stop grams are rare BY CONSTRUCTION (each one costs ≥ cap clean
  * rows, so there are at most Σ|grams|/cap of them), so the stop list
  * aggregates to a tiny broadcast at any corpus size and both gram
  * streams drop them with a pre-shuffle `left_anti` — no window, no
  * extra exchange over the full gram relations. With no hot gram the
  * plan degenerates to the original equi-join plus one cheap
  * aggregate. `ErBlockingSpec` proves candidates stay LINEAR on a
  * fixture where every name shares one hot gram.
  *
  * The cap is query SEMANTICS, not a silent optimization: callers'
  * oracles restate it (a `HAVING count(*) > cap` stop list), so the
  * capped formulation stays hash-gated.
  */
object ErBlocking {

  /** default clean-side occupancy cap per gram — callers override it
    * through the `maxBucket` parameter. */
  val DefaultMaxGramBucket = 32

  /** explode `nameCol` into its positional q-grams (one row per gram
    * occurrence position, deduped per row by the later distinct).
    *
    * Rows shorter than q emit NO grams — pinned by pre-filter, because
    * Spark's `sequence(1, n)` with n < 1 flips to a DESCENDING default
    * step and would emit bogus position-0/negative grams, while the
    * DuckDB oracle's `generate_series(1, n)` is simply empty there. The
    * filter is exactly the oracle's empty-series semantics (a non-outer
    * explode of an empty array drops the row anyway). */
  def grams(df: DataFrame, nameCol: String, q: Int = 4): DataFrame =
    df.filter(length(col(nameCol)) >= q)
      .withColumn("gram", explode(expr(
        s"transform(sequence(1, length($nameCol) - ${q - 1}), " +
          s"i -> substring($nameCol, i, $q))")))

  /** the stop-gram list: grams whose CLEAN-side occupancy exceeds the
    * cap. Tiny by construction (≤ total-grams/cap entries) — broadcast
    * it. */
  def stopGrams(cleanGrams: DataFrame, maxBucket: Int): DataFrame =
    broadcast(cleanGrams.groupBy(col("gram"))
      .agg(count(lit(1)).as("occ"))
      .filter(col("occ") > maxBucket)
      .select(col("gram")))

  /** candidate pairs: equi-join the two gram streams with stop grams
    * anti-joined off BOTH sides first (pre-shuffle pruning — the dirty
    * side's stop-gram rows could only ever have met clean rows the stop
    * list already removed). Caller projects/distincts the id pairs.
    */
  def candidates(dirtyGrams: DataFrame, cleanGrams: DataFrame,
      maxBucket: Int = DefaultMaxGramBucket): DataFrame = {
    val stop = stopGrams(cleanGrams, maxBucket)
    dirtyGrams.join(stop, Seq("gram"), "left_anti")
      .join(cleanGrams.join(stop, Seq("gram"), "left_anti"), Seq("gram"))
  }
}
