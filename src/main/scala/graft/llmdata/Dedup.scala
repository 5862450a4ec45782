package graft.llmdata

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Near-duplicate detection for document corpora at training-data scale.
  *
  * Five tiers, cheapest-first (the standard 100 TB dedup ladder):
  *  1. exact      — md5 fingerprint groupBy (one shuffle of (hash, id))
  *  2. MinHash+LSH — shingle → k minhashes → banded bucket join; only
  *     bucket-colliding pairs are verified with exact Jaccard. Candidate
  *     generation is linear in corpus size + bucket collisions, never the
  *     O(n²) pair space.
  *  3. SimHash    — 64-bit signature, hamming-ball lookup via band keys
  *  4. embedding cosine — see [[Embeddings]]
  *  5. window substring — sub-document duplicated-span detection
  *     ([[duplicateWindowSpans]]): the tier that catches boilerplate
  *     shared by otherwise-unique documents
  *
  * All hashes are md5-derived ([[TextOps.hash60]]) so every stage is
  * engine-portable and DuckDB-oracle-checkable — no engine-private murmur
  * or xxhash seeds (DuckDB has no xxhash64, so a faster hash family would
  * cost the oracle).
  */
object Dedup {

  /** distinct character n-gram shingles per document: (id, shingle).
    * Texts shorter than n contribute themselves as the single shingle.
    */
  def charShingles(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    docs.select(col(idCol).as("id"), TextOps.normalized(col(textCol)).as("t"))
      .select(col("id"), explode(
        array_distinct(transform(
          sequence(lit(1), greatest(length(col("t")) - (n - 1), lit(1))),
          i => col("t").substr(i, lit(n))))).as("shingle"))

  val minhashP = 2147483647L // 2^31 − 1

  /** shingle HASHES per document: (id, sh, h1, h2). The native
    * [[graft.expressions.ShingleHash60]] emits every position's
    * polynomial hash in one pass per document (no shingle substring, no
    * digest — that per-shingle md5 dominated the whole MinHash pass), so
    * the shingle string never exists at all — every downstream shuffle
    * (minhash groupBy, verification arrays) moves fixed-width int64s.
    * h2 is an affine mix of sh computed mod p with a split multiply
    * (hi·2³⁰ + lo keeps every intermediate below 2⁶³ — both engines would
    * error/wrap on a direct 40503·sh). Callers that fan the frame into
    * several consumers should persist it (no plan-subtree sharing).
    */
  val h2Sql: String =
    """((40503 * (sh div 1073741824)) % 2147483647 * 1073741824 % 2147483647
       + 40503 * (sh % 1073741824) + 12345) % 2147483647"""

  def shingleHashes(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    // one native pass over the normalized text (shinglehash60
    // polynomial), per-document distinct — shingle strings never exist
    val hashed =
      docs.select(col(idCol).as("id"),
        explode(array_distinct(call_function("shinglehash60",
          TextOps.normalized(col(textCol)), lit(n)))).as("sh"))
    hashed.select(col("id"), col("sh"),
      (col("sh") % minhashP).as("h1"), expr(h2Sql).as("h2"))
  }

  /** exact Jaccard over shingle-hash sets for candidate pairs — the
    * verification stage after any approximate candidate generator.
    * Input: hashes (id, sh) DISTINCT per id; pairs (id_a, id_b).
    *
    * Per-doc hash ARRAYS + array_intersect instead of a pairs×shingles
    * double join: the join form shuffles |pairs|·|shingles/doc| rows to
    * group the intersection counts, while the array form ships each doc's
    * set once per pair (bounded by max doc size) and intersects in the map
    * stage — the shape that survives a corpus-scale candidate volume.
    */
  def jaccardVerify(hashes: DataFrame, pairs: DataFrame, threshold: Double): DataFrame = {
    val arrs = hashes.groupBy(col("id"))
      .agg(collect_list(col("sh")).as("arr"), count(lit(1)).as("sz"))
    pairs
      .join(arrs.select(col("id").as("id_a"), col("arr").as("arr_a"),
        col("sz").as("sz_a")), Seq("id_a"))
      .join(arrs.select(col("id").as("id_b"), col("arr").as("arr_b"),
        col("sz").as("sz_b")), Seq("id_b"))
      .withColumn("inter", size(array_intersect(col("arr_a"), col("arr_b"))).cast("long"))
      .withColumn("jaccard",
        col("inter").cast("double") /
          (col("sz_a") + col("sz_b") - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** MinHash signatures via the (h1 + i·h2) mod p family: TWO md5-derived
    * base hashes per shingle (not k, precomputed in [[shingleHashes]]),
    * then k cheap arithmetic mixes; the k minima are computed as k
    * aggregate columns in ONE groupBy pass (map-side partial aggregation —
    * no k× row explosion) and unpivoted with stack(). Output: (id, i, mh).
    */
  def minhash(hashes: DataFrame, k: Int): DataFrame = {
    val mins = (0 until k).map(i =>
      min((col("h1") + lit(i.toLong) * col("h2")) % minhashP).as(s"mh$i"))
    val wide = hashes.groupBy(col("id")).agg(mins.head, mins.tail: _*)
    signatureRows(wide, k)
  }

  /** unpivot (id, mh0..mh{k-1}) to (id, i, mh) */
  def signatureRows(wide: DataFrame, k: Int): DataFrame = {
    val stackArgs = (0 until k).map(i => s"$i, mh$i").mkString(", ")
    wide.select(col("id"), expr(s"stack($k, $stackArgs) as (i, mh)"))
  }

  /** Per-document profile with ZERO shuffle: the distinct shingle-hash
    * set, its size, and the k MinHash minima are all computed inside the
    * document's own row (native [[graft.expressions.ShingleHash60]] +
    * [[graft.expressions.MinHashK]]). The exploded groupBy-min
    * formulation ([[minhash]]) shuffles the 10⁷-row shingle relation into
    * an ObjectHashAggregate (collect_set forces the non-codegen aggregate
    * path — measured 7 s where this is sub-second at the same SF); here
    * the shingle relation never exists as rows at all, and the only
    * frames that ever shuffle downstream are the tiny per-doc band keys
    * and candidate pairs — the shape that survives a 100 TB corpus.
    * Output: (id, arr, sz, mh) with mh = array of k minima.
    */
  def docProfilesLocal(docs: DataFrame, idCol: String, textCol: String,
      n: Int, k: Int): DataFrame = {
    // normalize ONCE into its own projection before the per-position
    // lambda — normalized() inside the transform body would re-run the
    // whole-document regex per shingle position (O(len²) per document)
    val normed = docs.select(col(idCol).as("id"),
      TextOps.normalized(col(textCol)).as("t"))
    val arr = array_distinct(call_function("shinglehash60", col("t"), lit(n)))
    normed.select(col("id"), arr.as("arr"))
      .withColumn("sz", size(col("arr")).cast("long"))
      .withColumn("mh", call_function("minhashk", col("arr"), lit(k)))
  }

  /** Per-document band keys from signature arrays — the unit the LSH
    * index is actually keyed on. Shared by [[lshCandidatesLocal]]
    * (self-join) and the incremental admission path (new-batch keys
    * probe the existing corpus's keys).
    */
  def bandKeys(profiles: DataFrame, k: Int, bands: Int): DataFrame = {
    // native per-row banding (graft.expressions.BandBuckets) — the
    // nested transform/sort_array/concat lambdas this replaces ran
    // interpreted per band per row; bucket values are byte-identical
    // (BandBucketsSpec) so the DuckDB oracle is untouched
    val rpb = k / bands
    profiles.select(col("id"), posexplode(
        call_function("bandbuckets", col("mh"), lit(rpb), lit(bands))))
      .toDF("id", "band", "bucket")
  }

  /** Per-vector RHP band keys (id, band, bucket) from the native
    * 16-plane signature — the single construction shared by the
    * `sim_rhp_neardup` query and the geometry specs, so a spec can never
    * drift from the query it checks.
    */
  def rhpBandKeys(embeddings: DataFrame, idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame =
    embeddings.select(col(idCol).as("id"),
        posexplode(call_function("rhpbands", col(embCol))))
      .toDF("id", "band", "bucket")

  /** The composed-lambda banding bandKeys() replaced — the reference
    * the property spec pins the native expression against.
    */
  private[graft] def bandKeysComposed(
      profiles: DataFrame, k: Int, bands: Int): DataFrame = {
    val rpb = k / bands
    profiles.select(col("id"), posexplode(expr(
      s"""transform(sequence(0, ${bands - 1}), b ->
            md5(concat_ws('_', sort_array(transform(
              sequence(b * $rpb, b * $rpb + ${rpb - 1}),
              i -> concat(cast(i as string), ':', cast(mh[i] as string)))))))""")))
      .toDF("id", "band", "bucket")
  }

  /** Per-(band, bucket) occupancy cap for LSH candidate generation,
    * `spark.graft.lsh.maxBucket` (MinHash banding) /
    * `spark.graft.rhp.maxBucket` (random-hyperplane banding). A band
    * self-join is quadratic in bucket occupancy, so ONE degenerate
    * bucket (boilerplate license headers, templated pages, the probe's
    * deliberate near-dup replication) turns candidate generation into
    * the all-pairs scan LSH exists to avoid — measured on the 5×
    * near-dup-dense scale probe: MinHash candidate pairs grew 953 →
    * 223,075 (max occupancy 5 → 30) and RHP pairs 529k → 13.3M (max
    * 220 → 1,100), the two superlinear wall-time slopes in
    * SCALE_PROBE.json. Buckets over the cap are STAR-PAIRED instead of
    * clique-paired (see [[bandedPairs]]). Defaults clear every measured
    * oracle/bench geometry (max per-(band, bucket) occupancy: MinHash 3 at
    * sf0.01 and 5 at sf0.1 vs cap 8 — a bucket of exactly 5 keeps its
    * clique; RHP 57 at sf0.01 and 220 at sf0.1 vs cap 256), so the cap
    * never fires where a DuckDB oracle mirrors the uncapped
    * formulation; `LshCapSpec` pins both geometries against the
    * defaults. At the 5× probe the RHP family buckets reach ~1,100 and
    * are starred under either cap value.
    */
  def lshMaxBucket(spark: org.apache.spark.sql.SparkSession): Int =
    spark.conf.get("spark.graft.lsh.maxBucket", "8").toInt
  def rhpMaxBucket(spark: org.apache.spark.sql.SparkSession): Int =
    spark.conf.get("spark.graft.rhp.maxBucket", "256").toInt
  // SemDeDup cells run ~50 members by construction (1-in-50 seed
  // centroids), measured max 59 at sf0.01 — 512 clears every oracle
  // geometry while still catching a degenerate mega-cell
  def semMaxBucket(spark: org.apache.spark.sql.SparkSession): Int =
    spark.conf.get("spark.graft.semdedup.maxBucket", "512").toInt

  /** Candidate pairs from band keys (id, band, bucket) with the
    * occupancy cap applied:
    *
    *  - buckets with ≤ maxBucket members emit the full clique (the
    *    exact LSH semantics every oracle mirrors);
    *  - oversized buckets emit a STAR around their min-id member
    *    (rep, id) — occ−1 pairs instead of occ·(occ−1)/2. Members of
    *    one bucket are near-certain duplicates (they agree on a whole
    *    band of signature rows), so the star preserves what matters at
    *    scale: every member still reaches the verification stage paired
    *    with a same-bucket representative, and connected-component
    *    canonicalization sees the same reachability (x–rep–y) the
    *    clique would give. Recall loss is confined to pairs BOTH inside
    *    an oversized bucket whose similarity to the representative
    *    fails verification while their mutual similarity passes.
    *
    * The cap is applied through a BROADCAST of the oversized-bucket
    * stats, not a window over the keys: oversized buckets are rare by
    * nature (if they weren't, the corpus is degenerate everywhere and
    * no pairing strategy survives), so `occ > maxBucket` aggregates to
    * a tiny frame at any corpus size, while a count/min window over the
    * full key relation would re-sort it once per consumer — measured 2×
    * on the whole candidate pass. When no bucket is oversized the plan
    * degenerates to the original self-join plus one cheap aggregate.
    * [[oversizedBuckets]] is the audit view of what was capped.
    */
  def bandedPairs(keys: DataFrame, maxBucket: Int): DataFrame = {
    val k = keys.select(col("id"), col("band"), col("bucket"))
    val big = broadcast(k.groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("occ"), min(col("id")).as("rep"))
      .filter(col("occ") > maxBucket)
      .select(col("band"), col("bucket"), col("rep")))
    val small = k.join(big, Seq("band", "bucket"), "left_anti")
    val clique = small.as("a").join(small.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    // rep = bucket min, so rep < id on every starred row — the
    // id_a < id_b invariant holds without a least/greatest pass
    val star = k.join(big, Seq("band", "bucket"))
      .filter(col("id") =!= col("rep"))
      .select(col("rep").as("id_a"), col("id").as("id_b"))
    clique.unionByName(star).distinct()
  }

  /** Audit view of the capped buckets: (band, bucket, occ) for every
    * bucket over maxBucket. A production pipeline logs/sinks this next
    * to its candidate output — capping is silent otherwise.
    */
  def oversizedBuckets(keys: DataFrame, maxBucket: Int): DataFrame =
    keys.groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("occ"))
      .filter(col("occ") > maxBucket)

  /** Cap an LSH probe INDEX (the corpus side of incremental admission)
    * at maxBucket members per (band, bucket), keeping the lowest ids —
    * deterministic, and bounds the probe join's per-bucket fan-out
    * (batch×corpus occupancy) linearly in the batch. Members beyond the
    * cap are near-duplicates of the kept ones, so a batch doc that
    * would only have matched a dropped member still meets the kept
    * representatives in the same bucket.
    */
  def capProbeKeys(keys: DataFrame, maxBucket: Int): DataFrame = {
    // same broadcast-the-rare-buckets shape as [[bandedPairs]]: rows of
    // buckets at-or-under the cap pass through untouched (no window, no
    // extra exchange on the index); only the oversized slice — small by
    // nature — is ranked, and that window runs over just those rows
    val big = broadcast(oversizedBuckets(keys, maxBucket)
      .select(col("band"), col("bucket")))
    val fine = keys.join(big, Seq("band", "bucket"), "left_anti")
      .select(keys.columns.map(col): _*)
    val w = Window.partitionBy(col("band"), col("bucket")).orderBy(col("id"))
    val trimmed = keys.join(big, Seq("band", "bucket"), "left_semi")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= maxBucket)
      .drop("rn")
      .select(keys.columns.map(col): _*)
    fine.unionByName(trimmed)
  }

  /** LSH candidate pairs from per-document signature ARRAYS (the
    * [[docProfilesLocal]] `mh` column): each band's bucket key is an md5
    * over the band's sorted "i:mh" member strings — byte-identical to the
    * grouped construction in [[lshCandidates]], so the same DuckDB oracle
    * covers both paths (the [[lshMaxBucket]] occupancy cap never fires at
    * oracle geometry). Band keys are 4 rows/doc; the self-join on
    * (band, bucket) is the ONLY shuffle in the whole candidate pass.
    */
  def lshCandidatesLocal(profiles: DataFrame, k: Int, bands: Int): DataFrame =
    bandedPairs(bandKeys(profiles, k, bands),
      lshMaxBucket(profiles.sparkSession))

  /** Jaccard filter over precomputed profiles (id, arr, sz). */
  def jaccardOnProfiles(profiles: DataFrame, pairs: DataFrame,
      threshold: Double): DataFrame =
    pairs
      .join(profiles.select(col("id").as("id_a"), col("arr").as("arr_a"),
        col("sz").as("sz_a")), Seq("id_a"))
      .join(profiles.select(col("id").as("id_b"), col("arr").as("arr_b"),
        col("sz").as("sz_b")), Seq("id_b"))
      .withColumn("inter", size(array_intersect(col("arr_a"), col("arr_b"))).cast("long"))
      .withColumn("jaccard",
        col("inter").cast("double") /
          (col("sz_a") + col("sz_b") - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))

  /** Bloom-filter bitmap over a gram-hash relation (column `gh`), as a
    * (word, bits) relation: `mBits` filter bits packed 64 per word, two
    * set positions per gram (the raw 60-bit hash and the [[h2Sql]]-style
    * affine mix, both mod mBits — engine-portable, overflow-safe). The
    * bitmap is ≤ mBits/64 rows REGARDLESS of gram cardinality — the
    * broadcastable stand-in for an eval gram set too big to broadcast
    * raw (holdout decontamination at corpus scale).
    */
  def bloomBitmap(grams: DataFrame, mBits: Long): DataFrame = {
    require(mBits % 64 == 0 && mBits > 0, s"mBits must be a positive multiple of 64, got $mBits")
    // [[bloomPos2]]'s affine mix reduces mod 2^31-1 before the final pmod,
    // so the SECOND probe position only spans [0, 2^31). Correctness is
    // unaffected at any size (bitmap and probe share the function), but a
    // filter wider than 2^31 bits (256 MiB — far past broadcast range anyway)
    // would leave hash-2 addressing only a prefix, silently degrading FPR:
    // refuse rather than degrade.
    require(mBits <= (1L << 31), s"mBits must be <= 2^31 (hash-2 span), got $mBits")
    grams
      .select(explode(array(bloomPos1(mBits), bloomPos2(mBits))).as("pos"))
      .select(expr("pos div 64").as("word"),
        expr("shiftleft(cast(1 as bigint), cast(pos % 64 as int))").as("bit"))
      .groupBy(col("word")).agg(expr("bit_or(bit)").as("bits"))
  }

  private def bloomPos1(mBits: Long): Column = pmod(col("gh"), lit(mBits))
  private def bloomPos2(mBits: Long): Column = pmod(expr(
    """((40503 * (gh div 1073741824)) % 2147483647 * 1073741824 % 2147483647
       + 40503 * (gh % 1073741824) + 12345) % 2147483647"""), lit(mBits))

  /** Probe a gram relation (…, gh) against a [[bloomBitmap]]: rows whose
    * BOTH bit positions are set survive (possible members — the Bloom
    * guarantee is no false NEGATIVES; false positives are the caller's
    * exact tier to remove). The bitmap is broadcast and both probes are
    * map-side — zero exchanges added to the gram relation.
    */
  def bloomProbe(grams: DataFrame, bloom: DataFrame, mBits: Long): DataFrame =
    grams
      .withColumn("p1", bloomPos1(mBits)).withColumn("p2", bloomPos2(mBits))
      .join(broadcast(bloom.select(col("word").as("w1"), col("bits").as("b1"))),
        expr("p1 div 64") === col("w1"))
      .filter(expr(
        "(b1 & shiftleft(cast(1 as bigint), cast(p1 % 64 as int))) != 0"))
      .join(broadcast(bloom.select(col("word").as("w2"), col("bits").as("b2"))),
        expr("p2 div 64") === col("w2"))
      .filter(expr(
        "(b2 & shiftleft(cast(1 as bigint), cast(p2 % 64 as int))) != 0"))
      .select(grams.columns.map(col): _*)

  /** Maximal duplicated token-window spans — window-granular exact
    * substring dedup, the distributed approximation of suffix-array
    * substring dedup (Lee et al. 2022, "Deduplicating Training Data
    * Makes Language Models Better"; no reference analogue — training-
    * data extension). Doc-level tiers miss the classic web-corpus
    * failure mode: mostly-unique pages sharing a boilerplate paragraph.
    *
    * Every stride-1 window of `w` tokens is hashed IN-ROW by the native
    * [[graft.expressions.TokenGramPos60]] (positions retained, no token
    * array, no per-window string); a window whose hash occurs >= 2 times
    * anywhere in the corpus (other documents or a repeat in its own) is
    * duplicated; runs of consecutive duplicated starts collapse to
    * maximal spans via gaps-and-islands. Output: (id, span_start,
    * span_tokens, n_windows), span_start 1-based in tokens.
    *
    * Scale shape: the window relation is ~1 row per token — linear, like
    * the shingle tiers. TWO exchanges total, in EVERY size regime: the
    * occurrence count is `count(*) OVER (PARTITION BY fp)` — the per-
    * token relation shuffles ONCE on the hash and each occurrence reads
    * its global multiplicity in place, replacing the old agg + semi-join
    * shape that shuffled the full relation twice (or, when the
    * duplicated-hash set fit a broadcast, rebuilt+rebroadcast it) — plus
    * ONE doc-keyed exchange: the islands window partitions by id, and
    * the span groupBy's (id, grp) clustering is satisfied by the id
    * partitioning. A hot boilerplate hash lands in one task either way;
    * the window's per-group count is a single streaming pass.
    */
  def duplicateWindowSpans(docs: DataFrame, idCol: String, textCol: String,
      w: Int): DataFrame = {
    val wins = docs.select(col(idCol).as("id"),
        posexplode(call_function("tokengrampos60",
          TextOps.normalized(col(textCol)), lit(w))))
      .select(col("id"), (col("pos") + 1).as("start"), col("col").as("fp"))
    val dup = wins
      .withColumn("n_occ", count(lit(1)).over(Window.partitionBy(col("fp"))))
      .filter(col("n_occ") >= 2)
      .drop("n_occ")
    val rn = row_number().over(Window.partitionBy(col("id")).orderBy(col("start")))
    dup.withColumn("grp", col("start") - rn)
      .groupBy(col("id"), col("grp"))
      .agg(min(col("start")).as("span_start"),
        (max(col("start")) - min(col("start")) + w).as("span_tokens"),
        count(lit(1)).as("n_windows"))
      .select(col("id"), col("span_start"), col("span_tokens"),
        col("n_windows"))
  }

  /** Source-level duplication profile + block decision — the
    * domain-level screen web-crawl curation runs BEFORE per-document
    * filtering (a template-heavy source whose pages near-duplicate each
    * other is dropped wholesale). `pairs` is any verified near-dup pair
    * set over `idCol` (id_a, id_b); a source is blocked when at least
    * `blockPct`% of its documents appear in a pair. Integer
    * cross-multiplication keeps the decision float-free. Scale shape:
    * the near-dup id set is a fraction of the corpus; the per-source
    * aggregation is a low-cardinality hash-agg with map-side combine.
    */
  def sourceBlocklist(docs: DataFrame, pairs: DataFrame,
      idCol: String, sourceCol: String, blockPct: Int): DataFrame = {
    require(blockPct >= 0 && blockPct <= 100,
      s"blockPct must be a percentage, got $blockPct")
    val nd = pairs.select(col("id_a").as(idCol))
      .unionByName(pairs.select(col("id_b").as(idCol)))
      .distinct()
      .withColumn("is_nd", lit(1L))
    docs.select(col(idCol), col(sourceCol))
      .join(nd, Seq(idCol), "left")
      .groupBy(col(sourceCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("is_nd"), lit(0L))).as("n_neardup"))
      .withColumn("nd_share",
        col("n_neardup").cast("double") / col("n_docs").cast("double"))
      .withColumn("blocked",
        col("n_neardup") * 100 >= col("n_docs") * blockPct)
  }

  /** LSH-index ADMISSION of one batch against a static corpus index:
    * reject on exact-fingerprint membership, then on any band-bucket
    * collision that verifies at `threshold` Jaccard; everything else is
    * admitted as (doc_id, n_shingles). Shared verbatim by the batch
    * operator (`dd_incremental_admit` shape), the foreachBatch streaming
    * path (`stream_lsh_admit`) and the multi-micro-batch equivalence
    * spec — admission depends only on (batch row, corpus index), so ANY
    * partition of arrivals into batches yields the same admitted set.
    *
    * Batch and corpus doc ids MUST be disjoint: an id on both sides
    * would duplicate profile rows in the union below and double-match
    * in [[jaccardOnProfiles]], so corpus rows whose id appears in the
    * batch are dropped defensively before the union.
    *
    * The corpus index is probed through [[capProbeKeys]]
    * ([[lshMaxBucket]]): a degenerate corpus bucket would otherwise
    * multiply every colliding batch doc by its full occupancy.
    *
    * @param bprof    batch-side profiles from [[docProfilesLocal]]
    *                 (persist before calling — consumed three times)
    * @param batchFps batch-side (id, fp) fingerprints
    */
  def admitOnProfiles(bprof: DataFrame, batchFps: DataFrame,
      corpusProf: DataFrame, corpusKeys: DataFrame, corpusFps: DataFrame,
      k: Int, bands: Int, threshold: Double): DataFrame = {
    val fpRej = batchFps
      .join(corpusFps, Seq("fp"), "left_semi")
      .select(col("id"))
    val cands = bandKeys(bprof, k, bands).as("b")
      .join(capProbeKeys(corpusKeys, lshMaxBucket(bprof.sparkSession)).as("c"),
        col("b.band") === col("c.band") && col("b.bucket") === col("c.bucket"))
      .select(col("b.id").as("id_a"), col("c.id").as("id_b"))
      .distinct()
    val corpusOnly = corpusProf.join(bprof.select(col("id")), Seq("id"), "left_anti")
    val ndRej = jaccardOnProfiles(bprof.unionByName(corpusOnly), cands, threshold)
      .select(col("id_a").as("id")).distinct()
    bprof.join(fpRej.unionByName(ndRej), Seq("id"), "left_anti")
      .select(col("id").as("doc_id"), col("sz").as("n_shingles"))
  }

  /** LSH candidate pairs: band the k signatures into `bands` groups of
    * k/bands rows; docs sharing any band bucket become a candidate pair
    * (id_a < id_b). UNCAPPED exploded reference formulation — the shape
    * the DuckDB oracles mirror and the property specs pin
    * [[lshCandidatesLocal]] against (with the occupancy cap disabled).
    */
  def lshCandidates(sigs: DataFrame, k: Int, bands: Int): DataFrame = {
    val rowsPerBand = k / bands
    val banded = sigs
      .withColumn("band", (col("i") / rowsPerBand).cast("int"))
      .groupBy(col("id"), col("band"))
      .agg(md5(concat_ws("_", sort_array(collect_list(
        concat_ws(":", col("i").cast("string"), col("mh").cast("string"))))))
        .as("bucket"))
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
  }

  /** Connected components over near-dup pairs, each node labeled with its
    * component's MIN id — the canonical-keeper map a dedup pipeline ends
    * with (keep `canonical`, drop the rest; transitive dups collapse even
    * when only pairwise edges were found).
    *
    * CONTRACTION formulation (the Hash-to-Min family): each round merges
    * every supernode into the min of itself and its current neighbors,
    * REWRITES the edge list into the merged id space, and drops the
    * self-loops — so the graph itself shrinks every round and a chain's
    * diameter roughly halves (alternating local minima swallow their
    * neighbors). Converges in O(log diameter) rounds where plain
    * neighbor-min label propagation is O(diameter): the sf0.1 banding
    * graph (693 nodes, path-shaped near-dup chains) took 12 rounds of
    * label propagation — pointer doubling didn't help because randomly
    * placed ids rarely form deep descending pointer runs — and takes 4
    * contraction rounds. At 100 TB the shrinking EDGE SET is the bigger
    * win: late rounds shuffle a fraction of the input instead of the
    * whole graph every round. Skew note: a giant component contracts
    * into one high-degree supernode, whose neighborhood one task gathers.
    * Each round passes through [[graft.Caches.barrier]] to truncate the
    * growing lineage (iterative DAGs re-plan from scratch otherwise); with
    * `spark.graft.checkpoint.dir` set the barrier is a RELIABLE
    * checkpoint that survives executor loss.
    */
  def canonicalClusters(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    // materialize the INPUT once before symmetrizing: the union reads
    // `pairs` twice, and callers hand in full candidate+verification
    // DAGs — without this barrier the whole upstream pipeline ran twice
    val p0 = graft.Caches.barrier(
      pairs.select(col("id_a").as("src"), col("id_b").as("dst")))
    var edgesCur = p0 // symmetric, and stays symmetric per round
      .unionByName(p0.select(col("dst").as("src"), col("src").as("dst")))
    var members = edgesCur.select(col("src").as("id")).distinct()
      .withColumn("canonical", col("id"))
      .transform(graft.Caches.barrier(_))
    var iter = 0
    var nEdges = edgesCur.count()
    while (nEdges > 0 && iter < maxIter) {
      // supernode relabel: min of self and contracted neighbors (edges
      // are symmetric, so one groupBy(src) sees every neighborhood).
      // PERSISTED for the round: three consumers below (members join +
      // both edge-endpoint rewrites) would otherwise re-run the groupBy
      // three times per round — 6-round graphs paid the relabel 18x
      val superLabels = edgesCur.groupBy(col("src").as("id"))
        .agg(min(col("dst")).as("nbrMin"))
        .select(col("id"), least(col("id"), col("nbrMin")).as("lbl"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // every original node chases its supernode's new label; supernodes
      // that already lost all edges are final (left join + coalesce)
      members = members
        .join(superLabels.select(col("id").as("canonical"), col("lbl")),
          Seq("canonical"), "left")
        .select(col("id"), coalesce(col("lbl"), col("canonical")).as("canonical"))
        .transform(graft.Caches.barrier(_))
      // contract: rewrite both endpoints into the merged id space, drop
      // self-loops (intra-supernode edges) and duplicates. Rewriting both
      // directions of a symmetric edge keeps the contracted set symmetric.
      edgesCur = edgesCur
        .join(superLabels.select(col("id").as("src"), col("lbl").as("s2")), Seq("src"))
        .join(superLabels.select(col("id").as("dst"), col("lbl").as("d2")), Seq("dst"))
        .select(col("s2").as("src"), col("d2").as("dst"))
        .filter(col("src") =!= col("dst"))
        .distinct()
        .transform(graft.Caches.barrier(_, eager = false))
      nEdges = edgesCur.count() // materializes the lazy checkpoint
      // members (eager checkpoint) and edges (just counted) are both
      // materialized — the round's relabel frame can go
      superLabels.unpersist(false)
      iter += 1
    }
    // labels are only guaranteed component-consistent at convergence —
    // mid-contraction labels can under-merge a component, which would
    // silently split clusters downstream
    if (nEdges > 0) throw new IllegalStateException(
      s"canonicalClusters did not converge in $maxIter rounds " +
        s"($nEdges edges remain) — raise maxIter")
    members
  }

  /** 60-bit SimHash signature from whitespace tokens: bit j is set when
    * the weighted sum over tokens of (bit j of hash60(token) ? +1 : −1)
    * is non-negative. Pure higher-order functions — one pass per doc.
    */
  def simhash(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // per-row native signature (graft.expressions.Simhash60): tokenize,
    // hash and bit-vote inside the document's own row — the token
    // relation never exists and the per-doc aggregation EXCHANGE
    // disappears; only band keys shuffle downstream (same scale shape
    // as docProfilesLocal). Value-pinned against simhashExploded.
    docs.select(col(idCol).as("id"),
        call_function("simhash60", TextOps.normalized(col(textCol))).as("simhash"))
      // a null text has no token rows in the exploded form — drop it
      // here too so both formulations emit the same id set
      .filter(col("simhash").isNotNull)
  }

  /** The exploded groupBy formulation simhash() replaced — kept as the
    * independent reference implementation the property spec checks the
    * native expression against (explode tokens, hash per token, 60
    * conditional-sum aggregate columns in one hash aggregation).
    */
  private[graft] def simhashExploded(
      docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = docs.select(col(idCol).as("id"),
      explode(TextOps.tokens(col(textCol))).as("tok"))
      .withColumn("h", TextOps.hash60(col("tok")))
    val bitSums = (0 until 60).map(j =>
      sum(when(expr(s"(shiftright(h, $j) & 1) = 1"), 1).otherwise(-1)).as(s"c$j"))
    val wide = toks.groupBy(col("id")).agg(bitSums.head, bitSums.tail: _*)
    val sig = (0 until 60).map(j =>
      expr(s"case when c$j >= 0 then shiftleft(cast(1 as bigint), $j) else cast(0 as bigint) end"))
      .reduce(_.bitwiseOR(_))
    wide.select(col("id"), sig.as("simhash"))
  }

  /** SimHash near-dup candidates: band the 60 bits into 4 15-bit keys
    * (hamming distance ≤ 3 guarantees one identical band), then verify
    * hamming ≤ maxDist via bit_count(xor).
    */
  def simhashPairs(sigs: DataFrame, maxDist: Int): DataFrame = {
    val bandKeys = sigs.select(col("id"), col("simhash"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"),
          shiftright(col("simhash"), b * 15).bitwiseAND(0x7FFF).as("key"))): _*))
        .as("bk"))
      .select(col("id"), col("simhash"),
        col("bk.band").as("band"), col("bk.key").as("key"))
    bandKeys.as("a").join(bandKeys.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.simhash").as("sh_a"), col("b.simhash").as("sh_b"))
      .distinct()
      .withColumn("hamming",
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= maxDist)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }
}
