package graft.queries

import graft.Tables
import graft.llmdata.{Dedup, TextOps}
import org.apache.spark.sql.functions._

/** Deduplication ladder over the `documents` table (exact → MinHash+LSH →
  * SimHash → n-gram Jaccard), each stage DuckDB-oracled — the md5-derived
  * hashes make even the LSH stages engine-portable, so the oracle mirrors
  * the ALGORITHM (banding and all), not just the final answer.
  */
object QDedup extends Registry {

  private val normSql = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
  private[queries] val h60 = (s: String) => s"CAST('0x' || substr(md5($s), 1, 15) AS BIGINT)"

  /** positional polynomial 5-gram shingle hash (mirrors the native
    * expressions.ShingleHash60: codepoint-weighted sum with base 293,
    * past-end chars = 0 — DuckDB's ascii('') is 0). 293^4..293^0 weights.
    */
  private[queries] def shingleHashSql(t: String, i: String) =
    s"""CAST(ascii(substr($t, CAST($i AS INT), 1)) AS BIGINT) * 7370050801
       + CAST(ascii(substr($t, CAST($i + 1 AS INT), 1)) AS BIGINT) * 25153757
       + CAST(ascii(substr($t, CAST($i + 2 AS INT), 1)) AS BIGINT) * 85849
       + CAST(ascii(substr($t, CAST($i + 3 AS INT), 1)) AS BIGINT) * 293
       + CAST(ascii(substr($t, CAST($i + 4 AS INT), 1)) AS BIGINT)"""

  /** distinct 5-gram shingle-HASH CTE over all documents. The shingle
    * positions come from a per-row correlated generate_series LIST (the
    * table-function form can't correlate) — exact for any text length,
    * unlike the earlier fixed `1..5000` cap that would silently drop
    * shingles of a >5004-char document.
    */
  private[queries] def shinglesSqlOver(src: String) =
    s"""norm AS (SELECT doc_id AS id, $normSql AS t FROM $src),
       spos AS (SELECT id, t,
                  unnest(generate_series(1, greatest(length(t) - 4, 1))) AS i
                FROM norm),
       shash AS (
         SELECT DISTINCT id, ${shingleHashSql("t", "i")} AS sh FROM spos)"""

  private val shinglesSql = shinglesSqlOver("documents")

  /** MinHash(k=32) + LSH(4×8) candidates verified with exact shingle-hash
    * Jaccard ≥ 0.7, as a `verified(id_a, id_b, jaccard)` CTE chain —
    * shared by `dd_minhash_lsh` and [[QText]]'s `tx_source_blocklist`
    * (per-source duplication profiling), so the blocklist's notion of
    * "near-duplicate" can never drift from the dedup tier's.
    */
  private[queries] def minhashVerifiedCteOver(src: String): String =
    s"""${shinglesSqlOver(src)},
       hashed AS (
         SELECT id, sh, sh % 2147483647 AS h1,
                ((40503 * (sh // 1073741824)) % 2147483647 * 1073741824 % 2147483647
                 + 40503 * (sh % 1073741824) + 12345) % 2147483647 AS h2
         FROM shash),
       mh AS (
         SELECT id, CAST(i AS INT) AS i,
                min((h1 + i * h2) % 2147483647) AS mh
         FROM hashed CROSS JOIN generate_series(0, 31) g(i)
         GROUP BY id, CAST(i AS INT)),
       banded AS (
         SELECT id, CAST(i // 8 AS INT) AS band,
                md5(string_agg(CAST(i AS VARCHAR) || ':' || CAST(mh AS VARCHAR),
                    '_' ORDER BY CAST(i AS VARCHAR) || ':' || CAST(mh AS VARCHAR))) AS bucket
         FROM mh GROUP BY id, band),
       cands AS (
         SELECT DISTINCT a.id AS id_a, b.id AS id_b
         FROM banded a JOIN banded b
           ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id),
       arrs AS (SELECT id, list(DISTINCT sh) AS arr,
                       count(DISTINCT sh) AS sz
                FROM hashed GROUP BY id),
       verified AS (
         SELECT c.id_a, c.id_b,
                CAST(len(list_intersect(a.arr, b.arr)) AS DOUBLE)
                  / CAST(a.sz + b.sz - len(list_intersect(a.arr, b.arr)) AS DOUBLE) AS jaccard
         FROM cands c
         JOIN arrs a ON a.id = c.id_a
         JOIN arrs b ON b.id = c.id_b
         WHERE CAST(len(list_intersect(a.arr, b.arr)) AS DOUBLE)
                 / CAST(a.sz + b.sz - len(list_intersect(a.arr, b.arr)) AS DOUBLE) >= 0.7e0)"""

  private[queries] val minhashVerifiedCte: String =
    minhashVerifiedCteOver("documents")

  /** Verified MinHash+LSH near-dup pairs, memoized per (session, sfDir) —
    * same build-once pattern as [[simhashPairs]]: TWO consumers
    * (`dd_minhash_lsh` and `tx_source_blocklist`) otherwise each walk the
    * shingle → signature → band → verify pipeline. Released by
    * Caches.clearAll at end of run.
    */
  private[queries] def minhashPairs(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    graft.Caches.memo(s, s"dd_minhash_pairs:$d") {
      minhashPairsDag(s, d).transform(graft.Caches.barrier(_))
    }

  /** Oracle for LSH-indexed incremental admission — shared verbatim with
    * [[QStreaming]]'s `stream_lsh_admit`: the streaming path runs the
    * SAME admission operator inside `foreachBatch` (micro-batches probe
    * only the STATIC corpus index, never each other, so any micro-batch
    * split yields the identical admitted set) and therefore has the
    * identical batch oracle.
    */
  private[queries] val incrementalAdmitOracle: String =
    s"""WITH $shinglesSql,
       hashed AS (
         SELECT id, sh, sh % 2147483647 AS h1,
                ((40503 * (sh // 1073741824)) % 2147483647 * 1073741824 % 2147483647
                 + 40503 * (sh % 1073741824) + 12345) % 2147483647 AS h2
         FROM shash),
       mh AS (
         SELECT id, CAST(i AS INT) AS i,
                min((h1 + i * h2) % 2147483647) AS mh
         FROM hashed CROSS JOIN generate_series(0, 31) g(i)
         GROUP BY id, CAST(i AS INT)),
       banded AS (
         SELECT id, CAST(i // 8 AS INT) AS band,
                md5(string_agg(CAST(i AS VARCHAR) || ':' || CAST(mh AS VARCHAR),
                    '_' ORDER BY CAST(i AS VARCHAR) || ':' || CAST(mh AS VARCHAR))) AS bucket
         FROM mh GROUP BY id, band),
       fps AS (SELECT doc_id AS id, md5($normSql) AS fp FROM documents),
       fprej AS (SELECT id FROM fps
                 WHERE id % 7 = 0 AND fp IN
                   (SELECT fp FROM fps WHERE id % 7 <> 0)),
       cand AS (SELECT DISTINCT b.id AS id_a, c.id AS id_b
                FROM banded b JOIN banded c
                  ON b.band = c.band AND b.bucket = c.bucket
                WHERE b.id % 7 = 0 AND c.id % 7 <> 0),
       arrs AS (SELECT id, list(DISTINCT sh) AS arr,
                       count(DISTINCT sh) AS sz
                FROM hashed GROUP BY id),
       ndrej AS (SELECT DISTINCT cand.id_a AS id
                 FROM cand
                 JOIN arrs a ON a.id = cand.id_a
                 JOIN arrs b ON b.id = cand.id_b
                 WHERE CAST(len(list_intersect(a.arr, b.arr)) AS DOUBLE)
                         / CAST(a.sz + b.sz - len(list_intersect(a.arr, b.arr)) AS DOUBLE)
                       >= 0.7e0)
       SELECT a.id AS doc_id, a.sz AS n_shingles
       FROM arrs a
       WHERE a.id % 7 = 0
         AND a.id NOT IN (SELECT id FROM fprej)
         AND a.id NOT IN (SELECT id FROM ndrej)"""

  /** SimHash signature → banded candidate `pairs` CTE chain (shared by
    * dd_simhash and the cluster canonicalization).
    */
  private val simhashCte =
    s"""norm AS (SELECT doc_id AS id, $normSql AS t FROM documents),
       toks AS (SELECT id, unnest(string_split(t, ' ')) AS tok FROM norm),
       th AS (SELECT id, tok, ${h60("tok")} AS h FROM toks),
       bits AS (
         SELECT id, j,
                sum(CASE WHEN (h >> CAST(j AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS c
         FROM th, generate_series(0, 59) g(j)
         GROUP BY id, j),
       sig AS (
         SELECT id,
                sum(CASE WHEN c >= 0 THEN (CAST(1 AS BIGINT) << CAST(j AS INT)) ELSE 0 END) AS simhash
         FROM bits GROUP BY id),
       bk AS (
         SELECT id, simhash, b AS band,
                (simhash >> CAST(b * 15 AS INT)) & 32767 AS key
         FROM sig, generate_series(0, 3) g(b)),
       pairs AS (
         SELECT DISTINCT a.id AS id_a, b.id AS id_b,
                a.simhash AS sh_a, b.simhash AS sh_b
         FROM bk a JOIN bk b
           ON a.band = b.band AND a.key = b.key AND a.id < b.id)"""

  /** verified simhash near-dup pairs, memoized per (session, sfDir):
    * TWO consumers (the dd_simhash row and the cluster canonicalization)
    * each walk the token-explode + 60-bit-sum signature pipeline
    * otherwise — same build-once pattern as the trace chain's
    * `corrected`. Released by Caches.clearAll at end of run.
    */
  private def simhashPairs(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    graft.Caches.memo(s, s"dd_simhash_pairs:$d") {
      simhashPairsDag(s, d).transform(graft.Caches.barrier(_))
    }

  /** Raw (unmemoized, un-checkpointed) pair DAGs — plan evidence only:
    * the memoized production paths scan checkpoint blocks, which would
    * hide the upstream exchanges [[graft.Plans]] exists to pin.
    */
  private[graft] def minhashPairsDag(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val prof = graft.Caches.registerTransient(
      Dedup.docProfilesLocal(Tables.documents(s, d), "doc_id", "text",
          n = 5, k = 32)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    Dedup.jaccardOnProfiles(prof,
      Dedup.lshCandidatesLocal(prof, k = 32, bands = 4), threshold = 0.7)
  }
  private[graft] def simhashPairsDag(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    Dedup.simhashPairs(
      Dedup.simhash(Tables.documents(s, d), "doc_id", "text"), maxDist = 3)

  def qs: Seq[Q] = Seq(

    // Curated-corpus SNAPSHOTS — the dedup ladder composed with the
    // lake kernel: each crawl batch is curated (quality gate +
    // within-batch exact dedup keeping the min doc_id per text) and
    // committed as ONE merge-on-read UPSERT keyed on the text
    // (`SnapshotCommitSink.upsertBatch`): a re-crawled document
    // REPLACES its earlier copy via the batch's seq-scoped equality
    // vector, a genuinely new document inserts, and the curated corpus
    // becomes a TIME-TRAVELABLE TABLE — every training run pins the
    // snapshot it read, re-crawls never duplicate, and the per-batch
    // cost is the batch (vector = batch keys, broadcast-sized), never
    // a corpus rewrite. The oracle replays the batch algebra
    // (within-batch arg-min, last-batch-wins across batches).
    Q("dd_lake_curation",
      (s, d) => {
        val dir = s"${graft.Scratch.dirFor("dd_lakecur", d)}/t"
        graft.Scratch.clear(dir)
        import graft.operators.SnapshotLog
        import org.apache.spark.sql.expressions.Window
        val base = Tables.documents(s, d)
          .filter(col("n_chars") >= 120)
          .select(col("doc_id"), col("text"), col("lang"))
        val inc = base.filter(col("doc_id") % 5 === 0)
          .select((col("doc_id") + 100000L).as("doc_id"), col("text"),
            col("lang"))
          .unionByName(base.filter(col("doc_id") % 7 === 0)
            .select((col("doc_id") + 200000L).as("doc_id"),
              concat(col("text"), lit(" vtwo")).as("text"), col("lang")))
        val w = Window.partitionBy(col("text")).orderBy(col("doc_id"))
        def curate(b: org.apache.spark.sql.DataFrame) =
          b.withColumn("rk", row_number().over(w))
            .filter(col("rk") === 1).drop("rk")
        graft.streaming.SnapshotCommitSink
          .upsertBatch(s, dir, curate(base), 0L, Seq("text"))
        val v2 = graft.streaming.SnapshotCommitSink
          .upsertBatch(s, dir, curate(inc), 1L, Seq("text"))
        SnapshotLog.readMor(s, dir, v2)
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("doc_id")).as("sum_winner"))
      },
      Some("""WITH base AS (
                SELECT doc_id, text, lang FROM documents
                WHERE n_chars >= 120),
              b0 AS (SELECT text, min(doc_id) AS w,
                            arg_min(lang, doc_id) AS lang
                     FROM base GROUP BY 1),
              inc AS (
                SELECT doc_id + 100000 AS doc_id, text, lang FROM base
                WHERE doc_id % 5 = 0
                UNION ALL
                SELECT doc_id + 200000, text || ' vtwo', lang FROM base
                WHERE doc_id % 7 = 0),
              b1 AS (SELECT text, min(doc_id) AS w,
                            arg_min(lang, doc_id) AS lang
                     FROM inc GROUP BY 1),
              fin AS (
                SELECT COALESCE(b1.w, b0.w) AS w,
                       COALESCE(b1.lang, b0.lang) AS lang
                FROM b0 FULL OUTER JOIN b1 ON b0.text = b1.text)
              SELECT lang, count(*) AS n_docs,
                     CAST(sum(w) AS BIGINT) AS sum_winner
              FROM fin GROUP BY 1""")),

    // Tier 1 — exact dedup: md5-fingerprint groups, keep min doc_id.
    Q("dd_exact",
      (s, d) => {
        val fp = Tables.documents(s, d)
          .select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))
        fp.groupBy(col("fp"))
          .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies"))
          .select(col("keeper"), col("n_copies"))
      },
      Some(s"""SELECT min(doc_id) AS keeper, count(*) AS n_copies
              FROM (SELECT doc_id, md5($normSql) AS fp FROM documents) f
              GROUP BY fp""")),

    // Tier 2 — MinHash(k=32) + LSH(4 bands × 8 rows, threshold τ* =
    // (1/b)^(1/r) ≈ 0.84) candidates, verified with exact shingle-hash
    // Jaccard ≥ 0.7. The oracle mirrors the banding. Wider bands matter:
    // this corpus is mid-similarity-dense, and 2-row bands would admit
    // millions of candidate pairs (collision prob = sim²), degenerating
    // LSH into the all-pairs scan it exists to avoid. The profile pass is
    // SHUFFLE-FREE: shingle hashes, set sizes and the k=32 signature
    // minima are computed inside each document's row (native
    // ShingleHash60 + MinHashK); only the 4 band keys/doc and the
    // candidate pairs ever shuffle — the 100 TB shape. The DuckDB oracle
    // mirrors the exploded groupBy-min formulation, which is
    // value-identical (LlmDataSpec pins the two paths equal).
    Q("dd_minhash_lsh",
      (s, d) => minhashPairs(s, d),
      Some(s"""WITH $minhashVerifiedCte
              SELECT id_a, id_b, jaccard FROM verified""")),

    // Tier 3 — SimHash(60-bit) signatures + 15-bit-band candidates with
    // hamming ≤ 3 verification, fully mirrored in SQL.
    Q("dd_simhash",
      (s, d) => simhashPairs(s, d),
      Some(s"""WITH $simhashCte
              SELECT id_a, id_b, CAST(bit_count(xor(sh_a, sh_b)) AS INT) AS hamming
              FROM pairs WHERE bit_count(xor(sh_a, sh_b)) <= 3""")),

    // Cluster canonicalization — the step a dedup pipeline actually ends
    // with: near-dup PAIRS (simhash tier here) are closed into connected
    // components and every document maps to its cluster's min doc_id (the
    // canonical keeper). Spark side: min-label propagation
    // (Dedup.canonicalClusters) — O(graph diameter) rounds of one
    // join+aggregate each, the standard distributed CC loop. The oracle
    // replays reachability with a recursive CTE and takes min over each
    // node's reachable set. DedupPropertiesSpec pins the contraction
    // loop against a union-find reference.
    Q("dd_cluster_canonical",
      (s, d) => Dedup.canonicalClusters(
        simhashPairs(s, d).select(col("id_a"), col("id_b"))),
      Some(s"""WITH RECURSIVE $simhashCte,
              vp AS (SELECT id_a, id_b FROM pairs
                     WHERE bit_count(xor(sh_a, sh_b)) <= 3),
              edges AS (SELECT id_a AS src, id_b AS dst FROM vp
                        UNION ALL
                        SELECT id_b, id_a FROM vp),
              nodes AS (SELECT DISTINCT src AS id FROM edges),
              walk(id, lbl) AS (
                SELECT id, id FROM nodes
                UNION
                SELECT e.src, w.lbl FROM edges e JOIN walk w ON w.id = e.dst)
              SELECT id, min(lbl) AS canonical FROM walk GROUP BY id""")),

    // Duplicate-MASS ledger — the histogram every dedup run publishes
    // next to its keeper set: how many clusters of each size, and how
    // many documents they hold (singletons = docs in no near-dup pair,
    // reported as the size-1 bucket so the rows sum to the corpus).
    // The judge of a dedup config is this distribution, not the pair
    // count: a corpus whose mass sits in a few giant clusters needs a
    // different cap/threshold than one of scattered twins. Scale shape:
    // two low-cardinality hash-aggs over the cluster map + one anti-join
    // for the singleton count.
    Q("dd_cluster_sizes",
      (s, d) => {
        val pairs = simhashPairs(s, d).select(col("id_a"), col("id_b"))
        val clusters = Dedup.canonicalClusters(pairs)
        val sizes = clusters.groupBy(col("canonical"))
          .agg(count(lit(1)).as("cluster_size"))
        val multi = sizes.groupBy(col("cluster_size"))
          .agg(count(lit(1)).as("n_clusters"),
            (count(lit(1)) * first(col("cluster_size"))).as("n_docs"))
        val singles = Tables.documents(s, d).select(col("doc_id"))
          .join(clusters.select(col("id").as("doc_id")), Seq("doc_id"), "left_anti")
          .agg(count(lit(1)).as("n"))
          .select(lit(1L).as("cluster_size"), col("n").as("n_clusters"),
            col("n").as("n_docs"))
        multi.unionByName(singles)
      },
      Some(s"""WITH RECURSIVE $simhashCte,
              vp AS (SELECT id_a, id_b FROM pairs
                     WHERE bit_count(xor(sh_a, sh_b)) <= 3),
              edges AS (SELECT id_a AS src, id_b AS dst FROM vp
                        UNION ALL SELECT id_b, id_a FROM vp),
              nodes AS (SELECT DISTINCT src AS id FROM edges),
              walk(id, lbl) AS (
                SELECT id, id FROM nodes
                UNION
                SELECT e.src, w.lbl FROM edges e JOIN walk w ON w.id = e.dst),
              clus AS (SELECT id, min(lbl) AS canonical FROM walk GROUP BY id),
              szs AS (SELECT canonical, count(*) AS cluster_size
                      FROM clus GROUP BY 1)
              SELECT cluster_size, count(*) AS n_clusters,
                     count(*) * cluster_size AS n_docs
              FROM szs GROUP BY 1
              UNION ALL
              SELECT 1 AS cluster_size, count(*), count(*)
              FROM documents WHERE doc_id NOT IN (SELECT id FROM clus)""")),

    // PageRank centrality over the near-dup graph (ext.) — the iterative
    // graph computation BEYOND connected components: within a duplicate
    // cluster, the highest-PageRank member is the "most representative"
    // copy (the one most other copies resemble), a better canonical pick
    // than min-id when copies differ in quality. Fixed 3 power
    // iterations in INTEGER milli-units (r0 = 1000; r' = 150 + 850·Σ
    // r(u) div deg(u) div 1000 — truncating division both engines share)
    // so the oracle replays every round exactly. Scale shape: per
    // iteration one join of the edge list against the rank frame and one
    // (dst) hash-agg — the textbook distributed PageRank step; edges and
    // degrees are built once and persisted. Every node in the pair graph
    // has deg ≥ 1 and receives ≥ 1 message (undirected edges), so no
    // dangling-mass term is needed.
    Q("dd_pagerank",
      (s, d) => {
        import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
        val pairs = minhashPairs(s, d).select(col("id_a"), col("id_b"))
        val edges = graft.Caches.registerTransient(
          pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
            .unionByName(
              pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
            .persist(MEMORY_AND_DISK))
        val degs = graft.Caches.registerTransient(
          edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
            .persist(MEMORY_AND_DISK))
        var r = degs.select(col("src").as("id"), lit(1000L).as("pr"))
        for (_ <- 1 to 3) {
          val msg = edges
            .join(degs, Seq("src"))
            .join(r, col("src") === col("id"))
            .select(col("dst"), expr("pr div deg").as("m"))
          r = msg.groupBy(col("dst")).agg(sum(col("m")).as("msum"))
            .select(col("dst").as("id"),
              (lit(150L) + expr("(850 * msum) div 1000")).as("pr"))
        }
        degs.select(col("src").as("id"), col("deg")).join(r, Seq("id"))
      },
      Some {
        val rounds = (1 to 3).map { k =>
          s"""r$k AS (
               SELECT e.dst AS id,
                      150 + (850 * sum(r.pr // dg.deg)) // 1000 AS pr
               FROM edges e
               JOIN degs dg ON dg.src = e.src
               JOIN r${k - 1} r ON r.id = e.src
               GROUP BY 1)"""
        }.mkString(",\n              ")
        s"""WITH $minhashVerifiedCte,
              edges AS (SELECT id_a AS src, id_b AS dst FROM verified
                        UNION ALL SELECT id_b, id_a FROM verified),
              degs AS (SELECT src, CAST(count(*) AS BIGINT) AS deg
                       FROM edges GROUP BY 1),
              r0 AS (SELECT src AS id, CAST(1000 AS BIGINT) AS pr FROM degs),
              $rounds
              SELECT d.src AS id, d.deg, CAST(r3.pr AS BIGINT) AS pr
              FROM degs d JOIN r3 ON r3.id = d.src"""
      }),

    // MinHash estimator CALIBRATION — per LSH candidate pair, the
    // signature-agreement estimate (matching components / 32) next to
    // the exact shingle Jaccard, both in integer milli-units. This is
    // the measurement behind choosing k: the estimator's error
    // distribution on the corpus's own candidate set tells you whether
    // 32 components suffice BEFORE trusting banding theory at 100 TB.
    // Scale shape: the same candidate join as the dedup tier plus one
    // per-pair in-row zip — no new shuffle family.
    Q("dd_minhash_estimator",
      (s, d) => {
        val prof = graft.Caches.registerTransient(
          Dedup.docProfilesLocal(Tables.documents(s, d), "doc_id", "text",
            n = 5, k = 32)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        Dedup.lshCandidatesLocal(prof, k = 32, bands = 4)
          .join(prof.select(col("id").as("id_a"), col("arr").as("arr_a"),
            col("sz").as("sz_a"), col("mh").as("mh_a")), Seq("id_a"))
          .join(prof.select(col("id").as("id_b"), col("arr").as("arr_b"),
            col("sz").as("sz_b"), col("mh").as("mh_b")), Seq("id_b"))
          .withColumn("n_match", aggregate(
            zip_with(col("mh_a"), col("mh_b"),
              (x, y) => when(x === y, 1L).otherwise(0L)),
            lit(0L), (acc, x) => acc + x))
          .withColumn("inter",
            size(array_intersect(col("arr_a"), col("arr_b"))).cast("long"))
          .select(col("id_a"), col("id_b"), col("n_match"),
            expr("n_match * 1000 div 32").as("est_milli"),
            expr("inter * 1000 div (sz_a + sz_b - inter)").as("true_milli"))
      },
      Some(s"""WITH $minhashVerifiedCte,
              est AS (
                SELECT c.id_a, c.id_b,
                       CAST(count(*) FILTER (WHERE a.mh = b.mh) AS BIGINT) AS n_match
                FROM cands c
                JOIN mh a ON a.id = c.id_a
                JOIN mh b ON b.id = c.id_b AND b.i = a.i
                GROUP BY 1, 2),
              ex AS (
                SELECT c.id_a, c.id_b,
                       CAST(len(list_intersect(a.arr, b.arr)) AS BIGINT) AS inter,
                       a.sz + b.sz - len(list_intersect(a.arr, b.arr)) AS uni
                FROM cands c
                JOIN arrs a ON a.id = c.id_a
                JOIN arrs b ON b.id = c.id_b)
              SELECT e.id_a, e.id_b, est.n_match,
                     CAST(est.n_match * 1000 // 32 AS BIGINT) AS est_milli,
                     CAST(e.inter * 1000 // e.uni AS BIGINT) AS true_milli
              FROM est JOIN ex e USING (id_a, id_b)""")),

    // Incremental dedup ADMISSION — the shape a production pipeline
    // actually runs daily: a new crawl batch (doc_id % 7 == 0) is
    // admitted against the EXISTING corpus, rejecting exact duplicates
    // (fingerprint membership) and near-duplicates (batch band keys
    // probe the corpus's LSH index; bucket collisions verify with exact
    // Jaccard ≥ 0.7). At 100 TB the corpus-side profiles and band keys
    // are a persisted index that only ever grows by admitted batches —
    // the batch side is the only thing recomputed, and the probe join is
    // batch-sized, not corpus-sized.
    Q("dd_incremental_admit",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val prof = graft.Caches.registerTransient(
          Dedup.docProfilesLocal(docs, "doc_id", "text", n = 5, k = 32)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        val isBatch = col("id") % 7 === 0
        val fps = docs.select(col("doc_id").as("id"),
          TextOps.fingerprint(col("text")).as("fp"))
        val fpRejected = fps.filter(isBatch)
          .join(fps.filter(!isBatch).select(col("fp")).distinct(),
            Seq("fp"), "left_semi")
          .select(col("id"))
        val keys = Dedup.bandKeys(prof, k = 32, bands = 4)
        // corpus-side probe index capped at lshMaxBucket members per
        // bucket (lowest ids kept) — bounds the probe join's fan-out;
        // never fires at oracle geometry (sf0.01 max occupancy 3)
        val cands = keys.filter(isBatch).as("b")
          .join(Dedup.capProbeKeys(keys.filter(!isBatch),
              Dedup.lshMaxBucket(s)).as("c"),
            col("b.band") === col("c.band") && col("b.bucket") === col("c.bucket"))
          .select(col("b.id").as("id_a"), col("c.id").as("id_b"))
          .distinct()
        val ndRejected = Dedup.jaccardOnProfiles(prof, cands, threshold = 0.7)
          .select(col("id_a").as("id")).distinct()
        prof.filter(isBatch)
          .join(fpRejected.unionByName(ndRejected), Seq("id"), "left_anti")
          .select(col("id").as("doc_id"), col("sz").as("n_shingles"))
      },
      Some(incrementalAdmitOracle)),

    // Benchmark decontamination — the eval-set overlap filter every
    // serious training-data pipeline runs before training (the GPT-3/
    // Llama-style n-gram check): a corpus document is contaminated when
    // it shares any token 8-gram with the held-out benchmark split
    // (doc_id % 11 == 0 here), and the query returns the CLEAN corpus.
    // Scale shape: n-grams are hashed to int64 inside each document's row
    // (strings never shuffle); the benchmark gram set is tiny by nature
    // (eval suites are MBs against a 100 TB corpus) so it broadcasts; the
    // corpus side is one linear pass + a broadcast semi/anti join.
    Q("dd_decontaminate",
      (s, d) => {
        val docs = Tables.documents(s, d)
        // distinct 8-token-gram hashes per doc, computed per-row
        val grams = graft.Caches.registerTransient(
          TextOps.gramHashes(docs, "doc_id", "text", 8)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        val evalGrams = grams.filter(col("id") % 11 === 0)
          .select(col("gh")).distinct()
        val corpusGrams = grams.filter(col("id") % 11 =!= 0)
        val contaminated = corpusGrams
          .join(broadcast(evalGrams), Seq("gh"), "left_semi")
          .select(col("id").as("doc_id")).distinct()
        val counts = corpusGrams.groupBy(col("id").as("doc_id"))
          .agg(count(lit(1)).as("n_grams"))
        docs.filter(col("doc_id") % 11 =!= 0)
          .join(contaminated, Seq("doc_id"), "left_anti")
          .join(counts, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("n_grams"), lit(0L)).as("n_grams"))
      },
      Some(s"""WITH norm AS (SELECT doc_id, $normSql AS t FROM documents),
              tok AS (SELECT doc_id, string_split(t, ' ') AS toks FROM norm),
              gpos AS (SELECT doc_id, toks,
                         unnest(generate_series(1, greatest(len(toks) - 7, 0))) AS i
                       FROM tok WHERE len(toks) >= 8),
              g AS (SELECT DISTINCT doc_id,
                      ${h60("array_to_string(list_slice(toks, i, i + 7), ' ')")} AS gh
                    FROM gpos),
              ev AS (SELECT DISTINCT gh FROM g WHERE doc_id % 11 = 0),
              corpus AS (SELECT * FROM g WHERE doc_id % 11 <> 0),
              contaminated AS (
                SELECT DISTINCT c.doc_id FROM corpus c JOIN ev USING (gh)),
              counts AS (SELECT doc_id, count(*) AS n_grams
                         FROM corpus GROUP BY 1)
              SELECT d.doc_id, coalesce(c.n_grams, 0) AS n_grams
              FROM documents d
              LEFT JOIN counts c ON c.doc_id = d.doc_id
              WHERE d.doc_id % 11 <> 0
                AND d.doc_id NOT IN (SELECT doc_id FROM contaminated)""")),

    // Decontamination AUDIT view — the report that accompanies the
    // filter in practice: for every contaminated corpus document, WHICH
    // eval documents share grams with it and how many (severity-ranked).
    // A compliance/debug query, not a throughput path: when a benchmark
    // leaks into a corpus you need the offending (corpus, eval) links,
    // not just the drop list. Scale shape: the gram join is restricted
    // to the contaminated sliver (eval grams broadcast exactly as in
    // dd_decontaminate), and per-pair counting is a hash-agg with
    // map-side combine over only the colliding gram rows.
    Q("dd_decontaminate_audit",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val grams = graft.Caches.registerTransient(
          TextOps.gramHashes(docs, "doc_id", "text", 8)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        val evalGrams = grams.filter(col("id") % 11 === 0)
          .select(col("id").as("eval_id"), col("gh"))
        val corpusGrams = grams.filter(col("id") % 11 =!= 0)
        corpusGrams
          .join(broadcast(evalGrams), Seq("gh"))
          .groupBy(col("id").as("doc_id"), col("eval_id"))
          .agg(count(lit(1)).as("n_shared_grams"))
      },
      Some(s"""WITH norm AS (SELECT doc_id, $normSql AS t FROM documents),
              tok AS (SELECT doc_id, string_split(t, ' ') AS toks FROM norm),
              gpos AS (SELECT doc_id, toks,
                         unnest(generate_series(1, greatest(len(toks) - 7, 0))) AS i
                       FROM tok WHERE len(toks) >= 8),
              g AS (SELECT DISTINCT doc_id,
                      ${h60("array_to_string(list_slice(toks, i, i + 7), ' ')")} AS gh
                    FROM gpos),
              ev AS (SELECT doc_id AS eval_id, gh FROM g WHERE doc_id % 11 = 0),
              corpus AS (SELECT * FROM g WHERE doc_id % 11 <> 0)
              SELECT c.doc_id, ev.eval_id, count(*) AS n_shared_grams
              FROM corpus c JOIN ev USING (gh)
              GROUP BY 1, 2""")),

    // LSH-tier RECALL evaluation on a sampled probe universe — the
    // dedup-ladder analogue of sim_ivf_recall. The probe universe is
    // the bounded doc_id < 150 subset plus one synthetic TWIN per doc
    // (the doc's text with a doc_id-graded 15/30/45/60% tail of
    // deterministic md5-hex filler — twin similarity lands at
    // j ≈ 1/(1+p) ≈ 0.87/0.77/0.69/0.63, straddling the 0.7 verify
    // threshold). Both the LSH tier (the SAME docProfilesLocal →
    // lshCandidatesLocal → jaccardOnProfiles construction as
    // dd_minhash_lsh, k=32/bands=4/0.7) and the brute-force all-pairs
    // truth run over this universe; every truth pair is labeled with
    // whether the tier found it. Banding theory says recall rises with
    // similarity (P = 1-(1-j^8)^4: ~0.4 at j=0.77, ~0.8 at j=0.87,
    // 1.0 at j=1), so the probe EXPECTS misses near the threshold —
    // the found flag genuinely discriminates, unlike the raw corpus
    // whose near-dups are all j ≈ 0.96+ and found at 100%. Sampled
    // bounded universes are exactly how tier recall is monitored at
    // 100 TB (the full truth is quadratic by definition).
    Q("dd_lsh_recall",
      (s, d) => {
        val base = Tables.documents(s, d).filter(col("doc_id") < 150)
          .select(col("doc_id"), col("text"))
        // filler = k DISTINCT md5 blocks (md5(text||1), md5(text||2), …):
        // a repeat() of ONE md5 would be 32-char-periodic and contribute
        // a constant ~32 distinct shingles at every grade — the distinct
        // blocks make the injected shingle mass actually proportional to
        // the 15/30/45/60% grade, which is what spreads twin similarity
        // across the threshold
        val kInj = expr(
          "cast(((doc_id % 4 + 1) * 15 * length(text)) div 3200 as int)")
        val twins = base.select(
          (col("doc_id") + 100000L).as("doc_id"),
          concat(col("text"), lit(" "),
            when(kInj >= 1, array_join(transform(
                sequence(lit(1), kInj),
                i => md5(concat(col("text"), i.cast("string")))), ""))
              .otherwise(lit(""))).as("text"))
        val universe = base.unionByName(twins)
        val prof = graft.Caches.registerTransient(
          Dedup.docProfilesLocal(universe, "doc_id", "text", n = 5, k = 32)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        val ids = prof.select(col("id").as("id_a"))
          .crossJoin(prof.select(col("id").as("id_b")))
          .filter(col("id_a") < col("id_b"))
        val truth = Dedup.jaccardOnProfiles(prof, ids, threshold = 0.7)
        val lsh = Dedup.jaccardOnProfiles(prof,
            Dedup.lshCandidatesLocal(prof, k = 32, bands = 4), threshold = 0.7)
          .select(col("id_a"), col("id_b"), lit(true).as("fnd"))
        truth.join(lsh, Seq("id_a", "id_b"), "left")
          .select(col("id_a"), col("id_b"), col("jaccard"),
            coalesce(col("fnd"), lit(false)).as("found"))
      },
      Some(s"""WITH universe AS (
                SELECT doc_id, text FROM documents WHERE doc_id < 150
                UNION ALL
                SELECT doc_id + 100000 AS doc_id,
                       text || ' ' ||
                       CASE WHEN ((doc_id % 4 + 1) * 15 * length(text)) // 3200 >= 1
                            THEN array_to_string(list_transform(
                                   generate_series(1,
                                     CAST(((doc_id % 4 + 1) * 15 * length(text)) // 3200 AS INT)),
                                   i -> md5(text || CAST(i AS VARCHAR))), '')
                            ELSE '' END AS text
                FROM documents WHERE doc_id < 150),
              ${minhashVerifiedCteOver("universe")},
              truth AS (
                SELECT a.id AS id_a, b.id AS id_b,
                       CAST(len(list_intersect(a.arr, b.arr)) AS DOUBLE)
                         / CAST(a.sz + b.sz - len(list_intersect(a.arr, b.arr))
                             AS DOUBLE) AS jaccard
                FROM arrs a JOIN arrs b ON a.id < b.id
                WHERE CAST(len(list_intersect(a.arr, b.arr)) AS DOUBLE)
                        / CAST(a.sz + b.sz - len(list_intersect(a.arr, b.arr))
                            AS DOUBLE) >= 0.7e0)
              SELECT t.id_a, t.id_b, t.jaccard,
                     v.id_a IS NOT NULL AS found
              FROM truth t
              LEFT JOIN verified v
                ON v.id_a = t.id_a AND v.id_b = t.id_b""")),

    // Bloom-prefiltered decontamination — same contract and same oracle
    // as dd_decontaminate (a Bloom filter has NO false negatives, and
    // its false positives are removed by the exact tier, so the result
    // set is identical BY CONSTRUCTION; the driver row pins that claim).
    // What changes is the scale shape: dd_decontaminate broadcasts the
    // raw eval gram set, which stops working when the eval suite is
    // itself corpus-sized (holdout decontamination, 1e9+ grams). Here
    // the broadcast is a FIXED-size Bloom bitmap — 2^20 bits as ≤16k
    // (word, bits) rows regardless of eval cardinality — built with one
    // tiny aggregation; corpus grams probe it map-side (two broadcast
    // joins + bit tests), and only the surviving sliver reaches the
    // exact semi-join, which therefore runs as an ordinary shuffle join
    // with NO broadcast of eval grams anywhere. Two int64 hash
    // positions per gram (the raw 60-bit hash and the same split-
    // multiply affine mix the MinHash family uses) keep every operation
    // engine-portable and overflow-safe.
    Q("dd_decontaminate_bloom",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val grams = graft.Caches.registerTransient(
          TextOps.gramHashes(docs, "doc_id", "text", 8)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        val evalGrams = grams.filter(col("id") % 11 === 0)
          .select(col("gh")).distinct()
        val corpusGrams = grams.filter(col("id") % 11 =!= 0)
        // fixed 2^20-bit filter, two positions per gram (see
        // Dedup.bloomBitmap/bloomProbe)
        val mBits = 1048576L
        val bloom = Dedup.bloomBitmap(evalGrams, mBits)
        val probed = Dedup.bloomProbe(
          corpusGrams.select(col("id"), col("gh")), bloom, mBits)
        // exact tier over the Bloom survivors only — plain shuffle semi
        // join, deliberately NOT broadcast (the whole point: eval grams
        // never need to fit in a broadcast again)
        val contaminated = probed
          .join(evalGrams, Seq("gh"), "left_semi")
          .select(col("id").as("doc_id")).distinct()
        val counts = corpusGrams.groupBy(col("id").as("doc_id"))
          .agg(count(lit(1)).as("n_grams"))
        docs.filter(col("doc_id") % 11 =!= 0)
          .join(contaminated, Seq("doc_id"), "left_anti")
          .join(counts, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("n_grams"), lit(0L)).as("n_grams"))
      },
      // the oracle is EXACT decontamination — equality with it is the
      // no-false-negatives claim of the Bloom tier
      Some(s"""WITH norm AS (SELECT doc_id, $normSql AS t FROM documents),
              tok AS (SELECT doc_id, string_split(t, ' ') AS toks FROM norm),
              gpos AS (SELECT doc_id, toks,
                         unnest(generate_series(1, greatest(len(toks) - 7, 0))) AS i
                       FROM tok WHERE len(toks) >= 8),
              g AS (SELECT DISTINCT doc_id,
                      ${h60("array_to_string(list_slice(toks, i, i + 7), ' ')")} AS gh
                    FROM gpos),
              ev AS (SELECT DISTINCT gh FROM g WHERE doc_id % 11 = 0),
              corpus AS (SELECT * FROM g WHERE doc_id % 11 <> 0),
              contaminated AS (
                SELECT DISTINCT c.doc_id FROM corpus c JOIN ev USING (gh)),
              counts AS (SELECT doc_id, count(*) AS n_grams
                         FROM corpus GROUP BY 1)
              SELECT d.doc_id, coalesce(c.n_grams, 0) AS n_grams
              FROM documents d
              LEFT JOIN counts c ON c.doc_id = d.doc_id
              WHERE d.doc_id % 11 <> 0
                AND d.doc_id NOT IN (SELECT doc_id FROM contaminated)""")),

    // Tier 4 — exact n-gram Jaccard on the full pair space of a bounded
    // subset (the brute-force baseline the LSH tiers approximate).
    Q("dd_ngram_jaccard",
      (s, d) => {
        val docs = Tables.documents(s, d).filter(col("doc_id") < 150)
        val hashed = Dedup.shingleHashes(docs, "doc_id", "text", 5)
          .select(col("id"), col("sh")).dropDuplicates("id", "sh")
        val ids = docs.select(col("doc_id").as("id_a"))
          .crossJoin(docs.select(col("doc_id").as("id_b")))
          .filter(col("id_a") < col("id_b"))
        Dedup.jaccardVerify(hashed, ids, threshold = 0.25)
      },
      Some(s"""WITH norm AS (SELECT doc_id AS id, $normSql AS t
                             FROM documents WHERE doc_id < 150),
              npos AS (SELECT id, t,
                         unnest(generate_series(1, greatest(length(t) - 4, 1))) AS i
                       FROM norm),
              hv AS (
                SELECT DISTINCT id, ${shingleHashSql("t", "i")} AS sh FROM npos),
              arrs AS (SELECT id, list(sh) AS arr, count(*) AS sz
                       FROM hv GROUP BY id),
              pairs AS (
                SELECT a.id AS id_a, b.id AS id_b
                FROM (SELECT DISTINCT id FROM norm) a
                JOIN (SELECT DISTINCT id FROM norm) b ON a.id < b.id)
              SELECT p.id_a, p.id_b,
                     CAST(len(list_intersect(a.arr, b.arr)) AS DOUBLE)
                       / CAST(a.sz + b.sz - len(list_intersect(a.arr, b.arr)) AS DOUBLE) AS jaccard
              FROM pairs p
              JOIN arrs a ON a.id = p.id_a
              JOIN arrs b ON b.id = p.id_b
              WHERE CAST(len(list_intersect(a.arr, b.arr)) AS DOUBLE)
                      / CAST(a.sz + b.sz - len(list_intersect(a.arr, b.arr)) AS DOUBLE) >= 0.25e0""")),

    // Tier 5 — window-level exact SUBSTRING dedup (Lee et al. 2022, the
    // suffix-array method's distributed window approximation): maximal
    // spans of consecutive 8-token windows whose hash occurs >= 2 times
    // in the corpus. Catches shared boilerplate inside otherwise-unique
    // documents, which every doc-level tier above misses. The oracle
    // re-derives the positional window hashes (the same md5-prefix60 of
    // the joined window text) and the same gaps-and-islands collapse.
    Q("dd_substring_windows",
      (s, d) => Dedup.duplicateWindowSpans(
          Tables.documents(s, d), "doc_id", "text", w = 8)
        .withColumnRenamed("id", "doc_id"),
      Some(s"""WITH $substringSpanCtes
              SELECT id AS doc_id, span_start, span_tokens, n_windows
              FROM spanrows""")),

    // Substring-span REMOVAL — the cut step that completes the Lee et
    // al. substring-dedup story (dd_substring_windows finds the
    // duplicated spans; this emits each document with those token
    // ranges excised). Spans are maximal runs of duplicated window
    // STARTS, but each extends w−1 tokens past its last start, so two
    // spans whose start gap is 2..w−1 OVERLAP in token coverage —
    // tokens_removed is therefore the DISTINCT size of the flattened
    // position union, never the sum of span lengths (which would
    // overcount the overlap). The cut itself is a per-row indexed
    // filter over the token array (no per-token relation, no extra
    // shuffle beyond the span detection's own three) and the cleaned
    // text is re-fingerprinted so CONTENT, not just counts, is
    // hash-gated. Docs with no duplicated spans pass through unchanged.
    Q("dd_substring_removed",
      (s, d) => {
        val spans = Dedup.duplicateWindowSpans(
            Tables.documents(s, d), "doc_id", "text", w = 8)
          .groupBy(col("id"))
          .agg(
            array_distinct(flatten(collect_list(sequence(col("span_start"),
              col("span_start") + col("span_tokens") - 1)))).as("covered"),
            count(lit(1)).as("n_spans"))
          .withColumn("tokens_removed", size(col("covered")).cast("long"))
        Tables.documents(s, d)
          .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
          .join(spans, col("doc_id") === col("id"), "left")
          .withColumn("clean_toks",
            when(col("covered").isNull, col("toks"))
              .otherwise(filter(col("toks"),
                (t, i) => !array_contains(col("covered"),
                  (i + 1).cast("long")))))
          .select(col("doc_id"),
            coalesce(col("n_spans"), lit(0L)).as("n_spans"),
            coalesce(col("tokens_removed"), lit(0L)).as("tokens_removed"),
            size(col("clean_toks")).cast("long").as("n_tokens_clean"),
            md5(array_join(col("clean_toks"), " ")).as("clean_fp"))
      },
      Some(s"""WITH $substringSpanCtes,
              sp AS (SELECT id,
                       list_distinct(flatten(list(generate_series(span_start,
                         span_start + span_tokens - 1)))) AS covered,
                       count(*) AS n_spans,
                       CAST(len(list_distinct(flatten(list(generate_series(
                         span_start, span_start + span_tokens - 1)))))
                         AS BIGINT) AS tokens_removed
                     FROM spanrows GROUP BY id),
              cleaned AS (
                SELECT t.id,
                       CASE WHEN sp.covered IS NULL THEN t.arr
                            ELSE list_filter(t.arr,
                              (x, i) -> NOT list_contains(sp.covered,
                                CAST(i AS BIGINT)))
                       END AS clean_toks,
                       coalesce(sp.n_spans, 0) AS n_spans,
                       coalesce(sp.tokens_removed, 0) AS tokens_removed
                FROM toks t LEFT JOIN sp USING (id))
              SELECT id AS doc_id, n_spans, tokens_removed,
                     len(clean_toks) AS n_tokens_clean,
                     -- coalesce: DuckDB's array_to_string([]) is NULL
                     -- where Spark's array_join([]) is '' (a fully
                     -- excised doc must fingerprint as md5(''))
                     md5(coalesce(array_to_string(clean_toks, ' '), ''))
                       AS clean_fp
              FROM cleaned""")),

    // Tier 6 — ASYMMETRIC containment: C(A,B) = |grams(A) ∩ grams(B)|
    // / |grams(smaller)|. Jaccard-threshold tiers structurally MISS
    // subset pairs (a 15-token quote inside a 60-token doc has
    // J ≈ 0.2 but containment ≈ 0.92) — this is the tier that catches
    // quote/boilerplate inclusion, the dedup failure mode Broder's
    // resemblance/containment split names. Fixture: every 7th doc gets
    // a planted quote child (first 15 tokens + a unique tail token,
    // doc_id + 100000) built IN-QUERY, graded by the `planted` flag;
    // jaccard ships next to containment so the asymmetry is visible in
    // the result. Scale shape: inverted-index self-join on gram hash
    // with a df-occupancy cap (64) — the universal-gram quadratic term
    // is structurally excluded (ContainmentSpec pins n² → 0 on a
    // boilerplate-gram fixture); intersections count only capped grams
    // (a LOWER bound ⇒ under-flag, never false-positive), while
    // denominators stay full-set. On this fixture no gram hits the cap,
    // so detection is exact (spec-pinned).
    Q("dd_containment",
      (s, d) => containmentPairs(
          containmentCorpus(Tables.documents(s, d)), cap = 64)
        .filter(col("containment") >= 0.8),
      Some(s"""WITH norm AS (
                SELECT doc_id, string_split($normSql, ' ') AS toks
                FROM documents),
              quotes AS (
                SELECT doc_id + 100000 AS doc_id,
                       string_split(
                         array_to_string(list_slice(toks, 1, 15), ' ')
                           || ' qtail' || CAST(doc_id AS VARCHAR), ' ')
                         AS toks
                FROM norm WHERE doc_id % 7 = 0),
              corpus AS (
                SELECT doc_id, toks FROM norm
                UNION ALL SELECT doc_id, toks FROM quotes),
              npos AS (
                SELECT doc_id, toks,
                       unnest(generate_series(1, len(toks) - 4)) AS i
                FROM corpus WHERE len(toks) >= 5),
              hv AS (
                SELECT DISTINCT doc_id AS id,
                       ${h60("array_to_string(list_slice(toks, i, i + 4), ' ')")} AS gh
                FROM npos),
              df AS (SELECT gh, count(*) AS df FROM hv GROUP BY 1),
              capped AS (SELECT h.id, h.gh FROM hv h JOIN df USING (gh)
                         WHERE df.df <= 64),
              sizes AS (SELECT id, CAST(count(*) AS BIGINT) AS sz
                        FROM hv GROUP BY 1),
              pairs AS (
                SELECT a.id AS id_a, b.id AS id_b,
                       CAST(count(*) AS BIGINT) AS n_shared
                FROM capped a JOIN capped b
                  ON a.gh = b.gh AND a.id < b.id
                GROUP BY 1, 2)
              SELECT p.id_a, p.id_b, p.n_shared,
                     sa.sz AS size_a, sb.sz AS size_b,
                     CAST(p.n_shared AS DOUBLE)
                       / CAST(least(sa.sz, sb.sz) AS DOUBLE) AS containment,
                     CAST(p.n_shared AS DOUBLE)
                       / CAST(sa.sz + sb.sz - p.n_shared AS DOUBLE) AS jaccard,
                     p.id_b = p.id_a + 100000 AS planted
              FROM pairs p
              JOIN sizes sa ON sa.id = p.id_a
              JOIN sizes sb ON sb.id = p.id_b
              WHERE CAST(p.n_shared AS DOUBLE)
                      / CAST(least(sa.sz, sb.sz) AS DOUBLE) >= 0.8e0"""))
  )

  /** The containment fixture: the corpus plus a planted quote child for
    * every 7th doc — first 15 normalized tokens + a unique tail token,
    * id-shifted by 100000 so grading is a pure id predicate.
    */
  private[queries] def containmentCorpus(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val quotes = docs.filter(pmod(col("doc_id"), lit(7)) === 0)
      .select((col("doc_id") + 100000L).as("doc_id"),
        concat(
          array_join(slice(TextOps.tokens(col("text")), 1, 15), " "),
          lit(" qtail"), col("doc_id").cast("string")).as("text"))
    docs.select(col("doc_id"), col("text")).unionByName(quotes)
  }

  /** Containment pair table (pre-threshold) over any (doc_id, text)
    * corpus: distinct token-5-gram hashes per doc (one in-row native
    * pass), df-capped inverted-index self-join, full-set denominators.
    * Factored so `ContainmentSpec` can drive both the cap's quadratic
    * suppression and the exactness claim.
    */
  private[queries] def containmentPairs(
      corpus: org.apache.spark.sql.DataFrame, cap: Int)
      : org.apache.spark.sql.DataFrame = {
    val hv = graft.Caches.registerTransient(
      TextOps.gramHashes(corpus, "doc_id", "text", 5)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val dfreq = hv.groupBy(col("gh")).agg(count(lit(1)).as("df"))
    val capped = hv.join(dfreq.filter(col("df") <= cap), Seq("gh"))
      .select(col("id"), col("gh"))
    val sizes = hv.groupBy(col("id")).agg(count(lit(1)).as("sz"))
    val pairs = capped.as("a")
      .join(capped.as("b"),
        col("a.gh") === col("b.gh") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))
    pairs
      .join(sizes.select(col("id").as("id_a"), col("sz").as("size_a")),
        Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("sz").as("size_b")),
        Seq("id_b"))
      .select(col("id_a"), col("id_b"), col("n_shared"),
        col("size_a"), col("size_b"),
        (col("n_shared").cast("double")
          / least(col("size_a"), col("size_b")).cast("double"))
          .as("containment"),
        (col("n_shared").cast("double")
          / (col("size_a") + col("size_b") - col("n_shared")).cast("double"))
          .as("jaccard"),
        (col("id_b") === col("id_a") + 100000L).as("planted"))
  }

  /** Shared CTE chain of the window-level substring-dedup oracle: ends
    * at `spanrows(id, span_start, span_tokens, n_windows, grp)` — the
    * maximal duplicated spans — with `toks(id, arr)` also in scope for
    * consumers that reconstruct text.
    */
  private val substringSpanCtes: String =
    s"""norm AS (SELECT doc_id AS id, $normSql AS t FROM documents),
       toks AS (SELECT id, string_split(t, ' ') AS arr FROM norm),
       wins AS (SELECT id, CAST(i AS INT) AS start,
                  ${h60("array_to_string(arr[CAST(i AS INT):CAST(i + 7 AS INT)], ' ')")} AS fp
                FROM toks,
                  unnest(generate_series(1, len(arr) - 7)) g(i)
                WHERE len(arr) >= 8),
       dup AS (SELECT fp FROM wins GROUP BY fp HAVING count(*) >= 2),
       ds AS (SELECT w.id, w.start FROM wins w JOIN dup USING (fp)),
       isl AS (SELECT id, start,
                 start - row_number() OVER (PARTITION BY id ORDER BY start) AS grp
               FROM ds),
       spanrows AS (
         SELECT id, min(start) AS span_start,
                max(start) - min(start) + 8 AS span_tokens,
                count(*) AS n_windows
         FROM isl GROUP BY id, grp)"""
}
