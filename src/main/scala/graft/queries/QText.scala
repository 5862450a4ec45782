package graft.queries

import graft.Tables
import graft.llmdata.TextOps
import org.apache.spark.sql.functions._

/** Text-analysis surface over the `documents` table: quality metrics,
  * heuristic language ID, BPE-ish token counting, fingerprinting — the
  * text half of a training-data pipeline. Pure expressions; each has a
  * DuckDB oracle.
  */
object QText extends Registry {

  /** shared SQL fragments */
  private val normSql = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
  private val toksSql = s"string_split($normSql, ' ')"

  /** DuckDB restatement of [[graft.expressions.Log2Milli]] (integer
    * milli-bit log2): `bin(x)` length gives the exponent, a shifted
    * mantissa gives the linear interpolation — pure BIGINT ops, so sums
    * of it are exact and order-independent (see the Log2Milli scaladoc).
    */
  private[queries] val l2mSql: String => String = (x: String) =>
    s"""(1000 * (length(bin($x)) - 1)
         + ((($x * 1024) >> (length(bin($x)) - 1)) - 1024) * 1000 // 1024)"""

  /** per-language stopword hit columns (`c_<lang>`) for a SELECT list */
  private val langHitsSql: String = TextOps.stopwords.map { case (lang, ws) =>
    val arr = ws.map(w => s"'$w'").mkString("[", ",", "]")
    s"len(list_filter($toksSql, t -> list_contains($arr, t))) AS c_$lang"
  }.mkString(",\n                ")

  /** argmax language over the `c_<lang>` columns, first-wins tie-break —
    * mirrors [[TextOps.langId]] */
  private val langPickSql: String = {
    val langs = TextOps.stopwords.map(_._1)
    val best = s"greatest(${langs.map("c_" + _).mkString(", ")})"
    langs.foldRight("'und'") { (l, acc) =>
      s"CASE WHEN c_$l = $best AND $best > 0 THEN '$l' ELSE $acc END"
    }
  }

  def qs: Seq[Q] = qsA ++ qsB

  private def qsA: Seq[Q] = Seq(

    // Quality scoring: lengths, token stats, stopword/punct/upper ratios.
    Q("tx_quality",
      (s, d) => {
        val t = Tables.documents(s, d)
        val toks = TextOps.tokens(col("text"))
        t.select(
          col("doc_id"),
          length(col("text")).as("n_chars_raw"),
          size(toks).as("n_tokens"),
          (length(TextOps.normalized(col("text"))).cast("double") /
            size(toks)).as("chars_per_token"),
          (TextOps.stopwordHits(toks, TextOps.stopwords.head._2).cast("double") /
            size(toks)).as("stop_ratio_en"),
          TextOps.bpeishCount(col("text")).as("bpeish_tokens"),
          (length(col("text")) -
            length(regexp_replace(col("text"), "[A-Z]", ""))).as("n_upper"))
      },
      Some(s"""SELECT doc_id,
                length(text) AS n_chars_raw,
                len($toksSql) AS n_tokens,
                CAST(length($normSql) AS DOUBLE) / len($toksSql) AS chars_per_token,
                CAST(len(list_filter($toksSql,
                  t -> list_contains(['the','a','of','to','and','in','is','it'], t)))
                  AS DOUBLE) / len($toksSql) AS stop_ratio_en,
                len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS bpeish_tokens,
                length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')) AS n_upper
              FROM documents""")),

    // Heuristic language ID: per-language stopword hits, argmax with
    // deterministic first-wins tie-break.
    Q("tx_langid",
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"), col("lang").as("lang_label"),
          TextOps.langId(TextOps.tokens(col("text"))).as("lang_pred")),
      Some(
        s"""WITH h AS (SELECT doc_id, lang,
                $langHitsSql
              FROM documents)
            SELECT doc_id, lang AS lang_label, $langPickSql AS lang_pred FROM h""")),

    // The curation CHAIN a 100 TB training-data pipeline actually runs:
    // quality gates (token-count bounds + English-stopword ratio) →
    // language filter (heuristic langid) → exact-dedup keeper semi-join
    // (min doc_id per fingerprint among the survivors). One linear frame:
    // the gates are a codegen'd filter over the scan, the dedup is one
    // fingerprint shuffle — nothing upstream of the filter is recomputed.
    Q("tx_curation_chain",
      (s, d) => {
        val toks = TextOps.tokens(col("text"))
        val scored = Tables.documents(s, d).select(
          col("doc_id"),
          size(toks).as("n_tokens"),
          (TextOps.stopwordHits(toks, TextOps.stopwords.head._2).cast("double") /
            size(toks)).as("stop_ratio_en"),
          TextOps.langId(toks).as("lang_pred"),
          TextOps.fingerprint(col("text")).as("fp"))
        val passed = scored.filter(
          col("n_tokens") >= 15 && col("n_tokens") <= 2000 &&
            col("stop_ratio_en") >= 0.03 && col("lang_pred") === "en")
        val keepers = passed.groupBy(col("fp"))
          .agg(min(col("doc_id")).as("doc_id"))
        passed.join(keepers, Seq("fp", "doc_id"), "left_semi")
          .select(col("doc_id"), col("n_tokens"), col("stop_ratio_en"))
      },
      Some(s"""WITH scored AS (
                SELECT doc_id,
                       len($toksSql) AS n_tokens,
                       CAST(len(list_filter($toksSql,
                         t -> list_contains(['the','a','of','to','and','in','is','it'], t)))
                         AS DOUBLE) / len($toksSql) AS stop_ratio_en,
                       md5($normSql) AS fp,
                       $langHitsSql
                FROM documents),
              passed AS (
                SELECT doc_id, n_tokens, stop_ratio_en, fp
                FROM scored
                WHERE n_tokens BETWEEN 15 AND 2000
                  AND stop_ratio_en >= 0.03e0
                  AND $langPickSql = 'en'),
              keepers AS (SELECT fp, min(doc_id) AS doc_id
                          FROM passed GROUP BY fp)
              SELECT p.doc_id, p.n_tokens, p.stop_ratio_en
              FROM passed p
              JOIN keepers k ON k.fp = p.fp AND k.doc_id = p.doc_id""")),

    // Repetition quality signal (the Gopher-rule family): the share of a
    // document's token bigrams taken by its single most frequent bigram —
    // templated/boilerplate text scores high and gets filtered. One
    // explode + one (doc, bigram) count + one max per doc; the ratio is a
    // division of identical integer operands in both engines.
    Q("tx_repetition",
      (s, d) => {
        val toks = TextOps.tokens(col("text"))
        val bi = Tables.documents(s, d)
          .select(col("doc_id"), toks.as("t"))
          .filter(size(col("t")) >= 2)
          .select(col("doc_id"),
            explode(expr(
              "transform(sequence(0, size(t) - 2), i -> concat(t[i], ' ', t[i + 1]))"))
              .as("bigram"))
        bi.groupBy(col("doc_id"), col("bigram"))
          .agg(count(lit(1)).as("c"))
          .groupBy(col("doc_id"))
          .agg(max(col("c")).as("top_bigram_count"),
            sum(col("c")).as("n_bigrams"))
          .select(col("doc_id"), col("top_bigram_count"), col("n_bigrams"),
            (col("top_bigram_count").cast("double") /
              col("n_bigrams").cast("double")).as("rep_ratio"))
      },
      Some(s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
              bi AS (SELECT doc_id,
                            unnest(list_transform(
                              generate_series(1, len(toks) - 1),
                              i -> toks[i] || ' ' || toks[i + 1])) AS bigram
                     FROM t WHERE len(toks) >= 2),
              cnt AS (SELECT doc_id, bigram, count(*) AS c
                      FROM bi GROUP BY 1, 2)
              SELECT doc_id, max(c) AS top_bigram_count,
                     CAST(sum(c) AS BIGINT) AS n_bigrams,
                     CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS rep_ratio
              FROM cnt GROUP BY doc_id""")),

    // Corpus-trained trigram LM perplexity (the CCNet-style quality
    // signal): train add-one-smoothed trigram counts on a deterministic
    // 80% split (doc_id % 5 <> 0), score EVERY document's negative
    // log-likelihood in bits-per-trigram. All hot-path relations are
    // int64 gram hashes off the native positional scan
    // (tokengrampos60 — element i of the 3-gram array aligns with
    // element i of the 2-gram array, so trigram+context pair up with one
    // zip, no token arrays shuffle); the log itself is the integer
    // milli-bit log2 (graft.expressions.Log2Milli), so per-doc
    // likelihood sums are exact BIGINTs — order-independent and
    // engine-portable where floating ln sums are neither. Scale shape:
    // two count aggs over the train grams + one re-join of the scoring
    // grams — linear, ~4 shuffles, no driver state; the count tables
    // shuffle-join (they are corpus-vocabulary-sized, not broadcast).
    Q("tx_lm_perplexity", lmScored, Some(lmScoredSql)),

    // CCNet head/middle/tail bucketing (Wenzek et al. 2020): rank the
    // whole corpus by trigram-LM bits-per-trigram and cut it into
    // perplexity TERCILES — the corpus-relative pruning step CCNet runs
    // after the perplexity score itself (keep head+middle, drop tail, or
    // weight by bucket). The global rank is the scale-critical part: a
    // bare `row_number() OVER (ORDER BY ...)` moves the entire corpus to
    // ONE partition, so the rank comes from the two-phase distributed
    // prefix sum ([[graft.operators.PrefixSum]], the a9 machinery) —
    // range-partition by score, rank locally, offset by the tiny
    // per-partition totals. Tercile edges are integer
    // cross-multiplications off the rank and the grand count (no
    // percentile function, no second pass). Docs the LM cannot score
    // (n_trigrams = 0) sort behind every scored doc via an explicit
    // is-null key — engine-portable where NULL-ordering defaults differ.
    Q("tx_ccnet_buckets",
      (s, d) => {
        val scored = lmScored(s, d)
          .withColumn("unscored",
            when(col("n_trigrams") === 0L, 1L).otherwise(0L))
        val ranked = graft.operators.PrefixSum.withRunningSumAndRank(
          scored,
          order = Seq(col("unscored").asc, col("bits_per_trigram").asc,
            col("doc_id").asc),
          valueCol = lit(1L),
          outCol = "__cum", rankCol = "rank",
          numPartitions = 8, persistInput = true,
          grandTotals = Some(("__tot", "n_docs")))
        ranked.select(
          col("doc_id"), col("n_trigrams"), col("nll_milli"),
          col("bits_per_trigram"), col("rank"), col("n_docs"),
          when((col("rank") - 1L) * 3L < col("n_docs"), "head")
            .when((col("rank") - 1L) * 3L < col("n_docs") * 2L, "middle")
            .otherwise("tail").as("bucket"))
      },
      Some(s"""WITH $lmScoredCtes,
            perdoc AS ($lmScoredSelect),
            ranked AS (
              SELECT *, row_number() OVER (ORDER BY
                       CASE WHEN n_trigrams = 0 THEN 1 ELSE 0 END ASC,
                       bits_per_trigram ASC, doc_id ASC) AS rank,
                     count(*) OVER () AS n_docs
              FROM perdoc)
            SELECT doc_id, n_trigrams, nll_milli, bits_per_trigram, rank,
                   n_docs,
                   CASE WHEN (rank - 1) * 3 < n_docs THEN 'head'
                        WHEN (rank - 1) * 3 < n_docs * 2 THEN 'middle'
                        ELSE 'tail' END AS bucket
            FROM ranked""")),

    // Training-mix construction: deterministic stratified hash-sampling.
    // Each language gets a retention quota (the "data mixing" step that
    // turns a raw corpus into a training distribution); a document is kept
    // when its md5-derived bucket falls under its language's quota.
    // Hash-based sampling beats rand(): reproducible across engines and
    // retries, shuffle-free (a codegen'd filter over the scan), and
    // stable under corpus growth — the properties a 100 TB mixing pass
    // needs. Quotas here: en 50 / de 30 / fr 20 / es 10 / other 5 (%).
    Q("tx_sample_mix",
      (s, d) => {
        val bucket = TextOps.hash60(col("doc_id").cast("string")) % 100
        val quota = when(col("lang") === "en", 50)
          .when(col("lang") === "de", 30)
          .when(col("lang") === "fr", 20)
          .when(col("lang") === "es", 10)
          .otherwise(5)
        Tables.documents(s, d)
          .select(col("doc_id"), col("lang"), bucket.as("bucket"))
          .filter(col("bucket") < quota)
      },
      Some(s"""SELECT doc_id, lang, bucket FROM (
                SELECT doc_id, lang,
                       CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
                         % 100 AS bucket
                FROM documents) b
              WHERE bucket < CASE lang WHEN 'en' THEN 50 WHEN 'de' THEN 30
                                       WHEN 'fr' THEN 20 WHEN 'es' THEN 10
                                       ELSE 5 END""")),

    // Train/val/test split — the deterministic 80/10/10 holdout every
    // training pipeline cuts before anything else: the split is a pure
    // function of the doc id's hash (reproducible across runs, refreshes
    // and engines — no sampling state, no shuffle for the decision), and
    // the ledger reports per-(source, split) docs + tokens so the cut's
    // balance is auditable. Eval-set decontamination (dd_decontaminate)
    // exists precisely to protect the val/test side this split defines.
    Q("tx_train_val_test",
      (s, d) => {
        val bucket = TextOps.hash60(col("doc_id").cast("string")) % 100
        Tables.documents(s, d)
          .select(col("doc_id"), col("source"),
            size(TextOps.tokens(col("text"))).cast("long").as("n_toks"),
            when(bucket < 80, "train").when(bucket < 90, "val")
              .otherwise("test").as("split"))
          .groupBy(col("source"), col("split"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"))
      },
      Some(s"""SELECT source,
                     CASE WHEN bucket < 80 THEN 'train'
                          WHEN bucket < 90 THEN 'val'
                          ELSE 'test' END AS split,
                     count(*) AS n_docs,
                     CAST(sum(len($toksSql)) AS BIGINT) AS n_tokens
              FROM (
                SELECT doc_id, source, text,
                       CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                         AS BIGINT) % 100 AS bucket
                FROM documents) b
              GROUP BY 1, 2""")),

    // Sequence packing: assign documents to fixed token-budget packs
    // (2048 tokens) in deterministic doc_id order within each language —
    // the pretraining batch-construction step. pack_id = which budget
    // block the document STARTS in (cumulative tokens before it, integer-
    // divided by the budget). The window is PARTITIONED (per-language
    // running sum), never a global Window.orderBy — each shard packs
    // independently, which is exactly how a distributed packing pass
    // works at corpus scale (global order would serialize 100 TB through
    // one partition).
    Q("tx_pack_budget",
      (s, d) => {
        val toks = TextOps.tokens(col("text"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("lang")).orderBy(col("doc_id"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
        Tables.documents(s, d)
          .select(col("doc_id"), col("lang"),
            size(toks).cast("long").as("n_tokens"))
          .withColumn("cum", sum(col("n_tokens")).over(w))
          .select(col("doc_id"), col("lang"), col("n_tokens"),
            expr("(cum - n_tokens) div 2048").as("pack_id"))
      },
      Some(s"""WITH t AS (SELECT doc_id, lang,
                            CAST(len($toksSql) AS BIGINT) AS n_tokens
                          FROM documents),
              c AS (SELECT doc_id, lang, n_tokens,
                      sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                          ROWS UNBOUNDED PRECEDING) AS cum
                    FROM t)
              SELECT doc_id, lang, n_tokens,
                     CAST((cum - n_tokens) // 2048 AS BIGINT) AS pack_id
              FROM c""")),

    // The END-TO-END corpus build — the LLM-data counterpart of
    // tp_full_panel: quality gates → exact-dedup keepers → substring
    // span removal (duplicated 8-token windows excised, Lee et al. 2022
    // order) → MinHash+LSH near-dup clustering with canonical keepers →
    // benchmark decontamination vs the held-out eval split →
    // per-language training-mix sampling. Every stage is the library's production
    // operator (shuffle-free profiles, broadcast eval grams, distributed
    // CC) and the oracle replays the WHOLE chain, recursive-CTE
    // reachability included — one hash gate over the final corpus.
    Q("tx_corpus_build",
      (s, d) => corpusStages(s, d)("mixed")
        .select(col("doc_id"), col("lang"), col("n_tokens")),
      Some(s"""WITH RECURSIVE $corpusBuildCtes
            SELECT doc_id, lang, n_tokens FROM mixed""")),

    // Curation FUNNEL report — the attrition ledger every corpus build
    // publishes next to its output: one row per stage of the
    // tx_corpus_build chain (raw corpus → length screen → exact-dup
    // keepers → substring-clean → near-dup canonical → decontaminated →
    // quota-mixed) with
    // surviving doc and token counts. Built from the SAME shared stage
    // frames as the chain itself (and the same oracle CTE chain), so
    // the report can never disagree with the build. Scale shape: seven
    // count aggregates over frames the chain materializes anyway.
    Q("tx_curation_funnel",
      (s, d) => {
        val stages = corpusStages(s, d)
        corpusStageOrder.zipWithIndex.map { case (name, i) =>
          stages(name).agg(
            count(lit(1)).as("n_docs"),
            coalesce(sum(col("n_tokens")), lit(0L)).as("n_tokens"))
            .select(lit(i + 1).as("stage_no"), lit(name).as("stage"),
              col("n_docs"), col("n_tokens"))
        }.reduce(_.unionByName(_))
      },
      Some {
        def cnt(no: Int, name: String, rel: String) =
          s"""SELECT $no AS stage_no, '$name' AS stage,
                count(*) AS n_docs,
                CAST(coalesce(sum(n_tokens), 0) AS BIGINT) AS n_tokens
              FROM $rel"""
        s"""WITH RECURSIVE $corpusBuildCtes
            ${cnt(1, "corpus", "scored")}
            UNION ALL ${cnt(2, "length_pass", "passed")}
            UNION ALL ${cnt(3, "exact_keeper", "surv")}
            UNION ALL ${cnt(4, "substring_clean", "subc")}
            UNION ALL ${cnt(5, "neardup_canonical", "canon")}
            UNION ALL ${cnt(6, "decontaminated", "clean")}
            UNION ALL ${cnt(7, "mixed", "mixed")}"""
      }),

    // Dataset card (ext.) — the per-language datasheet published NEXT TO
    // the built corpus (the "composition" table of a Datasheets-for-
    // Datasets card): doc/token counts, token share in exact integer
    // milli-units, mean/min/max doc length. Rides the SAME memoized
    // `mixed` frame as tx_corpus_build/tx_curation_funnel — the card
    // can never describe a different corpus than the one shipped. ONE
    // hash-agg over the final corpus + a broadcast grand total; no
    // windows, no per-language sorts.
    Q("tx_dataset_card",
      (s, d) => {
        val per = corpusStages(s, d)("mixed")
          .groupBy(col("lang")).agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).as("n_tokens"),
            min(col("n_tokens")).as("min_tokens"),
            max(col("n_tokens")).as("max_tokens"))
        val tot = per.agg(sum(col("n_tokens")).as("tot"))
        per.crossJoin(broadcast(tot))
          .select(col("lang"), col("n_docs"), col("n_tokens"),
            expr("(n_tokens * 1000) div tot").as("share_milli"),
            expr("n_tokens div n_docs").as("mean_tokens"),
            col("min_tokens"), col("max_tokens"))
      },
      Some(s"""WITH RECURSIVE $corpusBuildCtes,
            per AS (SELECT lang, count(*) AS n_docs,
                           CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
                           min(n_tokens) AS min_tokens,
                           max(n_tokens) AS max_tokens
                    FROM mixed GROUP BY 1),
            t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot FROM per)
            SELECT lang, n_docs, n_tokens,
                   (n_tokens * 1000) // tot AS share_milli,
                   n_tokens // n_docs AS mean_tokens,
                   min_tokens, max_tokens
            FROM per CROSS JOIN t"""))
  )

  /** Canonical materialization order of [[corpusStages]] — shared with
    * the funnel query and the ScaleProbe per-stage breakdown so both walk
    * the chain in build order.
    */
  private[graft] val corpusStageOrder: Seq[String] =
    Seq("corpus", "length_pass", "exact_keeper", "substring_clean",
      "neardup_canonical", "decontaminated", "mixed")

  /** Wall-clock of the EAGER stage builds (the memoized barrier stages
    * materialize inside the [[corpusStages]] call itself, so a caller
    * timing stage counts from outside sees only checkpoint reads) —
    * overwritten per build, ~0 on memo hits. Read by ScaleProbe's
    * per-stage attribution.
    */
  private[graft] val stageBuildSecs =
    scala.collection.mutable.LinkedHashMap.empty[String, Double]

  private def timedStage[T](name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    stageBuildSecs(name) = (System.nanoTime() - t0) / 1e9
    r
  }

  /** The curation-build chain as named stage frames (each with
    * doc_id, lang, n_tokens): raw `corpus` → `length_pass` →
    * `exact_keeper` → `substring_clean` → `neardup_canonical` →
    * `decontaminated` → quota-`mixed` — shared by `tx_corpus_build`
    * (returns `mixed`) and `tx_curation_funnel` (counts every stage), so
    * the report can never disagree with the build.
    */
  private[graft] def corpusStages(s: org.apache.spark.sql.SparkSession,
      d: String): Map[String, org.apache.spark.sql.DataFrame] = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val toks = TextOps.tokens(col("text"))
    val corpus = Tables.documents(s, d).filter(col("doc_id") % 11 =!= 0)
    val scored = corpus.select(col("doc_id"), col("lang"), col("text"),
      size(toks).cast("long").as("n_tokens"),
      TextOps.fingerprint(col("text")).as("fp"))
    val passed = scored.filter(col("n_tokens").between(15, 2000))
    val keepers = passed.groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id"))
    val surv = graft.Caches.registerTransient(
      passed.join(keepers, Seq("fp", "doc_id"), "left_semi")
        .persist(MEMORY_AND_DISK))
    // window-level SUBSTRING dedup between the exact tier and the LSH
    // tier (the Lee et al. 2022 production recipe order): maximal runs
    // of 8-token windows duplicated >= 2x across the SURVIVING corpus
    // are excised from each document, the text is rebuilt from the kept
    // tokens (normalized token stream — idempotent under the downstream
    // re-normalization) and n_tokens recomputed, so the near-dup /
    // decontamination tiers and the funnel all see the post-cut corpus.
    // Doc COUNT is unchanged (the stage attrits tokens, not docs) —
    // the funnel row makes that visible.
    val subClean = timedStage("substring_clean") { graft.Caches.memo(s, s"corpus_substr:$d") {
        val covered = graft.llmdata.Dedup.duplicateWindowSpans(
            surv, "doc_id", "text", w = 8)
          .groupBy(col("id"))
          .agg(array_distinct(flatten(collect_list(sequence(col("span_start"),
            col("span_start") + col("span_tokens") - 1)))).as("covered"))
        surv
          .select(col("doc_id"), col("lang"),
            TextOps.tokens(col("text")).as("toks"))
          .join(covered, col("doc_id") === col("id"), "left")
          .withColumn("clean_toks",
            when(col("covered").isNull, col("toks"))
              .otherwise(filter(col("toks"),
                (_, i) => !array_contains(col("covered"),
                  (i + 1).cast("long")))))
          .select(col("doc_id"), col("lang"),
            array_join(col("clean_toks"), " ").as("text"),
            size(col("clean_toks")).cast("long").as("n_tokens"))
          .transform(graft.Caches.barrier(_))
      } }
    // near-dup canonicalization (minhash tier) among the survivors.
    // The canon and clean tails are MEMOIZED per (session, sfDir) —
    // the minhashPairs pattern: tx_corpus_build and tx_curation_funnel
    // both walk this chain, and the CC iteration is the expensive part,
    // so the second consumer reads a checkpoint barrier instead of
    // re-canonicalizing the graph.
    val canon = timedStage("neardup_canonical") { graft.Caches.memo(s, s"corpus_canon:$d") {
      val prof = graft.Caches.registerTransient(
        graft.llmdata.Dedup.docProfilesLocal(subClean, "doc_id", "text", n = 5, k = 32)
          .persist(MEMORY_AND_DISK))
      val pairs = graft.llmdata.Dedup.jaccardOnProfiles(prof,
          graft.llmdata.Dedup.lshCandidatesLocal(prof, k = 32, bands = 4),
          threshold = 0.7)
        .select(col("id_a"), col("id_b"))
      val clusters = graft.llmdata.Dedup.canonicalClusters(pairs)
      subClean.join(
          clusters.filter(col("id") =!= col("canonical"))
            .select(col("id").as("doc_id")),
          Seq("doc_id"), "left_anti")
        .transform(graft.Caches.barrier(_))
    } }
    // decontaminate vs the eval split (external — never curated)
    val clean = timedStage("decontaminated") { graft.Caches.memo(s, s"corpus_clean:$d") {
      val evalGrams = TextOps.gramHashes(
          Tables.documents(s, d).filter(col("doc_id") % 11 === 0),
          "doc_id", "text", 8)
        .select(col("gh")).distinct()
      val contaminated = TextOps.gramHashes(canon, "doc_id", "text", 8)
        .join(broadcast(evalGrams), Seq("gh"), "left_semi")
        .select(col("id").as("doc_id")).distinct()
      canon.join(contaminated, Seq("doc_id"), "left_anti")
        .transform(graft.Caches.barrier(_))
    } }
    // per-language training-mix quota
    val bucket = TextOps.hash60(col("doc_id").cast("string")) % 100
    val quota = when(col("lang") === "en", 50)
      .when(col("lang") === "de", 30)
      .when(col("lang") === "fr", 20)
      .when(col("lang") === "es", 10)
      .otherwise(5)
    Map(
      "corpus" -> scored,
      "length_pass" -> passed,
      "exact_keeper" -> surv,
      "substring_clean" -> subClean,
      "neardup_canonical" -> canon,
      "decontaminated" -> clean,
      "mixed" -> clean.filter(bucket < quota))
  }

  /** DuckDB CTE chain of the curation build (filter → exact dedup →
    * LSH canonicalization via recursive-CTE CC → decontamination →
    * quota mix), ending at `mixed` — shared by the `tx_corpus_build`
    * and `tx_curation_funnel` oracles. Callers prefix `WITH RECURSIVE`.
    */
  private val corpusBuildCtes: String = {
        val h60 = QDedup.h60
        s"""corpus AS (SELECT * FROM documents WHERE doc_id % 11 <> 0),
            scored AS (SELECT doc_id, lang, text,
                         CAST(len($toksSql) AS BIGINT) AS n_tokens,
                         md5($normSql) AS fp
                       FROM corpus),
            passed AS (SELECT * FROM scored WHERE n_tokens BETWEEN 15 AND 2000),
            keep0 AS (SELECT fp, min(doc_id) AS doc_id FROM passed GROUP BY fp),
            surv AS (SELECT p.* FROM passed p
                     JOIN keep0 k ON k.fp = p.fp AND k.doc_id = p.doc_id),
            ssn AS (SELECT doc_id AS id, lang, $normSql AS t FROM surv),
            stk AS (SELECT id, lang, string_split(t, ' ') AS arr FROM ssn),
            swin AS (SELECT id, CAST(i AS INT) AS start,
                       ${h60("array_to_string(arr[CAST(i AS INT):CAST(i + 7 AS INT)], ' ')")} AS fp
                     FROM stk, unnest(generate_series(1, len(arr) - 7)) g(i)
                     WHERE len(arr) >= 8),
            sdup AS (SELECT fp FROM swin GROUP BY fp HAVING count(*) >= 2),
            sds AS (SELECT w.id, w.start FROM swin w JOIN sdup USING (fp)),
            sisl AS (SELECT id, start,
                       start - row_number() OVER (PARTITION BY id ORDER BY start) AS grp
                     FROM sds),
            sspan AS (SELECT id, min(start) AS span_start,
                        max(start) - min(start) + 8 AS span_tokens
                      FROM sisl GROUP BY id, grp),
            scov AS (SELECT id, list_distinct(flatten(list(generate_series(span_start,
                       span_start + span_tokens - 1)))) AS covered
                     FROM sspan GROUP BY id),
            subc AS (SELECT t.id AS doc_id, t.lang,
                       coalesce(array_to_string(
                         CASE WHEN c.covered IS NULL THEN t.arr
                              ELSE list_filter(t.arr, (x, i) ->
                                NOT list_contains(c.covered, CAST(i AS BIGINT))) END,
                         ' '), '') AS text,
                       CAST(len(CASE WHEN c.covered IS NULL THEN t.arr
                              ELSE list_filter(t.arr, (x, i) ->
                                NOT list_contains(c.covered, CAST(i AS BIGINT))) END)
                         AS BIGINT) AS n_tokens
                     FROM stk t LEFT JOIN scov c ON c.id = t.id),
            snorm AS (SELECT doc_id AS id, $normSql AS t FROM subc),
            spos AS (SELECT id, t,
                       unnest(generate_series(1, greatest(length(t) - 4, 1))) AS i
                     FROM snorm),
            shash AS (SELECT DISTINCT id, ${QDedup.shingleHashSql("t", "i")} AS sh
                      FROM spos),
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
            vp AS (SELECT c.id_a, c.id_b
                   FROM cands c
                   JOIN arrs a ON a.id = c.id_a
                   JOIN arrs b ON b.id = c.id_b
                   WHERE CAST(len(list_intersect(a.arr, b.arr)) AS DOUBLE)
                           / CAST(a.sz + b.sz - len(list_intersect(a.arr, b.arr)) AS DOUBLE)
                         >= 0.7e0),
            edges AS (SELECT id_a AS src, id_b AS dst FROM vp
                      UNION ALL SELECT id_b, id_a FROM vp),
            cnodes AS (SELECT DISTINCT src AS id FROM edges),
            walk(id, lbl) AS (
              SELECT id, id FROM cnodes
              UNION
              SELECT e.src, w.lbl FROM edges e JOIN walk w ON w.id = e.dst),
            clus AS (SELECT id, min(lbl) AS canonical FROM walk GROUP BY id),
            canon AS (SELECT * FROM subc WHERE doc_id NOT IN
                        (SELECT id FROM clus WHERE id <> canonical)),
            evtok AS (SELECT doc_id, $toksSql AS toks FROM documents
                      WHERE doc_id % 11 = 0),
            evpos AS (SELECT doc_id, toks,
                        unnest(generate_series(1, greatest(len(toks) - 7, 0))) AS i
                      FROM evtok WHERE len(toks) >= 8),
            evg AS (SELECT DISTINCT
                      ${h60("array_to_string(list_slice(toks, i, i + 7), ' ')")} AS gh
                    FROM evpos),
            ctok AS (SELECT doc_id, $toksSql AS toks FROM canon),
            cpos AS (SELECT doc_id, toks,
                       unnest(generate_series(1, greatest(len(toks) - 7, 0))) AS i
                     FROM ctok WHERE len(toks) >= 8),
            cg AS (SELECT DISTINCT doc_id,
                     ${h60("array_to_string(list_slice(toks, i, i + 7), ' ')")} AS gh
                   FROM cpos),
            contaminated AS (SELECT DISTINCT cg.doc_id FROM cg JOIN evg USING (gh)),
            clean AS (SELECT * FROM canon WHERE doc_id NOT IN
                        (SELECT doc_id FROM contaminated)),
            mixed AS (
              SELECT * FROM clean
              WHERE ${h60("CAST(doc_id AS VARCHAR)")} % 100 <
                    CASE lang WHEN 'en' THEN 50 WHEN 'de' THEN 30
                              WHEN 'fr' THEN 20 WHEN 'es' THEN 10 ELSE 5 END)"""
  }

  private def qsB: Seq[Q] = Seq(

    // Per-document top terms by raw counts: rank tokens by (tf desc,
    // df asc, token asc) — the tf-idf salience ordering WITHOUT the
    // transcendental log (libm log() differs across engines at the ulp
    // level; the rank ordering by (tf, -df) is what idf weighting
    // computes for single documents, and stays integer-exact). Two hash
    // aggregations (token counts, document frequencies) + a broadcast
    // of the df side at dimension scale.
    Q("tx_top_terms",
      (s, d) => {
        val tf = Tables.documents(s, d)
          .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("tok"))
          .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
        val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("doc_id"))
          .orderBy(col("tf").desc, col("df").asc, col("tok").asc)
        tf.join(dfreq, Seq("tok"))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 3)
          .select(col("doc_id"), col("rank"), col("tok"), col("tf"), col("df"))
      },
      Some(s"""WITH tf AS (
                SELECT doc_id, t AS tok, count(*) AS tf
                FROM (SELECT doc_id, unnest($toksSql) AS t FROM documents) u
                GROUP BY 1, 2),
              dfreq AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
              ranked AS (
                SELECT tf.doc_id, tf.tok, tf.tf, dfreq.df,
                       row_number() OVER (PARTITION BY tf.doc_id
                         ORDER BY tf.tf DESC, dfreq.df ASC, tf.tok ASC) AS rank
                FROM tf JOIN dfreq USING (tok))
              SELECT doc_id, rank, tok, tf, df FROM ranked WHERE rank <= 3""")),

    // Context-window chunking: split each document into 128-token chunks
    // with stride 96 (32-token overlap) — the pretraining tokenize-and-
    // chunk step. Chunk starts come from a per-row sequence (no shuffle;
    // the explode fans out inside the scan partition), each chunk carries
    // its md5 fingerprint so content — not just counts — is hash-gated.
    Q("tx_chunk_windows",
      (s, d) => {
        val t = TextOps.tokens(col("text"))
        Tables.documents(s, d)
          .select(col("doc_id"), t.as("t"))
          .select(col("doc_id"), col("t"),
            explode(sequence(lit(0), size(col("t")) - 1, lit(96))).as("start"))
          .select(col("doc_id"),
            expr("cast(start div 96 as bigint)").as("chunk_id"),
            size(slice(col("t"), col("start") + 1, lit(128))).cast("long")
              .as("n_chunk_tokens"),
            md5(array_join(slice(col("t"), col("start") + 1, lit(128)), " "))
              .as("chunk_fp"))
      },
      Some(s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
              st AS (SELECT doc_id, toks,
                       unnest(generate_series(0, len(toks) - 1, 96)) AS start
                     FROM t)
              SELECT doc_id,
                     start // 96 AS chunk_id,
                     CAST(len(list_slice(toks, start + 1, start + 128)) AS BIGINT)
                       AS n_chunk_tokens,
                     md5(array_to_string(list_slice(toks, start + 1, start + 128), ' '))
                       AS chunk_fp
              FROM st""")),

    // Fingerprinting: md5 of normalized text + duplicate-group size.
    Q("tx_fingerprint",
      (s, d) => {
        val fp = Tables.documents(s, d)
          .select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))
        val groups = fp.groupBy(col("fp")).agg(count(lit(1)).as("dup_count"))
        fp.join(groups, Seq("fp")).select(col("doc_id"), col("fp"), col("dup_count"))
      },
      Some(s"""WITH fp AS (SELECT doc_id, md5($normSql) AS fp FROM documents),
              g AS (SELECT fp, count(*) AS dup_count FROM fp GROUP BY fp)
              SELECT doc_id, fp.fp, dup_count FROM fp JOIN g ON fp.fp = g.fp""")),

    // Deterministic global SHUFFLE + sharding — the data-loader prep step
    // of a training pipeline: every document gets a pseudo-random but
    // REPRODUCIBLE position (hash-ordered, stable under retries/re-runs,
    // unlike rand()-ordering), bucketed into shards a loader can read
    // independently. One shuffle (the per-shard window); at 100 TB the
    // shard count scales with the corpus so each shard's sort stays
    // executor-sized — never a global orderBy.
    Q("tx_shard_shuffle",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("shard")).orderBy(col("hh"), col("doc_id"))
        Tables.documents(s, d)
          .select(col("doc_id"),
            TextOps.hash60(col("doc_id").cast("string")).as("hh"))
          .withColumn("shard", col("hh") % 16)
          .withColumn("pos", row_number().over(w).cast("long"))
          .select(col("doc_id"), col("shard"), col("pos"))
      },
      Some("""WITH h AS (SELECT doc_id,
                     CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS hh
                   FROM documents)
              SELECT doc_id, hh % 16 AS shard,
                     row_number() OVER (PARTITION BY hh % 16 ORDER BY hh, doc_id) AS pos
              FROM h""")),

    // Training-shard SINK round-trip — the step after tx_shard_shuffle's
    // assignment: actually WRITE the shards (parquet partitioned by
    // shard, repartition-on-the-partition-column first — the S11
    // no-small-files pattern: one file per shard, not 32 fragments per
    // shard), re-read them from disk, and emit a per-shard manifest
    // (doc count, char sum, position-ordered content checksum) FROM THE
    // RE-READ FILES. The DuckDB oracle derives the same manifest from
    // the source table directly, so a green row proves the artifact on
    // disk is complete and lossless — the loader-facing deliverable,
    // not just the plan that produced it. At scale: one shuffle to
    // co-locate shards, shard count scales with corpus (16 here).
    Q("tx_shard_sink",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("shard")).orderBy(col("hh"), col("doc_id"))
        val assigned = Tables.documents(s, d)
          .select(col("doc_id"), col("text"), col("n_chars"),
            TextOps.hash60(col("doc_id").cast("string")).as("hh"))
          .withColumn("shard", col("hh") % 16)
          .withColumn("pos", row_number().over(w).cast("long"))
        val dir = graft.Scratch.dirFor("tx_shard_sink", d)
        assigned.repartition(col("shard"))
          .write.mode("overwrite").partitionBy("shard")
          .option("compression", "snappy").parquet(s"$dir/shards")
        s.read.parquet(s"$dir/shards")
          .groupBy(col("shard").cast("long").as("shard"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("sum_chars"),
            expr("""md5(array_join(
                      transform(array_sort(collect_list(struct(pos, md5(text)))),
                                x -> x.col2), '_'))""").as("content_fp"))
      },
      Some("""WITH h AS (SELECT doc_id, text, n_chars,
                     CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS hh
                   FROM documents),
              a AS (SELECT text, n_chars, hh % 16 AS shard,
                      row_number() OVER (PARTITION BY hh % 16 ORDER BY hh, doc_id) AS pos
                    FROM h)
              SELECT shard, count(*) AS n_docs,
                     CAST(sum(n_chars) AS BIGINT) AS sum_chars,
                     md5(string_agg(md5(text), '_' ORDER BY pos)) AS content_fp
              FROM a GROUP BY shard""")),

    // Inverted-index build + sink round trip — the serving-side
    // complement of tx_bm25_topk (batch scoring scans the corpus;
    // SERVING needs the term-keyed posting layout). Posting lists are
    // SEGMENTED (64 postings per segment, ordered by doc_id) — the
    // standard cap that keeps a stop-word's corpus-sized posting list
    // from becoming one giant row/task at 100 TB; segment size is small
    // here so the segmentation genuinely exercises at sf0.01 (common
    // vocab terms span 7+ segments). The index is written
    // range-partitioned by (term, seg) — the lexicographic layout a
    // term lookup prunes to one file range — then re-read, and the
    // oracle gates a per-(term, seg) manifest: df, summed tf, and an
    // order-pinned md5 over the rendered postings, so CONTENT and
    // ORDER of every segment survive the round trip, not just counts.
    Q("tx_inverted_index",
      (s, d) => {
        val tf = Tables.documents(s, d)
          .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("term"))
          .groupBy(col("term"), col("doc_id")).agg(count(lit(1)).as("tf"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("term")).orderBy(col("doc_id"))
        val postings = tf
          .withColumn("seg",
            ((row_number().over(w) - 1) / 64).cast("int"))
          .groupBy(col("term"), col("seg"))
          .agg(sort_array(collect_list(struct(col("doc_id"), col("tf"))))
            .as("plist"))
        val dir = graft.Scratch.dirFor("tx_inverted_index", d)
        postings.repartitionByRange(col("term"), col("seg"))
          .sortWithinPartitions(col("term"), col("seg"))
          .write.mode("overwrite").parquet(s"$dir/index")
        s.read.parquet(s"$dir/index")
          .select(col("term"), col("seg"),
            size(col("plist")).cast("long").as("df_seg"),
            expr("aggregate(plist, cast(0 as bigint), (acc, p) -> acc + p.tf)")
              .as("tf_sum"),
            expr("""md5(array_join(transform(plist,
                      p -> concat(cast(p.doc_id as string), ':',
                                  cast(p.tf as string))), ' '))""").as("fp"))
      },
      Some(s"""WITH tf AS (
                SELECT t AS term, doc_id, count(*) AS tf
                FROM (SELECT doc_id, unnest($toksSql) AS t FROM documents) u
                GROUP BY 1, 2),
              seg AS (SELECT term, doc_id, tf,
                        (row_number() OVER (PARTITION BY term
                           ORDER BY doc_id) - 1) // 64 AS seg
                      FROM tf)
              SELECT term, seg, count(*) AS df_seg,
                     CAST(sum(tf) AS BIGINT) AS tf_sum,
                     md5(string_agg(CAST(doc_id AS VARCHAR) || ':'
                       || CAST(tf AS VARCHAR), ' ' ORDER BY doc_id)) AS fp
              FROM seg GROUP BY 1, 2""")),

    // PII redaction — the scrub pass every corpus runs before training.
    // The synthetic texts carry no contact strings, so the query FIRST
    // derives a contaminated variant (email + phone appended from
    // doc_id/source — deterministic, both engines build the identical
    // string), then redacts with conservative patterns that parse the
    // same under Java regex and RE2, and hash-gates the REDACTED text.
    // Pure per-row expressions — zero exchanges at any scale.
    Q("tx_redact_pii",
      (s, d) => {
        val contaminated = concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"), lit("@"),
          col("source"), lit(".example.com or 555-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
        val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
        val phoneRe = "555-[0-9]{4}"
        Tables.documents(s, d)
          .select(col("doc_id"), contaminated.as("raw"))
          .select(col("doc_id"),
            regexp_count(col("raw"), lit(emailRe)).cast("long").as("n_emails"),
            regexp_count(col("raw"), lit(phoneRe)).cast("long").as("n_phones"),
            md5(regexp_replace(regexp_replace(col("raw"), emailRe, "<EMAIL>"),
              phoneRe, "<PHONE>")).as("red_fp"))
      },
      Some("""WITH raw AS (
                SELECT doc_id,
                       text || ' contact user' || CAST(doc_id AS VARCHAR) || '@'
                            || source || '.example.com or 555-'
                            || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS raw
                FROM documents)
              SELECT doc_id,
                     len(regexp_extract_all(raw, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
                     len(regexp_extract_all(raw, '555-[0-9]{4}')) AS n_phones,
                     md5(regexp_replace(regexp_replace(raw,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                       '555-[0-9]{4}', '<PHONE>', 'g')) AS red_fp
              FROM raw""")),

    // Source-level duplication profile + blocklist (the RefinedWeb/
    // FineWeb domain-screen pattern — see Dedup.sourceBlocklist for the
    // operator and its scale shape). "Near-duplicate" is the MinHash+LSH
    // tier's verified pairs ([[QDedup.minhashPairs]], memo-shared with
    // `dd_minhash_lsh`, so the two screens can never disagree); blocked
    // when ≥ 16% of a source's documents sit in a verified pair.
    Q("tx_source_blocklist",
      (s, d) => graft.llmdata.Dedup.sourceBlocklist(
        Tables.documents(s, d), QDedup.minhashPairs(s, d),
        idCol = "doc_id", sourceCol = "source", blockPct = 16),
      Some(s"""WITH ${QDedup.minhashVerifiedCte},
              nd AS (SELECT DISTINCT id FROM (
                       SELECT id_a AS id FROM verified
                       UNION ALL
                       SELECT id_b AS id FROM verified) u)
              SELECT d.source,
                     count(*) AS n_docs,
                     CAST(sum(CASE WHEN nd.id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_neardup,
                     CAST(sum(CASE WHEN nd.id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
                       / CAST(count(*) AS DOUBLE) AS nd_share,
                     CAST(sum(CASE WHEN nd.id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) * 100
                       >= count(*) * 16 AS blocked
              FROM documents d
              LEFT JOIN nd ON nd.id = d.doc_id
              GROUP BY d.source""")),

    // Gopher repetition-rule battery (Rae et al. 2021, Table A1): top
    // n-gram fraction for n=2..4 and duplicate n-gram fraction for
    // n=5 and 10, each with the paper's threshold, plus the conjunctive
    // keep decision. TWO documented deviations from the paper: (1) the
    // line/paragraph duplicate rules need newline structure the
    // synthetic corpus doesn't have — same rule shape over a different
    // split; (2) fractions here weight gram OCCURRENCES where the paper
    // weights the CHARACTERS contained in those grams — the occurrence
    // variant keeps every ratio a pure integer cross-multiplication
    // (char-weighting would need per-gram byte lengths), at the cost
    // that documents whose repeated grams are unusually long/short
    // tokens can land on the other side of a threshold than the
    // paper's weighting would put them.
    // The synthetic corpus is too uniform to trip any rule on its own
    // (every threshold sat at 0 hits at sf0.01 — a vacuous gate), so,
    // like tx_redact_pii manufactures its PII, each doc gets an
    // in-query repetition injection at a doc_id-graded intensity
    // (0–100% of its own length as a repeated token) — the rules then
    // genuinely partition the corpus and every flag fires on some docs
    // and not others. All signals are in-row: positional gram hashes
    // (tokengrampos60), distinct counts via array_distinct, and the
    // top-gram count as a max-run-length fold over the SORTED hash
    // array — O(L log L) per document, ZERO exchanges, no per-gram
    // relation ever materializes. Flags are integer
    // cross-multiplications (top*100 > total*20), so the whole row is
    // exact.
    Q("tx_gopher_rules",
      (s, d) => {
        // graded repetition injection: 0/25/50/75/100% of the doc's own
        // token count as a trailing run of one repeated token
        val nt = size(TextOps.tokens(col("text")))
        val k = ((col("doc_id") % 5).cast("int") * (nt / 4).cast("int"))
        val raw = concat(col("text"),
          call_function("repeat", lit(" spam"), k))
        val norm = TextOps.normalized(raw)
        def arr(n: Int) =
          call_function("tokengrampos60", norm, lit(n))
        def total(n: Int) = size(arr(n)).cast("long")
        def dist(n: Int) = size(array_distinct(arr(n))).cast("long")
        // max run length over the sorted hashes == occurrences of the
        // most frequent gram (hashes are 60-bit, sentinel can't collide)
        def topCnt(n: Int) = aggregate(
          sort_array(arr(n)),
          struct(lit(Long.MinValue).as("prev"), lit(0L).as("run"),
            lit(0L).as("best")),
          (st, x) => {
            val run = when(x === st.getField("prev"),
              st.getField("run") + 1L).otherwise(lit(1L))
            struct(x.as("prev"), run.as("run"),
              greatest(st.getField("best"), run).as("best"))
          },
          st => st.getField("best"))
        val t2 = total(2); val t3 = total(3); val t4 = total(4)
        val p2 = topCnt(2); val p3 = topCnt(3); val p4 = topCnt(4)
        val t5 = total(5); val d5 = dist(5)
        val t10 = total(10); val d10 = dist(10)
        val fTop2 = p2 * 100L > t2 * 20L
        val fTop3 = p3 * 100L > t3 * 18L
        val fTop4 = p4 * 100L > t4 * 16L
        val fDup5 = (t5 - d5) * 100L > t5 * 15L
        val fDup10 = (t10 - d10) * 100L > t10 * 10L
        Tables.documents(s, d).select(
          col("doc_id"),
          t2.as("t2"), p2.as("top2"), t3.as("t3"), p3.as("top3"),
          t4.as("t4"), p4.as("top4"), t5.as("t5"), d5.as("d5"),
          t10.as("t10"), d10.as("d10"),
          fTop2.as("f_top2"), fTop3.as("f_top3"), fTop4.as("f_top4"),
          fDup5.as("f_dup5"), fDup10.as("f_dup10"),
          (!fTop2 && !fTop3 && !fTop4 && !fDup5 && !fDup10).as("keep"))
      },
      Some {
        val h60 = QDedup.h60
        def gramCte(n: Int) =
          s"""g$n AS (SELECT doc_id,
                ${h60(s"array_to_string(list_slice(toks, i, i + ${n - 1}), ' ')")} AS gh
              FROM (SELECT doc_id, toks,
                      unnest(generate_series(1, greatest(len(toks) - ${n - 1}, 0))) AS i
                    FROM tok WHERE len(toks) >= $n))"""
        def statsCte(n: Int) =
          s"""s$n AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS total$n,
                count(*) AS dist$n, max(c) AS top$n
              FROM (SELECT doc_id, gh, count(*) AS c FROM g$n GROUP BY 1, 2)
              GROUP BY 1)"""
        val ns = Seq(2, 3, 4, 5, 10)
        s"""WITH raw AS (SELECT doc_id,
                text || repeat(' spam',
                  CAST((doc_id % 5) * (len($toksSql) // 4) AS INT)) AS rw
              FROM documents),
            tok AS (SELECT doc_id,
                string_split(trim(regexp_replace(lower(rw), '\\s+', ' ', 'g')), ' ') AS toks
              FROM raw),
            ${ns.map(gramCte).mkString(",\n            ")},
            ${ns.map(statsCte).mkString(",\n            ")}
            SELECT d.doc_id,
                   coalesce(s2.total2, 0) AS t2, coalesce(s2.top2, 0) AS top2,
                   coalesce(s3.total3, 0) AS t3, coalesce(s3.top3, 0) AS top3,
                   coalesce(s4.total4, 0) AS t4, coalesce(s4.top4, 0) AS top4,
                   coalesce(s5.total5, 0) AS t5, coalesce(s5.dist5, 0) AS d5,
                   coalesce(s10.total10, 0) AS t10, coalesce(s10.dist10, 0) AS d10,
                   coalesce(s2.top2, 0) * 100 > coalesce(s2.total2, 0) * 20 AS f_top2,
                   coalesce(s3.top3, 0) * 100 > coalesce(s3.total3, 0) * 18 AS f_top3,
                   coalesce(s4.top4, 0) * 100 > coalesce(s4.total4, 0) * 16 AS f_top4,
                   (coalesce(s5.total5, 0) - coalesce(s5.dist5, 0)) * 100
                     > coalesce(s5.total5, 0) * 15 AS f_dup5,
                   (coalesce(s10.total10, 0) - coalesce(s10.dist10, 0)) * 100
                     > coalesce(s10.total10, 0) * 10 AS f_dup10,
                   NOT (coalesce(s2.top2, 0) * 100 > coalesce(s2.total2, 0) * 20
                     OR coalesce(s3.top3, 0) * 100 > coalesce(s3.total3, 0) * 18
                     OR coalesce(s4.top4, 0) * 100 > coalesce(s4.total4, 0) * 16
                     OR (coalesce(s5.total5, 0) - coalesce(s5.dist5, 0)) * 100
                          > coalesce(s5.total5, 0) * 15
                     OR (coalesce(s10.total10, 0) - coalesce(s10.dist10, 0)) * 100
                          > coalesce(s10.total10, 0) * 10) AS keep
            FROM documents d
            LEFT JOIN s2 USING (doc_id) LEFT JOIN s3 USING (doc_id)
            LEFT JOIN s4 USING (doc_id) LEFT JOIN s5 USING (doc_id)
            LEFT JOIN s10 USING (doc_id)"""
      }),

    // Lexical BM25 top-k retrieval (Robertson-Spärck Jones weighting;
    // training-data extension — the retrieval step of targeted corpus
    // selection / eval-set mining). k1=1.2 and b=0.75 are carried as
    // exact rationals and the whole score is integer milli-units: idf
    // comes from the integer log2milli, the per-term score is one
    // integer division of cross-multiplied BIGINTs, so per-doc sums are
    // exact and order-independent — hash-comparable against the oracle
    // where a floating BM25 never is. Scale shape: tokens are filtered
    // to the (broadcast) query-term set BEFORE any shuffle, so the tf
    // aggregation moves query-hit rows only — corpus scans stay linear
    // and the top-k is a per-query window over the scored slice.
    Q("tx_bm25_topk",
      (s, d) => {
        val queries = s.createDataFrame(Seq(
          (1L, "spark window join"),
          (2L, "hash table scan"),
          (3L, "stream batch customer"))).toDF("query_id", "qtext")
        val qterms = queries.select(col("query_id"),
          explode(split(col("qtext"), " ")).as("tok"))
        val toks = Tables.documents(s, d)
          .select(col("doc_id"),
            size(TextOps.tokens(col("text"))).cast("long").as("dl"),
            explode(TextOps.tokens(col("text"))).as("tok"))
        // per-(doc, term) tf over query terms only — dl rides along so
        // no second join against a doc-length relation is needed.
        // Persisted: both the df aggregation and the scoring join
        // consume it, and without the persist the whole corpus-scan +
        // broadcast-filter + tf-shuffle pipeline runs twice
        val th = graft.Caches.registerTransient(toks
          .join(broadcast(qterms.select(col("tok")).distinct()), Seq("tok"))
          .groupBy(col("doc_id"), col("tok"))
          .agg(max(col("dl")).as("dl"), count(lit(1)).as("tf"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        val dfreq = th.groupBy(col("tok")).agg(count(lit(1)).as("df"))
        val stats = Tables.documents(s, d)
          .select(size(TextOps.tokens(col("text"))).cast("long").as("dl"))
          .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("tot_len"))
          .select(col("n_docs"),
            expr("(1000 * tot_len) div n_docs").as("avgdl_milli"))
        val scored = th
          .join(broadcast(dfreq), Seq("tok"))
          .join(broadcast(qterms), Seq("tok"))
          .crossJoin(broadcast(stats))
          // idf = log2((N + 1) / (df + 0.5)) = log2(2N+2) - log2(2df+1)
          .withColumn("idf_milli",
            call_function("log2milli", lit(2L) * col("n_docs") + lit(2L)) -
              call_function("log2milli", lit(2L) * col("df") + lit(1L)))
          // idf * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl)) with
          // k1=6/5, b=3/4, cross-multiplied by 10*avgdl_milli
          .withColumn("score_term", expr(
            """(idf_milli * tf * 22 * avgdl_milli)
               div (10 * tf * avgdl_milli + 3 * avgdl_milli + 9000 * dl)"""))
          .groupBy(col("query_id"), col("doc_id"))
          .agg(sum(col("score_term")).as("score_milli"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id"))
          .orderBy(col("score_milli").desc, col("doc_id").asc)
        scored.withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 10)
          .select(col("query_id"), col("rank"), col("doc_id"),
            col("score_milli"))
      },
      Some {
        val l2m = l2mSql
        s"""WITH q(query_id, qtext) AS (VALUES
                (CAST(1 AS BIGINT), 'spark window join'),
                (CAST(2 AS BIGINT), 'hash table scan'),
                (CAST(3 AS BIGINT), 'stream batch customer')),
            qt AS (SELECT query_id, unnest(string_split(qtext, ' ')) AS tok
                   FROM q),
            toks AS (SELECT doc_id, len($toksSql) AS dl,
                       unnest($toksSql) AS tok FROM documents),
            th AS (SELECT doc_id, tok, max(dl) AS dl, count(*) AS tf
                   FROM toks
                   WHERE tok IN (SELECT DISTINCT tok FROM qt)
                   GROUP BY 1, 2),
            dfreq AS (SELECT tok, count(*) AS df FROM th GROUP BY 1),
            st AS (SELECT count(*) AS n_docs,
                     (1000 * sum(len($toksSql))) // count(*) AS avgdl_milli
                   FROM documents),
            scored AS (
              SELECT qt.query_id, th.doc_id,
                CAST(sum(
                  ((${l2m("(2 * st.n_docs + 2)")} - ${l2m("(2 * dfreq.df + 1)")})
                    * th.tf * 22 * st.avgdl_milli)
                  // (10 * th.tf * st.avgdl_milli + 3 * st.avgdl_milli
                      + 9000 * th.dl)) AS BIGINT) AS score_milli
              FROM th
              JOIN dfreq USING (tok)
              JOIN qt USING (tok)
              CROSS JOIN st
              GROUP BY 1, 2),
            ranked AS (
              SELECT query_id, doc_id, score_milli,
                     row_number() OVER (PARTITION BY query_id
                       ORDER BY score_milli DESC, doc_id ASC) AS rank
              FROM scored)
            SELECT query_id, rank, doc_id, score_milli
            FROM ranked WHERE rank <= 10"""
      }),

    // Model-based quality filtering with a hashed linear classifier —
    // the fastText-style structure (bag of hashed uni+bigrams → linear
    // score → keep/drop threshold) used by DCLM/FineWeb-Edu-type
    // curation. Real trained weights are an artifact this container
    // can't ship, so the weight table is a deterministic affine mix of
    // the feature bucket — the Spark-side structure (hashing trick,
    // 16k-bucket table, per-doc accumulate, thresholded keep) is the
    // real thing and the whole score is int64-exact for the oracle.
    // Scale shape: signature of the classifier is ZERO exchanges — both
    // n-gram families hash in-row (native tokengramhash60 for bigrams),
    // the accumulate is a per-row fold, the keep decision a codegen'd
    // comparison. A 100 TB corpus scores in one scan with no shuffle at
    // all; swapping real weights in = replacing the affine mix with a
    // 16k-entry broadcast array lookup, same plan shape.
    Q("tx_quality_classifier",
      (s, d) => {
        val score = classifierScoreCol
        val toks = TextOps.tokens(col("text"))
        Tables.documents(s, d).select(
          col("doc_id"),
          size(toks).cast("long").as("n_tokens"),
          greatest(size(toks) - 1, lit(0)).cast("long").as("n_bigrams"),
          score.as("score_milli"),
          (score >= 0L).as("keep"))
      },
      Some(s"""WITH $classifierCtes
            SELECT u.doc_id, u.n_tokens,
                   CAST(greatest(u.n_tokens - 1, 0) AS BIGINT) AS n_bigrams,
                   u.s_uni + coalesce(b.s_bi, 0) AS score_milli,
                   u.s_uni + coalesce(b.s_bi, 0) >= 0 AS keep
            FROM uni u LEFT JOIN bi b USING (doc_id)""")),

    // TRAINED-WEIGHT path of the classifier: the same hashed uni+bigram
    // structure scoring against an EXPLICIT 16384-entry weight vector
    // (element_at lookup into a plan-literal array — the exact
    // integration seam a real fastText export drops into; weights here
    // are a deterministic LCG fill, since no trained artifact ships in
    // this container, but the LOOKUP plan is the real thing and
    // `ClassifierWeightsSpec` pins it to the same zero-exchange shape
    // as the affine-mix path). A user with trained weights swaps
    // `demoWeights` for their exported vector and changes nothing else.
    Q("tx_quality_classifier_weights",
      (s, d) => {
        val score = classifierScoreWeighted(demoWeights)
        val toks = TextOps.tokens(col("text"))
        Tables.documents(s, d).select(
          col("doc_id"),
          size(toks).cast("long").as("n_tokens"),
          score.as("score_milli"),
          (score >= 0L).as("keep"))
      },
      Some {
        val wSql = (h: String) => s"(($h % 16384) * 48271 + 7919) % 2001 - 1000"
        s"""WITH ${classifierCtesWith(wSql)}
            SELECT u.doc_id, u.n_tokens,
                   u.s_uni + coalesce(b.s_bi, 0) AS score_milli,
                   u.s_uni + coalesce(b.s_bi, 0) >= 0 AS keep
            FROM uni u LEFT JOIN bi b USING (doc_id)"""
      }),

    // Mixture-reweighting plan (ext.) — the sampling plan a
    // multi-source training mix is built from (Pile/DoReMi-style):
    // given integer target weights per source, find the LARGEST corpus
    // size achievable by subsampling only (no source may be asked for
    // more tokens than it has: C* = min_i over sources of
    // tokens_i·S div w_i), then each source's planned token count and
    // acceptance ratio in exact integer milli-units. ONE token-count
    // agg over the corpus; the per-source plan math runs on a
    // |sources|-row frame against broadcast grand totals. Weights here
    // derive deterministically from the source name (first-char code)
    // so both engines build the identical target vector; swapping in a
    // real config table changes one 20-row input.
    Q("tx_mix_reweight",
      (s, d) => {
        import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
        val perSrc = graft.Caches.registerTransient(
          Tables.documents(s, d)
            .groupBy(col("source"))
            .agg(count(lit(1)).as("n_docs"),
              sum(size(TextOps.tokens(col("text"))).cast("long"))
                .as("n_tokens"))
            .withColumn("w",
              ascii(substring(col("source"), 1, 1)).cast("long"))
            .persist(MEMORY_AND_DISK))
        val sw = perSrc.agg(sum(col("w")).as("sw"))
        val withSw = perSrc.crossJoin(broadcast(sw))
        val cstar = withSw
          .agg(min(expr("(n_tokens * sw) div w")).as("cstar"))
        withSw.crossJoin(broadcast(cstar))
          .select(col("source"), col("n_docs"), col("n_tokens"),
            col("w").as("target_w"),
            expr("(cstar * w) div sw").as("planned_tokens"),
            expr("(((cstar * w) div sw) * 1000) div n_tokens")
              .as("accept_milli"))
      },
      Some(s"""WITH per AS (
                SELECT source, count(*) AS n_docs,
                       CAST(sum(len($toksSql)) AS BIGINT) AS n_tokens
                FROM documents GROUP BY 1),
              pw AS (SELECT source, n_docs, n_tokens,
                       CAST(ascii(substr(source, 1, 1)) AS BIGINT) AS w
                     FROM per),
              sw AS (SELECT CAST(sum(w) AS BIGINT) AS sw FROM pw),
              cs AS (SELECT min((n_tokens * sw) // w) AS cstar
                     FROM pw CROSS JOIN sw)
              SELECT source, n_docs, n_tokens, w AS target_w,
                     (cstar * w) // sw AS planned_tokens,
                     (((cstar * w) // sw) * 1000) // n_tokens
                       AS accept_milli
              FROM pw CROSS JOIN sw CROSS JOIN cs""")),

    // Incremental curation (ext.) — the composition an OPERATING corpus
    // pipeline actually runs on refresh day: the v2 snapshot's diff
    // (shared construction with s14_snapshot_diff — QFilters.snapshotV2)
    // selects ONLY added/changed docs, which then face the quality gate
    // (same classifier expression as tx_quality_classifier), exact-dup
    // rejection against the retained (unchanged) corpus, and LSH
    // near-dup admission against that corpus's capped probe index —
    // never re-processing the unchanged bulk. Emits the full decision
    // table (doc_id, decision), precedence quality > exact > neardup.
    // Scale shape: everything downstream of the diff is sized by the
    // DELTA (at 100 TB the refresh touches the changed sliver only);
    // the corpus side contributes one fingerprint set + one capped band
    // index, both reusable across refreshes.
    Q("tx_incremental_curation",
      (s, d) => {
        import graft.llmdata.Dedup
        import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
        val v1 = Tables.documents(s, d)
        val j = QFilters.snapshotV2(v1)
          .select(col("doc_id"), col("text"))
          .join(v1.select(col("doc_id"), md5(col("text")).as("h1")),
            Seq("doc_id"), "left")
        val delta = j.filter(col("h1").isNull || col("h1") =!= md5(col("text")))
          .select(col("doc_id"), col("text"))
        val corpus = j.filter(col("h1") === md5(col("text")))
          .select(col("doc_id"), col("text"))
        val scored = graft.Caches.registerTransient(
          delta.withColumn("ok_q", classifierScoreCol >= 0L)
            .persist(MEMORY_AND_DISK))
        val pass = scored.filter(col("ok_q")).select(col("doc_id"), col("text"))
        val fp = TextOps.fingerprint(col("text"))
        val exactRej = pass.select(col("doc_id"), fp.as("fp"))
          .join(corpus.select(fp.as("fp")).distinct(), Seq("fp"), "left_semi")
          .select(col("doc_id"))
        val prof = graft.Caches.registerTransient(
          Dedup.docProfilesLocal(corpus.unionByName(pass), "doc_id", "text",
              n = 5, k = 32)
            .persist(MEMORY_AND_DISK))
        val keys = Dedup.bandKeys(prof, k = 32, bands = 4)
        val passIds = pass.select(col("doc_id").as("id"))
        val cands = keys.join(passIds, Seq("id"), "left_semi").as("b")
          .join(Dedup.capProbeKeys(
              keys.join(passIds, Seq("id"), "left_anti"),
              Dedup.lshMaxBucket(s)).as("c"),
            col("b.band") === col("c.band") &&
              col("b.bucket") === col("c.bucket"))
          .select(col("b.id").as("id_a"), col("c.id").as("id_b"))
          .distinct()
        val ndRej = Dedup.jaccardOnProfiles(prof, cands, threshold = 0.7)
          .select(col("id_a").as("doc_id")).distinct()
        scored
          .join(exactRej.withColumn("__ex", lit(1)), Seq("doc_id"), "left")
          .join(ndRej.withColumn("__nd", lit(1)), Seq("doc_id"), "left")
          .select(col("doc_id"),
            when(!col("ok_q"), "rejected_quality")
              .when(col("__ex") === 1, "rejected_exact")
              .when(col("__nd") === 1, "rejected_neardup")
              .otherwise("admitted").as("decision"))
      },
      Some {
        val wSql = (h: String) => s"(($h % 16384) * 40503 + 12345) % 2001 - 1000"
        s"""WITH ${QFilters.snapshotV2Sql},
            vh AS (SELECT doc_id, md5(text) AS h1 FROM documents),
            dj AS (SELECT v2.doc_id, v2.text, vh.h1
                   FROM v2 LEFT JOIN vh USING (doc_id)),
            delta AS (SELECT doc_id, text FROM dj
                      WHERE h1 IS NULL OR h1 <> md5(text)),
            corpus AS (SELECT doc_id, text FROM dj WHERE h1 = md5(text)),
            ${classifierCtesWith(wSql, "delta")},
            scoredq AS (
              SELECT u.doc_id,
                     u.s_uni + coalesce(b.s_bi, 0) >= 0 AS ok_q
              FROM uni u LEFT JOIN bi b USING (doc_id)),
            passq AS (SELECT d2.doc_id, d2.text
                      FROM delta d2 JOIN scoredq sq USING (doc_id)
                      WHERE sq.ok_q),
            cfp AS (SELECT DISTINCT md5($normSql) AS fp FROM corpus),
            exrej AS (SELECT doc_id FROM passq
                      WHERE md5($normSql) IN (SELECT fp FROM cfp)),
            aug AS (SELECT doc_id, text FROM corpus
                    UNION ALL SELECT doc_id, text FROM passq),
            ${QDedup.shinglesSqlOver("aug")},
            hashed AS (
              SELECT id, sh, sh % 2147483647 AS h1,
                     ((40503 * (sh // 1073741824)) % 2147483647 * 1073741824
                        % 2147483647
                      + 40503 * (sh % 1073741824) + 12345) % 2147483647 AS h2
              FROM shash),
            mh AS (
              SELECT id, CAST(i AS INT) AS i,
                     min((h1 + i * h2) % 2147483647) AS mh
              FROM hashed CROSS JOIN generate_series(0, 31) g(i)
              GROUP BY id, CAST(i AS INT)),
            banded AS (
              SELECT id, CAST(i // 8 AS INT) AS band,
                     md5(string_agg(
                       CAST(i AS VARCHAR) || ':' || CAST(mh AS VARCHAR), '_'
                       ORDER BY CAST(i AS VARCHAR) || ':' || CAST(mh AS VARCHAR)))
                       AS bucket
              FROM mh GROUP BY id, band),
            cand AS (SELECT DISTINCT b.id AS id_a, c.id AS id_b
                     FROM banded b JOIN banded c
                       ON b.band = c.band AND b.bucket = c.bucket
                     WHERE b.id IN (SELECT doc_id FROM passq)
                       AND c.id NOT IN (SELECT doc_id FROM passq)),
            arrs AS (SELECT id, list(DISTINCT sh) AS arr,
                            count(DISTINCT sh) AS sz
                     FROM hashed GROUP BY id),
            ndrej AS (SELECT DISTINCT cand.id_a AS doc_id
                      FROM cand
                      JOIN arrs a ON a.id = cand.id_a
                      JOIN arrs b ON b.id = cand.id_b
                      WHERE CAST(len(list_intersect(a.arr, b.arr)) AS DOUBLE)
                              / CAST(a.sz + b.sz
                                - len(list_intersect(a.arr, b.arr)) AS DOUBLE)
                            >= 0.7e0)
            SELECT sq.doc_id,
                   CASE WHEN NOT sq.ok_q THEN 'rejected_quality'
                        WHEN sq.doc_id IN (SELECT doc_id FROM exrej)
                          THEN 'rejected_exact'
                        WHEN sq.doc_id IN (SELECT doc_id FROM ndrej)
                          THEN 'rejected_neardup'
                        ELSE 'admitted' END AS decision
            FROM scoredq sq"""
      }),

    // RAG passage retrieval — the chunk-then-retrieve composition a
    // retrieval-augmented pipeline serves: the corpus is split into the
    // SAME 128-token / stride-96 passages as tx_chunk_windows, each
    // passage is BM25-scored (identical integer milli-unit formula and
    // k1/b rationals as tx_bm25_topk — the idf/avgdl statistics are
    // passage-level) against the query set, and the top-3 passages per
    // query ship with their (doc, chunk) address. Scale shape inherits
    // both parents': chunk fan-out happens inside the scan partition
    // (no shuffle), passage tokens are filtered against the broadcast
    // query-term set BEFORE the tf aggregation — so the whole retrieval
    // moves query-hit passage rows only, and the top-k is a per-query
    // window over the scored slice.
    Q("tx_rag_retrieve",
      (s, d) => {
        val queries = s.createDataFrame(Seq(
          (1L, "spark window join"),
          (2L, "hash table scan"),
          (3L, "stream batch customer"))).toDF("query_id", "qtext")
        val qterms = queries.select(col("query_id"),
          explode(split(col("qtext"), " ")).as("tok"))
        val chunks = Tables.documents(s, d)
          .select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
          .select(col("doc_id"), col("t"),
            explode(sequence(lit(0), size(col("t")) - 1, lit(96)))
              .as("start"))
          .select(col("doc_id"),
            expr("cast(start div 96 as bigint)").as("chunk_id"),
            slice(col("t"), col("start") + 1, lit(128)).as("ct"))
        val toks = chunks.select(col("doc_id"), col("chunk_id"),
          size(col("ct")).cast("long").as("dl"),
          explode(col("ct")).as("tok"))
        val th = graft.Caches.registerTransient(toks
          .join(broadcast(qterms.select(col("tok")).distinct()), Seq("tok"))
          .groupBy(col("doc_id"), col("chunk_id"), col("tok"))
          .agg(max(col("dl")).as("dl"), count(lit(1)).as("tf"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        val dfreq = th.groupBy(col("tok")).agg(count(lit(1)).as("df"))
        val stats = chunks
          .select(size(col("ct")).cast("long").as("dl"))
          .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("tot_len"))
          .select(col("n_docs"),
            expr("(1000 * tot_len) div n_docs").as("avgdl_milli"))
        val scored = th
          .join(broadcast(dfreq), Seq("tok"))
          .join(broadcast(qterms), Seq("tok"))
          .crossJoin(broadcast(stats))
          .withColumn("idf_milli",
            call_function("log2milli", lit(2L) * col("n_docs") + lit(2L)) -
              call_function("log2milli", lit(2L) * col("df") + lit(1L)))
          .withColumn("score_term", expr(
            """(idf_milli * tf * 22 * avgdl_milli)
               div (10 * tf * avgdl_milli + 3 * avgdl_milli + 9000 * dl)"""))
          .groupBy(col("query_id"), col("doc_id"), col("chunk_id"))
          .agg(sum(col("score_term")).as("score_milli"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id"))
          .orderBy(col("score_milli").desc, col("doc_id").asc,
            col("chunk_id").asc)
        scored.withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 3)
          .select(col("query_id"), col("rank"), col("doc_id"),
            col("chunk_id"), col("score_milli"))
      },
      Some {
        val l2m = l2mSql
        s"""WITH q(query_id, qtext) AS (VALUES
                (CAST(1 AS BIGINT), 'spark window join'),
                (CAST(2 AS BIGINT), 'hash table scan'),
                (CAST(3 AS BIGINT), 'stream batch customer')),
            qt AS (SELECT query_id, unnest(string_split(qtext, ' ')) AS tok
                   FROM q),
            t AS (SELECT doc_id, $toksSql AS toks FROM documents),
            ch AS (SELECT doc_id,
                     unnest(generate_series(0, len(toks) - 1, 96)) AS start,
                     toks
                   FROM t),
            chunks AS (SELECT doc_id, start // 96 AS chunk_id,
                         list_slice(toks, start + 1, start + 128) AS ct
                       FROM ch),
            toks2 AS (SELECT doc_id, chunk_id,
                        CAST(len(ct) AS BIGINT) AS dl, unnest(ct) AS tok
                      FROM chunks),
            th AS (SELECT doc_id, chunk_id, tok, max(dl) AS dl,
                     count(*) AS tf
                   FROM toks2
                   WHERE tok IN (SELECT DISTINCT tok FROM qt)
                   GROUP BY 1, 2, 3),
            dfreq AS (SELECT tok, count(*) AS df FROM th GROUP BY 1),
            st AS (SELECT count(*) AS n_docs,
                     (1000 * sum(CAST(len(ct) AS BIGINT))) // count(*)
                       AS avgdl_milli
                   FROM chunks),
            scored AS (
              SELECT qt.query_id, th.doc_id, th.chunk_id,
                CAST(sum(
                  ((${l2m("(2 * st.n_docs + 2)")} - ${l2m("(2 * dfreq.df + 1)")})
                    * th.tf * 22 * st.avgdl_milli)
                  // (10 * th.tf * st.avgdl_milli + 3 * st.avgdl_milli
                      + 9000 * th.dl)) AS BIGINT) AS score_milli
              FROM th
              JOIN dfreq USING (tok)
              JOIN qt USING (tok)
              CROSS JOIN st
              GROUP BY 1, 2, 3),
            ranked AS (
              SELECT query_id, doc_id, chunk_id, score_milli,
                     row_number() OVER (PARTITION BY query_id
                       ORDER BY score_milli DESC, doc_id ASC, chunk_id ASC)
                       AS rank
              FROM scored)
            SELECT query_id, rank, doc_id, chunk_id, score_milli
            FROM ranked WHERE rank <= 3"""
      })
  )

  /** Deterministic 16384-entry stand-in weight vector for the
    * trained-weight classifier path: weights[b] = (b·48271 + 7919) mod
    * 2001 − 1000 milli-units — a DIFFERENT generator than the affine-mix
    * path, so a green oracle row proves the lookup is actually read.
    */
  private[queries] val demoWeights: Array[Long] =
    Array.tabulate(16384)(b => ((b.toLong * 48271L + 7919L) % 2001L) - 1000L)

  /** [[classifierScoreCol]] with the affine mix replaced by an
    * element_at lookup into an explicit weight vector (embedded in the
    * plan as a literal — the single-broadcast-free analogue of a
    * broadcast variable at 16k×8B). Same zero-exchange per-row fold.
    */
  private[queries] def classifierScoreWeighted(
      weights: Array[Long]): org.apache.spark.sql.Column = {
    require(weights.length == 16384, s"expected 16384 weights, got ${weights.length}")
    val norm = TextOps.normalized(col("text"))
    val toks = TextOps.tokens(col("text"))
    val wArr = typedLit(weights)
    def w(h: org.apache.spark.sql.Column) =
      element_at(wArr, (pmod(h, lit(16384L)) + 1L).cast("int"))
    val uniScore = aggregate(
      transform(toks, t => w(TextOps.hash60(t))),
      lit(0L), (acc, x) => acc + x)
    val biScore = aggregate(
      transform(call_function("tokengrampos60", norm, lit(2)),
        g => w(g)),
      lit(0L), (acc, x) => acc + x)
    uniScore + biScore
  }

  /** The hashed uni+bigram linear score of `tx_quality_classifier`
    * (per-row, zero exchanges), as a Column over any frame with a
    * `text` column — shared with the streaming curation path
    * (`stream_quality_filter`), so batch and stream can never disagree
    * on what "quality" means. Bucket = h % 16384 with a fixed affine
    * mix onto [-1000, 1000] milli-units (the deterministic stand-in
    * for a trained weight vector). Uses tokengramPOS60, not
    * tokengramhash60: the classifier scores every bigram OCCURRENCE
    * (bag-of-ngrams semantics), not the distinct gram set.
    */
  private[queries] def classifierScoreCol: org.apache.spark.sql.Column = {
    val norm = TextOps.normalized(col("text"))
    val toks = TextOps.tokens(col("text"))
    def w(h: org.apache.spark.sql.Column) =
      (pmod(h, lit(16384L)) * 40503L + 12345L) % 2001L - 1000L
    val uniScore = aggregate(
      transform(toks, t => w(TextOps.hash60(t))),
      lit(0L), (acc, x) => acc + x)
    val biScore = aggregate(
      transform(call_function("tokengrampos60", norm, lit(2)),
        g => w(g)),
      lit(0L), (acc, x) => acc + x)
    uniScore + biScore
  }

  /** DuckDB CTE chain of the classifier score: `uni(doc_id, n_tokens,
    * s_uni)` + `bi(doc_id, s_bi)` — shared by the batch and streaming
    * oracles.
    */
  private[queries] val classifierCtes: String =
    classifierCtesWith(h => s"(($h % 16384) * 40503 + 12345) % 2001 - 1000")

  /** [[classifierCtes]] with a caller-supplied bucket→weight SQL formula
    * (the oracle-side analogue of swapping the weight vector).
    */
  private[queries] def classifierCtesWith(wSql: String => String,
      src: String = "documents"): String = {
    val h60 = QDedup.h60
    s"""tok AS (SELECT doc_id, $toksSql AS toks FROM $src),
        uni AS (SELECT doc_id, len(toks) AS n_tokens,
                  CAST(list_sum(list_transform(toks,
                    t -> ${wSql(h60("t"))})) AS BIGINT) AS s_uni
                FROM tok),
        bi AS (SELECT doc_id,
                 CAST(sum(${wSql(h60("array_to_string(list_slice(toks, i, i + 1), ' ')"))})
                   AS BIGINT) AS s_bi
               FROM (SELECT doc_id, toks,
                       unnest(generate_series(1, greatest(len(toks) - 1, 0))) AS i
                     FROM tok WHERE len(toks) >= 2)
               GROUP BY 1)"""
  }

  /** Corpus-trained trigram-LM scorer — the shared core of
    * `tx_lm_perplexity` (which returns it as-is) and `tx_ccnet_buckets`
    * (which ranks and buckets it). See the tx_lm_perplexity comment for
    * the int64/log2milli design rationale.
    */
  private def lmScored(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val docs = Tables.documents(s, d)
    val norm = TextOps.normalized(col("text"))
    val pairs = graft.Caches.registerTransient(docs
      .select(col("doc_id"),
        call_function("tokengrampos60", norm, lit(3)).as("tri"),
        call_function("tokengrampos60", norm, lit(2)).as("big"))
      .select(col("doc_id"),
        explode(zip_with(col("tri"),
          slice(col("big"), lit(1), size(col("tri"))),
          (t, b) => struct(t.as("gh3"), b.as("gh2")))).as("p"))
      .select(col("doc_id"), col("p.gh3").as("gh3"), col("p.gh2").as("gh2"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val train = pairs.filter(col("doc_id") % 5 =!= 0)
    val c3 = train.groupBy(col("gh3")).agg(count(lit(1)).as("c3"))
    val c2 = train.groupBy(col("gh2")).agg(count(lit(1)).as("c2"))
    val vocab = docs.filter(col("doc_id") % 5 =!= 0)
      .select(explode(call_function("tokengrampos60", norm, lit(1))).as("g1"))
      .agg(countDistinct(col("g1")).as("vocab"))
    val scored = pairs
      .join(c3, Seq("gh3"), "left")
      .join(c2, Seq("gh2"), "left")
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"),
        (call_function("log2milli",
          coalesce(col("c2"), lit(0L)) + col("vocab")) -
          call_function("log2milli",
            coalesce(col("c3"), lit(0L)) + lit(1L))).as("nll"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_trigrams"), sum(col("nll")).as("nll_milli"))
    docs.select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_trigrams"), lit(0L)).as("n_trigrams"),
        coalesce(col("nll_milli"), lit(0L)).as("nll_milli"),
        when(col("n_trigrams") > 0,
          col("nll_milli").cast("double") /
            (col("n_trigrams") * 1000L).cast("double"))
          .as("bits_per_trigram"))
  }

  /** DuckDB CTE chain of the trigram-LM scorer (shared by the
    * tx_lm_perplexity oracle and, with a ranking wrapper, the
    * tx_ccnet_buckets oracle).
    */
  private val lmScoredCtes: String = {
    val l2m = l2mSql
    val h60 = QDedup.h60
    s"""tok AS (SELECT doc_id, $toksSql AS toks FROM documents),
        pairs AS (
          SELECT doc_id,
            ${h60("array_to_string(list_slice(toks, i, i + 2), ' ')")} AS gh3,
            ${h60("array_to_string(list_slice(toks, i, i + 1), ' ')")} AS gh2
          FROM (SELECT doc_id, toks,
                  unnest(generate_series(1, greatest(len(toks) - 2, 0))) AS i
                FROM tok WHERE len(toks) >= 3)),
        c3 AS (SELECT gh3, count(*) AS c3 FROM pairs
               WHERE doc_id % 5 <> 0 GROUP BY 1),
        c2 AS (SELECT gh2, count(*) AS c2 FROM pairs
               WHERE doc_id % 5 <> 0 GROUP BY 1),
        v AS (SELECT count(DISTINCT ${h60("t1")}) AS vocab
              FROM (SELECT unnest(toks) AS t1 FROM tok
                    WHERE doc_id % 5 <> 0)),
        scored AS (
          SELECT p.doc_id, count(*) AS n_trigrams,
                 sum(${l2m("(coalesce(c2.c2, 0) + v.vocab)")}
                   - ${l2m("(coalesce(c3.c3, 0) + 1)")}) AS nll_milli
          FROM pairs p
          LEFT JOIN c3 USING (gh3)
          LEFT JOIN c2 USING (gh2)
          CROSS JOIN v
          GROUP BY 1)"""
  }

  private val lmScoredSelect: String =
    """SELECT d.doc_id,
              coalesce(s.n_trigrams, 0) AS n_trigrams,
              CAST(coalesce(s.nll_milli, 0) AS BIGINT) AS nll_milli,
              CASE WHEN s.n_trigrams > 0
                   THEN CAST(s.nll_milli AS DOUBLE)
                        / CAST(s.n_trigrams * 1000 AS DOUBLE)
              END AS bits_per_trigram
       FROM documents d LEFT JOIN scored s USING (doc_id)"""

  private val lmScoredSql: String = s"WITH $lmScoredCtes\n            $lmScoredSelect"
}
