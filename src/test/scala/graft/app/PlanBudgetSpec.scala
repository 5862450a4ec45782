package graft.app

import graft.{Plans, SparkSpec}

/** Exchange BUDGETS for the headline chains: the scale claims in the
  * scaladoc ("3 exchanges", "one shuffle", "broadcast, no fact shuffle")
  * become regression tests — a refactor that silently doubles the shuffle
  * count of a 100 TB chain fails here, not in production.
  *
  * Budgets are pre-execution upper bounds (AQE can only coalesce/elide at
  * runtime, never add exchanges).
  */
class PlanBudgetSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def q(name: String) =
    graft.SparkEntry.queries(name)(spark, sf)

  test("raw trades to the daily panel: two exchanges, no broadcast, no join") {
    // the id-shuffle into the sorted pass per bond and the panel's
    // (id, dt) aggregate — no window, no barrier, no anti-join
    val df = graft.queries.QTracePipeline.dailyPanel(spark, sf)
    val c = Plans.planCounts(df)
    val joins = df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    assert(c.shuffles <= 2 && c.broadcasts == 0 && joins.isEmpty,
      s"dailyPanel shuffles: ${c.shuffles}, broadcasts: ${c.broadcasts}, " +
        s"joins: ${joins.size}")
  }

  test("Stage-1 panel: one events scan under the one id exchange; ≤ 4 exchanges, ≤ 1 broadcast") {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val df = q("tp_stage1_panel")
    val c = Plans.planCounts(df)
    // id, the linker's (issuer6, month) aggregate and its global
    // last-month window, winsorize's dt; the one broadcast is the linker
    assert(c.shuffles <= 4 && c.broadcasts <= 1,
      s"tp_stage1_panel shuffles: ${c.shuffles}, broadcasts: ${c.broadcasts}")
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.inputPlan
      case p => p
    }
    // every per-bond step sits inside one hash(id) exchange: the
    // aggregate and the windows above it add none of their own
    val byId = plan.collect {
      case e: ShuffleExchangeExec if (e.outputPartitioning match {
        case h: HashPartitioning =>
          h.expressions.flatMap(_.references.map(_.name)).contains("id")
        case _ => false
      }) => e
    }
    assert(byId.size == 1, s"exchanges on id: ${byId.size}\n$plan")
    val scans = byId.head.collect { case s: FileSourceScanExec => s }
    assert(scans.size == 1 &&
      scans.head.relation.location.rootPaths.forall(_.getName == "events.parquet"),
      s"scans under the id exchange: ${scans.map(_.relation.location.rootPaths)}")
    // the linker reads `events` once more, and only once
    val allScans = plan.collect { case s: FileSourceScanExec => s }
    assert(allScans.size == 2, s"events scans: ${allScans.size}\n$plan")
  }

  test("Dick-Nielsen cleaning alone is one grouped pass: one exchange") {
    val c = Plans.planCounts(graft.queries.QTracePipeline.cleanedDag(spark, sf))
    assert(c.shuffles <= 1, s"cleanedDag shuffles: ${c.shuffles}")
  }

  test("daily panel over the corrected memo is one aggregation shuffle") {
    val c = Plans.planCounts(q("tp_daily_panel"))
    assert(c.shuffles <= 1, s"tp_daily_panel shuffles: ${c.shuffles}")
    graft.Caches.clearAll()
  }

  test("RHP signature projection is shuffle-free; banded candidate shuffles only") {
    // the occupancy cap adds one aggregate over the band keys (the
    // oversized-bucket stats, broadcast back) on top of the candidate
    // self-join + distinct — 4 exchanges, all over the tiny key/pair
    // relations, never the embedding vectors
    val c = Plans.planCounts(q("sim_rhp_neardup"))
    assert(c.shuffles <= 4, s"sim_rhp_neardup shuffles: ${c.shuffles}")
  }

  test("broadcast-dim joins never shuffle the fact side") {
    val c = Plans.planCounts(q("j2_broadcast_theta"))
    assert(c.shuffles == 0 && c.broadcasts >= 1,
      s"j2 shuffles: ${c.shuffles}, broadcasts: ${c.broadcasts}")
  }

  test("single-pass daily panel aggregates in one shuffle") {
    val c = Plans.planCounts(q("a1_daily_panel"))
    assert(c.shuffles <= 1, s"a1_daily_panel shuffles: ${c.shuffles}")
  }

  test("minhash ladder: per-doc profiles leave at most candidate shuffles") {
    // profiles (hashes + sizes + signatures) are computed inside each
    // document's row — the exchanges left are the band-key candidate
    // join + distinct plus the occupancy-cap stats aggregate (all over
    // the 4-rows/doc key relation, never the shingle sets)
    val c = Plans.planCounts(q("dd_minhash_lsh"))
    assert(c.shuffles <= 4, s"dd_minhash_lsh shuffles: ${c.shuffles}")
    graft.Caches.clearTransient()
  }

  test("decontamination broadcasts the eval gram set, never the corpus") {
    val c = Plans.planCounts(q("dd_decontaminate"))
    assert(c.broadcasts >= 1, s"dd_decontaminate broadcasts: ${c.broadcasts}")
    assert(c.shuffles <= 3, s"dd_decontaminate shuffles: ${c.shuffles}")
    graft.Caches.clearTransient()
  }

  test("training-mix sampling is a pure codegen filter — zero exchanges") {
    val c = Plans.planCounts(q("tx_sample_mix"))
    assert(c.shuffles == 0 && c.broadcasts == 0,
      s"tx_sample_mix shuffles: ${c.shuffles}, broadcasts: ${c.broadcasts}")
  }

  test("sequence packing shuffles once (the per-language window)") {
    val c = Plans.planCounts(q("tx_pack_budget"))
    assert(c.shuffles <= 1, s"tx_pack_budget shuffles: ${c.shuffles}")
  }

  test("k-means: centroids broadcast; only argmin/update aggregates shuffle") {
    // per Lloyd round: one argmin aggregate + (round 1 only) the two
    // centroid-update aggregates; the n·k scored frame itself never
    // shuffles (no window) and both centroid frames broadcast
    val c = Plans.planCounts(q("sim_kmeans_assign"))
    assert(c.shuffles <= 4 && c.broadcasts >= 2,
      s"sim_kmeans_assign shuffles: ${c.shuffles}, broadcasts: ${c.broadcasts}")
    graft.Caches.clearTransient()
  }

  test("incremental admission probes via broadcast, batch-sized shuffles only") {
    // +3 over the uncapped shape: the corpus-index occupancy cap
    // (capProbeKeys) pays a stats aggregate and a ranked trim of the
    // (rare) oversized slice — index-sized, not corpus-sized
    val c = Plans.planCounts(q("dd_incremental_admit"))
    assert(c.shuffles <= 8 && c.broadcasts >= 1,
      s"dd_incremental_admit shuffles: ${c.shuffles}, broadcasts: ${c.broadcasts}")
    graft.Caches.clearTransient()
  }

  test("simhash signatures are per-row; only the candidate join shuffles") {
    // raw DAG, not the memoized query row (whose plan is a checkpoint
    // scan): signature computation must stay inside the document's row —
    // the only exchanges allowed are the band-key self-join + distinct
    val docs = graft.Tables.documents(spark, sf)
    val pairs = graft.llmdata.Dedup.simhashPairs(
      graft.llmdata.Dedup.simhash(docs, "doc_id", "text"), maxDist = 3)
    val c = Plans.planCounts(pairs)
    assert(c.shuffles <= 3, s"raw simhash pairs shuffles: ${c.shuffles}")
  }

  test("PII redaction is a pure codegen projection — zero exchanges") {
    val c = Plans.planCounts(q("tx_redact_pii"))
    assert(c.shuffles == 0 && c.broadcasts == 0,
      s"tx_redact_pii shuffles: ${c.shuffles}, broadcasts: ${c.broadcasts}")
  }

  test("shard shuffle pays exactly one exchange (the per-shard window)") {
    val c = Plans.planCounts(q("tx_shard_shuffle"))
    assert(c.shuffles <= 1, s"tx_shard_shuffle shuffles: ${c.shuffles}")
  }

  test("bucketed join is exchange-free; only the final agg shuffles") {
    val c = Plans.planCounts(q("j21_bucketed_join"))
    assert(c.shuffles <= 1 && c.broadcasts == 0,
      s"j21_bucketed_join shuffles: ${c.shuffles}, broadcasts: ${c.broadcasts}")
  }

  test("semantic dedup: broadcast centroids; only cell-bounded relations shuffle") {
    // the persisted assignment window (1) + capped within-cell pair
    // machinery (stats agg, self-join sides, distinct) + verify joins +
    // removed distinct + decision join — all over (id, cell)/pair
    // relations, never an embeddings-wide exchange beyond the first
    // assignment (without the operator's persist the plan re-walks the
    // assignment per consumer: 14 exchanges)
    val c = Plans.planCounts(q("dd_semantic"))
    assert(c.shuffles <= 9 && c.broadcasts >= 1,
      s"dd_semantic shuffles: ${c.shuffles}, broadcasts: ${c.broadcasts}")
  }

  test("substring-window dedup: window hashing is in-row; 2 exchanges, no join") {
    // the per-token window relation shuffles ONCE — the occurrence
    // multiplicity is count(*) OVER (PARTITION BY fp), so every
    // occurrence reads its global count in place (the old agg +
    // semi-join shape shuffled the full relation twice) — and the
    // islands window pays ONE doc-keyed exchange; the span groupBy's
    // (id, grp) clustering is satisfied by the id partitioning
    val df = q("dd_substring_windows")
    val c = Plans.planCounts(df)
    assert(c.shuffles <= 2 && c.broadcasts == 0,
      s"dd_substring_windows shuffles: ${c.shuffles}, broadcasts: ${c.broadcasts}")
  }

  test("quality classifier scores in-row — zero exchanges") {
    // the fastText-style hashed uni+bigram score is a per-row fold over
    // native hash arrays; the keep decision is a codegen'd comparison —
    // a 100 TB corpus scores in one scan with no shuffle at all
    val c = Plans.planCounts(q("tx_quality_classifier"))
    assert(c.shuffles == 0 && c.broadcasts == 0,
      s"tx_quality_classifier shuffles: ${c.shuffles}, broadcasts: ${c.broadcasts}")
  }

  test("Gopher rule battery is a single in-row projection — zero exchanges") {
    val c = Plans.planCounts(q("tx_gopher_rules"))
    assert(c.shuffles == 0 && c.broadcasts == 0,
      s"tx_gopher_rules shuffles: ${c.shuffles}, broadcasts: ${c.broadcasts}")
  }

  test("BM25: query terms broadcast before any shuffle; tf agg moves hits only") {
    // the token relation is semi-joined against the broadcast term set
    // BEFORE the tf aggregation, so only query-hit rows ever shuffle.
    // 6 exchanges, every one over the query-hit slice or a scalar: the
    // tf agg, the df agg over it, the corpus-stats global agg (partial +
    // final), the per-(query, doc) score agg, and the top-k window —
    // the corpus-sized token relation itself never shuffles
    val c = Plans.planCounts(q("tx_bm25_topk"))
    assert(c.broadcasts >= 3, s"tx_bm25_topk broadcasts: ${c.broadcasts}")
    assert(c.shuffles <= 6, s"tx_bm25_topk shuffles: ${c.shuffles}")
    graft.Caches.clearTransient()
  }

  // ---- top-10 bench queries (round-9 ask): budgets for the most
  // expensive rows, so a plan regression fails the build, not the bench.
  // Counts mirror PLANS.md (same 4-partition pre-execution explain);
  // stream_scd2_apply is excluded like every stream_* row — a streaming
  // plan only exists per micro-batch. The s15/s21/s22 rows return a
  // READ-BACK frame (the layout write executes inside the query fn), so
  // their budget pins the post-layout scan shape — the write dag's own
  // budget lives in ZOrderSpec/CompactionSpec.

  test("triangles: close join broadcasts; wedge dag inside its exchange budget") {
    // the pre-execution dag shows `oriented` un-persisted THREE times
    // (the runtime plan scans the transient persist once) — 22 is that
    // expansion's total, pinned so a fourth walk or a lost broadcast
    // fails here
    val c = Plans.planCounts(q("g1_triangles"))
    assert(c.shuffles <= 22 && c.broadcasts >= 1,
      s"g1_triangles shuffles: ${c.shuffles}, broadcasts: ${c.broadcasts}")
    graft.Caches.clearTransient()
  }

  test("compaction execution: one manifest agg + the single rewrite shuffle") {
    val c = Plans.planCounts(q("s22_compaction_exec"))
    assert(c.shuffles <= 2, s"s22_compaction_exec shuffles: ${c.shuffles}")
  }

  test("corpus build: production path reads the checkpoint barrier, zero exchanges") {
    val c = Plans.planCounts(q("tx_corpus_build"))
    assert(c.shuffles == 0, s"tx_corpus_build shuffles: ${c.shuffles}")
    graft.Caches.clearAll()
  }

  test("error replay rides the memoized chain: flag columns add no exchange") {
    val c = Plans.planCounts(q("tp_error_replay"))
    assert(c.shuffles <= 7, s"tp_error_replay shuffles: ${c.shuffles}")
    graft.Caches.clearAll()
  }

  test("LSH recall: truth baseline bounded, probe tiers broadcast-heavy") {
    val c = Plans.planCounts(q("dd_lsh_recall"))
    assert(c.shuffles <= 5 && c.broadcasts >= 2,
      s"dd_lsh_recall shuffles: ${c.shuffles}, broadcasts: ${c.broadcasts}")
    graft.Caches.clearTransient()
  }

  test("interpolated quantiles: rank machinery stays within 3 exchanges") {
    val c = Plans.planCounts(q("a19_interp_quantiles"))
    assert(c.shuffles <= 3, s"a19_interp_quantiles shuffles: ${c.shuffles}")
  }

  test("layout family read-backs scan pruned: one exchange each") {
    // s28's Hilbert read-back must match the Morton rows' shape — the
    // curve choice changes file clustering, never the query plan
    for (n <- Seq("s15_zorder_layout", "s21_zorder_zonemap",
        "s28_hilbert_layout")) {
      val c = Plans.planCounts(q(n))
      assert(c.shuffles <= 1, s"$n shuffles: ${c.shuffles}")
    }
  }

  test("BPE train: merge rounds stay on the vocab relation — 10-exchange budget") {
    val c = Plans.planCounts(q("tx_bpe_train"))
    assert(c.shuffles <= 10 && c.broadcasts >= 1,
      s"tx_bpe_train shuffles: ${c.shuffles}, broadcasts: ${c.broadcasts}")
    graft.Caches.clearTransient()
  }

  // ---- round-9b additions: the sketch layer, the third perceptual
  // modality, and the containment tier. Counts mirror the regenerated
  // PLANS.md rows (pre-execution explain re-expands the transiently
  // persisted frames; the runtime plan scans each persist once).

  test("KMV overlap: gram/sketch frames expand pre-persist; estimates stay metadata") {
    // the 2k-row sketch relation broadcasts into every estimate leg;
    // 15 is the un-persisted expansion of hv (4 walks) + sk (3 walks)
    // in the pre-execution dag — a lost broadcast or an extra frame
    // walk fails here
    val c = Plans.planCounts(q("sk_kmv_overlap"))
    assert(c.shuffles <= 15 && c.broadcasts >= 4,
      s"sk_kmv_overlap shuffles: ${c.shuffles}, broadcasts: ${c.broadcasts}")
    graft.Caches.clearTransient()
  }

  test("KMV matrix: pairwise stage runs on the sketch table, truth on one gram join") {
    // thetas cross-join + shared-hash self-join are |sources|·k-row
    // relations; only the graded truth column touches the gram frame
    val c = Plans.planCounts(q("sk_kmv_matrix"))
    assert(c.shuffles <= 5 && c.broadcasts >= 2,
      s"sk_kmv_matrix shuffles: ${c.shuffles}, broadcasts: ${c.broadcasts}")
    graft.Caches.clearTransient()
  }

  test("priority sample: one truth aggregate; selection is k-bounded, tau broadcasts") {
    val c = Plans.planCounts(q("sk_priority_sample"))
    assert(c.shuffles <= 1 && c.broadcasts >= 1,
      s"sk_priority_sample shuffles: ${c.shuffles}, broadcasts: ${c.broadcasts}")
  }

  test("clip near-dup: signatures in the partition-local walk; banded join shuffles") {
    // same operator as phash/audio: the payload bytes never shuffle —
    // exchanges are the banded candidate join + distinct + occupancy
    // stats, all over the (doc_id, band-key) signature relation
    val c = Plans.planCounts(q("mm_clip_neardup"))
    assert(c.shuffles <= 4,
      s"mm_clip_neardup shuffles: ${c.shuffles}")
    graft.Caches.clearTransient()
  }

  test("containment: df-capped gram index; full-set denominators ride broadcasts") {
    val c = Plans.planCounts(q("dd_containment"))
    assert(c.shuffles <= 5 && c.broadcasts >= 2,
      s"dd_containment shuffles: ${c.shuffles}, broadcasts: ${c.broadcasts}")
    graft.Caches.clearTransient()
  }

  // ---- round-9c additions: MG recount, bloom survivor scan, pruned
  // merge readback, FS linkage, Fama-MacBeth

  test("MG heavy hitters: recount is the only exchange (sketch pass never shuffles)") {
    val c = Plans.planCounts(q("sk_mg_heavyhitters"))
    assert(c.shuffles <= 1, s"sk_mg_heavyhitters shuffles: ${c.shuffles}")
    graft.Caches.clearTransient()
  }

  test("bloom index point lookup: survivor-scan aggregate, one exchange") {
    val c = Plans.planCounts(q("s29_bloom_index"))
    assert(c.shuffles <= 1, s"s29_bloom_index shuffles: ${c.shuffles}")
  }

  test("pruned merge readback: one exchange (the per-month aggregate)") {
    val c = Plans.planCounts(q("s30_merge_upsert"))
    assert(c.shuffles <= 1, s"s30_merge_upsert shuffles: ${c.shuffles}")
  }

  test("FS linkage: blocking joins bounded; stop list and dims ride broadcasts") {
    val c = Plans.planCounts(q("j30_er_fs_score"))
    assert(c.shuffles <= 5 && c.broadcasts >= 2,
      s"j30_er_fs_score shuffles: ${c.shuffles}, broadcasts: ${c.broadcasts}")
  }

  test("Fama-MacBeth: exactly the two hash-agg exchanges, no window") {
    val c = Plans.planCounts(q("a23_fama_macbeth"))
    assert(c.shuffles <= 2, s"a23_fama_macbeth shuffles: ${c.shuffles}")
  }

  test("ACF: daily agg + one window/pair aggregate - two exchanges, no per-lag re-read") {
    val c = Plans.planCounts(q("w26_acf"))
    assert(c.shuffles <= 2, s"w26_acf shuffles: ${c.shuffles}")
  }

  test("KMV A-not-B: everything past the sketch is metadata-sized") {
    // pre-persist expansion of the shared hv/sk frames, same class as
    // sk_kmv_overlap's budget
    val c = Plans.planCounts(q("sk_kmv_anotb"))
    assert(c.shuffles <= 8 && c.broadcasts >= 2,
      s"sk_kmv_anotb shuffles: ${c.shuffles}, broadcasts: ${c.broadcasts}")
    graft.Caches.clearTransient()
  }

  test("time travel: two snapshot aggregates, one exchange each") {
    val c = Plans.planCounts(q("s31_time_travel"))
    assert(c.shuffles <= 2, s"s31_time_travel shuffles: ${c.shuffles}")
  }

  test("native bottomk: one partial-combined exchange per sketch") {
    val c = Plans.planCounts(q("sk_kmv_native"))
    assert(c.shuffles <= 2, s"sk_kmv_native shuffles: ${c.shuffles}")
  }

  test("bloom decontamination: fixed-size bitmap broadcast; eval grams never broadcast") {
    // two broadcast probes of the ≤16k-row bitmap; the exact tier over
    // the Bloom survivors is a plain shuffle semi-join (the point: the
    // eval gram set no longer needs to fit in a broadcast)
    val c = Plans.planCounts(q("dd_decontaminate_bloom"))
    assert(c.broadcasts >= 2, s"dd_decontaminate_bloom broadcasts: ${c.broadcasts}")
    graft.Caches.clearTransient()
  }

  test("snapshot merge readback: two snapshot aggregates, one exchange each") {
    val c = Plans.planCounts(q("s32_merge_snapshot"))
    assert(c.shuffles <= 2, s"s32_merge_snapshot shuffles: ${c.shuffles}")
  }

  test("manifest-stats pruned read: the per-month aggregate is the only exchange") {
    val c = Plans.planCounts(q("s33_manifest_prune"))
    assert(c.shuffles <= 1, s"s33_manifest_prune shuffles: ${c.shuffles}")
  }

  test("delete vectors: three snapshot aggregates; the vectored read adds " +
      "one broadcast anti-join, never a shuffle") {
    val c = Plans.planCounts(q("s34_delete_vectors"))
    assert(c.shuffles <= 3, s"s34_delete_vectors shuffles: ${c.shuffles}")
    assert(c.broadcasts >= 1, s"s34_delete_vectors broadcasts: ${c.broadcasts}")
  }

  test("post-vacuum read: one aggregate exchange over the retained snapshot") {
    val c = Plans.planCounts(q("s35_snapshot_expire"))
    assert(c.shuffles <= 1, s"s35_snapshot_expire shuffles: ${c.shuffles}")
  }

  test("partial compaction: two vectored aggregates, broadcast residual") {
    val c = Plans.planCounts(q("s36_partial_compaction"))
    assert(c.shuffles <= 2, s"s36_partial_compaction shuffles: ${c.shuffles}")
    assert(c.broadcasts >= 1, s"s36_partial_compaction broadcasts: ${c.broadcasts}")
  }

  test("grouped MG: one grouped sketch agg + one recount agg, broadcast join") {
    val c = Plans.planCounts(q("sk_mg_grouped"))
    assert(c.shuffles <= 2, s"sk_mg_grouped shuffles: ${c.shuffles}")
    assert(c.broadcasts >= 1, s"sk_mg_grouped broadcasts: ${c.broadcasts}")
    graft.Caches.clearTransient()
  }

  test("change feed: two signature aggregates + the diff join — ≤3 exchanges") {
    val c = Plans.planCounts(q("s37_change_feed"))
    assert(c.shuffles <= 3, s"s37_change_feed shuffles: ${c.shuffles}")
  }

  test("FS EM surface: cells and params read from checkpoints — zero shuffles") {
    // all pair-volume work sits behind the cells localCheckpoint; the
    // returned frame is an 18-row × 1-row broadcast cross join
    val c = Plans.planCounts(q("j32_er_fs_em"))
    assert(c.shuffles == 0, s"j32_er_fs_em shuffles: ${c.shuffles}")
    assert(c.broadcasts >= 1, s"j32_er_fs_em broadcasts: ${c.broadcasts}")
  }

  test("CDF over MOR: two sided signatures + diff joins, vectors broadcast") {
    // each transition pays its two signature aggregates + the diff
    // full-outer join; the delete vectors ride BROADCAST anti-joins,
    // never a shuffle of the data side
    val c = Plans.planCounts(q("s38_cdf_mor"))
    assert(c.shuffles <= 6, s"s38_cdf_mor shuffles: ${c.shuffles}")
    assert(c.broadcasts >= 1, s"s38_cdf_mor broadcasts: ${c.broadcasts}")
  }

  test("VERSION AS OF via DSv2: one aggregate exchange per version") {
    // the graft-snapshot scans plan the manifests' files directly —
    // the only exchanges are the two per-version aggregates
    val c = Plans.planCounts(q("s39_version_as_of_sql"))
    assert(c.shuffles <= 2, s"s39_version_as_of_sql shuffles: ${c.shuffles}")
  }

  test("schema snapshots: the lift is projection-only — agg exchanges only") {
    val c = Plans.planCounts(q("s40_schema_snapshot"))
    assert(c.shuffles <= 2, s"s40_schema_snapshot shuffles: ${c.shuffles}")
  }

  test("position deletes: broadcast anti on row addresses; aggs only shuffle") {
    val c = Plans.planCounts(q("s41_position_deletes"))
    assert(c.shuffles <= 2, s"s41_position_deletes shuffles: ${c.shuffles}")
    assert(c.broadcasts >= 1, s"s41_position_deletes broadcasts: ${c.broadcasts}")
  }

  test("WAP: four pinned-snapshot reads, one agg exchange each") {
    // the publish itself is a pointer move — the only exchanges are
    // the four faces' global aggregates
    val c = Plans.planCounts(q("s43_branch_wap"))
    assert(c.shuffles <= 4, s"s43_branch_wap shuffles: ${c.shuffles}")
  }

  test("IVM over CDF: one fold of all signed deltas + the direct agg") {
    // every transition's deltas union into ONE grouped aggregate (one
    // exchange), the direct face pays the second; vectors ride
    // broadcast anti-joins, never a shuffle of the data side
    val c = Plans.planCounts(q("s44_ivm_cdf"))
    assert(c.shuffles <= 2, s"s44_ivm_cdf shuffles: ${c.shuffles}")
    assert(c.broadcasts >= 1, s"s44_ivm_cdf broadcasts: ${c.broadcasts}")
  }

  test("DSv2 write round trip: the writes are exchange-free, aggs only") {
    val c = Plans.planCounts(q("s45_dsv2_write"))
    assert(c.shuffles <= 2, s"s45_dsv2_write shuffles: ${c.shuffles}")
  }

  test("rollback: three pinned reads, one agg exchange each") {
    val c = Plans.planCounts(q("s46_rollback"))
    assert(c.shuffles <= 3, s"s46_rollback shuffles: ${c.shuffles}")
  }

  test("spec evolution: two pruned-scan faces, agg exchanges only") {
    // the pruning is a manifest filter — nothing in the plan but each
    // face's global aggregate
    val c = Plans.planCounts(q("s47_partition_evolution"))
    assert(c.shuffles <= 2, s"s47_partition_evolution shuffles: ${c.shuffles}")
  }

  test("timestamp travel: three pinned reads, one agg exchange each") {
    // resolution is a manifest-header walk — no plan nodes at all
    val c = Plans.planCounts(q("s48_time_travel_ts"))
    assert(c.shuffles <= 3, s"s48_time_travel_ts shuffles: ${c.shuffles}")
  }

  test("metadata tables: driver-built history frame — zero exchanges") {
    val c = Plans.planCounts(q("s49_metadata_tables"))
    assert(c.shuffles == 0, s"s49_metadata_tables shuffles: ${c.shuffles}")
  }

  test("lake curation: one grouped agg; upsert vectors ride broadcast") {
    // the curation commits happen before planning; the read is
    // scan → ≤2 broadcast anti-joins → one (lang) hash aggregate
    val c = Plans.planCounts(q("dd_lake_curation"))
    assert(c.shuffles <= 1, s"dd_lake_curation shuffles: ${c.shuffles}")
    assert(c.broadcasts >= 1, s"dd_lake_curation broadcasts: ${c.broadcasts}")
  }

  test("shallow clone: two face aggregates, vector rides broadcast") {
    // the clone itself contributes NOTHING to the plan — it is one
    // manifest write before planning starts
    val c = Plans.planCounts(q("s50_shallow_clone"))
    assert(c.shuffles <= 2, s"s50_shallow_clone shuffles: ${c.shuffles}")
    assert(c.broadcasts >= 1, s"s50_shallow_clone broadcasts: ${c.broadcasts}")
  }

  test("optimize zorder: the layout pays at write; reads are agg-only") {
    // both pruned-range faces plan scan → filter → one agg exchange;
    // the pruning and the rewrite never appear in the read plan
    val c = Plans.planCounts(q("s51_optimize_zorder"))
    assert(c.shuffles <= 2, s"s51_optimize_zorder shuffles: ${c.shuffles}")
  }

  test("manifest segments: driver-built sharing report — zero exchanges") {
    val c = Plans.planCounts(q("s52_manifest_segments"))
    assert(c.shuffles == 0, s"s52_manifest_segments shuffles: ${c.shuffles}")
  }

  test("SQL DML readback: position deletes apply INSIDE the scan's " +
      "readers — one agg exchange, no join") {
    val c = Plans.planCounts(q("s53_sql_dml"))
    assert(c.shuffles <= 1, s"s53_sql_dml shuffles: ${c.shuffles}")
    graft.Caches.clearTransient()
  }

  test("bin-pack optimize: three face aggregates only") {
    val c = Plans.planCounts(q("s54_optimize_binpack"))
    assert(c.shuffles <= 3, s"s54_optimize_binpack shuffles: ${c.shuffles}")
  }

  test("metadata count: one checkpointed pruned agg; counts are literal") {
    val c = Plans.planCounts(q("s55_metadata_count"))
    assert(c.shuffles <= 1, s"s55_metadata_count shuffles: ${c.shuffles}")
  }

  test("SQL time travel: four pinned faces, one agg exchange each") {
    val c = Plans.planCounts(q("s56_sql_time_travel"))
    assert(c.shuffles <= 4, s"s56_sql_time_travel shuffles: ${c.shuffles}")
  }

  test("streaming U-split readback: one grouped agg over the sink table") {
    val c = Plans.planCounts(q("stream_cdf_cow"))
    assert(c.shuffles <= 1, s"stream_cdf_cow shuffles: ${c.shuffles}")
    graft.Caches.clearTransient()
  }

  test("SQL MOR read: vectors apply INSIDE the scan's readers — one " +
      "grouped-agg exchange, no anti-join in the plan") {
    val c = Plans.planCounts(q("s57_sql_mor_read"))
    assert(c.shuffles <= 1, s"s57_sql_mor_read shuffles: ${c.shuffles}")
    graft.Caches.clearTransient()
  }

  test("SQL procedures: two-face readback — one agg exchange per face " +
      "plus the union") {
    val c = Plans.planCounts(q("s58_sql_procedures"))
    assert(c.shuffles <= 2, s"s58_sql_procedures shuffles: ${c.shuffles}")
    graft.Caches.clearTransient()
  }

  test("lake DPP: broadcast dim join + one agg exchange; the runtime " +
      "filter rides the scan, not the plan") {
    val df = q("s59_lake_dpp")
    val c = Plans.planCounts(df)
    assert(c.shuffles <= 2, s"s59_lake_dpp shuffles: ${c.shuffles}")
    assert(c.broadcasts >= 1, "dim side must broadcast")
    graft.Caches.clearTransient()
  }

  test("aggregate pushdown: ZERO exchanges — every face is a literal " +
      "metadata partition (MetaAggScan), no aggregate node survives") {
    val df = q("s60_agg_pushdown")
    val c = Plans.planCounts(df)
    assert(c.shuffles == 0, s"s60_agg_pushdown shuffles: ${c.shuffles}")
    val scans = df.queryExecution.executedPlan.collectWithSubqueries {
      case b: org.apache.spark.sql.execution.datasources.v2
        .BatchScanExec => b.scan
    }
    assert(scans.nonEmpty &&
      scans.forall(_.getClass.getSimpleName == "MetaAggScan"),
      s"expected only MetaAggScan faces, got ${scans.map(_.getClass)}")
    graft.Caches.clearTransient()
  }

  test("SQL DDL readback: three face aggregates only") {
    val c = Plans.planCounts(q("s61_sql_ddl"))
    assert(c.shuffles <= 3, s"s61_sql_ddl shuffles: ${c.shuffles}")
    graft.Caches.clearTransient()
  }

  test("streaming table sink readback: one agg exchange per snapshot face") {
    val c = Plans.planCounts(q("stream_table_sink"))
    assert(c.shuffles <= 3, s"stream_table_sink shuffles: ${c.shuffles}")
    graft.Caches.clearTransient()
  }

  test("metadata DELETE readback: one grouped-agg exchange") {
    val c = Plans.planCounts(q("s62_meta_delete"))
    assert(c.shuffles <= 1, s"s62_meta_delete shuffles: ${c.shuffles}")
    graft.Caches.clearTransient()
  }

  test("CTAS/RTAS readback: one agg exchange per face") {
    val c = Plans.planCounts(q("s63_ctas_rtas"))
    assert(c.shuffles <= 3, s"s63_ctas_rtas shuffles: ${c.shuffles}")
    graft.Caches.clearTransient()
  }

  test("storage-partitioned join: ZERO exchanges — the join AND the " +
      "grouped aggregate ride the manifests' own key-grouped layout") {
    val c = Plans.planCounts(q("s64_spj_join"))
    assert(c.shuffles == 0, s"s64_spj_join shuffles: ${c.shuffles}")
    graft.Caches.clearTransient()
  }

  test("MULTI-column storage-partitioned join: zero exchanges on the " +
      "full (m, g) key tuple") {
    val c = Plans.planCounts(q("s67_spj_multi"))
    assert(c.shuffles == 0 && c.broadcasts == 0,
      s"s67_spj_multi shuffles: ${c.shuffles}, bcast: ${c.broadcasts}")
    graft.Caches.clearTransient()
  }

  test("selective lake scan: the WHERE stays one grouped-agg exchange") {
    val c = Plans.planCounts(q("s66_selective_scan"))
    assert(c.shuffles <= 1, s"s66_selective_scan shuffles: ${c.shuffles}")
    graft.Caches.clearTransient()
  }

  test("scan-bound columnar read: at most the one grouped-agg exchange") {
    val df = q("s65_lake_scan")
    val c = Plans.planCounts(df)
    assert(c.shuffles <= 1, s"s65_lake_scan shuffles: ${c.shuffles}")
    // and the scan itself executes COLUMNAR (the vectorized path)
    df.collect()
    def deep(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
      case a: org.apache.spark.sql.execution.adaptive
          .AdaptiveSparkPlanExec => deep(a.executedPlan)
      case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        deep(s.plan)
      case other => other +: other.children.flatMap(deep)
    }
    val scans = deep(df.queryExecution.executedPlan).collect {
      case b: org.apache.spark.sql.execution.datasources.v2
        .BatchScanExec => b
    }
    assert(scans.nonEmpty && scans.forall(_.supportsColumnar),
      "the lake scan must serve ColumnarBatches")
    graft.Caches.clearTransient()
  }
}
