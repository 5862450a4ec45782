package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale probe: replicate the synthetic tables K× with OFFSET keys into a
  * scratch dir, then time headline queries against the enlarged data via
  * the normal [[SparkEntry.queries]] path —
  *
  *   tools/run.sh graft.ScaleProbe /root/testdata/sf0.1 5
  *
  * Key offsets (not plain row duplication) keep the workload honest: K×
  * the entity ids / documents, same per-entity density, so the probe
  * measures how the operators scale in the dimension that grows in
  * production. Document texts get a per-copy suffix token — each copy is
  * a DISTINCT near-duplicate of its siblings, which makes the dedup
  * ladder's candidate volume a worst-case-dense stress, not a free pass.
  * Small dimension tables are symlinked unscaled.
  *
  * EACH measured pass runs in its OWN child JVM (same classpath and
  * --add-opens as this one): a shared session accumulates checkpoint
  * blocks and code-cache state across passes, and the later pass then
  * measures GC pressure instead of the operators — observed swings of
  * ±2× on the x5 near-dup numbers, and a 4× swing on a trivial window
  * query, between identical runs. A child does its own JIT warm-up pass
  * and prints one line; the parent only replicates data and aggregates.
  *
  * Emits one JSON line (and SCALE_PROBE.json) with per-query seconds at
  * 1× and K× for the slope.
  */
object ScaleProbe {

  private val Probes = Seq(
    "tp_full_panel", "tp_stage1_panel", "tp_clean_chain", "a1_daily_panel",
    "dd_exact", "dd_minhash_lsh", "dd_simhash", "dd_decontaminate",
    "dd_decontaminate_bloom", "tx_corpus_build", "tx_shard_shuffle",
    "sim_rhp_neardup", "tx_bm25_topk", "tx_quality_classifier",
    "tx_gopher_rules", "tx_ccnet_buckets",
    // round 7: the delta-sized refresh chain, the window-bypassing SCD2
    // merge, iterative PageRank, the PrefixSum global quantiles, and the
    // one-pass funnel
    "tx_incremental_curation", "s16_scd2_merge", "dd_pagerank",
    "a15_exact_quantiles", "w17_event_funnel",
    // round 7b: the keyless grid interval join, the shared-frame rolling
    // OLS, passage-level retrieval, and the mergeable quantile sketch
    "j23_interval_grid_join", "w18_rolling_beta", "tx_rag_retrieve",
    "sk_qsketch_quantiles",
    // round 7c: pattern extraction + built-in session windows (events
    // 5×) and the bounded-buffer top-k aggregator (lineitem 5×)
    "w19_match_recognize", "w20_session_window", "o6_topk_aggregate",
    // round 8: the flag-preserving replay chain, capped fuzzy ER
    // blocking, degree-oriented triangle counting, the compaction
    // rewrite, the RANGE-frame rolling volume, and the forward as-of
    "tp_error_replay", "j26_fuzzy_er_join", "g1_triangles",
    "s22_compaction_exec", "w22_range_window", "j27_asof_forward",
    // round 9: the rebuilt single-shuffle substring tier, both
    // perceptual near-dup modalities, the native as-of operator, and
    // the schema-evolution round trip
    "dd_substring_windows", "mm_phash_neardup", "mm_audio_neardup",
    "j28_asof_native", "s26_schema_evolution_write",
    // round 9b: the sketch layer (KMV overlap + matrix, priority
    // sample), the third perceptual modality, and the Hilbert rewrite.
    // dd_containment is deliberately NOT probed: on the probe's
    // replicated geometry every copy pair is a true containment pair,
    // so the ANSWER is quadratic in copies (same reason the answer-
    // bound dedup tiers sit outside the x100 subset).
    "sk_kmv_overlap", "sk_priority_sample", "sk_kmv_matrix",
    "mm_clip_neardup", "s28_hilbert_layout",
    // round 9c: MG heavy hitters (long-tail key domain grows with the
    // data), the Bloom-index build+probe, the pruned merge, and the
    // two-stage panel regression. j30_er_fs_score is NOT probed — it
    // runs on the customer dimension, which the probe symlinks
    // unscaled; stream_* stay out (micro-batch floors dominate).
    "sk_mg_heavyhitters", "s29_bloom_index", "s30_merge_upsert",
    "a23_fama_macbeth",
    // round 9d: the snapshot-log round trip (lineitem-scaled) and the
    // native bottom-k sketch. g2_label_prop shares g1's geometry note
    // (parts are an unscaled dim — the edge set is basket-bound) and
    // stays out for the same reason g1's probe row needs its caveat.
    "s31_time_travel", "sk_kmv_native",
    // round 10: the composed lake kernel — snapshot-committed MERGE,
    // manifest-stats pruning, and the delete-vector append+compact
    // round trip (all lineitem-scaled). j32_er_fs_em shares j30's
    // geometry note (customer is an unscaled symlinked dim) and its
    // EM cost is cells×rounds — metadata whatever the pair volume.
    "s32_merge_snapshot", "s33_manifest_prune", "s34_delete_vectors",
    // round 10b: the lifecycle pair — vacuum after a copy-on-write
    // merge, and the hot-slice delete-vector fold — plus the
    // manifest-driven change feed (diff cost = touched partitions)
    "s35_snapshot_expire", "s36_partial_compaction", "s37_change_feed",
    // round 11: the lake kernel's read side — MOR-aware change feed,
    // pinned-version SQL reads, metadata schema evolution, and position
    // deletes (all lineitem-scaled lake fixtures). stream_change_feed
    // stays out with the other stream_* rows (micro-batch floors).
    "s38_cdf_mor", "s39_version_as_of_sql", "s40_schema_snapshot",
    "s41_position_deletes",
    // round 11b: refs/WAP (pointer-move publish over a lineitem-scaled
    // stage), IVM from commit deltas, the DSv2 write door, rollback.
    // stream_mor_upsert stays out with the other stream_* rows.
    "s43_branch_wap", "s44_ivm_cdf", "s45_dsv2_write", "s46_rollback",
    "s47_partition_evolution", "s48_time_travel_ts", "s49_metadata_tables",
    // round 11c: clone + optimize + the lake-curation composition
    "s50_shallow_clone", "s51_optimize_zorder", "dd_lake_curation",
    // round 12: SQL DML (lineitem-scaled clone + three statements),
    // bin-packing OPTIMIZE (fragmented write + pack), and the
    // metadata-count write (task-side stats collection is the scaled
    // cost; the count itself is a manifest read). s52 stays out — its
    // entries derive from DISTINCT month/flag values, constant at any
    // K (a probe would time fixture noise); stream_cdf_cow stays out
    // with the other stream_* rows (micro-batch floors).
    "s53_sql_dml", "s54_optimize_binpack", "s55_metadata_count",
    // round 12b: the vector-aware SQL scan (vectors stack over a
    // lineitem-scaled clone — probe cost is vector write + MOR read)
    // and the CALL-driven maintenance lifecycle (append, bin-pack,
    // position-delete, compact — byte-bound on the compact rewrite,
    // the s22 caveat applies). s56_sql_time_travel stays out: its
    // fixture is two plain DSv2 appends — a probe would time the
    // append writes s45 already probes.
    "s57_sql_mor_read", "s58_sql_procedures",
    // round 12c: runtime-pruned lake join (scan cost should track the
    // SELECTED partitions, not the table)
    "s59_lake_dpp",
    // round 13: aggregate pushdown (the scaled cost is the stats-
    // collecting write + the DML delete; the COUNT/MIN/MAX faces are
    // manifest reads at any K) and SQL DDL (the scaled cost is the
    // partitioned INSERT — the per-value task fan-out writer).
    // stream_table_sink stays out with the other stream_* rows
    // (micro-batch floors dominate).
    "s60_agg_pushdown", "s61_sql_ddl",
    // round 14: the metadata DELETE (scaled cost is the stats write +
    // the vector commit — the DELETE itself is metadata at any K), the
    // staged CTAS/RTAS (two staged writes + stats), the storage-
    // partitioned join (the 0-exchange join IS the scaled cost), and
    // the scan-bound columnar read (the vectorized-path throughput row
    // — no deletion trick, this row times real decode).
    "s62_meta_delete", "s63_ctas_rtas", "s64_spj_join", "s65_lake_scan",
    // round 15: the selective columnar read (parquet-level filter
    // pushdown — the scaled cost is footers + the matching row
    // groups, NOT table bytes: the slope should be far under the
    // s65 full-scan slope) and the multi-key storage-partitioned
    // join (the 0-exchange tuple join IS the scaled cost).
    "s66_selective_scan", "s67_spj_multi")
  // NOTE: the same-base lake fixtures (s32/s34/s36-40/s44/s46, s50)
  // shallow-clone one shared base table (QFilters.lakeBaseDir) that
  // persists on disk per sf dir. A probe's x1 pass may find it warm
  // while the xK pass (fresh replicated dir) builds it cold — clear
  // /tmp/graft_lake_base_v2_* first when re-probing those rows, or the
  // slopes overstate fixture growth.

  /** comma-separated subset for targeted runs (e.g. an x100 headline
    * pass where the answer-bound dedup tiers would be quadratic in the
    * copy count) — unset runs the full list.
    */
  private def activeProbes: Seq[String] =
    sys.env.get("SPARK_GRAFT_PROBE_ONLY") match {
      case Some(s) if s.trim.nonEmpty =>
        val want = s.split(",").map(_.trim).filter(_.nonEmpty)
        val unknown = want.filterNot(Probes.contains)
        require(unknown.isEmpty, s"unknown probes: ${unknown.mkString(",")}")
        want.toSeq
      case _ => Probes
    }

  private def session(): SparkSession = {
    val spark = Sessions.local(defaultCpus = 32)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark
  }

  def main(args: Array[String]): Unit =
    if (args.headOption.contains("--pass")) childMain(args(1))
    else parentMain(args)

  // ---- child: one measured pass in a fresh JVM -----------------------

  private def childMain(dir: String): Unit = {
    val spark = session()
    // (seconds, output rows) — rows let the parent separate "the
    // operator degraded" from "the answer grew": the probe's per-copy
    // near-dup suffixes make the dedup ladder's TRUE result set grow
    // much faster than the input (every entity gains K-1 near-dup
    // siblings), so a wall-time slope above K/copies is expected
    // whenever the rows slope is too
    val probes = activeProbes
    def timeAll(): Map[String, (Double, Long)] = probes.map { name =>
      val t0 = System.nanoTime()
      val rows = SparkEntry.queries(name)(spark, dir).count()
      val secs = (System.nanoTime() - t0) / 1e9
      // settle OUTSIDE the timed window: blocks behind the previous
      // query's localCheckpoints are reclaimed asynchronously on GC of
      // their RDD references — without this the LATER queries in the
      // pass (the chain queries) time the accumulated GC pressure
      Caches.clearTransient()
      System.gc()
      Thread.sleep(1000)
      name -> ((secs, rows))
    }.toMap
    timeAll(); Caches.clearAll() // discard the JIT/codegen-cold pass
    System.gc(); Thread.sleep(2000)
    val timed = timeAll()
    def fmt(m: Seq[(String, (Double, Long))]): String = m.map { case (n, (secs, rows)) =>
      s"$n=${"%.3f".formatLocal(java.util.Locale.ROOT, secs)}:$rows"
    }.mkString(",")
    // parse-free line protocol on stdout; Spark logs go to stderr
    println("PROBE " + fmt(probes.map(n => n -> timed(n))))
    if (!probes.contains("tx_corpus_build")) {
      Caches.clearAll(); spark.stop(); return
    }
    // per-stage breakdown of the tx_corpus_build chain: materialize each
    // stage frame IN BUILD ORDER on fresh memos, so stage i's count pays
    // only its own incremental work (predecessors sit behind their
    // persist/checkpoint barriers) — this is the attribution for the
    // chain's aggregate slope: which stage is superlinear, and is its
    // growth work-volume (candidate pairs) or plan degradation
    Caches.clearAll(); System.gc(); Thread.sleep(1000)
    graft.queries.QText.stageBuildSecs.clear()
    val stages = graft.queries.QText.corpusStages(spark, dir)
    // a stage's cost = its EAGER build inside the corpusStages call (the
    // memoized barrier stages materialize there — stageBuildSecs records
    // it) + its count (where the LAZY stages pay; ~checkpoint read for
    // the barrier stages). Counts run in build order so each lazy stage
    // pays only its own increment over persisted predecessors.
    val stageTimes = graft.queries.QText.corpusStageOrder.map { n =>
      val t0 = System.nanoTime()
      val rows = stages(n).count()
      val secs = (System.nanoTime() - t0) / 1e9 +
        graft.queries.QText.stageBuildSecs.getOrElse(n, 0.0)
      n -> ((secs, rows))
    }
    println("STAGES " + fmt(stageTimes))
    Caches.clearAll()
    spark.stop()
  }

  /** (query timings, corpus-stage timings) from one child pass. */
  private def runChild(dir: String)
      : (Map[String, (Double, Long)], Seq[(String, (Double, Long))]) = {
    import scala.jdk.CollectionConverters._
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val jvmArgs = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getInputArguments.asScala
      .filter(a => a.startsWith("--add-opens") || a.startsWith("-Xmx")
        || a.startsWith("-D"))
    val cmd = (Seq(javaBin) ++ jvmArgs ++ Seq(
      "-cp", System.getProperty("java.class.path"),
      "graft.ScaleProbe", "--pass", dir)).asJava
    val p = new ProcessBuilder(cmd)
      .redirectError(ProcessBuilder.Redirect.INHERIT)
      .start()
    val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
    require(p.waitFor() == 0, s"probe child for $dir failed")
    def parse(prefix: String, required: Boolean): Seq[(String, (Double, Long))] =
      out.linesIterator.find(_.startsWith(prefix)) match {
        case None if !required => Seq.empty // subset run without the chain
        case None => sys.error(s"no $prefix line from child for $dir:\n$out")
        case Some(line) => line.stripPrefix(prefix).split(",").toSeq.map { kv =>
          val Array(k, v) = kv.split("=")
          val Array(secs, rows) = v.split(":")
          k -> ((secs.toDouble, rows.toLong))
        }
      }
    (parse("PROBE ", required = true).toMap,
      parse("STAGES ", required = false))
  }

  // ---- parent: replicate, then one child JVM per pass ----------------

  private def parentMain(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val copies = args.lift(1).map(_.toInt).getOrElse(5)
    require(copies >= 2, s"need at least 2 copies for a slope, got $copies")
    val work = Scratch.dirFor("scaleprobe", s"$src:$copies")
    val spark = session()

    // key strides are derived from the SOURCE's max id, so copies can
    // never collide at any scale factor (fixed strides would silently
    // overlap once ids outgrow them, shrinking the entity count and
    // corrupting the probe's K-times-entities premise)
    def replicate(name: String, idCols: Seq[String],
        extra: (DataFrame, Int) => DataFrame = (df, _) => df): Unit = {
      val base = spark.read.parquet(s"$src/$name.parquet")
      val strides = idCols.map { c =>
        val row = base.agg(max(col(c).cast("long")).as("mx")).head
        require(!row.isNullAt(0),
          s"$src/$name.parquet is empty or '$c' is all-null — cannot derive a stride")
        c -> (row.getLong(0) + 1L)
      }
      (0 until copies).map { k =>
        extra(strides.foldLeft(base) { case (df, (c, stride)) =>
          df.withColumn(c, col(c) + lit(k.toLong * stride))
        }, k)
      }.reduce(_.unionByName(_))
        .write.mode("overwrite").parquet(s"$work/$name.parquet")
    }
    // events: ts is copied exactly as the source stores it (nanos LONG
    // or micros TIMESTAMP_NTZ depending on driver generation) — the
    // type-adaptive graft.Tables.normalizeEventsTs applies to the copy
    replicate("events", Seq("user_id", "event_id"))
    replicate("documents", Seq("doc_id"),
      (df, k) => df.withColumn("text",
        concat(col("text"), lit(s" probecopy$k"))))
    replicate("embeddings", Seq("vec_id"))
    // fact tables replicate too (key-offset, same per-entity density) —
    // a symlinked lineitem/orders would leave the fact-side probes
    // (a15/s16/j23/w18/sk_qsketch) measuring CONSTANT input at x5,
    // reporting noise as a slope. Offsetting the entity keys
    // (supplier / customer) scales the group count the way production
    // growth does; the probed fact queries join no dimension tables,
    // so the unscaled dims stay consistent.
    // clear symlinks a pre-fix scratch dir may hold for these two —
    // overwriting THROUGH a symlink would race deletion semantics with
    // the (read-only) source dir
    for (t <- Seq("orders", "lineitem")) {
      val p = java.nio.file.Paths.get(s"$work/$t.parquet")
      if (java.nio.file.Files.isSymbolicLink(p))
        java.nio.file.Files.delete(p)
    }
    replicate("orders", Seq("o_orderkey", "o_custkey"))
    replicate("lineitem", Seq("l_orderkey", "l_suppkey"))
    for (t <- Seq("region", "nation", "customer", "supplier", "part")) {
      val link = java.nio.file.Paths.get(s"$work/$t.parquet")
      if (!java.nio.file.Files.exists(link))
        java.nio.file.Files.createSymbolicLink(link,
          java.nio.file.Paths.get(s"$src/$t.parquet"))
    }
    spark.stop() // the parent JVM holds no session while children run

    // per-query MIN over two isolated children per scale — the same
    // rationale as Bench's min-over-reps: measurement noise (page-cache
    // eviction, host contention, GC timing) is strictly additive, and
    // single-shot x5 numbers were observed to swing up to 4× between
    // identical runs on an idle machine
    def minOf(a: Map[String, (Double, Long)], b: Map[String, (Double, Long)]) =
      a.map { case (k, (s, r)) =>
        require(r == b(k)._2,
          s"$k returned different row counts across reps: $r vs ${b(k)._2}")
        k -> ((math.min(s, b(k)._1), r))
      }
    val (base1, bStage1) = runChild(src)
    val (base2, bStage2) = runChild(src)
    val (scaled1, sStage1) = runChild(work)
    val (scaled2, sStage2) = runChild(work)
    val base = minOf(base1, base2)
    val scaled = minOf(scaled1, scaled2)
    val stageOrder = bStage1.map(_._1)
    val baseStages = minOf(bStage1.toMap, bStage2.toMap)
    val scaledStages = minOf(sStage1.toMap, sStage2.toMap)

    def f3(v: Double) = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val qs = activeProbes.map { n =>
      val (bs, br) = base(n)
      val (ss, sr) = scaled(n)
      // rowsSlope > copies marks an answer-bound query: the probe's
      // near-dup construction grows the true result superlinearly, so
      // judge its wall-time slope against the rows slope, not 1.0
      s""""$n":{"x1":${f3(bs)},"x$copies":${f3(ss)},"slope":${
        f3(ss / math.max(bs, 1e-9))},"rowsX1":$br,"rowsX$copies":$sr,"rowsSlope":${
        f3(sr.toDouble / math.max(br.toDouble, 1.0))}}"""
    }.mkString("{", ",", "}")
    // per-stage attribution of the corpus build chain: which stage owns
    // the aggregate slope, with rows so answer-growth is separable from
    // operator degradation
    val st = stageOrder.map { n =>
      val (bs, br) = baseStages(n)
      val (ss, sr) = scaledStages(n)
      s""""$n":{"x1":${f3(bs)},"x$copies":${f3(ss)},"slope":${
        f3(ss / math.max(bs, 1e-9))},"rowsX1":$br,"rowsX$copies":$sr}"""
    }.mkString("{", ",", "}")
    val json =
      s"""{"copies":$copies,"src":"$src","queries":$qs,"corpus_stages":$st}"""
    println(json)
    val outFile = sys.env.getOrElse("SPARK_GRAFT_PROBE_OUT", "SCALE_PROBE.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Throwable => System.err.println(s"probe write failed: $e") }
  }
}
