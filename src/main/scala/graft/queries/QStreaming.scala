package graft.queries

import java.util.concurrent.atomic.AtomicInteger
import graft.streaming.{RunningTotals, Sessionize, StreamConf, StreamJoins, StreamingDaily, StreamingDedup, TwsEvent, TwsTotals}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Structured Streaming surface, driver-gated (SURVEY.md §2.10 stretch):
  * the watermarked tumbling-window daily panel run to completion over the
  * events files with Trigger.AvailableNow, then hash-compared against the
  * equivalent BATCH aggregation in DuckDB — the streaming/batch
  * equivalence that StreamingDailySpec asserts in-process, promoted to an
  * oracle row.
  */
object QStreaming extends Registry {

  private val runSeq = new AtomicInteger(0)

  /** Stage `batches` as single-file, mtime-ordered parquet files under
    * `src` ONCE per scratch key (the s64/s65 persisted-fixture
    * pattern): the staged files are pure deterministic functions of
    * the source tables — query INPUTS, not results — and re-writing
    * them every invocation timed the fixture build, not the stream
    * under test. A `_staged` marker is written LAST, so an interrupted
    * staging self-heals (no marker → full rebuild); Spark's file
    * source ignores `_`-prefixed names, so the marker never reaches a
    * reader. Warm hits are attributed via `Caches.markMemoHit()` and
    * land in Bench's `memo_warm` / `queries_cold` columns; the oracle
    * checks each row cold AND warm. Bump the marker suffix if any
    * staging's content definition changes. */
  private[queries] def stageOnce(src: String, tmpRoot: String,
      name: Int => String)(
      batches: => Seq[org.apache.spark.sql.DataFrame]): Unit = {
    val marker = java.nio.file.Paths.get(src, "_staged_v1")
    if (java.nio.file.Files.exists(marker)) {
      graft.Caches.markMemoHit()
      return
    }
    graft.Scratch.clear(src)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(src))
    batches.zipWithIndex.foreach { case (b, i) =>
      val tmp = s"$tmpRoot/tmp_$i"
      b.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = java.nio.file.Paths.get(src, name(i))
      java.nio.file.Files.move(part.toPath, dst,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      // strictly increasing mtimes pin the file-source batch order
      dst.toFile.setLastModified(1700000000000L + i * 60000L)
    }
    java.nio.file.Files.createFile(marker)
    ()
  }

  /** Stage the events table as THREE mtime-ordered arrival files
    * (split on deterministic ts boundaries) so `maxFilesPerTrigger=1`
    * delivers three micro-batches in a known order — the multi-epoch
    * fixture shared by `stream_transform_state` and
    * `stream_snapshot_commit` (one staging, one batch-boundary truth,
    * both oracles derive from the same CASE on ts). Returns the source
    * dir; columns (user_id, ts, cents). Persisted across runs via
    * [[stageOnce]].
    */
  private[queries] def stageArrivals(s: org.apache.spark.sql.SparkSession,
      d: String, root: String): String = {
    val src = s"$root/arrivals"
    stageOnce(src, root, i => s"arrival_$i.parquet") {
      val ev = graft.Tables.events(s, d).select(
        col("user_id"), col("ts"),
        (col("value").cast("decimal(18,2)") * 100)
          .cast("long").as("cents"))
      Seq(
        ev.filter(col("ts") < "2024-01-10"),
        ev.filter(col("ts") >= "2024-01-10" && col("ts") < "2024-01-20"),
        ev.filter(col("ts") >= "2024-01-20"))
    }
    src
  }

  /** Merge the per-batch KMV sketch dirs under `outDir` (one
    * `batch=N` child per micro-batch) into the census sketch: union →
    * per-(side, h) distinct → re-bottom-k. The per-batch dirs are
    * Hive-partitioned, so the read APPENDS the inferred `batch` column
    * even though the explicit schema omits it — the projection BEFORE
    * the distinct is load-bearing: without it the same hash surviving
    * in two batch sketches dedupes over (side, h, batch), stays
    * duplicated, and eats rk slots (wrong theta). `KmvSpec` pins the
    * multi-batch merge against the whole-corpus batch sketch.
    */
  private[queries] def kmvCensusMerge(
      s: org.apache.spark.sql.SparkSession,
      outDir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.types._
    val partials = s.read.schema(StructType(Seq(
        StructField("side", LongType),
        StructField("h", LongType))))
      .parquet(outDir)
      .select(col("side"), col("h"))
      .distinct() // the same gram may survive in several batches
    QSketch.kmvSketchFrom(partials, QSketch.KmvK)
  }

  def qs: Seq[Q] = Seq(

    Q("stream_daily_panel",
      (s, d) => {
        val name = s"graft_stream_daily_${runSeq.incrementAndGet()}"
        // state partitions sized to key volume, not CPU count (StreamConf)
        StreamConf.withStatePartitions(s) {
          StreamingDaily.runAvailableNow(s, s"$d/events.parquet", name)
        }
        s.table(name).select(col("id"), col("dt"), col("value_sum"),
          col("trade_count"), col("first_value"), col("last_value"),
          col("hi"), col("lo"))
      },
      Some("""SELECT user_id AS id, CAST(ts AS DATE) AS dt,
                     CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum,
                     count(*) AS trade_count,
                     arg_min(value, event_id) AS first_value,
                     arg_max(value, event_id) AS last_value,
                     max(value) AS hi, min(value) AS lo
              FROM events GROUP BY 1, 2""")),

    // flatMapGroupsWithState sessionization, batch-equivalence-oracled:
    // gap-based sessions ARE SQL-expressible (gaps-and-islands), so the
    // stateful streaming path gets a CORRECTNESS row — closed-session
    // emission mirrored by the batch filter below. Projection is the
    // hash-deterministic subset (value_sum is a SEQUENTIAL double fold in
    // the state machine — not cross-engine reproducible — and stays pinned
    // by SessionizeSpec instead).
    //
    // SINGLE-BATCH ASSUMPTION: the batch oracle is valid only because
    // eventsStream stages events.parquet as ONE file, so AvailableNow
    // delivers every event in one data micro-batch and the in-batch sortBy
    // in Sessionize repairs all out-of-order arrivals. With watermark
    // "0 seconds", a multi-file source could drop late rows that arrive in
    // a later batch (or split sessions), silently diverging from the
    // gaps-and-islands SQL. If the source ever becomes multi-file, set
    // maxFilesPerTrigger=total or a real watermark delay here.
    // Tail emission below is STRICT (`end_ms + gap < mx`) because Spark
    // fires EventTimeTimeout only when timeoutTimestamp < the eviction
    // watermark — a session ending exactly gap before max(ts) stays open.
    Q("stream_sessionize",
      (s, d) => {
        import s.implicits._
        val name = s"graft_stream_sess_${runSeq.incrementAndGet()}"
        val ev = StreamingDaily.eventsStream(s, s"$d/events.parquet")
          .select(col("user_id"), col("ts"),
            col("value").cast("double").as("value"))
          .withWatermark("ts", "0 seconds")
        StreamConf.withStatePartitions(s) {
          val q = Sessionize.sessions(ev.as[Sessionize.Ev], gapSeconds = 3600)
            .writeStream.format("memory").queryName(name)
            .outputMode("append").trigger(Trigger.AvailableNow()).start()
          q.awaitTermination()
        }
        s.table(name).select(col("user_id"), col("session_start"),
          col("session_end"), col("n_events"))
      },
      Some("""WITH e AS (
                SELECT user_id, epoch_ms(CAST(ts AS TIMESTAMP)) AS tms
                FROM events),
              g AS (SELECT user_id, tms,
                      CASE WHEN lag(tms) OVER w IS NULL
                             OR tms - lag(tms) OVER w > 3600000
                           THEN 1 ELSE 0 END AS brk
                    FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tms)),
              si AS (SELECT user_id, tms,
                       sum(brk) OVER (PARTITION BY user_id ORDER BY tms
                                      ROWS UNBOUNDED PRECEDING) AS sid
                     FROM g),
              sess AS (SELECT user_id, sid,
                         min(tms) AS start_ms, max(tms) AS end_ms,
                         CAST(count(*) AS INT) AS n_events,
                         max(sid) OVER (PARTITION BY user_id) AS last_sid
                       FROM si GROUP BY 1, 2),
              mx AS (SELECT max(tms) AS mx FROM e)
              SELECT user_id,
                     make_timestamp(start_ms * 1000) AS session_start,
                     make_timestamp(end_ms * 1000) AS session_end,
                     n_events
              FROM sess, mx
              WHERE sid < last_sid OR end_ms + 3600000 < mx""")),

    // Streaming exact dedup (dedup-ladder tier 1 in-stream): documents
    // stream in, duplicate fingerprints are dropped, the surviving
    // distinct-fingerprint SET equals the batch DISTINCT — the only
    // deterministic projection (which row survives depends on arrival
    // order). The bounded-state dropDuplicatesWithinWatermark variant is
    // pinned by StreamingDedupSpec; this row uses the plain form because
    // the backfill here is bounded.
    Q("stream_dedup_exact",
      (s, d) => {
        val name = s"graft_stream_dedup_${runSeq.incrementAndGet()}"
        StreamConf.withStatePartitions(s) {
          val q = StreamingDedup.distinctFingerprints(
              StreamingDedup.parquetStream(s, s"$d/documents.parquet"))
            .writeStream.format("memory").queryName(name)
            .outputMode("append").trigger(Trigger.AvailableNow()).start()
          q.awaitTermination()
        }
        s.table(name).select(col("fp"))
      },
      Some("""SELECT DISTINCT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
              FROM documents""")),

    // Watermarked STREAM-STREAM inner join: purchase events join each
    // user's error events from the trailing 6 hours — the equality +
    // event-time-range condition Spark requires to bound both sides'
    // state (each side's buffer evicts once the other's watermark passes
    // the range). With AvailableNow both sides arrive in one batch and
    // run to completion, so the emitted set equals the batch join the
    // DuckDB oracle runs. Timestamps are micro-truncated on BOTH sides
    // (graft.Tables nanos handling / CAST to TIMESTAMP in the oracle).
    Q("stream_stream_join",
      (s, d) => {
        val name = s"graft_stream_ssj_${runSeq.incrementAndGet()}"
        def side(tag: String) = StreamingDaily
          .eventsStream(s, s"$d/events.parquet")
        val buys = side("a").filter(col("event_type") === "purchase")
          .select(col("user_id").as("uid"), col("ts").as("ts_buy"),
            col("event_id").as("eid_buy"))
          .withWatermark("ts_buy", "0 seconds")
        val errs = side("b").filter(col("event_type") === "error")
          .select(col("user_id").as("uid2"), col("ts").as("ts_err"),
            col("event_id").as("eid_err"))
          .withWatermark("ts_err", "0 seconds")
        val joined = StreamJoins.recentInner(buys, errs,
          col("uid"), col("uid2"), col("ts_buy"), col("ts_err"),
          horizon = "6 HOURS")
        // 4 state stores per partition here — the knob matters most
        StreamConf.withStatePartitions(s) {
          val q = joined
            .select(col("uid"), col("eid_buy"), col("eid_err"))
            .writeStream.format("memory").queryName(name)
            .outputMode("append").trigger(Trigger.AvailableNow()).start()
          q.awaitTermination()
        }
        s.table(name).select(col("uid"), col("eid_buy"), col("eid_err"))
      },
      Some("""WITH e AS (SELECT user_id, event_id, event_type,
                                CAST(ts AS TIMESTAMP) AS mts
                         FROM events)
              SELECT b.user_id AS uid, b.event_id AS eid_buy,
                     r.event_id AS eid_err
              FROM e b JOIN e r
                ON b.event_type = 'purchase' AND r.event_type = 'error'
               AND r.user_id = b.user_id
               AND r.mts >= b.mts - INTERVAL 6 HOUR
               AND r.mts <= b.mts""")),

    // Streaming NEAR-DUP admission: the batch LSH-admission operator
    // (dd_incremental_admit) run INSIDE foreachBatch — the production
    // pattern for continuous corpus ingest. Each micro-batch of arriving
    // documents probes the STATIC corpus LSH index (profiles + band keys
    // + fingerprints, built once and persisted; at cluster scale a stored
    // index table that grows by admitted batches) and only the survivors
    // are appended. ZERO streaming state: the probe is a stream-static
    // join inside the batch closure, so state never grows with the
    // stream — the unbounded thing is the INDEX, which lives in storage,
    // not in the state store. Because micro-batches are checked against
    // the corpus only (never each other), any micro-batch split yields
    // the identical admitted set — which is why the batch oracle is
    // shared verbatim with dd_incremental_admit.
    Q("stream_lsh_admit",
      (s, d) => {
        import graft.llmdata.{Dedup, TextOps}
        import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
        val outDir = graft.Scratch.dirFor("stream_admit", d) + "/admitted"
        graft.Scratch.clear(outDir)
        // recreate eagerly: a zero-batch run would otherwise leave no dir
        // for the schema-pinned read-back below
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
        val docs = graft.Tables.documents(s, d)
        val isCorpus = col("doc_id") % 7 =!= 0
        val corpusProf = graft.Caches.registerTransient(
          Dedup.docProfilesLocal(docs.filter(isCorpus), "doc_id", "text",
              n = 5, k = 32)
            .persist(MEMORY_AND_DISK))
        val corpusKeys = graft.Caches.registerTransient(
          Dedup.bandKeys(corpusProf, k = 32, bands = 4)
            .persist(MEMORY_AND_DISK))
        val corpusFps = graft.Caches.registerTransient(
          docs.filter(isCorpus)
            .select(TextOps.fingerprint(col("text")).as("fp")).distinct()
            .persist(MEMORY_AND_DISK))
        val arrivals = StreamingDedup
          .parquetStream(s, s"$d/documents.parquet")
          .filter(col("doc_id") % 7 === 0)
        val q = arrivals.writeStream
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
            val bprof = Dedup.docProfilesLocal(batch, "doc_id", "text",
                n = 5, k = 32)
              .persist(MEMORY_AND_DISK)
            try Dedup.admitOnProfiles(bprof,
                batch.select(col("doc_id").as("id"),
                  TextOps.fingerprint(col("text")).as("fp")),
                corpusProf, corpusKeys, corpusFps,
                k = 32, bands = 4, threshold = 0.7)
              .write.mode("append").parquet(outDir)
            finally bprof.unpersist()
            ()
          }
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        // schema-pinned read: an all-rejected run writes no parquet, and
        // a schemaless read of the empty dir would throw instead of
        // returning the contract's empty (doc_id, n_shingles) frame
        s.read.schema(org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("doc_id",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("n_shingles",
              org.apache.spark.sql.types.LongType))))
          .parquet(outDir)
      },
      Some(QDedup.incrementalAdmitOracle)),

    // Streaming CURATION filter — the stateless end of the streaming
    // surface: every arriving document is scored by the SAME hashed
    // linear classifier expression as the batch tx_quality_classifier
    // (shared Column builder, so batch and stream cannot disagree) and
    // only keep-decision survivors are emitted. No watermark and no
    // state store: a pure per-row projection+filter runs in append mode
    // with zero streaming state at ANY rate — the shape of an ingest-
    // time quality gate in front of the corpus sink. AvailableNow over
    // the staged corpus makes the emitted set equal the batch filter,
    // which is exactly what the oracle replays.
    Q("stream_quality_filter",
      (s, d) => {
        val name = s"graft_stream_qf_${runSeq.incrementAndGet()}"
        val score = QText.classifierScoreCol
        val q = StreamingDedup.parquetStream(s, s"$d/documents.parquet")
          .select(col("doc_id"), score.as("score_milli"))
          .filter(col("score_milli") >= 0L)
          .writeStream.format("memory").queryName(name)
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        s.table(name)
      },
      Some(s"""WITH ${QText.classifierCtes}
              SELECT u.doc_id, u.s_uni + coalesce(b.s_bi, 0) AS score_milli
              FROM uni u LEFT JOIN bi b USING (doc_id)
              WHERE u.s_uni + coalesce(b.s_bi, 0) >= 0""")),

    // The TRAINED-WEIGHT ingest gate: same stateless append stream as
    // stream_quality_filter but scoring through the explicit 16k weight
    // vector (`classifierScoreWeighted` — the element_at lookup a real
    // fastText export drops into). Batch and stream share the exact
    // score Column in BOTH weight modes, so swapping weights can never
    // make the ingest gate and the batch curator disagree.
    Q("stream_quality_filter_weights",
      (s, d) => {
        val name = s"graft_stream_qfw_${runSeq.incrementAndGet()}"
        val score = QText.classifierScoreWeighted(QText.demoWeights)
        val q = StreamingDedup.parquetStream(s, s"$d/documents.parquet")
          .select(col("doc_id"), score.as("score_milli"))
          .filter(col("score_milli") >= 0L)
          .writeStream.format("memory").queryName(name)
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        s.table(name)
      },
      Some {
        val wSql = (h: String) => s"(($h % 16384) * 48271 + 7919) % 2001 - 1000"
        s"""WITH ${QText.classifierCtesWith(wSql)}
            SELECT u.doc_id, u.s_uni + coalesce(b.s_bi, 0) AS score_milli
            FROM uni u LEFT JOIN bi b USING (doc_id)
            WHERE u.s_uni + coalesce(b.s_bi, 0) >= 0"""
      }),

    // Incremental sketch census (ext.) — the streaming face of the CMS
    // linearity property `SketchSpec` pins: each micro-batch computes
    // its OWN 4×1024 counter table inside foreachBatch (zero streaming
    // state — the sketch IS the state, externalized), each batch's
    // table lands in a batchId-derived subdir with overwrite (replays
    // rewrite, never double-count — foreachBatch is at-least-once),
    // and the read-back sums them per
    // (rw, col). Counter addition distributes over ANY batch split, so
    // the merged table equals the whole-corpus batch table exactly —
    // which is the oracle. This is how a 100 TB ingest keeps a live
    // frequency census: per-batch sketches of bounded size (≤4096 rows
    // each) merged by association, never a re-scan of history.
    Q("stream_sketch_census",
      (s, d) => {
        val outDir = graft.Scratch.dirFor("stream_census", d) + "/counters"
        graft.Scratch.clear(outDir)
        java.nio.file.Files.createDirectories(
          java.nio.file.Paths.get(outDir))
        val q = StreamingDedup.parquetStream(s, s"$d/documents.parquet")
          .writeStream
          .foreachBatch {
            (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
              QSketch.cmsCounters(batch)
                .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
              ()
          }
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        import org.apache.spark.sql.types._
        s.read.schema(StructType(Seq(
            StructField("rw", IntegerType),
            StructField("col", LongType),
            StructField("counter", LongType))))
          .parquet(outDir)
          .groupBy(col("rw"), col("col"))
          .agg(sum(col("counter")).as("counter"))
      },
      Some(QSketch.cmsCountersOracle)),

    // Incremental KMV census (ext.) — the streaming face of the KMV
    // mergeability `KmvSpec` pins: each micro-batch externalizes its
    // OWN bottom-k sketch (≤ 2·k rows, zero streaming state) into a
    // batchId-derived overwrite dir, and the merged census is the
    // bottom-k of the unioned per-batch sketches — equal to the
    // whole-corpus batch sketch EXACTLY, because a batch's discarded
    // hashes are all above its own theta and therefore above the
    // union's. A 100 TB ingest keeps its distinct-overlap monitor this
    // way: per-batch sketch cost is bounded by k whatever the batch
    // size, merge cost by batches·k, and history is never re-scanned.
    // The oracle is the BATCH construction (shared CTE chain with
    // sk_kmv_overlap — the two faces cannot drift).
    Q("stream_kmv_census",
      (s, d) => {
        val outDir = graft.Scratch.dirFor("stream_kmv", d) + "/sketches"
        graft.Scratch.clear(outDir)
        java.nio.file.Files.createDirectories(
          java.nio.file.Paths.get(outDir))
        val q = StreamingDedup.parquetStream(s, s"$d/documents.parquet")
          .writeStream
          .foreachBatch {
            (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
              QSketch.kmvSketchFrom(QSketch.kmvHashes(batch), QSketch.KmvK)
                .select(col("side"), col("h"))
                .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
              ()
          }
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        kmvCensusMerge(s, outDir)
      },
      Some(s"""WITH ${QSketch.kmvSketchCtes}
              SELECT side, CAST(rk AS INT) AS rk, h FROM sk""")),

    // transformWithState (ext.) — the Spark 4 arbitrary-state API
    // (state API v2): typed NAMED state (`ValueState`), TTL config,
    // RocksDB-backed store — the successor to the mapGroupsWithState
    // path `stream_sessionize` exercises, run here as a per-user
    // running-totals processor over THREE mtime-ordered arrival files.
    // Each (user, batch-with-presence) emits one snapshot of the
    // persisted totals, so the output is the running-total HISTORY at
    // batch granularity — reproduced exactly by a batch cumulative sum
    // over the deterministic batch index (the oracle). The state is one
    // 16-byte pair per live key, the bounded shape a 100 TB ingest
    // carries (plus TTL where keys retire).
    Q("stream_transform_state",
      (s, d) => {
        val root = graft.Scratch.dirFor("stream_tws", d)
        val src = stageArrivals(s, d, root)
        val schema = s.read.parquet(src).schema
        val name = s"graft_stream_tws_${runSeq.incrementAndGet()}"
        RunningTotals.withRocksDb(s) {
          StreamConf.withStatePartitions(s) {
            import org.apache.spark.sql.{Encoders => E}
            val in = s.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src)
              .select(col("user_id"), col("cents"))
              .as(E.product[TwsEvent])
            implicit val twsTotalsEnc: org.apache.spark.sql.Encoder[TwsTotals] =
              E.product[TwsTotals]
            val q = in.groupByKey(_.user_id)(E.scalaLong)
              .transformWithState(new RunningTotals,
                org.apache.spark.sql.streaming.TimeMode.None(),
                org.apache.spark.sql.streaming.OutputMode.Append())
              .writeStream.format("memory").queryName(name)
              .outputMode("append").trigger(Trigger.AvailableNow()).start()
            q.awaitTermination()
          }
        }
        s.table(name)
          .select(col("user_id"), col("n_events"), col("sum_cents"))
      },
      Some("""WITH e AS (
                SELECT user_id,
                       CASE WHEN CAST(ts AS TIMESTAMP)
                              < TIMESTAMP '2024-01-10' THEN 0
                            WHEN CAST(ts AS TIMESTAMP)
                              < TIMESTAMP '2024-01-20' THEN 1
                            ELSE 2 END AS bi,
                       CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                         AS cents
                FROM events),
              pb AS (SELECT user_id, bi, count(*) AS n, sum(cents) AS c
                     FROM e GROUP BY 1, 2)
              SELECT user_id,
                     CAST(sum(n) OVER w AS BIGINT) AS n_events,
                     CAST(sum(c) OVER w AS BIGINT) AS sum_cents
              FROM pb
              WINDOW w AS (PARTITION BY user_id ORDER BY bi
                           ROWS UNBOUNDED PRECEDING)""")),

    // Streaming SNAPSHOT COMMITS (ext.) — the streaming surface
    // composed with the lake kernel: each micro-batch lands as ONE
    // committed snapshot (`streaming.SnapshotCommitSink` — files to a
    // batchId-scoped dir, manifest = prior entries + new files through
    // the CAS publish), so the table is exactly-once AT THE TABLE
    // LEVEL: a replayed epoch at or below the `#batchhw` high-water
    // header no-ops (`SnapshotStreamSpec` replays one), and a reader
    // pinned to snapshot v is never torn by the stream committing
    // v+1. Three mtime-ordered arrival files under maxFilesPerTrigger=1
    // give three deterministic epochs; the query reads EVERY snapshot
    // — the table's history is the stream's prefix sums, which is what
    // the batch oracle certifies.
    Q("stream_snapshot_commit",
      (s, d) => {
        val root = graft.Scratch.dirFor("stream_snapc", d)
        val tdir = s"$root/t"
        graft.Scratch.clear(tdir)
        val src = stageArrivals(s, d, root)
        val schema = s.read.parquet(src).schema
        val q = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(src)
          .writeStream
          .foreachBatch {
            (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
              graft.streaming.SnapshotCommitSink
                .commitBatch(s, tdir, batch, batchId)
              ()
          }
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        import graft.operators.SnapshotLog
        (1 to SnapshotLog.latest(tdir)).map { v =>
          SnapshotLog.read(s, tdir, v)
            .agg(count(lit(1)).as("n_rows"),
              sum(col("cents")).as("sum_cents"))
            .select(lit(v).as("snapshot"), col("n_rows"), col("sum_cents"))
        }.reduce(_.unionByName(_))
      },
      Some("""WITH e AS (
                SELECT CASE WHEN CAST(ts AS TIMESTAMP)
                              < TIMESTAMP '2024-01-10' THEN 1
                            WHEN CAST(ts AS TIMESTAMP)
                              < TIMESTAMP '2024-01-20' THEN 2
                            ELSE 3 END AS bi,
                       CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                         AS cents
                FROM events),
              snaps AS (SELECT * FROM (VALUES (1), (2), (3)) t(v))
              SELECT v AS snapshot, count(*) AS n_rows,
                     CAST(sum(cents) AS BIGINT) AS sum_cents
              FROM snaps JOIN e ON e.bi <= snaps.v
              GROUP BY 1""")),

    // STREAMING_WRITE through the STANDARD DSv2 door (ext., S63) —
    // `writeStream.format("graft-snapshot")`: every epoch commits as
    // ONE snapshot (entries labeled `batch=<epoch>`, O(delta) segment
    // append), a replayed epoch no-ops on the manifest's own
    // `#batchhw` high-water mark (`StreamingWriteSpec` pins the
    // byte-identical manifest), and the drained table equals the
    // batch-written oracle — `stream_snapshot_commit`'s contract
    // without the foreachBatch shim. Faces: one row per snapshot (the
    // stream's prefix states), exactly-once at the table level.
    Q("stream_table_sink",
      (s, d) => {
        val root = graft.Scratch.dirFor("stream_tsink", d)
        val tdir = s"$root/t"
        graft.Scratch.clear(tdir)
        // the checkpoint must die with the table: a stale checkpoint
        // over a cleared table would no-op every epoch (exactly-once
        // doing its job against a fixture that broke its own contract)
        graft.Scratch.clear(s"$root/cp")
        val src = stageArrivals(s, d, root)
        val schema = s.read.parquet(src).schema
        val q = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(src)
          .select(col("user_id"), col("cents"))
          .writeStream.format("graft-snapshot")
          .option("path", tdir)
          .option("checkpointLocation", s"$root/cp")
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        import graft.operators.SnapshotLog
        (1 to SnapshotLog.latest(tdir)).map { v =>
          SnapshotLog.read(s, tdir, v)
            .agg(count(lit(1)).as("n_rows"),
              sum(col("cents")).as("sum_cents"))
            .select(lit(v).as("snapshot"), col("n_rows"),
              col("sum_cents"))
        }.reduce(_.unionByName(_))
      },
      Some("""WITH e AS (
                SELECT CASE WHEN CAST(ts AS TIMESTAMP)
                              < TIMESTAMP '2024-01-10' THEN 1
                            WHEN CAST(ts AS TIMESTAMP)
                              < TIMESTAMP '2024-01-20' THEN 2
                            ELSE 3 END AS bi,
                       CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                         AS cents
                FROM events),
              snaps AS (SELECT * FROM (VALUES (1), (2), (3)) t(v))
              SELECT v AS snapshot, count(*) AS n_rows,
                     CAST(sum(cents) AS BIGINT) AS sum_cents
              FROM snaps JOIN e ON e.bi <= snaps.v
              GROUP BY 1""")),

    // Streaming CHANGE FEED (ext.) — the snapshot log as a streaming
    // SOURCE, the read half next to `stream_snapshot_commit`'s write
    // half: `readStream.format("graft-snapshot")` with
    // `changeFeed=true` replays the table's COMMIT HISTORY — offsets
    // are snapshot ids, each micro-batch is one commit's delta (new
    // data files as `_op='I'` rows, new equality-delete vectors as
    // `_op='D'` key rows, stamped `_commit`), and AvailableNow drains
    // to the latest commit. Exactly-once resumption is structural:
    // manifests are immutable, so a replayed epoch re-plans the
    // identical file list (`SnapshotSourceSpec` restarts from a
    // checkpoint and proves the no-op). The fixture commits three
    // ways — initial write, streaming batch append, delete vector —
    // and the oracle certifies every commit's delta: a 100 TB
    // consumer pays each commit's files, never a table scan, the
    // Delta CDF / Iceberg incremental-read shape.
    Q("stream_change_feed",
      (s, d) => {
        val dir = s"${graft.Scratch.dirFor("stream_cdf_v2", d)}/t"
        import graft.operators.{DeleteVectors, SnapshotLog, SnapshotMerge}
        // persisted INPUT fixture (the s64/lakeBase pattern): the
        // stream under test only READS this 3-commit history — rebuild
        // when absent/partial, attribute warm hits via markMemoHit
        if (SnapshotLog.latest(dir) == 3) graft.Caches.markMemoHit()
        else {
          graft.Scratch.clear(dir)
          val base = graft.Tables.lineitem(s, d).select(
            col("l_orderkey"), col("l_linenumber"),
            col("l_quantity").cast("decimal(18,2)").cast("int").as("qty"),
            month(to_date(col("l_shipdate"))).as("m"))
          SnapshotMerge.writeInitial(s,
            base.filter(col("l_orderkey") % 3 =!= 0), dir, "m")
          graft.streaming.SnapshotCommitSink.commitBatch(s, dir,
            base.filter(col("l_orderkey") % 3 === 0), 0L)
          DeleteVectors.appendDeletes(s, dir,
            base.filter(col("l_orderkey") % 19 === 0)
              .select(col("l_orderkey"), col("l_linenumber"), col("m")))
        }
        val name = "stream_cdf_tbl"
        val q = s.readStream.format("graft-snapshot")
          .option("path", dir).option("changeFeed", "true").load()
          .writeStream.format("memory").queryName(name)
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        s.table(name)
          .groupBy(col("_commit"), col("_op"))
          .agg(count(lit(1)).as("n_rows"),
            sum(col("l_orderkey")).cast("long").as("sum_ok"),
            sum(col("l_linenumber")).cast("long").as("sum_ln"))
      },
      Some("""WITH base AS (
                SELECT l_orderkey AS ok, l_linenumber AS ln,
                       month(CAST(l_shipdate AS DATE)) AS m
                FROM lineitem)
              SELECT CAST(1 AS BIGINT) AS _commit, 'I' AS _op,
                     count(*) AS n_rows,
                     CAST(sum(ok) AS BIGINT) AS sum_ok,
                     CAST(sum(ln) AS BIGINT) AS sum_ln
              FROM base WHERE ok % 3 <> 0
              UNION ALL
              SELECT 2, 'I', count(*), CAST(sum(ok) AS BIGINT),
                     CAST(sum(ln) AS BIGINT)
              FROM base WHERE ok % 3 = 0
              UNION ALL
              SELECT 3, 'D', count(*), CAST(sum(ok) AS BIGINT),
                     CAST(sum(ln) AS BIGINT)
              FROM (SELECT DISTINCT ok, ln, m FROM base
                    WHERE ok % 19 = 0)""")),

    // Streaming CDF with the U-SPLIT (ext.): the round-11 refusal
    // removed — a COPY-ON-WRITE rewrite commit now streams as the
    // exact logical delta. The table declares its logical keys
    // (`#keys`, a metadata commit); when the replayed commit rewrote
    // data files, the micro-batch planner runs the generic multiset
    // snapshot diff (`operators/ChangeDiff`: both sides read ONLY the
    // rewritten entries under their own vectors, full-row value groups
    // cancel, survivors fold per key to D/U/I) and serves the result
    // as literal rows — churn-sized by construction, computed once per
    // commit. Rewritten-but-identical rows cancel, so a MERGE-heavy
    // table replays its true change history: inserts as I, deleted
    // keys as D, updated keys as U — certified against the relational
    // multiset diff the oracle computes from scratch. Append and
    // vector commits keep the zero-read fast path.
    Q("stream_cdf_cow",
      (s, d) => {
        val dir = s"${graft.Scratch.dirFor("stream_cdfcow_v2", d)}/t"
        import graft.operators.{SnapshotLog, SnapshotMerge}
        // persisted INPUT fixture: clone(v1) + keys commit (v1+1) +
        // COW merge (v1+2) — the stream only READS the history, so
        // the 3-commit build persists across runs (warm hit
        // attributed); a partial build (latest != v1+2) rebuilds
        // the base is a 1-commit table (all seqs 1), so the clone
        // always lands at v1 = 1 and a COMPLETE build is exactly
        // latest == 3; an interrupted one (0..2) rebuilds
        val (v1, v3) =
          if (SnapshotLog.latest(dir) == 3) {
            graft.Caches.markMemoHit()
            (1, 3)
          } else {
            graft.Scratch.clear(dir)
            val v1 = SnapshotLog.clone(QFilters.lakeBaseDir(s, d), dir)
            SnapshotLog.commitKeysChange(dir,
              Seq("l_orderkey", "l_linenumber", "m"))
            val src = SnapshotLog.read(s, dir, v1)
              .filter(col("m").isin(2, 3))
            val deletes = src.filter(col("l_orderkey") % 19 === 0)
              .select(col("l_orderkey"), col("l_linenumber"), col("m"))
            val updates = src.filter(col("l_orderkey") % 19 =!= 0 &&
                col("l_orderkey") % 13 === 0)
              .select(col("l_orderkey"), col("l_linenumber"), col("m"),
                (col("l_orderkey") % 47 + 1).cast("int").as("new_qty"))
            val inserts = src.filter(col("l_orderkey") % 19 =!= 0 &&
                col("l_orderkey") % 13 =!= 0 &&
                col("l_orderkey") % 17 === 0)
              .select((col("l_orderkey") + 1000000L).as("l_orderkey"),
                col("l_linenumber"), col("qty"), col("m"))
            val v3 = SnapshotMerge(s, dir, "m",
              Seq("l_orderkey", "l_linenumber"), deletes, updates,
              inserts, Map("qty" -> "new_qty"))
            require(v3 == v1 + 2, s"cdf_cow fixture: expected v1+2, " +
              s"got v1=$v1 v3=$v3")
            (v1, v3)
          }
        val name = "stream_cdfcow_tbl"
        val q = s.readStream.format("graft-snapshot")
          .option("path", dir).option("changeFeed", "true")
          // start AFTER the initial load: the feed under test is the
          // keys commit (empty delta) + the COW merge (the U-split)
          .option("startingVersion", v1).load()
          .writeStream.format("memory").queryName(name)
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        s.table(name).filter(col("_commit") === v3)
          .groupBy(col("_op").as("op"))
          .agg(count(lit(1)).as("n_keys"),
            sum(col("l_orderkey")).cast("long").as("sum_ok"),
            sum(col("l_linenumber")).cast("long").as("sum_ln"))
      },
      Some("""WITH base AS (
                SELECT l_orderkey AS ok, l_linenumber AS ln,
                       month(CAST(l_shipdate AS DATE)) AS m,
                       CAST(l_quantity AS INT) AS qty
                FROM lineitem),
              kept AS (
                SELECT ok, ln, m,
                       CASE WHEN m IN (2, 3) AND ok % 19 <> 0
                                 AND ok % 13 = 0
                            THEN CAST(ok % 47 + 1 AS INT)
                            ELSE qty END AS qty
                FROM base WHERE NOT (m IN (2, 3) AND ok % 19 = 0)),
              ins AS (
                SELECT ok + 1000000 AS ok, ln, m, qty FROM base
                WHERE m IN (2, 3) AND ok % 19 <> 0 AND ok % 13 <> 0
                  AND ok % 17 = 0),
              newt AS (SELECT * FROM kept UNION ALL SELECT * FROM ins),
              og AS (SELECT ok, ln, m, qty, count(*) AS n
                     FROM base GROUP BY 1, 2, 3, 4),
              ng AS (SELECT ok, ln, m, qty, count(*) AS n
                     FROM newt GROUP BY 1, 2, 3, 4),
              gd AS (
                SELECT COALESCE(o.ok, n.ok) AS ok,
                       COALESCE(o.ln, n.ln) AS ln,
                       COALESCE(o.m, n.m) AS m,
                       COALESCE(o.n, 0) AS n_o, COALESCE(n.n, 0) AS n_n
                FROM og o FULL OUTER JOIN ng n
                  ON o.ok = n.ok AND o.ln = n.ln AND o.m = n.m
                     AND o.qty = n.qty
                WHERE COALESCE(o.n, 0) <> COALESCE(n.n, 0)),
              keyd AS (
                SELECT ok, ln, m,
                       CAST(sum(n_o) AS BIGINT) AS o,
                       CAST(sum(n_n) AS BIGINT) AS n
                FROM gd GROUP BY 1, 2, 3),
              ops AS (
                SELECT ok, ln,
                       CASE WHEN n = 0 THEN 'D'
                            WHEN o = 0 THEN 'I' ELSE 'U' END AS op
                FROM keyd)
              SELECT op, count(*) AS n_keys,
                     CAST(sum(ok) AS BIGINT) AS sum_ok,
                     CAST(sum(ln) AS BIGINT) AS sum_ln
              FROM ops GROUP BY 1""")),

    // Streaming MERGE-ON-READ UPSERT (ext.) — the CDC-apply shape: each
    // micro-batch commits as ONE snapshot carrying the batch's rows as
    // a data file AND an equality-delete vector on the key column that
    // retracts every OLDER version of those keys
    // (`SnapshotCommitSink.upsertBatch`). The Iceberg sequence rule
    // makes the pairing correct by construction — the vector's seq
    // equals the committing version, so it covers all prior batches'
    // rows and never the batch's own file — and `readMor` serves
    // last-writer-wins per key with ZERO rewrites (compaction folds
    // vectors off-peak). The arrival batches slice time in ascending
    // disjoint ranges, so the final table must hold each user's
    // LATEST event — the oracle's window rank certifies it. At 100 TB
    // a CDC stream pays per-batch churn (broadcast-sized vectors),
    // never a table rewrite per upsert.
    Q("stream_mor_upsert",
      (s, d) => {
        val root = graft.Scratch.dirFor("stream_morup", d)
        val tdir = s"$root/t"
        graft.Scratch.clear(tdir)
        val src = stageArrivals(s, d, root)
        val schema = s.read.parquet(src).schema
        val q = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(src)
          .writeStream
          .foreachBatch {
            (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
              // CDC-apply contract: one row per key per batch — keep
              // the batch's last event per user (the slices are
              // time-ordered, so this IS the user's latest overall)
              val w = org.apache.spark.sql.expressions.Window
                .partitionBy(col("user_id"))
                .orderBy(col("ts").desc, col("cents").desc)
              val one = batch.withColumn("rk", row_number().over(w))
                .filter(col("rk") === 1).drop("rk")
              graft.streaming.SnapshotCommitSink
                .upsertBatch(s, tdir, one, batchId, Seq("user_id"))
              ()
          }
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        import graft.operators.SnapshotLog
        SnapshotLog.readMor(s, tdir, SnapshotLog.latest(tdir))
          .groupBy((col("user_id") % 10).as("bucket"))
          .agg(count(lit(1)).as("n_users"),
            sum(col("cents")).as("sum_cents"))
      },
      Some("""WITH e AS (
                SELECT user_id,
                       CAST(ts AS TIMESTAMP) AS ts,
                       CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                         AS cents
                FROM events),
              ranked AS (
                SELECT user_id, cents,
                       row_number() OVER (PARTITION BY user_id
                         ORDER BY ts DESC, cents DESC) AS rk
                FROM e)
              SELECT user_id % 10 AS bucket, count(*) AS n_users,
                     CAST(sum(cents) AS BIGINT) AS sum_cents
              FROM ranked WHERE rk = 1 GROUP BY 1""")),

    // Streaming MG census (ext.) — the heavy-hitter face of the
    // per-batch-sketch family (CMS adds, KMV re-bottom-ks, priority
    // sample re-tops, MG MERGES): each micro-batch externalizes one
    // ≤k-entry Misra–Gries summary plus its row count (zero streaming
    // state, the summary IS the state), and the merged candidate set
    // keeps the superset-of-heavy guarantee because the
    // mergeable-summaries fold preserves the additive n/(k+1) bound
    // across ANY batch split (`MisraGriesSpec` pins it for hostile
    // splits). The final exact recount of ≤k candidates runs over the
    // full corpus read — the same pass-2 the batch query pays — so the
    // OUTPUT equals the batch face exactly, and both share one oracle.
    // A 100 TB ingest maintains its heavy-hitter set this way:
    // per-batch cost one k-bounded pass, merge cost batches·k entries.
    Q("stream_mg_census",
      (s, d) => {
        val outDir = graft.Scratch.dirFor("stream_mg", d) + "/summaries"
        graft.Scratch.clear(outDir)
        java.nio.file.Files.createDirectories(
          java.nio.file.Paths.get(outDir))
        val k = QSketch.MgK
        val q = StreamingDedup.parquetStream(s, s"$d/lineitem.parquet")
          .writeStream
          .foreachBatch {
            (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
              // fold the batch's partition summaries HERE (foreachBatch
              // runs on the driver) so ONE ≤k-entry summary lands per
              // batch, per-batchId overwrite = replay-idempotent
              val parts = QSketch.mgPartials(QSketch.mgKeyed(batch), k)
                .collect()
              val merged = parts.map(_._2.toMap)
                .foldLeft(Map.empty[String, Long])(
                  graft.operators.MisraGries.merge(_, _, k))
              import batch.sparkSession.implicits._
              merged.toSeq.toDF("k", "cnt")
                .coalesce(1)
                .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
              ()
          }
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        import org.apache.spark.sql.types._
        // one map per batch dir, folded with the SAME merge the batch
        // face uses — the bound is additive across any split
        val perBatch = s.read.schema(StructType(Seq(
            StructField("k", StringType),
            StructField("cnt", LongType),
            StructField("batch", LongType))))
          .parquet(outDir)
          .collect()
          .groupBy(_.getAs[Long]("batch"))
          .map { case (_, rows) => rows.map(r =>
            r.getAs[String]("k") -> r.getAs[Long]("cnt")).toMap }
        val folded = perBatch
          .foldLeft(Map.empty[String, Long])(
            graft.operators.MisraGries.merge(_, _, k))
        // pass 2 over the corpus — the recount the batch face also pays
        val keyed = QSketch.mgKeyed(graft.Tables.lineitem(s, d))
        QSketch.mgRecount(keyed, folded.keys.toSeq, keyed.count(), k)
      },
      Some(QSketch.mgOracle)),

    // Incremental priority sample (ext.) — the streaming face of the
    // Duffield–Lund–Thorup sample: each micro-batch externalizes its
    // OWN top-(k+1) priority frame (≤ k+1 rows, zero streaming state)
    // into a batchId-derived overwrite dir, and the merged sample is
    // the top-(k+1) of the unioned per-batch tops — equal to the
    // whole-corpus batch sample EXACTLY: a doc outside its batch's
    // top-(k+1) is preceded by k+1 same-batch docs in the
    // (q desc, doc_id) total order, all of which survive into the
    // union, so it cannot enter the global top-(k+1) either (the same
    // discard-safety argument as KMV's theta bound, for ranks instead
    // of thresholds). Priorities are deterministic (hash-derived u_i),
    // so the merged frame is bit-identical to the batch construction
    // and the per-source subset-sum assembly + oracle are SHARED with
    // `sk_priority_sample` — the two faces cannot drift. A 100 TB
    // ingest keeps its weighted sample this way: per-batch cost is one
    // TakeOrderedAndProject bounded by k+1, merge cost batches·(k+1)
    // rows, history never re-scanned.
    Q("stream_priority_sample",
      (s, d) => {
        val outDir = graft.Scratch.dirFor("stream_prisample", d) + "/tops"
        graft.Scratch.clear(outDir)
        java.nio.file.Files.createDirectories(
          java.nio.file.Paths.get(outDir))
        val k = QSketch.PriK
        val q = StreamingDedup.parquetStream(s, s"$d/documents.parquet")
          .writeStream
          .foreachBatch {
            (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
              QSketch.priorityRanked(batch, k)
                .select(col("doc_id"), col("source"), col("w"), col("q"))
                .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
              ()
          }
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        import org.apache.spark.sql.types._
        val partials = s.read.schema(StructType(Seq(
            StructField("doc_id", LongType),
            StructField("source", StringType),
            StructField("w", LongType),
            StructField("q", DoubleType))))
          .parquet(outDir)
        // global top-(k+1) over ≤ batches·(k+1) surviving rows — the
        // same k+1-bounded TakeOrderedAndProject + sketch-sized window
        // as the batch construction
        val win = org.apache.spark.sql.expressions.Window
          .orderBy(col("q").desc, col("doc_id").asc)
        val merged = partials
          .orderBy(col("q").desc, col("doc_id").asc).limit(k + 1)
          .withColumn("rk", row_number().over(win))
        QSketch.prioritySampleResult(
          graft.Tables.documents(s, d), merged, k)
      },
      Some(QSketch.prioritySampleOracle)),

    // Watermark-BOUNDED streaming dedup (ext.): stream_dedup_exact
    // keeps one state row per key FOREVER — fine for a backfill, fatal
    // for a perpetual ingest. dropDuplicatesWithinWatermark bounds
    // state to the dedup horizon, and this query pins its THREE
    // semantic edges end-to-end against an arithmetic oracle, the
    // stream_late_data method: (1) a duplicate arriving while its key
    // is in state is DROPPED; (2) a duplicate of an EVICTED key is
    // RE-EMITTED (the windowed-dedup contract — the price of bounded
    // state); (3) a duplicate arriving with an event time below the
    // late-row filter is DISCARDED before the state lookup. Three
    // mtime-ordered arrival files: the originals (< Jan 10), the second
    // wave (Jan 10–20) plus next-day echoes of every 7th original, then
    // the tail (≥ Jan 20) plus 18-day-later echoes (every 5th) and
    // original-timestamp echoes (every 9th, not 5th). Spark 4.1's
    // observed semantics (fitted to the emission set exactly, the
    // stream_late_data method): BOTH the late filter and eviction in
    // batch N use wm = max(ts through batch N−2) − horizon, and a state
    // entry expires when first_ts + horizon < wm — i.e. a key is
    // evicted once first_ts < max_through_{N−2} − 2·horizon. Hence the
    // next-day echoes in batch 2 are ALL duplicates (wm still −inf,
    // nothing evicted), the original-timestamp echoes in batch 3 are
    // ALL discarded (evicted ⊂ late for an unchanged timestamp), and
    // exactly the 18-day echoes of keys older than max_b1 − 2·horizon
    // re-emit. A drift in any edge hash-fails.
    Q("stream_dedup_watermark",
      (s, d) => {
        val root = graft.Scratch.dirFor("stream_dedup_wm", d)
        val src = s"$root/arrivals"
        stageOnce(src, root, i => s"arrival_$i.parquet") {
          val ev = graft.Tables.events(s, d).select(
            col("event_id"), col("ts"),
            (col("value").cast("decimal(18,2)") * 100)
              .cast("long").as("cents"))
          val b1 = ev.filter(col("ts") < "2024-01-10")
          val echoNext = b1.filter(col("event_id") % 7 === 0)
            .select(col("event_id"),
              expr("ts + INTERVAL 1 DAY").as("ts"), col("cents"))
          val echoFar = b1.filter(col("event_id") % 5 === 0)
            .select(col("event_id"),
              expr("ts + INTERVAL 18 DAY").as("ts"), col("cents"))
          val echoStale = b1.filter(col("event_id") % 9 === 0 &&
            col("event_id") % 5 =!= 0)
          Seq(
            b1,
            ev.filter(col("ts") >= "2024-01-10" && col("ts") < "2024-01-20")
              .unionByName(echoNext),
            ev.filter(col("ts") >= "2024-01-20")
              .unionByName(echoFar).unionByName(echoStale))
        }
        val schema = s.read.parquet(src).schema
        val name = s"graft_stream_ddwm_${runSeq.incrementAndGet()}"
        StreamConf.withStatePartitions(s) {
          val q = s.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).parquet(src)
            .withWatermark("ts", "3 days")
            .dropDuplicatesWithinWatermark("event_id")
            .writeStream.format("memory").queryName(name)
            .outputMode("append").trigger(Trigger.AvailableNow()).start()
          q.awaitTermination()
        }
        s.table(name).select(col("event_id"), col("ts"), col("cents"))
      },
      // every original is a first occurrence (emitted); the only echoes
      // that survive are the +18d copies of keys already evicted when
      // batch 3 runs: first_ts < max_b1 − 2·horizon (see the semantics
      // note above — 6 days = 2 × the 3-day horizon)
      Some("""WITH e AS (
                SELECT event_id, CAST(ts AS TIMESTAMP) AS ts,
                       CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                         AS cents
                FROM events),
              m AS (SELECT max(ts) AS max_b1 FROM e
                    WHERE ts < TIMESTAMP '2024-01-10')
              SELECT event_id, ts, cents FROM e
              UNION ALL
              SELECT event_id, ts + INTERVAL 18 DAY AS ts, cents
              FROM e, m
              WHERE ts < TIMESTAMP '2024-01-10' AND event_id % 5 = 0
                AND ts < max_b1 - INTERVAL 6 DAY""")),

    // Streaming CDC → SCD2 apply: the order change-log arrives as THREE
    // chronological micro-batches (one file per trigger, mtime-ordered)
    // and each batch is MERGED into the persisted validity history via
    // `operators.Scd2.merge` in foreachBatch — the streaming face of the
    // s16 incremental upsert, with state ping-ponged between two parquet
    // dirs (write-then-swap; never overwrite the dir being read). The
    // final history must equal the batch FULL REBUILD over all orders —
    // that is the oracle — because merge is prefix-stable (`Scd2Spec`);
    // chunking by disjoint date ranges guarantees each batch holds only
    // events later than everything already applied, which is merge's
    // contract. Scale shape: per micro-batch work is sized by the CHANGE
    // BATCH (untouched keys anti-join through), exactly like the batch
    // path; at cluster scale the ping-pong dirs become table versions
    // (the MERGE INTO pattern of a lakehouse table format).
    Q("stream_scd2_apply",
      (s, d) => {
        val root = graft.Scratch.dirFor("stream_scd2", d)
        val src = s"$root/changes"
        stageOnce(src, root, i => s"chunk_$i.parquet") {
          val ev = graft.Tables.orders(s, d).select(
            col("o_custkey").as("custkey"),
            col("o_orderstatus").as("status"),
            col("o_orderdate").as("vf"),
            col("o_orderkey").as("tb"))
          Seq(
            ("1990-01-01", "1997-01-01"),
            ("1997-01-01", "1999-01-01"),
            ("1999-01-01", "2999-01-01")).map { case (lo, hi) =>
            ev.filter(col("vf") >= lo && col("vf") < hi)
          }
        }
        val schema = s.read.parquet(src).schema
        val stateA = s"$root/stateA"
        val stateB = s"$root/stateB"
        @volatile var cur: Option[String] = None
        val q = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(src)
          .writeStream
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
            val merged = cur match {
              case None => graft.operators.Scd2.build(
                batch, "custkey", "status", "vf", "tb")
              case Some(dir) => graft.operators.Scd2.merge(
                s.read.parquet(dir), batch, "custkey", "status", "vf", "tb")
            }
            val next = if (cur.contains(stateA)) stateB else stateA
            merged.write.mode("overwrite").parquet(next)
            cur = Some(next)
            ()
          }
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        s.read.parquet(cur.get).select(col("custkey"), col("status"),
          col("valid_from"), col("valid_to"), col("is_current"))
      },
      Some("""WITH ev AS (
                SELECT o_custkey AS custkey, o_orderstatus AS status,
                       o_orderdate AS vf, o_orderkey AS tb,
                       lag(o_orderstatus) OVER (PARTITION BY o_custkey
                         ORDER BY o_orderdate, o_orderkey) AS prev
                FROM orders),
              ch AS (SELECT custkey, status, vf, tb FROM ev
                     WHERE prev IS NULL OR status <> prev),
              iv AS (SELECT custkey, status, vf AS valid_from,
                            lead(vf) OVER (PARTITION BY custkey
                              ORDER BY vf, tb) AS valid_to
                     FROM ch)
              SELECT custkey, status, valid_from, valid_to,
                     CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END
                       AS is_current
              FROM iv""")),

    // STREAMING MATERIALIZED VIEW with retractions (ext.) — the s25
    // IVM operator driven by a change STREAM: batch 0 delivers the v1
    // corpus as inserts, batch 1 the v1→v2 CDC delta as signed
    // retraction/insert rows, and foreachBatch folds each batch's
    // (source, ±1, ±chars) contributions into the persisted aggregate
    // (ping-pong state dirs, same as stream_scd2_apply). Because
    // count/sum are abelian, the maintained view after the delta batch
    // must equal the FULL RECOMPUTE over v2 — the oracle — while the
    // per-batch work is delta-sized. This is the
    // Materialize/DLT-style continuously-maintained aggregate, built
    // from the engine's own parts and hash-gated.
    Q("stream_ivm_aggregate",
      (s, d) => {
        val root = graft.Scratch.dirFor("stream_ivm", d)
        val src = s"$root/changes"
        stageOnce(src, root, i => s"chunk_$i.parquet") {
          val v1 = graft.Tables.documents(s, d)
          val v2 = QFilters.snapshotV2(v1)
          val inserts = v1.select(col("source"), lit(1L).as("dn"),
            length(col("text")).cast("long").as("dchars"))
          val j = v1.select(col("doc_id"), col("text").as("t1"),
              col("source").as("src1"))
            .join(v2.select(col("doc_id"), col("text").as("t2"),
              col("source").as("src2")), Seq("doc_id"), "full_outer")
            .filter(!(col("t1") <=> col("t2")))
          val delta = j.select(explode(array(
              struct(col("src1").as("source"), lit(-1L).as("dn"),
                (-length(col("t1"))).cast("long").as("dchars")),
              struct(col("src2").as("source"), lit(1L).as("dn"),
                length(col("t2")).cast("long").as("dchars")))).as("x"))
            .select(col("x.*"))
            .filter(col("source").isNotNull && col("dchars").isNotNull)
          Seq(inserts, delta)
        }
        val schema = s.read.parquet(src).schema
        val stateA = s"$root/stateA"
        val stateB = s"$root/stateB"
        @volatile var cur: Option[String] = None
        val q = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(src)
          .writeStream
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
            val contrib = batch.groupBy(col("source"))
              .agg(sum(col("dn")).as("dn"),
                sum(col("dchars")).as("dchars"))
            val merged = cur match {
              case None => contrib
              case Some(dir) => s.read.parquet(dir)
                .unionByName(contrib)
                .groupBy(col("source"))
                .agg(sum(col("dn")).as("dn"),
                  sum(col("dchars")).as("dchars"))
            }
            val next = if (cur.contains(stateA)) stateB else stateA
            merged.filter(col("dn") > 0)
              .write.mode("overwrite").parquet(next)
            cur = Some(next)
            ()
          }
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        s.read.parquet(cur.get).select(col("source"),
          col("dn").as("n_docs"), col("dchars").as("sum_chars"))
      },
      Some(s"""WITH ${QFilters.snapshotV2Sql}
              SELECT source, count(*) AS n_docs,
                     CAST(sum(length(text)) AS BIGINT) AS sum_chars
              FROM v2 GROUP BY 1""")),

    // LATE-DATA accounting (ext.): the watermark actually DROPPING
    // stragglers, pinned end-to-end against an arithmetic oracle.
    // Three mtime-ordered arrival files: early on-time rows (< Jan 20),
    // the second wave (Jan 20–25), then the STRAGGLERS — every fifth
    // event with its ORIGINAL old timestamp (plus the post-Jan-25
    // tail). Spark's watermark lags one batch for late-event admission
    // (filter wm in batch N = data through batch N−2; eviction wm =
    // data through batch N−1, plus a final flushing batch whose
    // eviction wm sees everything — observed on 4.1 and mirrored
    // exactly): stragglers are admitted only into windows with end >
    // max(wave-1 ts) − 1h (days ≥ 19 here), everything older is
    // DISCARDED, and the final panel covers windows with end ≤
    // max(all ts) − 1h (days ≤ 29). The result shows all three
    // regimes at once: days 1–18 on-time-only (drops visible), days
    // 19–29 complete (admission visible), day 30 absent (state still
    // open). A drift in either semantic edge hash-fails.
    Q("stream_late_data",
      (s, d) => {
        val root = graft.Scratch.dirFor("stream_late", d)
        val src = s"$root/arrivals"
        stageOnce(src, root, i => s"arrival_$i.parquet") {
          val ev = graft.Tables.events(s, d).select(
            col("ts"), col("event_id"),
            (col("value").cast("decimal(18,2)") * 100)
              .cast("long").as("cents"))
          val onTime = col("event_id") % 5 =!= 0
          Seq(
            ev.filter(onTime && col("ts") < "2024-01-20"),
            ev.filter(onTime && col("ts") >= "2024-01-20" &&
              col("ts") < "2024-01-25"),
            ev.filter(!onTime || col("ts") >= "2024-01-25"))
        }
        val schema = s.read.parquet(src).schema
        val name = s"graft_stream_late_${runSeq.incrementAndGet()}"
        StreamConf.withStatePartitions(s) {
          val q = s.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).parquet(src)
            .withWatermark("ts", "1 hour")
            .groupBy(window(col("ts"), "1 day").as("w"))
            .agg(count(lit(1)).as("n_events"),
              sum(col("cents")).as("sum_cents"))
            .select(col("w.start").as("day_start"),
              col("n_events"), col("sum_cents"))
            .writeStream.format("memory").queryName(name)
            .outputMode("append").trigger(Trigger.AvailableNow()).start()
          q.awaitTermination()
        }
        s.table(name)
      },
      Some("""WITH e AS (
                SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS tus,
                       event_id,
                       CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                         AS cents,
                       (event_id % 5 <> 0) AS ontime
                FROM events),
              cut AS (SELECT epoch_us(TIMESTAMP '2024-01-20') AS c20,
                             epoch_us(TIMESTAMP '2024-01-25') AS c25),
              wm AS (SELECT
                       max(tus) FILTER (WHERE ontime AND tus < c20)
                         - 3600000000 AS wm_admit,
                       max(tus) - 3600000000 AS wm_emit
                     FROM e, cut),
              adm AS (SELECT tus, cents,
                        (tus // 86400000000) * 86400000000 AS ws
                      FROM e, cut, wm
                      WHERE (ontime AND tus < c25)
                         OR (tus // 86400000000) * 86400000000
                              + 86400000000 > wm_admit)
              SELECT make_timestamp(ws) AS day_start,
                     count(*) AS n_events,
                     CAST(sum(cents) AS BIGINT) AS sum_cents
              FROM adm, wm
              WHERE ws + 86400000000 <= wm_emit
              GROUP BY 1""")),

    // Streaming DSv2: the custom connector's MICRO-BATCH face
    // (`sources.SynthMicroBatchStream` — row-position offsets,
    // admission control capping each trigger at batchRows, AvailableNow
    // drains the range in ordered batches). foreachBatch is an
    // AT-LEAST-ONCE contract, so each batch lands in its OWN
    // batchId-derived subdir with mode=overwrite — a replayed
    // micro-batch rewrites the same subdir instead of double-appending,
    // making the sink idempotent (exactly-once OUTPUT from
    // at-least-once delivery; `Dsv2Spec` replays a batch to pin it).
    // The union must equal the batch read of the same range, which is
    // what the closed-form oracle checks. batchRows=5000 over 20000
    // rows forces 4+ real micro-batches.
    Q("stream_dsv2_source",
      (s, d) => {
        val outDir = graft.Scratch.dirFor("stream_dsv2", d) + "/rows"
        graft.Scratch.clear(outDir)
        java.nio.file.Files.createDirectories(
          java.nio.file.Paths.get(outDir))
        val q = s.readStream.format("graft-synth")
          .option("rows", 20000L).option("partitions", 4)
          .option("batchRows", 5000L)
          .load()
          .writeStream
          .foreachBatch {
            (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
              batch.write.mode("overwrite")
                .parquet(s"$outDir/batch=$batchId")
              ()
          }
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        s.read.parquet(outDir)
          .groupBy(col("entity_id"))
          .agg(count(lit(1)).as("n_trades"),
            sum(col("price_cents")).as("sum_cents"),
            sum(col("qty")).as("sum_qty"))
      },
      Some("""SELECT i % 97 AS entity_id, count(*) AS n_trades,
                     CAST(sum(10000 + (i * 31) % 5000) AS BIGINT)
                       AS sum_cents,
                     CAST(sum(1 + i % 50) AS BIGINT) AS sum_qty
              FROM range(0, 20000) t(i)
              GROUP BY 1"""))
  ,

    // STREAMING WRITE face of the graft-checksum DSv2 sink: the synth
    // range flows through writeStream.format("graft-checksum") — a
    // sink-side two-phase commit PER EPOCH (task folds -> driver folds
    // the epoch delta into the running manifest, atomic temp+move, a
    // replayed epoch is a no-op on the manifest's own high-water mark).
    // This is the exactly-once ingest path a 100 TB stream wants: no
    // foreachBatch user code, idempotence lives in the sink commit.
    // The oracle is the BATCH manifest semantics over the same rows —
    // count/sum/xor are order- and epoch-partition-invariant, so any
    // micro-batch slicing must land on the same closed form
    // (`ChecksumStreamSpec` additionally replays an epoch and proves
    // the manifest byte-identical).
    Q("stream_dsv2_sink",
      (s, d) => {
        val dir = graft.Scratch.dirFor("stream_cksink", d)
        graft.Scratch.clear(dir) // fresh manifest + checkpoint per run
        val manifest = s"$dir/manifest.json"
        val q = s.readStream.format("graft-synth")
          .option("rows", 20000L).option("partitions", 4)
          .option("batchRows", 5000L)
          .load()
          .select(col("trade_id"))
          .writeStream.format("graft-checksum")
          .option("path", manifest)
          .option("checkpointLocation", s"$dir/ckpt")
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        s.read.schema("n_rows LONG, sum_id LONG, xor_id LONG")
          .json(manifest)
          .select(col("n_rows"), col("sum_id"), col("xor_id"))
      },
      Some("""SELECT count(*) AS n_rows,
                     CAST(sum(i) AS BIGINT) AS sum_id,
                     bit_xor(i) AS xor_id
              FROM range(0, 20000) t(i)"""))
  ,

    // STREAMING session_window — the built-in session operator in
    // append mode (the third independent construction of "session"
    // next to the flatMapGroupsWithState machine of stream_sessionize
    // and the batch session_window of w20): watermark-closed sessions
    // emit, open tails stay in state. Same single-file AvailableNow
    // assumption as stream_sessionize; same STRICT tail rule (a
    // session closes only when the final watermark passes end + gap,
    // i.e. end_ms + gap < max ts), which the oracle mirrors. All three
    // constructions must agree on every closed session.
    Q("stream_session_window",
      (s, d) => {
        val name = s"graft_stream_sw_${runSeq.incrementAndGet()}"
        val ev = StreamingDaily.eventsStream(s, s"$d/events.parquet")
          .select(col("user_id"), col("ts"))
          .withWatermark("ts", "0 seconds")
        StreamConf.withStatePartitions(s) {
          val q = ev.groupBy(col("user_id"),
              session_window(col("ts"), "1 hour").as("sw"))
            .agg(count(lit(1)).cast("int").as("n_events"),
              max(col("ts")).as("session_end"))
            .select(col("user_id"), col("sw.start").as("session_start"),
              col("session_end"), col("n_events"))
            .writeStream.format("memory").queryName(name)
            .outputMode("append").trigger(Trigger.AvailableNow()).start()
          q.awaitTermination()
        }
        s.table(name)
      },
      Some("""WITH e AS (
                SELECT user_id, ts,
                       epoch_ms(CAST(ts AS TIMESTAMP)) AS tms
                FROM events),
              g AS (SELECT user_id, ts, tms,
                      CASE WHEN lag(tms) OVER w IS NULL
                             OR tms - lag(tms) OVER w > 3600000
                           THEN 1 ELSE 0 END AS brk
                    FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tms)),
              si AS (SELECT user_id, ts, tms,
                       sum(brk) OVER (PARTITION BY user_id ORDER BY tms
                                      ROWS UNBOUNDED PRECEDING) AS sid
                     FROM g),
              sess AS (SELECT user_id,
                         min(ts) AS session_start,
                         max(ts) AS session_end,
                         max(tms) AS end_ms,
                         CAST(count(*) AS INT) AS n_events
                       FROM si GROUP BY user_id, sid),
              mx AS (SELECT max(tms) AS mx FROM e)
              SELECT user_id, session_start, session_end, n_events
              FROM sess, mx
              WHERE end_ms + 3600000 < mx"""))
  )
}
