package graft.operators

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{FileAlreadyExistsException, Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** A minimal snapshot log — the table-format kernel (Iceberg/Delta's
  * core idea) as an explicit operator: every COMMIT publishes an
  * immutable manifest (the file list that IS the table at that
  * version), readers pin a snapshot and see exactly its files, and a
  * copy-on-write rewrite commits a new manifest while the old files
  * stay on disk — so TIME TRAVEL is just "read an older manifest", and
  * concurrent readers of v1 are never torn by a v2 writer. Publish is
  * atomic PUT-IF-ABSENT (the Delta LogStore / Iceberg atomic-swap
  * contract): the manifest is staged to a committer-unique temp file
  * and published with an atomic hard link, which FAILS if the version
  * already exists — two racing committers that both computed
  * `latest()+1` cannot clobber each other; the loser re-reads latest
  * and retries onto the next id, so both commits survive under
  * distinct versions. A crashed commit leaves only a temp file that no
  * reader resolves, never a partial or torn manifest.
  *
  * Scale shape: the manifest is metadata (one path per file); snapshot
  * reads hand Spark an explicit file list, so planning cost is the
  * manifest size, not a directory walk, and nothing is ever rewritten
  * except the partitions a commit actually replaces (`s30`'s pruned
  * merge is the natural writer).
  */
object SnapshotLog {

  private def manifestDir(tableDir: String) = {
    val p = Paths.get(tableDir, "_manifests")
    Files.createDirectories(p)
    p
  }

  /** is snapshot `v` committed and still retained? */
  def committed(tableDir: String, v: Int): Boolean =
    v >= 1 && Files.exists(manifestDir(tableDir).resolve(s"v$v.manifest"))

  /** newest committed snapshot id, 0 if none. */
  def latest(tableDir: String): Int = {
    val d = manifestDir(tableDir)
    val listing = Files.list(d)
    val ids = try listing.toArray.toSeq.map(_.toString)
      .map(p => Paths.get(p).getFileName.toString)
      .collect { case s if s.matches("v\\d+\\.manifest") =>
        s.stripPrefix("v").stripSuffix(".manifest").toInt }
    finally listing.close() // Files.list holds a directory fd until closed
    if (ids.isEmpty) 0 else ids.max
  }

  /** The CAS tail every commit door shares: stamp the commit-level
    * headers, stage the manifest list to a committer-unique temp file,
    * then publish it as EXACTLY snapshot `v` via `Files.createLink`
    * (atomic on POSIX; throws [[FileAlreadyExistsException]] if `v` is
    * already committed). Returns false on collision so the caller can
    * re-read `latest()` and retry — the compare-and-swap a table-format
    * commit is made of. A losing commit deletes the delta segment it
    * wrote (referenced by nothing).
    *
    * Every publish is stamped with a `#ts` header — the commit
    * wall-clock, forced STRICTLY ABOVE the predecessor's stamp so
    * [[resolveTimestamp]] is total even when two commits land within
    * one clock tick (any stale carried `#ts` is replaced, never
    * duplicated) — and, unless the caller passed an explicit
    * `#parent` (a branch commit), the linear lineage `#parent v-1`.
    */
  private def link(tableDir: String, v: Int, headerLines: Seq[String],
      segLines: Seq[String], deltaSeg: Option[Path]): Boolean = {
    val d = manifestDir(tableDir)
    val withTs = headerLines.filterNot(_.startsWith(s"$TsHeader\t")) :+
      s"$TsHeader\t${nextTs(tableDir, v)}"
    val stamped =
      if (v <= 1 || withTs.exists(_.startsWith(s"$ParentHeader\t"))) withTs
      else withTs :+ s"$ParentHeader\t${v - 1}"
    val tmp = d.resolve(
      s".v$v.manifest.tmp-${java.util.UUID.randomUUID().toString}")
    Files.write(tmp,
      (stamped ++ segLines).sorted.mkString("\n").getBytes(UTF_8))
    try { Files.createLink(d.resolve(s"v$v.manifest"), tmp); true }
    catch {
      case _: FileAlreadyExistsException =>
        deltaSeg.foreach(Files.deleteIfExists(_))
        false
    }
    finally Files.deleteIfExists(tmp)
  }

  /** write `lines` once as a new immutable segment file. */
  private def writeSegment(tableDir: String, lines: Seq[String]): Path = {
    val segPath = manifestDir(tableDir).resolve(
      s"seg-${java.util.UUID.randomUUID().toString}.seg")
    // order within a segment is irrelevant (entries are a set);
    // sorted for determinism
    Files.write(segPath, lines.sorted.mkString("\n").getBytes(UTF_8))
    segPath
  }

  private def segLine(path: String, n: Long): String =
    s"$SegHeader\t$path\t$n"

  /** Soft ceiling on `@seg` references per manifest: a commit that
    * would exceed it folds its smallest adopted segments into the delta
    * segment (Iceberg's manifest merge) — planning cost per snapshot
    * stays bounded while the amortized write cost stays O(delta).
    */
  private val MaxSegRefs = 64
  private val MergeDownTo = 32

  /** put-if-absent for typed entries at a SPECIFIC version — the OCC
    * primitive snapshot transforms build on: a writer that derived its
    * output from snapshot v publishes at v+1 and must FAIL (not land on
    * a later id) if another commit got there first, because its result
    * no longer reflects the table it would replace. Entry metadata is
    * subject to the purity contract documented on [[commitEntries]].
    *
    * TWO-LEVEL manifests (the Iceberg manifest-list design): entry
    * lines live in immutable SEGMENT files (`_manifests/seg-*.seg`, each
    * written once by the commit that minted it), and the per-version
    * manifest is a tiny LIST — `#` header lines plus `@seg` references,
    * nothing else. A commit whose entry set fully contains
    * a parent segment REFERENCES it verbatim (never re-serialized); only
    * the remainder is written as one new delta segment, so an append to
    * a millions-of-files table writes O(delta) manifest bytes, not
    * O(table). Commits that drop entries from a parent segment (COW
    * rewrites, vector folds) rewrite exactly the affected segments'
    * survivors into the delta segment, the Iceberg
    * rewrite-affected-manifests behavior. The parent is `segmentsFrom`
    * (a clone adopts its source's segments), else the `#parent` header,
    * else `v-1`.
    */
  private[graft] def publishEntries(
      tableDir: String, v: Int, es: Seq[FileEntry],
      headerLines: Seq[String] = Nil,
      segmentsFrom: Option[(String, Int)] = None): Boolean = {
    val entryLines = es.map(renderEntry)
    // duplicate entry lines would make subset adoption unsound; no
    // writer produces them, but correctness never bets on that
    require(entryLines.distinct.size == entryLines.size,
      s"duplicate manifest entry lines in commit v$v at $tableDir")
    val parent: Option[(String, Int)] = segmentsFrom.orElse {
      val p = headerLines.collectFirst {
        case l if l.startsWith(s"$ParentHeader\t") =>
          l.stripPrefix(s"$ParentHeader\t").toInt
      }.getOrElse(v - 1)
      if (committed(tableDir, p)) Some(tableDir -> p) else None
    }
    val candidates = parent.toSeq
      .flatMap { case (dir, pv) => segRefs(dir, pv) }
      .sortBy(-_._2) // prefer the biggest shared prefix of history
    var remaining = entryLines.toSet
    val adopted = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    candidates.foreach { case (segPath, n) =>
      if (n > 0 && n <= remaining.size) {
        val lines = segmentLines(segPath)
        if (lines.forall(remaining.contains)) {
          adopted += (segPath -> n)
          remaining = remaining -- lines
        }
      }
    }
    // manifest merge: fold the smallest refs into the delta segment
    val kept =
      if (adopted.size + 1 <= MaxSegRefs) adopted.toSeq
      else {
        val (keep, fold) = adopted.sortBy(-_._2).splitAt(MergeDownTo)
        fold.foreach { case (p, _) => remaining = remaining ++ segmentLines(p) }
        keep.toSeq
      }
    val deltaSeg =
      if (remaining.isEmpty) None
      else Some(writeSegment(tableDir, remaining.toSeq))
    val segLines = kept.map { case (p, n) => segLine(p, n) } ++
      deltaSeg.map(p => segLine(p.toAbsolutePath.toString, remaining.size))
    link(tableDir, v, headerLines, segLines, deltaSeg)
  }

  private val SegHeader = "@seg"

  /** the segment references of snapshot `v`: (absolute path, entry
    * count), in manifest order. */
  private[graft] def segRefs(tableDir: String, v: Int): Seq[(String, Long)] =
    if (!committed(tableDir, v)) Nil
    else rawLines(tableDir, v).collect {
      case l if l.startsWith(s"$SegHeader\t") =>
        val Array(_, p, n) = l.split("\t")
        p -> n.toLong
    }

  // segments are immutable once referenced — cache their lines (reads
  // during subset adoption and entry resolution). Bounded: a full
  // clear on overflow is always safe, only ever a re-read.
  private val segCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[String]]()

  /** segment FILE reads (cache misses) — test instrumentation for the
    * O(delta) append contract: an append on a segmented table must
    * never open the parent's segments. */
  private[graft] val segFileReads = new java.util.concurrent.atomic.AtomicLong
  private[graft] def resetSegCache(): Unit = segCache.clear()

  private def segmentLines(path: String): Seq[String] = {
    if (segCache.size > 4096) segCache.clear()
    segCache.computeIfAbsent(path, p => {
      segFileReads.incrementAndGet()
      new String(Files.readAllBytes(Paths.get(p)), UTF_8)
        .split("\n").toSeq.filter(_.nonEmpty)
    })
  }

  /** O(delta) APPEND publish — the commit path for writers that ADD
    * entries and change nothing else (DSv2 appends, streaming epochs,
    * partitioned appends): the parent's `@seg` reference lines are
    * copied VERBATIM (never resolved — zero segment files opened, so
    * commit memory and time are the delta's, not the table's, the
    * Iceberg manifest-list append), the added entries are written as
    * one new delta segment, and the manifest CAS-links through
    * [[link]]. An uncommitted parent (the empty table) carries nothing.
    * The ≥[[MaxSegRefs]] merge-down still applies — it reads only the
    * FOLDED (smallest) segments, keeping the amortized cost O(delta).
    *
    * CONTRACT: `added` paths are fresh (writer-unique roots mint
    * them), so the no-duplicate-lines invariant subset adoption
    * depends on holds without enumerating the parent. `dropHeaders`
    * removes carried table-level headers by prefix (a committer
    * REPLACING its own marker, e.g. the streaming high-water).
    */
  private[graft] def publishAppend(tableDir: String, v: Int, parentV: Int,
      added: Seq[FileEntry], extraHeaders: Seq[String] = Nil,
      dropHeaders: Seq[String] = Nil): Boolean = {
    val addedLines = added.map(renderEntry)
    require(addedLines.distinct.size == addedLines.size,
      s"duplicate appended entries in commit v$v at $tableDir")
    val parentCommitted = parentV >= 1 && committed(tableDir, parentV)
    val carried = (if (parentCommitted) headers(tableDir, parentV) else Nil)
      .filterNot(h => dropHeaders.exists(h.startsWith))
    var delta = addedLines
    var kept = if (parentCommitted) segRefs(tableDir, parentV) else Nil
    if (kept.size + 1 > MaxSegRefs) {
      val (keep, fold) = kept.sortBy(-_._2).splitAt(MergeDownTo)
      delta = delta ++ fold.flatMap { case (p, _) => segmentLines(p) }
      kept = keep
    }
    // a zero-entry append copies the refs verbatim
    val deltaSeg =
      if (delta.isEmpty) None else Some(writeSegment(tableDir, delta))
    val segLines = kept.map { case (p, n) => segLine(p, n) } ++
      deltaSeg.map(p => segLine(p.toAbsolutePath.toString, delta.size))
    link(tableDir, v, carried ++ extraHeaders, segLines, deltaSeg)
  }

  /** CAS-retrying O(delta) append commit onto the LINEAR head:
    * `mkAdded(t)` builds the new entries with their seq stamped to the
    * target version `t` (re-rendered per retry — data-file seq must
    * equal the committed version). Returns the committed id. */
  private[graft] def appendEntries(tableDir: String,
      mkAdded: Int => Seq[FileEntry],
      extraHeaders: Seq[String] = Nil,
      dropHeaders: Seq[String] = Nil,
      noopIf: Int => Boolean = _ => false): Int = {
    var attempts = 0
    while (attempts < 1000) {
      attempts += 1
      val v = latest(tableDir)
      // the idempotence guard re-evaluates against EVERY head this
      // loop observes, not just the one the caller checked before
      // calling: two racing committers of the same streaming epoch
      // must resolve to one commit + one no-op, never two commits
      // (the CAS loser would otherwise just retry onto the next id)
      if (noopIf(v)) return v
      val t = v + 1
      if (publishAppend(tableDir, t, v, mkAdded(t),
          extraHeaders = extraHeaders, dropHeaders = dropHeaders)) return t
    }
    throw new IllegalStateException(
      s"append commit at $tableDir lost 1000 races; giving up")
  }

  private def nextTs(tableDir: String, v: Int): Long =
    math.max(System.currentTimeMillis(),
      tsOf(tableDir, v - 1).map(_ + 1L).getOrElse(0L))

  /** publish the data files `paths` as the next snapshot; returns its
    * id. Each path becomes an unlabeled data entry with no recorded
    * facts (seq 0, rows −1, bytes −1) — see [[commitEntries]]. */
  def commit(tableDir: String, paths: Seq[String]): Int =
    commitEntries(tableDir, paths.map(FileEntry(_, "D", "", Map.empty)))

  /** One manifest row. `kind` is "D" (data), "X" (equality-delete — a
    * parquet file of key tuples subtracted at read, the merge-on-read
    * half of the lake story) or "P" (position-delete — a parquet file
    * of `(file_path, row_pos)` rows naming individual PHYSICAL rows of
    * specific data files, the Delta deletion-vector flavor: it can
    * delete one of two byte-identical duplicates, which no equality
    * vector can express). `partition` is the `col=value` label the
    * writer recorded ("" when unpartitioned) — it makes partition
    * pruning a pure manifest filter. `stats` carries per-file min/max
    * for INT64 columns (paid ONCE at write from the parquet footer),
    * so range pruning is a metadata read that never opens a footer at
    * plan time — the Iceberg/Delta manifest-stats design. `seq` is the
    * COMMIT SEQUENCE the entry was first published under (the Iceberg
    * data-sequence-number): an equality vector applies only to data
    * entries with a STRICTLY LOWER seq, so a key re-inserted by a later
    * commit is never suppressed by an older vector. Position deletes
    * name their target file explicitly, so their scope needs no seq.
    * `bytes` is the file's SIZE as the committing writer recorded it
    * (the Iceberg `file_size_in_bytes` manifest field): plan-time
    * consumers (scan statistics, bin-pack planning) read it from the
    * manifest instead of a per-entry `Files.size()` round-trip — on a
    * millions-of-files table that driver-side stat loop IS the
    * planning cost. `nullCounts` is the per-column NULL count the
    * committing writer recorded (the Iceberg `null_value_counts`
    * manifest field): `COUNT(col) = rows − nulls` becomes a metadata
    * answer. `sums` records exact per-column sums for INT64 columns
    * (dropped by the writer when the file's own sum overflows), serving
    * SUM pushdown. `splitOffsets` records the file's ROW-GROUP start
    * offsets (the Iceberg `split_offsets` manifest field, recorded only
    * when the file has more than one group): scan planning then splits
    * big files EXACTLY at group boundaries without opening a footer.
    *
    * Facts a committer could not certify stay absent — `rows`/`bytes`
    * −1, empty maps — and consumers then refuse or fall back
    * ([[sizeOf]] stats the file), never guess. One manifest line per
    * entry, tab-separated, in exactly three shapes (see [[renderEntry]]):
    * 8 fields `path kind partition stats seq rows strStats bytes`, 10
    * adding `nullCounts sums`, 11 adding `splitOffsets`.
    */
  final case class FileEntry(
      path: String, kind: String, partition: String,
      stats: Map[String, (Long, Long)], seq: Long = 0L,
      rows: Long = -1L,
      strStats: Map[String, (String, String)] = Map.empty,
      bytes: Long = -1L,
      nullCounts: Map[String, Long] = Map.empty,
      sums: Map[String, Long] = Map.empty,
      splitOffsets: Seq[Long] = Nil) {
    def overlaps(colName: String, lo: Long, hi: Long): Boolean =
      stats.get(colName) match {
        case Some((mn, mx)) => mx >= lo && mn <= hi
        case None => true // stats absent: conservative keep
      }
    /** string-range overlap (dates ride as ISO strings, so one bound
      * type serves both); absent stats keep conservatively. */
    def overlapsStr(colName: String, lo: String, hi: String): Boolean =
      strStats.get(colName) match {
        case Some((mn, mx)) => mx >= lo && mn <= hi
        case None => true
      }
  }

  // string bounds are %-encoded so values may hold the manifest's own
  // separators; bounds longer than this are DROPPED (conservative keep)
  // rather than truncated — truncating an upper bound without the
  // Iceberg increment trick would under-report the max
  private val MaxStrStat = 64

  private def encStat(v: String): String =
    java.net.URLEncoder.encode(v, "UTF-8")
  private def decStat(v: String): String =
    java.net.URLDecoder.decode(v, "UTF-8")

  private[operators] def renderEntry(e: FileEntry): String = {
    val part = if (e.partition.isEmpty) "-" else e.partition
    val st =
      if (e.stats.isEmpty) "-"
      else e.stats.toSeq.sortBy(_._1)
        .map { case (c, (mn, mx)) => s"$c:$mn:$mx" }.mkString(",")
    val sst =
      if (e.strStats.isEmpty) "-"
      else e.strStats.toSeq.sortBy(_._1)
        .map { case (c, (mn, mx)) => s"$c:${encStat(mn)}:${encStat(mx)}" }
        .mkString(",")
    def kv(m: Map[String, Long]): String =
      if (m.isEmpty) "-"
      else m.toSeq.sortBy(_._1).map { case (c, n) => s"$c:$n" }
        .mkString(",")
    val base = s"${e.path}\t${e.kind}\t$part\t$st\t${e.seq}\t${e.rows}" +
      s"\t$sst\t${e.bytes}"
    // the shortest of the three shapes that holds the entry's facts
    if (e.nullCounts.isEmpty && e.sums.isEmpty && e.splitOffsets.isEmpty)
      base
    else {
      val withKv = s"$base\t${kv(e.nullCounts)}\t${kv(e.sums)}"
      if (e.splitOffsets.isEmpty) withKv
      else s"$withKv\t${e.splitOffsets.mkString(",")}"
    }
  }

  /** the entry's file size: manifest-recorded when the writer stamped
    * it, one filesystem stat otherwise (hand-committed entries — every
    * engine writer records bytes at commit). A vanished unrecorded file
    * reads as 0, matching the scan-statistics convention. */
  def sizeOf(e: FileEntry): Long =
    if (e.bytes >= 0L) e.bytes
    else try Files.size(Paths.get(e.path))
    catch { case _: java.io.IOException => 0L }

  /** writer-side size stat for a just-written file (O(delta) at commit
    * time, never at plan time); −1 if unreadable. */
  private[graft] def statBytes(p: String): Long =
    try Files.size(Paths.get(p))
    catch { case _: java.io.IOException => -1L }

  /** ONE Hadoop conf for every writer-side footer read: constructing a
    * `Configuration` per file re-parses the default XML resources —
    * measured 18 ms/footer sequential on local disk, i.e. ~0.9 s of
    * pure driver time for a 48-file commit. Shared and re-used, the
    * same read is 2-4 ms. Read-only use is thread-safe. */
  private lazy val footerConf = new org.apache.hadoop.conf.Configuration()

  /** a just-written file's ROW-GROUP start offsets, from its footer —
    * recorded only when splitting is possible (>1 group), so the
    * common small file costs nothing beyond the footer read. Paid at
    * WRITE time (task-side for DSv2 tasks, one small read per file
    * elsewhere), never at plan time. */
  /** whether a SCHEME-LESS path resolves to the local filesystem: on a
    * cluster whose `fs.defaultFS` is HDFS/S3 a bare path is NOT local —
    * treating it as one would make a schema-less table load throw on
    * its footer read. One conf lookup, computed once. */
  private lazy val defaultFsIsLocal: Boolean =
    try {
      val s = org.apache.hadoop.fs.FileSystem
        .getDefaultUri(footerConf).getScheme
      s == null || s.equalsIgnoreCase("file")
    } catch { case _: Throwable => true }

  /** the cheapest correct `InputFile` for a metadata read: an explicit
    * `file:` path — or a bare path when the default filesystem is
    * local — skips the Hadoop FS layer entirely (its checksum wrapper
    * made each footer open ~15 ms; NIO is ~3 ms). Remote schemes, and
    * bare paths under a remote `fs.defaultFS`, keep the Hadoop
    * InputFile. */
  private[graft] def footerInputFile(p: String)
      : org.apache.parquet.io.InputFile =
    if (p.startsWith("file:") || (!p.contains("://") && defaultFsIsLocal))
      new org.apache.parquet.io.LocalInputFile(
        java.nio.file.Paths.get(normPath(p)))
    else org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(p), footerConf)

  private[graft] def splitOffsetsOf(p: String): Seq[Long] =
    try {
      val reader = org.apache.parquet.hadoop.ParquetFileReader
        .open(footerInputFile(p))
      try {
        import scala.jdk.CollectionConverters._
        val offs = reader.getFooter.getBlocks.asScala
          .map(_.getStartingPos).toSeq.sorted
        if (offs.size > 1) offs else Nil
      } finally reader.close()
    } catch { case _: java.io.IOException => Nil }

  /** DEDICATED pool for the driver-side metadata fan-outs (commit-sized
    * footer reads, segment parses): blocking I/O on the shared JVM
    * commonPool contends with every other parallel-stream user and
    * degrades to sequential when the caller is already inside a
    * ForkJoin task. Daemon threads; sized to the host, capped — these
    * are ~ms tasks, not a compute pool. */
  private[graft] lazy val metaPool: java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newFixedThreadPool(
      math.min(16, Runtime.getRuntime.availableProcessors.max(1)),
      (r: Runnable) => {
        val t = new Thread(r, "graft-meta-io")
        t.setDaemon(true)
        t
      })

  /** run `f` over `xs` on [[metaPool]], preserving order. A failing task
    * surfaces as its own exception (type and message), not wrapped in the
    * pool's `ExecutionException`. */
  private def onMetaPool[A, B](xs: Seq[A])(f: A => B): Seq[B] = {
    val futs = xs.map(x =>
      metaPool.submit(new java.util.concurrent.Callable[B] {
        override def call(): B = f(x)
      }))
    futs.map { fut =>
      try fut.get()
      catch {
        case e: java.util.concurrent.ExecutionException
            if e.getCause != null => throw e.getCause
      }
    }
  }

  /** [[splitOffsetsOf]] for a whole commit's files — CONCURRENT on the
    * driver for commit-sized deltas (independent ~ms footer reads;
    * serializing them was the dominant driver-side cost of a
    * partitioned commit), DISTRIBUTED when the delta is big (an
    * OPTIMIZE emitting 10k files must not funnel 10k footer reads
    * through one machine; a null session — probes — keeps the
    * driver-concurrent path). */
  private[graft] def collectSplitOffsets(s: SparkSession,
      files: Seq[String]): Map[String, Seq[Long]] =
    if (files.size <= 64 || s == null)
      onMetaPool(files)(f => normPath(f) -> splitOffsetsOf(f)).toMap
    else s.sparkContext
      .parallelize(files, math.min(files.size, 256))
      .map(f => normPath(f) -> splitOffsetsOf(f))
      .collect().toMap

  /** the inverse of [[renderEntry]]: accepts exactly its 8-, 10- and
    * 11-field shapes; any other line is a corrupt or foreign manifest
    * and fails loudly, never misread. */
  private[operators] def parseEntry(line: String,
      intern: Interner = new Interner): FileEntry = {
    val f = line.split("\t")
    if (f.length != 8 && f.length != 10 && f.length != 11)
      throw new IllegalStateException(s"bad manifest line: $line")
    def triples[V](st: String)(bound: String => V): Map[String, (V, V)] =
      if (st == "-") Map.empty
      else st.split(",").map { s =>
        val Array(c, mn, mx) = s.split(":")
        intern(c) -> ((bound(mn), bound(mx)))
      }.toMap
    def kv(v: String): Map[String, Long] =
      if (v == "-") Map.empty
      else v.split(",").map { s =>
        val Array(c, n) = s.split(":"); intern(c) -> n.toLong
      }.toMap
    FileEntry(f(0), intern(f(1)), if (f(2) == "-") "" else intern(f(2)),
      triples(f(3))(_.toLong), f(4).toLong, f(5).toLong,
      triples(f(6))(decStat), f(7).toLong,
      if (f.length > 8) kv(f(8)) else Map.empty,
      if (f.length > 8) kv(f(9)) else Map.empty,
      if (f.length > 10) f(10).split(",").map(_.toLong).toSeq else Nil)
  }

  // ---- parsed-manifest caches ---------------------------------------
  // entries(dir, v) is the hottest metadata call in the kernel: one
  // scan resolves it several times (partition report, statistics,
  // pruning, task planning), and a dashboard firing hundreds of
  // metadata counts on a million-file table would re-parse millions
  // of lines each time. TWO layers, both self-invalidating and both
  // bounded by ESTIMATED RETAINED BYTES (a count bound alone would let
  // a handful of million-entry versions pin gigabytes on the driver):
  //
  //  * parsedSegCache — segment file → parsed FileEntry list. Segments
  //    are immutable and SHARED across versions (an O(delta) append
  //    adopts its parent's `@seg` refs verbatim), so a new version's
  //    first touch parses only its delta segment — the read-side
  //    mirror of the O(delta) commit. Uncached segments of one
  //    manifest parse CONCURRENTLY on [[metaPool]] (measured 2.1 s →
  //    ~0.3 s first-touch on a 1M-entry / 50-segment table).
  //  * entryCache — version → the concatenated entry list (the object
  //    consumers see), keyed by manifest FILE IDENTITY — (fileKey,
  //    size, mtime) from one stat per call — so a re-created table
  //    directory mints a new inode and misses; an expired manifest
  //    fails the existence check exactly as before.
  //
  // An eviction from either layer is a re-parse, never a wrong answer.
  // Budgets: `graft.manifest.segCacheBytes` / `.entryCacheBytes`
  // system properties (defaults 512 MiB / 1 GiB — version lists count
  // their entries' full footprint because holding the list keeps the
  // objects alive whether or not the segment layer evicts them).
  private final case class ManifestId(key: AnyRef, size: Long, mtime: Long)

  /** rough retained-heap estimate of one parsed entry (JVM object +
    * string payloads + small-map overhead) — used only to bound the
    * caches, so a constant-factor error just shifts the budget. */
  private def estEntryBytes(e: FileEntry): Long = {
    var b = 180L + 2L * (e.path.length + e.partition.length) +
      140L * e.stats.size + 90L * (e.nullCounts.size + e.sums.size) +
      16L * e.splitOffsets.size
    e.strStats.foreach { case (k, (mn, mx)) =>
      b += 120L + 2L * (k.length + mn.length + mx.length)
    }
    b
  }

  /** access-ordered LRU bounded by the summed byte estimates of its
    * values; the most-recent insert always survives. */
  private final class ByteLru[V](budget: Long) {
    private val m = new java.util.LinkedHashMap[String, (V, Long)](
      64, 0.75f, true)
    private var used = 0L
    def get(k: String): Option[(V, Long)] = synchronized(Option(m.get(k)))
    def put(k: String, v: V, bytes: Long): Unit = synchronized {
      val old = m.put(k, (v, bytes))
      if (old != null) used -= old._2
      used += bytes
      val it = m.entrySet().iterator()
      // access-ordered map: the just-put key is at the tail, so the
      // eldest-first iterator never needs to skip it while size > 1
      while (used > budget && m.size() > 1 && it.hasNext) {
        val e = it.next()
        if (e.getKey != k) { used -= e.getValue._2; it.remove() }
      }
    }
    def clear(): Unit = synchronized { m.clear(); used = 0L }
    def usedBytes: Long = synchronized(used)
  }

  /** small bounded string-dedup for the parse loop: manifest lines
    * repeat kinds, partition labels and stats column names millions of
    * times — sharing them cut a 1M-entry version's retained heap ~40%.
    * Per-parse instance (no locking); past the cap it passes through. */
  private[operators] final class Interner {
    private val m = new java.util.HashMap[String, String](512)
    def apply(s: String): String =
      if (m.size > 8192) s
      else {
        val v = m.putIfAbsent(s, s)
        if (v == null) s else v
      }
  }

  private val entryCache = new ByteLru[(ManifestId, Seq[FileEntry])](
    java.lang.Long.getLong("graft.manifest.entryCacheBytes",
      1024L * 1024 * 1024))
  private val parsedSegCache = new ByteLru[Seq[FileEntry]](
    java.lang.Long.getLong("graft.manifest.segCacheBytes",
      512L * 1024 * 1024))

  /** manifest PARSE runs (cache misses) — test instrumentation: two
    * metadata queries on the same version must parse once. */
  private[graft] val entryParses = new java.util.concurrent.atomic.AtomicLong

  /** segment PARSE runs — test instrumentation for the O(delta) read
    * contract: an appended version's first touch parses only its
    * delta segment, never the shared parent segments. */
  private[graft] val segEntryParses =
    new java.util.concurrent.atomic.AtomicLong
  private[graft] def resetEntryCache(): Unit = {
    entryCache.clear()
    parsedSegCache.clear()
  }

  /** one segment's parsed entries through the shared cache; `n` is the
    * manifest's recorded line count (truncation check). */
  private def parsedSegment(path: String, n: Long): (Seq[FileEntry], Long) =
    parsedSegCache.get(path).getOrElse {
      segEntryParses.incrementAndGet()
      val intern = new Interner
      val lines = new String(Files.readAllBytes(Paths.get(path)), UTF_8)
        .split("\n").toSeq.filter(_.nonEmpty)
      require(lines.size == n.toLong,
        s"segment $path: expected $n lines, " +
          s"found ${lines.size} (truncated or foreign file)")
      val es: Seq[FileEntry] = lines.map(parseEntry(_, intern)).toVector
      val bytes = es.iterator.map(estEntryBytes).sum
      parsedSegCache.put(path, es, bytes)
      (es, bytes)
    }

  /** the typed file list of snapshot `v` (immutable once committed). */
  def entries(tableDir: String, v: Int): Seq[FileEntry] = {
    val m = manifestDir(tableDir).resolve(s"v$v.manifest")
    require(Files.exists(m), s"no snapshot v$v at $tableDir")
    val a = Files.readAttributes(m,
      classOf[java.nio.file.attribute.BasicFileAttributes])
    val id = ManifestId(a.fileKey(), a.size(),
      a.lastModifiedTime().toMillis)
    val key = m.toAbsolutePath.toString
    entryCache.get(key) match {
      case Some(((cid, es), _)) if cid == id => es
      case _ =>
        entryParses.incrementAndGet()
        // entry order is the manifest's `@seg` order; uncached segments
        // parse concurrently (independent files)
        val segParsed = onMetaPool(segRefs(tableDir, v)) {
          case (p, n) => parsedSegment(p, n)
        }
        val parsed: Seq[FileEntry] = segParsed.flatMap(_._1).toVector
        // the version list keeps every entry reachable regardless of
        // segment-layer eviction — budget it at full weight plus the
        // concat array itself
        val bytes = 24L * parsed.size + segParsed.map(_._2).sum
        entryCache.put(key, (id, parsed), bytes)
        parsed
    }
  }

  /** per-version summary of the DATA entries' label/stat shape, in one
    * pass over the parsed list (distinct partition strings memoized —
    * they are interned, so the memo stays label-cardinality-sized):
    * the distinct ORDERED label signatures, and the distinct label /
    * stats column names. Scan planning (SPJ groupability, the DPP
    * filter-attribute offer) reads this instead of re-walking a
    * million entries with per-entry allocations on every plan. Cached
    * next to the entry list under the same self-invalidating manifest
    * identity; summaries are a few strings, so no byte budget. */
  final case class LabelSummary(sigs: Seq[Seq[String]],
      parts: Seq[String], labelCols: Seq[String], statCols: Seq[String],
      strStatCols: Seq[String])
  private val summaryCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, (ManifestId, LabelSummary)](
      64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, (ManifestId, LabelSummary)])
          : Boolean = size() > 256
    })

  /** the self-invalidating FILE IDENTITY of snapshot `v`'s manifest
    * (one stat call) — lets derived-metadata memos outside this object
    * (e.g. the scan's statistics) key on the same "re-created table
    * directory mints a new identity" contract the caches above use. */
  private[graft] def manifestIdOf(tableDir: String, v: Int): Option[AnyRef] = {
    val m = manifestDir(tableDir).resolve(s"v$v.manifest")
    if (!Files.exists(m)) None
    else {
      val a = Files.readAttributes(m,
        classOf[java.nio.file.attribute.BasicFileAttributes])
      Some(ManifestId(a.fileKey(), a.size(), a.lastModifiedTime().toMillis))
    }
  }

  def labelSummary(tableDir: String, v: Int): LabelSummary = {
    val m = manifestDir(tableDir).resolve(s"v$v.manifest")
    require(Files.exists(m), s"no snapshot v$v at $tableDir")
    val a = Files.readAttributes(m,
      classOf[java.nio.file.attribute.BasicFileAttributes])
    val id = ManifestId(a.fileKey(), a.size(),
      a.lastModifiedTime().toMillis)
    val key = m.toAbsolutePath.toString
    val hit = summaryCache.get(key)
    if (hit != null && hit._1 == id) hit._2
    else {
      val sigs = scala.collection.mutable.LinkedHashSet.empty[Seq[String]]
      val parts = scala.collection.mutable.LinkedHashSet.empty[String]
      val labelCols = scala.collection.mutable.LinkedHashSet.empty[String]
      val statCols = scala.collection.mutable.LinkedHashSet.empty[String]
      val strStatCols = scala.collection.mutable.LinkedHashSet.empty[String]
      val sigMemo = new java.util.HashMap[String, Seq[String]]()
      entries(tableDir, v).foreach { e =>
        if (e.kind == "D") {
          val sig = sigMemo.computeIfAbsent(e.partition, labelColsOf(_))
          sigs += sig
          parts += e.partition
          labelCols ++= sig
          statCols ++= e.stats.keysIterator
          strStatCols ++= e.strStats.keysIterator
        }
      }
      val s = LabelSummary(sigs.toSeq, parts.toSeq, labelCols.toSeq,
        statCols.toSeq, strStatCols.toSeq)
      summaryCache.put(key, (id, s))
      s
    }
  }

  /** the manifest's own lines — `#` headers and `@seg` references;
    * never opens a segment. Any other line is a corrupt or foreign
    * manifest and fails the read, never misread. */
  private def rawLines(tableDir: String, v: Int): Seq[String] = {
    val m = manifestDir(tableDir).resolve(s"v$v.manifest")
    require(Files.exists(m), s"no snapshot v$v at $tableDir")
    val lines = new String(Files.readAllBytes(m), UTF_8)
      .split("\n").toSeq.filter(_.nonEmpty)
    lines.find(l => !l.startsWith("#") && !l.startsWith(s"$SegHeader\t"))
      .foreach(l => throw new IllegalStateException(
        s"bad manifest line in $m: $l"))
    lines
  }

  // ---- partition-label parsing (ONE shape everywhere) --------------
  // A label is one or more Hive-style `col=value` segments joined by
  // '/' — "m=3" (single-column spec) or "a=1/b=2" (multi-column).
  // Every label consumer — pruning, SPJ key extraction, metadata
  // grouping, partition drops — parses through these two helpers, so
  // the faces cannot drift on the label grammar.

  /** the `col=value` value of `partition` for `col`, when one of its
    * segments names it. */
  def labelValueOf(partition: String, col: String): Option[String] = {
    if (partition.isEmpty) return None
    var from = 0
    while (from <= partition.length) {
      val end = partition.indexOf('/', from) match {
        case -1 => partition.length
        case i => i
      }
      val eq = partition.indexOf('=', from)
      if (eq > from && eq < end && partition.substring(from, eq) == col)
        return Some(partition.substring(eq + 1, end))
      from = end + 1
    }
    None
  }

  /** the ORDERED column names `partition`'s segments label, or Nil for
    * an unlabeled/malformed label (a segment without '='). */
  def labelColsOf(partition: String): Seq[String] = {
    if (partition.isEmpty) return Nil
    val segs = partition.split('/').toSeq
    val cols = segs.map { s =>
      val i = s.indexOf('=')
      if (i <= 0) return Nil
      s.take(i)
    }
    if (cols.distinct.size != cols.size) Nil else cols
  }

  /** the `#`-prefixed HEADER lines of snapshot `v` (schema + rename
    * mapping, spec — TABLE-level metadata that rides in the manifest,
    * the Iceberg table-metadata idea scaled down to one file).
    * Committers that build on a prior snapshot carry these forward.
    * COMMIT-level headers are deliberately EXCLUDED: the `#ts` stamp
    * (every publish mints its own) and the `#parent` lineage pointer —
    * a carry-forward writer that propagated its base's parent would
    * corrupt ancestry (a plain append on a branch head must record the
    * head as ITS parent, not the head's parent). Neither is part of
    * the OCC rebase's table-metadata equality check.
    */
  def headers(tableDir: String, v: Int): Seq[String] =
    if (v <= 0) Nil
    else rawLines(tableDir, v)
      .filter(l => l.startsWith("#") && !l.startsWith(s"$TsHeader\t") &&
        !l.startsWith(s"$ParentHeader\t") && !l.startsWith(s"$RefHeader\t"))

  /** the BRANCH a commit was staged on (the `#ref` commit-level header
    * written by branch-targeted writers), None for every commit on the
    * main line. Like `#ts`/`#parent` this is per-commit metadata —
    * [[headers]] excludes it, so carry-forward writers never propagate
    * a stale staging marker. The unpinned DSv2 read resolves through
    * this: a staged commit is invisible to readers of the default face
    * until a fast-forward publishes it (write–audit–publish isolation).
    */
  def refOf(tableDir: String, v: Int): Option[String] =
    if (v <= 0 || !Files.exists(
        manifestDir(tableDir).resolve(s"v$v.manifest"))) None
    else rawLines(tableDir, v).collectFirst {
      case l if l.startsWith(s"$RefHeader\t") =>
        l.stripPrefix(s"$RefHeader\t")
    }

  /** publish typed entries as the next snapshot; returns its id. Safe
    * under concurrent committers: a lost race surfaces as a failed
    * put-if-absent, never a clobbered manifest, and the commit retries
    * onto the then-next version (bounded — each retry means someone
    * else's commit SUCCEEDED, the standard progress argument).
    *
    * METADATA PURITY CONTRACT (holds for every commit door —
    * [[commitEntries]], [[publishEntries]], [[appendEntries]]): an
    * entry's `partition` label, `rows`, `stats`/`strStats` and `bytes`
    * MUST be true of the file's contents — a `col=value` label asserts
    * EVERY row of the file holds exactly that value in `col`, and
    * `rows` asserts the file's exact physical row count. The engine's
    * writers guarantee this by construction (labels and counts are
    * folded task-side from the rows being written); a HAND-COMMITTED
    * entry that violates it makes pruning, metadata COUNT, scan
    * statistics and the SQL aggregate pushdown silently wrong — the
    * kernel trusts the manifest precisely so that 100-TB plans never
    * re-open files to re-verify it. Callers that cannot certify a
    * fact must omit it (`""` label, `rows = -1`, empty stats): absent
    * metadata degrades to conservative scans, never to wrong answers.
    */
  def commitEntries(tableDir: String, es: Seq[FileEntry],
      headerLines: Seq[String] = Nil): Int = {
    val MaxRetries = 1000
    var attempt = 0
    while (attempt < MaxRetries) {
      val next = latest(tableDir) + 1
      if (publishEntries(tableDir, next, es, headerLines)) return next
      attempt += 1
    }
    throw new IllegalStateException(
      s"snapshot commit at $tableDir lost $MaxRetries races; giving up")
  }

  /** the DATA file list of snapshot `v`. */
  def files(tableDir: String, v: Int): Seq[String] =
    entries(tableDir, v).filter(_.kind == "D").map(_.path)

  // ---- schema in the manifest -------------------------------------

  private val SchemaHeader = "#schema"
  private val RenameHeader = "#rename"
  private[graft] val SpecHeader = "#spec"
  private val TsHeader = "#ts"
  private[operators] val ParentHeader = "#parent"
  private[graft] val RefHeader = "#ref"
  private[graft] val KeysHeader = "#keys"

  /** The streaming sinks' epoch HIGH-WATER marks — table-level
    * headers carried forward by every writer, so replay detection reads
    * one header line instead of scanning the entry set (the no-op check
    * stays O(1) however large the table). One scheme: the "" writer's
    * mark is the table-global `#batchhw`; every other writer keys its
    * own `#writerhw <id>` line (the Delta `txn` appId idea), so a second
    * query writing the same table, or a query restarted with a fresh
    * checkpoint, never has its epochs no-op'd against another writer's
    * high-water. */
  private[graft] val BatchHwHeader = "#batchhw"
  private[graft] val WriterHwHeader = "#writerhw"

  /** the highest streaming epoch writer `writerId` committed into
    * snapshot `v`; −1 when it never committed one there. */
  private[graft] def batchHighWater(tableDir: String, v: Int,
      writerId: String = ""): Long =
    if (v <= 0) -1L
    else {
      val prefix = hwDropPrefix(writerId)
      headers(tableDir, v).collectFirst {
        case l if l.startsWith(prefix) => l.stripPrefix(prefix).toLong
      }.getOrElse(-1L)
    }

  /** the header line recording writer `writerId`'s epoch high-water,
    * and the prefix a committer drops to replace ITS OWN marker (and
    * never another writer's). */
  private[graft] def hwHeader(writerId: String, hw: Long): String = {
    require(!writerId.contains('\t') && !writerId.contains('\n'),
      s"writerId must not contain tab/newline: $writerId")
    s"${hwDropPrefix(writerId)}$hw"
  }
  private[graft] def hwDropPrefix(writerId: String): String =
    if (writerId.isEmpty) s"$BatchHwHeader\t"
    else s"$WriterHwHeader\t$writerId\t"

  /** the snapshot this commit DERIVED from — explicit for branch
    * commits ([[SnapshotRefs]] writes the header), implicit v−1 for
    * every linear commit ([[link]] records it). None only for a v1
    * that is not a clone root. */
  def parentOf(tableDir: String, v: Int): Option[Int] =
    if (v <= 0 || !Files.exists(
        manifestDir(tableDir).resolve(s"v$v.manifest"))) None
    else rawLines(tableDir, v).collectFirst {
      case l if l.startsWith(s"$ParentHeader\t") =>
        l.stripPrefix(s"$ParentHeader\t").toInt
    }

  // ---- time travel by TIMESTAMP ------------------------------------

  /** the commit wall-clock of snapshot `v` (stamped by [[link]];
    * None for an expired or never-committed version). */
  def tsOf(tableDir: String, v: Int): Option[Long] =
    if (v <= 0 || !Files.exists(
        manifestDir(tableDir).resolve(s"v$v.manifest"))) None
    else rawLines(tableDir, v).collectFirst {
      case l if l.startsWith(s"$TsHeader\t") =>
        l.stripPrefix(s"$TsHeader\t").toLong
    }

  /** `TIMESTAMP AS OF`: the newest snapshot committed at or before
    * `ts` — stamps are strictly increasing by construction, so the
    * answer is unambiguous. Fails loudly when `ts` predates the oldest
    * retained snapshot (never silently serves newer data).
    */
  def resolveTimestamp(tableDir: String, ts: Long): Int = {
    val last = latest(tableDir)
    val stamped = (1 to last)
      .flatMap(v => tsOf(tableDir, v).map(v -> _))
    require(stamped.nonEmpty, s"no timestamped snapshots at $tableDir")
    val hits = stamped.filter(_._2 <= ts)
    require(hits.nonEmpty,
      s"no snapshot at or before ts=$ts at $tableDir " +
        s"(earliest retained stamp: ${stamped.head._2})")
    hits.map(_._1).max
  }

  /** the canonical schema snapshot `v` serves (None for tables that
    * never evolved — they read under whatever the files carry). */
  def schemaOf(tableDir: String, v: Int): Option[StructType] =
    headers(tableDir, v).collectFirst {
      case l if l.startsWith(s"$SchemaHeader\t") =>
        StructType.fromDDL(l.stripPrefix(s"$SchemaHeader\t"))
    }

  /** historical-name → canonical-name mapping recorded by
    * [[commitSchemaChange]] (cumulative across evolutions). */
  def renamesOf(tableDir: String, v: Int): Map[String, String] =
    headers(tableDir, v).collectFirst {
      case l if l.startsWith(s"$RenameHeader\t") =>
        l.stripPrefix(s"$RenameHeader\t").split(",").map { kv =>
          val Array(o, n) = kv.split(":"); o -> n
        }.toMap
    }.getOrElse(Map.empty)

  private[graft] def renderSchemaHeaders(
      schema: StructType, renames: Map[String, String]): Seq[String] = {
    val sch = s"$SchemaHeader\t${schema.toDDL}"
    if (renames.isEmpty) Seq(sch)
    else sch +: Seq(s"$RenameHeader\t" + renames.toSeq.sorted
      .map { case (o, n) => s"$o:$n" }.mkString(","))
  }

  /** Evolve the table's schema as a PURE METADATA commit: every file
    * entry of the latest snapshot is carried forward verbatim (zero
    * bytes rewritten at any table size), and the new manifest records
    * the canonical schema plus the old-name → new-name mapping. Readers
    * of the new snapshot resolve every older file through
    * [[SchemaEvolution.upgradeReader]] (rename, widen, null-fill for
    * added columns); readers pinned to OLDER snapshots keep the schema
    * those snapshots recorded — time travel serves each version under
    * its own schema, the Iceberg/Delta table-metadata contract.
    */
  def commitSchemaChange(tableDir: String, schema: StructType,
      renames: Map[String, String] = Map.empty): Int = {
    val v = latest(tableDir)
    require(v >= 1, s"no snapshot to evolve at $tableDir")
    // compose with any earlier mapping so a twice-renamed column still
    // resolves from its original name
    val prior = renamesOf(tableDir, v)
    val merged = prior.map { case (o, n) => o -> renames.getOrElse(n, n) } ++
      renames
    // carry every FOREIGN table-level header (the active #spec, declared
    // #keys, …) — replacing only the schema/rename pair, exactly like
    // commitSpecChange carries the schema. Dropping them would silently
    // void the partition-spec contract after a schema evolution.
    val carried = headers(tableDir, v).filterNot(l =>
      l.startsWith(s"$SchemaHeader\t") || l.startsWith(s"$RenameHeader\t"))
    commitEntries(tableDir, entries(tableDir, v),
      carried ++ renderSchemaHeaders(schema, merged))
  }

  /** Declare the table's LOGICAL KEY columns as a pure metadata commit
    * (a `#keys` table-level header carried forward by every subsequent
    * commit). Nothing in the kernel enforces uniqueness — the header is
    * the contract consumers of the CHANGE FEED need to pair old/new
    * rows of a copy-on-write rewrite into `_op = U` updates (the
    * streaming U-split reads it; tables without declared keys keep the
    * loud rewrite refusal).
    */
  def commitKeysChange(tableDir: String, keyCols: Seq[String]): Int = {
    val v = latest(tableDir)
    require(v >= 1, s"no snapshot to evolve at $tableDir")
    require(keyCols.nonEmpty, "commitKeysChange needs at least one key")
    val carried = headers(tableDir, v)
      .filterNot(_.startsWith(s"$KeysHeader\t"))
    commitEntries(tableDir, entries(tableDir, v),
      carried :+ s"$KeysHeader\t${keyCols.mkString(",")}")
  }

  /** the declared logical key columns of snapshot `v` (None when the
    * table never declared any). */
  def keysOf(tableDir: String, v: Int): Option[Seq[String]] =
    headers(tableDir, v).collectFirst {
      case l if l.startsWith(s"$KeysHeader\t") =>
        l.stripPrefix(s"$KeysHeader\t").split(",").toSeq
    }

  // ---- reads (schema-aware, seq-scoped merge-on-read) -------------

  /** read the table as of snapshot `v` (data files only — see
    * [[readMor]] for delete-vector application). When the manifest
    * records a schema, files are grouped by commit seq (all files of a
    * commit share their writer's schema) and each group is lifted to
    * the canonical schema through [[SchemaEvolution.upgradeTo]] — a
    * pure projection per group, no backfill.
    */
  def read(s: SparkSession, tableDir: String, v: Int): DataFrame =
    readData(s, tableDir, v, entries(tableDir, v).filter(_.kind == "D"))

  private def readData(s: SparkSession, tableDir: String, v: Int,
      data: Seq[FileEntry], withMeta: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.col
    def scan(paths: Seq[String]) = {
      val df = s.read.parquet(paths: _*)
      if (withMeta)
        df.select(col("*"),
          col("_metadata.file_path").as(PosPathCol),
          col("_metadata.row_index").as(PosIdxCol))
      else df
    }
    schemaOf(tableDir, v) match {
      case None => scan(data.map(_.path))
      case Some(canonical) =>
        val renames = renamesOf(tableDir, v)
        data.groupBy(_.seq).toSeq.sortBy(_._1).map { case (_, g) =>
          SchemaEvolution.upgradeTo(scan(g.map(_.path)), canonical, renames,
            keep = if (withMeta) Seq(PosPathCol, PosIdxCol) else Nil)
        }.reduce(_.unionByName(_))
    }
  }

  private[graft] val PosPathCol = "_graft_pos_path"
  private[graft] val PosIdxCol = "_graft_pos_idx"

  /** Canonical form of a file path for POSITION-delete matching: the
    * scheme stripped (`file:///a/b` → `/a/b`), so addresses written by
    * Spark's `_metadata.file_path` (scheme-qualified) and by the DSv2
    * row-level writer (manifest paths, scheme-less) subtract the same
    * rows. String function only — usable on executors.
    */
  private[graft] def normPath(p: String): String =
    p.replaceFirst("^[A-Za-z][A-Za-z0-9+.-]*:/+", "/")

  private[graft] def normPathCol(
      c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.regexp_replace(
      c, "^[A-Za-z][A-Za-z0-9+.-]*:/+", "/")

  /** Merge-on-read: data files of snapshot `v` MINUS the keys in its
    * equality-delete files MINUS the `(file_path, row_pos)` rows in its
    * position-delete files. Equality vectors are SEQ-SCOPED: a vector
    * applies only to data entries committed strictly before it, so a
    * key re-inserted after the delete (a later stream batch, say) is
    * served, not suppressed — the Iceberg sequence-number rule.
    * Position deletes name their file, so they apply wherever the
    * named file is still referenced. At scale the delete set is a
    * day's churn — broadcast-sized next to the data, and folded away
    * lazily by compaction.
    */
  def readMor(s: SparkSession, tableDir: String, v: Int): DataFrame =
    morFrame(s, tableDir, v, entries(tableDir, v))

  /** Seq-scoped merge-on-read assembly over an arbitrary entry slice
    * (shared by [[readMor]], [[prunedRead]] and the touched-partition
    * reads of MERGE / partial compaction). Data entries are grouped by
    * the SET of equality vectors that apply (seq-strictly-greater), so
    * the plan stays "scan → ≤V broadcast anti-joins" with one union
    * branch per distinct vector horizon — V is the live vector count,
    * a handful between compactions, never data-sized.
    */
  private[graft] def morFrame(s: SparkSession, tableDir: String, v: Int,
      es: Seq[FileEntry]): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col}
    val data = es.filter(_.kind == "D")
    val eqDels = es.filter(_.kind == "X")
    val posDels = es.filter(_.kind == "P")
    require(data.nonEmpty, "merge-on-read over zero data entries")
    val groups = data.groupBy(e =>
      eqDels.filter(_.seq > e.seq).map(_.path).sorted).toSeq
      .sortBy(_._1.mkString)
    val parts = groups.map { case (vecPaths, g) =>
      val base = readData(s, tableDir, v, g, withMeta = posDels.nonEmpty)
      // one anti-join PER vector file (not a union of vectors): the
      // vectors may carry different key columns, and set subtraction
      // composes — each is broadcast-sized by the day's-churn contract
      vecPaths.foldLeft(base) { (acc, p) =>
        val keys = s.read.parquet(p)
        acc.join(broadcast(keys), keys.columns.toSeq, "left_anti")
      }
    }
    val unioned = parts.reduce(_.unionByName(_))
    if (posDels.isEmpty) unioned
    else {
      val pos = s.read.parquet(posDels.map(_.path): _*)
      unioned.join(broadcast(pos),
        normPathCol(unioned(PosPathCol)) === normPathCol(pos("file_path")) &&
          unioned(PosIdxCol) === pos("row_pos"), "left_anti")
        .drop(PosPathCol, PosIdxCol)
    }
  }

  /** Metadata-only range pruning: keep snapshot `v`'s data files whose
    * manifest-carried [min, max] on `colName` overlaps [lo, hi] — a
    * pure string read of the manifest; no parquet footer is opened at
    * plan time (the spec proves it by DELETING the pruned files first).
    * Falls back to all files for entries without stats. Delete vectors
    * still apply to the surviving files (a pruned read of a vectored
    * table must not resurrect deleted rows — `ManifestPruneSpec` pins
    * it).
    */
  def prunedRead(s: SparkSession, tableDir: String, v: Int,
      colName: String, lo: Long, hi: Long): DataFrame = {
    val es = entries(tableDir, v)
    val keep = es.filter(e => e.kind == "D" && e.overlaps(colName, lo, hi))
    if (keep.isEmpty)
      read(s, tableDir, v).filter(org.apache.spark.sql.functions.lit(false))
    else morFrame(s, tableDir, v, keep ++ es.filter(_.kind != "D"))
  }

  /** The CHANGE-FEED planning step: the data entries exclusive to each
    * of two snapshots (old-only, new-only). Structural sharing makes
    * this the entire cost model of a snapshot diff — SHARED files
    * cannot contribute changes (same path ⇒ same bytes ⇒ same rows),
    * so a change feed reads only the partitions a commit actually
    * rewrote, however large the table. A pure manifest set difference;
    * no file is opened here.
    */
  def exclusiveEntries(tableDir: String, vOld: Int, vNew: Int)
      : (Seq[FileEntry], Seq[FileEntry]) = {
    val o = entries(tableDir, vOld).filter(_.kind == "D")
    val n = entries(tableDir, vNew).filter(_.kind == "D")
    val oPaths = o.map(_.path).toSet
    val nPaths = n.map(_.path).toSet
    (o.filterNot(e => nPaths(e.path)), n.filterNot(e => oPaths(e.path)))
  }

  /** The change-feed planning step GENERALIZED to merge-on-read
    * snapshots: the data entries whose EFFECTIVE state differs between
    * two snapshots. Under copy-on-write "same path ⇒ same rows", but a
    * delete-vector commit changes a file's visible rows while sharing
    * its bytes — so the sharing test is on the pair (path, applicable
    * delete state): the seq-scoped equality vectors that cover the
    * entry on each side, plus each side's position-delete set. A pure
    * appendDeletes transition thus marks exactly the files the new
    * vector can touch (every file committed before it) as changed; a
    * COW transition degenerates to the plain path set-difference. Still
    * a pure manifest computation — no file is opened here.
    */
  def changedEntries(tableDir: String, vOld: Int, vNew: Int)
      : (Seq[FileEntry], Seq[FileEntry]) = {
    val oEs = entries(tableDir, vOld)
    val nEs = entries(tableDir, vNew)
    def effective(es: Seq[FileEntry]): Map[String, (Seq[String], Seq[String])] = {
      val eq = es.filter(_.kind == "X")
      val pos = es.filter(_.kind == "P").map(_.path).sorted
      es.filter(_.kind == "D").map { e =>
        e.path -> ((eq.filter(_.seq > e.seq).map(_.path).sorted, pos))
      }.toMap
    }
    val oEff = effective(oEs)
    val nEff = effective(nEs)
    val oChanged = oEs.filter(e =>
      e.kind == "D" && !nEff.get(e.path).contains(oEff(e.path)))
    val nChanged = nEs.filter(e =>
      e.kind == "D" && !oEff.get(e.path).contains(nEff(e.path)))
    (oChanged, nChanged)
  }

  // ---- partition-spec evolution ------------------------------------

  /** the ACTIVE partition spec of snapshot `v` — the column whose
    * `col=value` labels NEW file entries carry from this snapshot on.
    * Files committed under an older spec keep their old labels; reads
    * treat them conservatively (see [[prunedByPartition]]). None for
    * tables that never declared one (their writers' labels still work,
    * there is just no recorded contract).
    */
  def specOf(tableDir: String, v: Int): Option[String] =
    headers(tableDir, v).collectFirst {
      case l if l.startsWith(s"$SpecHeader\t") =>
        l.stripPrefix(s"$SpecHeader\t")
    }

  /** Evolve the table's PARTITION SPEC as a pure metadata commit — the
    * Iceberg partition-spec-evolution idea: every existing file entry
    * is carried forward verbatim under its OLD label (zero bytes
    * rewritten), and the manifest records the new partitioning column
    * that subsequent writers must label by. Readers never need a
    * table rewrite: [[prunedByPartition]] prunes each entry by its own
    * label's column, keeping foreign-spec entries conservatively.
    */
  def commitSpecChange(tableDir: String, newPartCol: String): Int = {
    val v = latest(tableDir)
    require(v >= 1, s"no snapshot to evolve at $tableDir")
    val carried = headers(tableDir, v)
      .filterNot(_.startsWith(s"$SpecHeader\t"))
    commitEntries(tableDir, entries(tableDir, v),
      carried :+ s"$SpecHeader\t$newPartCol")
  }

  /** Partition-pruned merge-on-read scan: skip snapshot `v`'s data
    * entries whose label NAMES `colName` with a DIFFERENT value; keep
    * matching entries, unlabeled entries, and entries labeled by
    * another column (an older or newer spec era — their rows may hold
    * any `colName` value, the conservative keep every table format
    * applies across spec boundaries). Skipping is an optimization,
    * never a bet: callers still apply the row filter. Pure manifest
    * planning — the spec proves it by deleting the skipped files first.
    */
  def prunedByPartition(s: SparkSession, tableDir: String, v: Int,
      colName: String, value: String): DataFrame = {
    val es = entries(tableDir, v)
    val keep = es.filter { e =>
      e.kind == "D" &&
        labelValueOf(e.partition, colName).forall(_ == value)
    }
    if (keep.isEmpty) read(s, tableDir, v)
      .filter(org.apache.spark.sql.functions.lit(false))
    else morFrame(s, tableDir, v, keep ++ es.filter(_.kind != "D"))
  }

  /** SHALLOW CLONE (Delta's CLONE / Iceberg snapshot-ref tables): a new
    * table at `dstDir` whose v1 is the source's latest snapshot BY
    * REFERENCE — one manifest write, zero data copied at any table
    * size. Clones then diverge freely: commits on either side never
    * touch the other (manifests are immutable, COW rewrites land under
    * the writer's own root), and a clone's [[expire]] only ever deletes
    * files under its OWN directory, so vacuuming a clone cannot
    * corrupt its source. The fixture-sharing this enables is the same
    * thing a 100 TB dev/test workflow buys: a writable copy of
    * production for the cost of a metadata write.
    */
  def clone(srcDir: String, dstDir: String): Int = {
    val v = latest(srcDir)
    require(v >= 1, s"nothing to clone at $srcDir")
    require(latest(dstDir) == 0, s"clone target $dstDir is not empty")
    val es = entries(srcDir, v)
    // CONTINUE the source's sequence numbering (Iceberg preserves and
    // continues sequence numbers across refs): carried entries keep
    // their original seqs, and the clone's first snapshot lands at the
    // highest carried seq — so every subsequent clone commit mints a
    // seq STRICTLY ABOVE everything carried. Restarting at v1 would let
    // a new clone-side vector (seq 2) silently miss carried data with
    // seq >= 2, and a carried vector wrongly suppress new inserts.
    val maxSeq = es.map(_.seq).foldLeft(1L)(math.max)
    val at = math.min(maxSeq, Int.MaxValue.toLong).toInt
    // parent 0 marks the clone root explicitly — without it, publish
    // would record a phantom parent `at - 1` that never existed here.
    // Segments are adopted FROM THE SOURCE: a clone of a segmented
    // table writes one manifest list referencing the source's segment
    // files by absolute path — O(1) metadata, zero entry lines
    // re-serialized, the same structural sharing the data files get.
    val ok = publishEntries(dstDir, at, es,
      s"$ParentHeader\t0" +: headers(srcDir, v),
      segmentsFrom = Some(srcDir -> v))
    require(ok, s"clone target $dstDir is not empty")
    at
  }

  /** ROLL BACK to snapshot `v`: publish a NEW snapshot whose content is
    * exactly `v`'s (entries and headers carried verbatim) — history is
    * append-only, so the bad commits stay inspectable (and expirable)
    * while every reader of latest sees the restored state. The
    * Iceberg rollback / Delta RESTORE shape: pure metadata, zero data
    * movement at any table size. Returns the new snapshot id.
    */
  def rollback(tableDir: String, v: Int): Int = {
    require(v >= 1 && v <= latest(tableDir),
      s"cannot roll back to uncommitted v$v")
    commitEntries(tableDir, entries(tableDir, v), headers(tableDir, v))
  }

  /** Expire snapshots below `keepFrom` — the VACUUM half of the
    * lifecycle (Delta VACUUM / Iceberg expireSnapshots): delete the
    * expired manifests and every file they reference that NO retained
    * snapshot still references. Structural sharing makes this a set
    * difference over manifest lines (pure metadata); retained
    * snapshots keep reading byte-identical because a shared file is by
    * construction in the retained set. Returns the deleted data files.
    * Time travel below `keepFrom` fails loudly afterwards (the
    * manifest is gone), never silently serves partial data.
    */
  def expire(tableDir: String, keepFrom: Int): Seq[String] = {
    val last = latest(tableDir)
    require(keepFrom >= 1 && keepFrom <= last,
      s"keepFrom $keepFrom outside committed range [1, $last]")
    val d = manifestDir(tableDir)
    def live(v: Int) = Files.exists(d.resolve(s"v$v.manifest"))
    val retained = (keepFrom to last).filter(live)
      .flatMap(v => entries(tableDir, v).map(_.path)).toSet
    val expired = (1 until keepFrom).filter(live)
    // only files under THIS table's root are physically deleted: a
    // shallow clone references its source's files by absolute path, and
    // vacuuming the clone must never reach into the source (the same
    // own-root rule Delta applies to cloned tables)
    val ownRoot = Paths.get(tableDir).toAbsolutePath.toString
      .stripSuffix("/") + "/"
    def own(p: String) =
      Paths.get(p).toAbsolutePath.toString.startsWith(ownRoot)
    val dead = expired.flatMap(v => entries(tableDir, v).map(_.path))
      .distinct.filterNot(retained).filter(own)
    // manifest SEGMENTS expire by the same rule: a segment referenced
    // by no retained manifest is dead metadata — but only the table's
    // OWN segments go (a clone's list references the source's)
    val retainedSegs = (keepFrom to last).filter(live)
      .flatMap(v => segRefs(tableDir, v).map(_._1)).toSet
    val deadSegs = expired.flatMap(v => segRefs(tableDir, v).map(_._1))
      .distinct.filterNot(retainedSegs).filter(own)
    dead.foreach(p => Files.deleteIfExists(Paths.get(p)))
    expired.foreach(v => Files.delete(d.resolve(s"v$v.manifest")))
    deadSegs.foreach(p => Files.deleteIfExists(Paths.get(p)))
    dead
  }

  // ---- metadata tables ----------------------------------------------

  /** The `snapshots` METADATA TABLE (Iceberg's `table.snapshots` /
    * Delta's DESCRIBE HISTORY): one row per retained snapshot —
    * version, commit stamp, parent, active spec, entry counts by kind,
    * distinct partition-label count. Built from manifests alone on the
    * driver (metadata-sized by construction), returned as a DataFrame
    * so observability composes with ordinary SQL.
    */
  def metaSnapshots(s: SparkSession, tableDir: String)
      : org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val d = manifestDir(tableDir)
    (1 to latest(tableDir))
      .filter(v => Files.exists(d.resolve(s"v$v.manifest")))
      .map { v =>
        val es = entries(tableDir, v)
        (v, tsOf(tableDir, v).getOrElse(-1L),
          SnapshotRefs.parentOf(tableDir, v).getOrElse(-1),
          specOf(tableDir, v).getOrElse("-"),
          es.count(_.kind == "D").toLong,
          es.count(_.kind == "X").toLong,
          es.count(_.kind == "P").toLong,
          es.filter(_.kind == "D").map(_.partition).distinct.size.toLong)
      }
      .toDF("version", "ts", "parent", "spec",
        "n_data", "n_eqdel", "n_posdel", "n_partitions")
  }

  /** The `files` metadata table: snapshot `v`'s manifest entries as a
    * DataFrame (path, kind, partition label, commit seq). */
  def metaFiles(s: SparkSession, tableDir: String, v: Int)
      : org.apache.spark.sql.DataFrame = {
    import s.implicits._
    entries(tableDir, v).map(e => (e.path, e.kind, e.partition, e.seq))
      .toDF("path", "kind", "partition", "seq")
  }

  /** Per-file min/max of INT64 columns from the parquet FOOTER —
    * row-group stats folded per file. Paid once at WRITE time by the
    * committing writer (files·cols metadata, the Iceberg writer-side
    * stats collection); readers then prune from the manifest alone.
    */
  def footerStats(s: SparkSession, path: String, cols: Seq[String])
      : Map[String, (Long, Long)] = {
    val conf = s.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(path)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf))
    try {
      import scala.jdk.CollectionConverters._
      val blocks = reader.getFooter.getBlocks.asScala.toSeq
      cols.flatMap { c =>
        val perBlock = blocks.flatMap { b =>
          b.getColumns.asScala.find(_.getPath.toDotString == c)
            .map(_.getStatistics)
            .collect { case st if st != null && st.hasNonNullValue =>
              (st.genericGetMin, st.genericGetMax) }
            .collect { case (mn: java.lang.Long, mx: java.lang.Long) =>
              (mn.longValue, mx.longValue) }
        }
        if (perBlock.isEmpty) None
        else Some(c -> ((perBlock.map(_._1).min, perBlock.map(_._2).max)))
      }.toMap
    } finally reader.close()
  }

  /** Per-file write-side statistics collected with ONE DISTRIBUTED
    * aggregation over the just-written files — row count always,
    * min/max for the requested LONG and STRING columns — replacing the
    * per-file driver footer loop (an OPTIMIZE emitting 10k files would
    * serialize 10k filesystem round-trips; this is one job, stats fold
    * task-side exactly like every real table format's writers). Result
    * values match [[footerStats]] bit-for-bit for INT64 columns
    * (`TaskStatsSpec` pins it): parquet footer min/max ARE the data's
    * min/max, and both sides skip nulls. Keyed by the manifest
    * (scheme-less) path.
    */
  /** one file's write-side statistics, everything folded in the same
    * single distributed aggregation: exact row count, LONG and STRING
    * min/max, per-column NULL counts, and exact per-column SUMS for
    * LONG columns (recorded only when the file's own sum fits a long —
    * summed as 38-digit decimals task-side, so an overflowing file
    * simply drops its sum instead of wrapping). */
  final case class FileStats(rows: Long,
      longs: Map[String, (Long, Long)],
      strs: Map[String, (String, String)],
      nulls: Map[String, Long],
      sums: Map[String, Long])

  def collectFileStats(s: SparkSession, files: Seq[String],
      statsCols: Seq[String]): Map[String, FileStats] = {
    import org.apache.spark.sql.functions._
    if (files.isEmpty) return Map.empty
    val df = s.read.parquet(files: _*)
    val fieldType = df.schema.fields.map(f => f.name -> f.dataType).toMap
    val longCols = statsCols.filter(c =>
      fieldType.get(c).contains(org.apache.spark.sql.types.LongType))
    val strCols = statsCols.filter(c =>
      fieldType.get(c).contains(org.apache.spark.sql.types.StringType))
    val statCols = longCols ++ strCols
    val aggs = Seq(count(lit(1)).as("__n")) ++
      longCols.flatMap(c => Seq(min(col(c)), max(col(c)))) ++
      strCols.flatMap(c => Seq(min(col(c)), max(col(c)))) ++
      statCols.map(c => count(col(c))) ++ // nulls = __n - count(col)
      // TRY-mode long sum: codegen-fast (a Decimal(38,0) sum here cost
      // the write-bound bench rows 20-30%), NULL on any overflow — the
      // file simply drops its sum, never wraps. TRY eval mode checks
      // overflow regardless of the session's ANSI setting.
      longCols.map(c => try_sum(col(c)))
    val rows = df
      .groupBy(normPathCol(col("_metadata.file_path")).as("__p"))
      .agg(aggs.head, aggs.tail: _*)
      .collect() // one row per written file — metadata-sized
    rows.map { r =>
      val p = r.getString(0)
      val n = r.getLong(1)
      val base = 2
      val ls = longCols.zipWithIndex.flatMap { case (c, i) =>
        val (a, b) = (base + 2 * i, base + 2 * i + 1)
        if (r.isNullAt(a) || r.isNullAt(b)) None
        else Some(c -> ((r.getLong(a), r.getLong(b))))
      }.toMap
      val sBase = base + 2 * longCols.size
      val ss = strCols.zipWithIndex.flatMap { case (c, i) =>
        val (a, b) = (sBase + 2 * i, sBase + 2 * i + 1)
        if (r.isNullAt(a) || r.isNullAt(b) ||
            r.getString(a).length > MaxStrStat ||
            r.getString(b).length > MaxStrStat) None
        else Some(c -> ((r.getString(a), r.getString(b))))
      }.toMap
      val nBase = sBase + 2 * strCols.size
      val nulls = statCols.zipWithIndex.map { case (c, i) =>
        c -> (n - r.getLong(nBase + i))
      }.toMap
      val mBase = nBase + statCols.size
      val sums = longCols.zipWithIndex.flatMap { case (c, i) =>
        // null = all-null column OR overflow (TRY mode): drop the sum
        if (r.isNullAt(mBase + i)) None
        else Some(c -> r.getLong(mBase + i))
      }.toMap
      p -> FileStats(n, ls, ss, nulls, sums)
    }.toMap
  }

  /** METADATA-ONLY `COUNT(*) GROUP BY partition`: answered from the
    * manifest's per-file row counts alone — zero DATA files opened
    * (the driver query proves it by deleting them first, the s33
    * trick). POSITION-deleted tables are served EXACTLY: each
    * position-delete row names one physical row of one named file, so
    * the count is sum(rows) minus the distinct live-file positions —
    * the delete files are churn-sized delete METADATA, read without
    * touching a data file (positions naming files no longer
    * referenced are inert, matching readMor). EQUALITY vectors still
    * refuse (their key semantics can't be counted without reading
    * data), as do entries lacking a recorded count — correctness
    * never bets on stale metadata.
    */
  def metaCount(s: SparkSession, tableDir: String, v: Int): DataFrame = {
    import s.implicits._
    val es = entries(tableDir, v)
    require(!es.exists(_.kind == "X"),
      s"snapshot v$v of $tableDir carries delete vectors — manifest " +
        "row counts over-state the visible rows; compact first")
    val data = es.filter(_.kind == "D")
    data.foreach(e => require(e.rows >= 0L,
      s"no recorded row count for ${e.path} — written by a pre-stats " +
        "writer; rewrite or count the data"))
    val pos = es.filter(_.kind == "P")
    // per-live-file dead-row counts from the position files (distinct
    // (file, pos) — the same address named twice subtracts once)
    val deadByFile: Map[String, Long] =
      if (pos.isEmpty) Map.empty
      else {
        import org.apache.spark.sql.functions.{col, countDistinct}
        val live = data.map(e => normPath(e.path)).toSet
        s.read.parquet(pos.map(_.path): _*)
          .select(normPathCol(col("file_path")).as("f"), col("row_pos"))
          .groupBy(col("f"))
          .agg(countDistinct(col("row_pos")).as("n"))
          .collect()
          .map(r => r.getString(0) -> r.getLong(1))
          .filter { case (f, _) => live(f) }
          .toMap
      }
    data.groupBy(_.partition).toSeq
      .map { case (p, g) =>
        (p, g.map(e =>
          e.rows - deadByFile.getOrElse(normPath(e.path), 0L)).sum)
      }
      .toDF("partition", "n_rows")
  }

  /** [[prunedRead]] for STRING bounds (dates ride as ISO strings): keep
    * the data files whose manifest [min, max] on `colName` overlaps
    * [lo, hi] — same metadata-only contract, vectors still apply. */
  def prunedReadStr(s: SparkSession, tableDir: String, v: Int,
      colName: String, lo: String, hi: String): DataFrame = {
    val es = entries(tableDir, v)
    val keep = es.filter(e => e.kind == "D" && e.overlapsStr(colName, lo, hi))
    if (keep.isEmpty)
      read(s, tableDir, v).filter(org.apache.spark.sql.functions.lit(false))
    else morFrame(s, tableDir, v, keep ++ es.filter(_.kind != "D"))
  }

  /** A WRITER-UNIQUE output root under a version-scoped prefix.
    * Version-scoped naming alone is not enough: two writers that both
    * derived from snapshot v (the OCC/rebase scenario) would compute
    * the same `v+1` root, and the loser's `overwrite` write would
    * clobber the winner's already-committed files BEFORE the CAS
    * publish ever gets to arbitrate. Manifests reference absolute
    * paths, so the unique suffix costs nothing — uncommitted loser
    * directories are unreferenced and swept by [[removeOrphans]].
    */
  private[graft] def writerRoot(prefix: String): String =
    s"$prefix/w-${java.util.UUID.randomUUID().toString.take(8)}"

  /** Delete every parquet file under the table's data/deletes roots
    * that NO live manifest references — the Iceberg remove-orphan-files
    * action, the cleanup half that [[expire]] (which only follows
    * manifest references) cannot reach: crashed commits and lost OCC
    * races leave writer-unique directories no manifest ever adopted.
    * Returns the deleted paths.
    *
    * `olderThanMillis` guards IN-FLIGHT commits: a concurrent writer
    * that has staged its writer-unique files but not yet CAS-published
    * is unreferenced by any manifest at sweep time — deleting its files
    * would let the subsequent publish reference dead paths (data loss).
    * Files modified within the cutoff are therefore SKIPPED; the
    * default (3 h) comfortably exceeds any commit's stage-to-publish
    * window, the same reasoning behind Iceberg's remove_orphan_files
    * older-than default. Pass 0 only when no writer can be in flight
    * (tests, single-writer maintenance windows).
    */
  def removeOrphans(tableDir: String,
      olderThanMillis: Long = 3L * 3600 * 1000): Seq[String] = {
    val last = latest(tableDir)
    val live = (1 to last)
      .filter(v => Files.exists(
        manifestDir(tableDir).resolve(s"v$v.manifest")))
      .flatMap(v => entries(tableDir, v).map(_.path)).toSet
    val cutoff = System.currentTimeMillis() - olderThanMillis
    def oldEnough(p: String): Boolean =
      try Files.getLastModifiedTime(Paths.get(p)).toMillis <= cutoff
      catch { case _: java.io.IOException => false }
    val orphans = Seq("data", "deletes")
      .map(d => Paths.get(tableDir, d))
      .filter(Files.exists(_))
      .flatMap(p => dataFiles(p.toString))
      .filterNot(live)
      .filter(oldEnough)
    // orphaned manifest SEGMENTS: written by a commit that lost its CAS
    // race (or crashed before it) — unreferenced by any live manifest
    val liveSegs = (1 to last)
      .filter(v => Files.exists(
        manifestDir(tableDir).resolve(s"v$v.manifest")))
      .flatMap(v => segRefs(tableDir, v).map(_._1)).toSet
    val segOrphans = {
      val listing = Files.list(manifestDir(tableDir))
      try listing.toArray.toSeq.map(_.toString)
        .filter(p => Paths.get(p).getFileName.toString.matches(
          "seg-[0-9a-f-]+\\.seg"))
        .map(p => Paths.get(p).toAbsolutePath.toString)
        .filterNot(liveSegs)
        .filter(oldEnough)
      finally listing.close()
    }
    (orphans ++ segOrphans).foreach(p => Files.deleteIfExists(Paths.get(p)))
    orphans ++ segOrphans
  }

  /** the data files a write just produced under `dir`. */
  def dataFiles(dir: String): Seq[String] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(new java.io.File(dir))
      .filter(_.getName.endsWith(".parquet"))
      .map(_.getAbsolutePath).sorted
  }
}
