package graft.sources

import graft.operators.{SnapshotLog, SnapshotRefs}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{MessageType, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.parquet.schema.LogicalTypeAnnotation.stringType
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.types._

/** The WRITE half of the `graft-snapshot` DSv2 face: an APPEND through
  * the standard DataFrame writer commits as ONE snapshot —
  *
  *   df.write.format("graft-snapshot").option("path", dir)
  *     .mode("append").save()
  *
  * Executors write task-local parquet files under a writer-unique root
  * (two racing writes can never clobber each other's files; an aborted
  * write's directory is unreferenced and swept by
  * [[SnapshotLog.removeOrphans]]); the DRIVER then publishes the
  * manifest: prior entries carried forward, the new files appended at
  * seq = the committed version, CAS put-if-absent with append-rebase
  * retries (an interleaved commit is never a logical conflict for a
  * pure append — the same progress argument as [[SnapshotLog.commit]]).
  * Nothing is visible until the manifest lands: a crashed job leaves
  * data files no reader resolves, the snapshot-log flavor of the
  * two-phase commit every DSv2 sink needs.
  *
  * `option("branch", name)` targets a [[SnapshotRefs]] branch instead:
  * the commit derives from the BRANCH head (a `#parent` header records
  * it) and CAS-advances the ref, so staged writes ride the
  * write–audit–publish flow straight from the DataFrame API.
  *
  * Supported column types mirror the read face: LONG, INT, DOUBLE,
  * FLOAT, BOOLEAN, STRING.
  */
private[sources] object SnapshotWrite {

  /** the table's INTEGRAL partition spec column when one is declared,
    * present in the write schema, and the write is not branch-staged
    * (the WAP `ref=` label wins there). Non-integral specs stay
    * unlabeled — the manifest's tab-separated lines cannot carry
    * arbitrary strings. */
  private[sources] def specColOf(dir: String, branch: Option[String],
      schema: StructType): Option[String] =
    if (branch.nonEmpty) None
    else {
      val v = SnapshotLog.latest(dir)
      if (v < 1) None
      else SnapshotLog.specOf(dir, v).filter { pc =>
        val i = schema.fieldNames.indexOf(pc)
        i >= 0 && (schema.fields(i).dataType == LongType ||
          schema.fields(i).dataType == IntegerType)
      }
    }

  private[sources] def parquetSchema(schema: StructType): MessageType = {
    val b = Types.buildMessage()
    schema.fields.foreach { f =>
      f.dataType match {
        case LongType => b.optional(PrimitiveTypeName.INT64).named(f.name)
        case IntegerType => b.optional(PrimitiveTypeName.INT32).named(f.name)
        case DoubleType => b.optional(PrimitiveTypeName.DOUBLE).named(f.name)
        case FloatType => b.optional(PrimitiveTypeName.FLOAT).named(f.name)
        case BooleanType =>
          b.optional(PrimitiveTypeName.BOOLEAN).named(f.name)
        case StringType => b.optional(PrimitiveTypeName.BINARY)
          .as(stringType()).named(f.name)
        case other => throw new IllegalArgumentException(
          s"graft-snapshot write: unsupported type $other for ${f.name}")
      }
    }
    b.named("graft_snapshot_write")
  }
}

private[sources] class SnapshotWriteBuilder(dir: String,
    branch: Option[String], info: LogicalWriteInfo) extends WriteBuilder
    with org.apache.spark.sql.connector.write.SupportsTruncate {
  private var doTruncate = false

  /** SQL `INSERT OVERWRITE` / `df.write.mode("overwrite")`: the commit
    * REPLACES the table's content — new files only, prior entries
    * dropped — as one ordinary snapshot, so time travel still serves
    * every pre-overwrite version (the Delta/Iceberg overwrite shape:
    * a version, never a wipe). Table-level headers (schema, spec,
    * keys) carry. Branch-staged overwrites refuse: a WAP stage is an
    * audit of additions, not a replacement. */
  override def truncate(): WriteBuilder = {
    require(branch.isEmpty,
      "INSERT OVERWRITE cannot target a branch stage; overwrite main " +
        "or write a fresh table")
    doTruncate = true
    this
  }

  override def build(): Write = new Write
      with org.apache.spark.sql.connector.write
        .RequiresDistributionAndOrdering {
    override def toBatch: BatchWrite =
      new SnapshotBatchWrite(dir, branch, info.schema(), doTruncate)
    override def toStreaming
        : org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
      require(!doTruncate,
        "streaming writes append epochs; complete-mode overwrite is " +
          "not supported on graft-snapshot tables")
      // replay idempotence is keyed by the STREAMING QUERY's stable id
      // (Spark persists it in the checkpoint): two queries writing the
      // same table, or one restarted with a fresh checkpoint, each get
      // their own high-water — epochs are never silently dropped
      // against another writer's marker (the Delta txn-appId contract).
      new SnapshotStreamingWrite(dir, branch, info.schema(),
        Option(info.queryId()).getOrElse(""))
    }

    // SPEC-CLUSTERED WRITES (the Iceberg/Delta write-distribution
    // contract): when the table declares an integral partition spec,
    // ask Spark to CLUSTER rows by it and SORT each task's slice on it
    // — every task then holds at most a handful of values and the
    // value-change writer below keeps exactly ONE parquet writer open
    // (one row-group buffer), instead of one per value per task (12
    // values x 32 tasks x 128 MB buffers OOMed the x100 probe). An
    // unspecced table keeps Spark's own distribution.
    private val specCol: Option[String] =
      SnapshotWrite.specColOf(dir, branch, info.schema())
    import org.apache.spark.sql.connector.expressions.Expressions
    override def requiredDistribution()
        : org.apache.spark.sql.connector.distributions.Distribution =
      specCol match {
        case Some(pc) =>
          org.apache.spark.sql.connector.distributions.Distributions
            .clustered(Array(Expressions.column(pc)))
        case None =>
          org.apache.spark.sql.connector.distributions.Distributions
            .unspecified()
      }
    override def requiredOrdering()
        : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
      specCol match {
        case Some(pc) => Array(Expressions.sort(Expressions.column(pc),
          org.apache.spark.sql.connector.expressions.SortDirection
            .ASCENDING))
        case None => Array.empty
      }
    // clustering is a LAYOUT preference, not a correctness need (the
    // writer handles interleaved values by rolling files)
    override def distributionStrictlyRequired(): Boolean = false
  }
}

/** `writeStream.format("graft-snapshot")` — the STREAMING face of the
  * snapshot table through the standard DSv2 door: every epoch commits
  * as ONE snapshot whose entries carry the `batch=<epochId>` label and
  * the query's `#writerhw` high-water header, so a REPLAYED epoch
  * (restart, speculative re-run) no-ops against the manifest's own
  * high-water mark — identical manifest bytes, the files of the replay
  * left unreferenced for the orphan sweep. Exactly the
  * [[graft.streaming.SnapshotCommitSink]] contract, now reachable
  * without a foreachBatch shim; `option("branch", name)` stages
  * epochs on a [[SnapshotRefs]] branch (write–audit–publish for
  * streams). Commits are O(delta) segment appends.
  */
private[sources] class SnapshotStreamingWrite(dir: String,
    branch: Option[String], schema: StructType, writerId: String = "")
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {
  // one writer-unique root per QUERY RUN; epochs nest under it, so two
  // concurrent runs (or a zombie executor from a failed run) can never
  // collide on paths
  private val root = SnapshotLog.writerRoot(
    s"$dir/data/${branch.map(b => s"stream-$b").getOrElse("stream")}")

  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.streaming
        .StreamingDataWriterFactory =
    new SnapshotStreamingWriterFactory(root, schema)

  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    val files = messages.collect { case SnapFilesCommit(fs) => fs }
      .flatten.filter(_.rows > 0).sortBy(_.path)
    SnapshotStreamingWrite.commitEpoch(dir, branch, epochId,
      files.map(f => (f.path, f.rows, f.bytes)), writerId)
  }

  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case SnapFilesCommit(fs) => fs.filter(_.path.nonEmpty).foreach(f =>
        java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(f.path)))
      case _ =>
    }
}

private[sources] object SnapshotStreamingWrite {
  private def label(epochId: Long) = s"batch=$epochId"

  /** commit one epoch's files as the next snapshot; NO-OP when the
    * epoch is at or below THIS WRITER's high-water mark (the replay
    * path after a restart — same manifest bytes, nothing republished).
    * `writerId` scopes the marker: the DSv2 door passes the streaming
    * query's stable id, so a second query (or a fresh-checkpoint
    * restart) never has its epochs dropped against a foreign marker;
    * "" keeps the table-global `#batchhw` header. Returns the line's
    * head either way. */
  private[sources] def commitEpoch(dir: String, branch: Option[String],
      epochId: Long, files: Seq[(String, Long, Long)],
      writerId: String = ""): Int = {
    def entriesAt(t: Long) = files.map { case (p, n, b) =>
      SnapshotLog.FileEntry(p, "D", label(epochId), Map.empty,
        seq = t, rows = n, bytes = b)
    }
    def hwOf(v: Int) = SnapshotLog.batchHighWater(dir, v, writerId)
    // an EMPTY epoch (AvailableNow's drain tick, an all-filtered
    // micro-batch) commits nothing: no empty snapshot, no high-water
    // advance — a later replay of it is empty again, still a no-op
    if (files.isEmpty)
      return branch.map(SnapshotRefs.head(dir, _))
        .getOrElse(SnapshotLog.latest(dir))
    branch match {
      case None =>
        val v = SnapshotLog.latest(dir)
        if (hwOf(v) >= epochId) return v
        val hw = math.max(hwOf(v), epochId)
        SnapshotLog.appendEntries(dir, t => entriesAt(t.toLong),
          extraHeaders = Seq(SnapshotLog.hwHeader(writerId, hw)),
          dropHeaders = Seq(SnapshotLog.hwDropPrefix(writerId)),
          noopIf = h => hwOf(h) >= epochId)
      case Some(name) =>
        val h = SnapshotRefs.head(dir, name)
        if (hwOf(h) >= epochId) return h
        val hw = math.max(hwOf(h), epochId)
        var attempts = 0
        while (attempts < 1000) {
          attempts += 1
          val t = SnapshotLog.latest(dir) + 1
          if (SnapshotLog.publishAppend(dir, t, h, entriesAt(t.toLong),
              extraHeaders = Seq(SnapshotRefs.parentHeader(h),
                s"${SnapshotLog.RefHeader}\t$name",
                SnapshotLog.hwHeader(writerId, hw)),
              dropHeaders = Seq(SnapshotLog.hwDropPrefix(writerId)))) {
            SnapshotRefs.advance(dir, name, h, t)
            return t
          }
        }
        throw new IllegalStateException(
          s"streaming epoch commit on branch $name lost 1000 races")
    }
  }
}

private class SnapshotStreamingWriterFactory(root: String,
    schema: StructType)
    extends org.apache.spark.sql.connector.write.streaming
      .StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new SnapshotDataWriter(s"$root/e$epochId", schema, partitionId)
}

/** one finished task file with everything the manifest wants: path,
  * row count, byte size (all known task-side at close — no driver-side
  * stat loop at any file count) and the `col=value` partition label
  * when the table declares an integral partition spec ("" otherwise).
  */
private case class SnapFile(path: String, rows: Long, bytes: Long,
    label: String, splitOffsets: Seq[Long] = Nil)
private case class SnapFilesCommit(files: Seq[SnapFile])
    extends WriterCommitMessage

private class SnapshotBatchWrite(dir: String, branch: Option[String],
    schema: StructType, truncate: Boolean = false) extends BatchWrite {
  // writer-unique root, minted ONCE on the driver so every task of this
  // job (and only this job) lands under it
  private val root = SnapshotLog.writerRoot(
    s"$dir/data/${branch.map(b => s"ref-$b").getOrElse("append")}")

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory =
    new SnapshotWriterFactory(root, schema, partColIdx)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    // (path, rows, bytes, label): everything folded TASK-SIDE rides
    // into the manifest for free — metadata-only COUNT, plan-time
    // statistics, and partition pruning need no extra pass here
    val files = messages.collect { case SnapFilesCommit(fs) => fs }
      .flatten.filter(_.rows > 0).sortBy(_.path)
    // O(delta) commit: the parent's @seg reference lines are adopted
    // verbatim (publishAppend) — an append to a millions-of-files table
    // neither enumerates nor re-serializes the parent's entry set
    branch match {
      case Some(name) =>
        val h = SnapshotRefs.head(dir, name)
        var done = false
        var attempts = 0
        while (!done) {
          attempts += 1
          require(attempts <= 1000, "snapshot write lost 1000 id races")
          val t = SnapshotLog.latest(dir) + 1
          val added = files.map(f => SnapshotLog.FileEntry(
            f.path, "D", s"ref=$name", Map.empty, seq = t.toLong,
            rows = f.rows, bytes = f.bytes,
            splitOffsets = f.splitOffsets))
          if (SnapshotLog.publishAppend(dir, t, h, added,
              extraHeaders = Seq(SnapshotRefs.parentHeader(h),
                s"${SnapshotLog.RefHeader}\t$name"))) {
            SnapshotRefs.advance(dir, name, h, t)
            done = true
          }
        }
      case None if truncate =>
        // REPLACE content: new files only, headers carried — an
        // ordinary snapshot, so pre-overwrite versions stay readable
        var attempts = 0
        var done = false
        while (!done) {
          attempts += 1
          require(attempts <= 1000, "overwrite lost 1000 id races")
          val v = SnapshotLog.latest(dir)
          val added = files.map(f => SnapshotLog.FileEntry(
            f.path, "D", f.label, Map.empty, seq = v + 1L,
            rows = f.rows, bytes = f.bytes,
            splitOffsets = f.splitOffsets))
          done = SnapshotLog.publishEntries(dir, v + 1, added,
            SnapshotLog.headers(dir, v))
        }
      case None =>
        SnapshotLog.appendEntries(dir, t =>
          files.map(f => SnapshotLog.FileEntry(
            f.path, "D", f.label, Map.empty, seq = t.toLong,
            rows = f.rows, bytes = f.bytes,
            splitOffsets = f.splitOffsets)))
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    // best-effort: the files are unreferenced either way (orphan sweep)
    messages.foreach {
      case SnapFilesCommit(fs) => fs.filter(_.path.nonEmpty).foreach(f =>
        java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(f.path)))
      case _ =>
    }
  }

  /** the table's INTEGRAL partition spec column, when one is declared
    * and present in the write schema — each task then splits its rows
    * by the column's value and labels every produced file, so SQL
    * `INSERT INTO` a `PARTITIONED BY` lake table feeds partition
    * pruning and metadata COUNT exactly like the partitioned writers.
    * Branch-staged writes keep their `ref=` label instead (the WAP
    * staging marker wins), and non-integral specs stay unlabeled (the
    * manifest's tab-separated lines cannot carry arbitrary strings).
    */
  private[sources] def partColIdx: Option[Int] =
    SnapshotWrite.specColOf(dir, branch, schema)
      .map(schema.fieldNames.indexOf(_))
}

private class SnapshotWriterFactory(root: String, schema: StructType,
    partColIdx: Option[Int]) extends DataWriterFactory {
  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] =
    new SnapshotDataWriter(root, schema, partitionId, partColIdx)
}

private[sources] object SnapshotDataWriter {

  /** `<kind>-<partition>-<attempt>-<8 hex>.parquet`: the task's partition
    * and attempt number, then a random suffix. Spark's task id is NOT in
    * the name — it is JVM-global, so its digit count (and with it the
    * path every manifest entry stores) would depend on how many tasks
    * ran earlier in the session. */
  def fileName(kind: String, partitionId: Int): String = {
    val attempt = Option(org.apache.spark.TaskContext.get()).fold(0)(_.attemptNumber())
    s"$kind-$partitionId-$attempt-${java.util.UUID.randomUUID().toString.take(8)}.parquet"
  }
}

/** Task-side parquet writer over the example Group API — lazy: a task
  * with zero rows writes no file (its commit message carries nothing).
  * With `partColIdx` set (the table declares an integral partition
  * spec), every produced file is labeled `col=value`, and the writer
  * holds exactly ONE open parquet writer at a time: when the value
  * changes it CLOSES the current file and rolls a new one. Under the
  * clustered + sorted distribution the Write requests, each task's
  * values arrive contiguously, so this yields one file per value per
  * task with one row-group buffer of memory — per-value open-writer
  * maps blow up as values x tasks x buffer (the x100 probe OOMed on
  * exactly that). Unsorted input (a foreign plan that ignored the
  * ordering preference) just rolls more files; never wrong, never
  * unbounded. */
private class SnapshotDataWriter(root: String, schema: StructType,
    partitionId: Int,
    partColIdx: Option[Int] = None) extends DataWriter[InternalRow] {
  private val msg = SnapshotWrite.parquetSchema(schema)
  private val factory = new SimpleGroupFactory(msg)

  private final class OneFile(val label: String, sub: String) {
    val file = s"$root$sub/${SnapshotDataWriter.fileName("part", partitionId)}"
    var rows = 0L
    // tracks whether the lazy writer was ever OPENED: finish() must
    // close by that fact, not by rows — a task that fails during its
    // first write (writer open, rows still 0) would otherwise leak the
    // handle/buffer on abort while the file is deleted underneath it
    private var opened = false
    lazy val writer: org.apache.parquet.hadoop.ParquetWriter[
      org.apache.parquet.example.data.Group] = {
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(file).getParent)
      opened = true
      ExampleParquetWriter.builder(new Path(file))
        .withConf(new Configuration()).withType(msg).build()
    }
    def finish(): Unit = if (opened) writer.close()
  }

  private var current: OneFile = _
  private var currentVal = 0L
  private val finished = scala.collection.mutable.ArrayBuffer.empty[OneFile]

  private def roll(label: String, sub: String): OneFile = {
    if (current != null) { current.finish(); finished += current }
    current = new OneFile(label, sub)
    current
  }

  private def sinkFor(row: InternalRow): OneFile = partColIdx match {
    case None => if (current == null) roll("", "") else current
    case Some(i) =>
      require(!row.isNullAt(i),
        "graft-snapshot write: the partition-spec column must be " +
          "non-null (a null partition value cannot be labeled)")
      val v = schema.fields(i).dataType match {
        case IntegerType => row.getInt(i).toLong
        case _ => row.getLong(i)
      }
      if (current == null || v != currentVal) {
        val col = schema.fieldNames(i)
        roll(s"$col=$v", s"/$col=$v")
        currentVal = v
      }
      current
  }

  override def write(row: InternalRow): Unit = {
    val sink = sinkFor(row)
    val g = factory.newGroup()
    schema.fields.zipWithIndex.foreach { case (f, i) =>
      if (!row.isNullAt(i)) f.dataType match {
        case LongType => g.add(f.name, row.getLong(i))
        case IntegerType => g.add(f.name, row.getInt(i))
        case DoubleType => g.add(f.name, row.getDouble(i))
        case BooleanType => g.add(f.name, row.getBoolean(i))
        case FloatType => g.add(f.name, row.getFloat(i))
        case StringType => g.add(f.name,
          Binary.fromConstantByteArray(row.getUTF8String(i).getBytes))
        case other => throw new IllegalArgumentException(
          s"graft-snapshot write: unsupported type $other")
      }
    }
    sink.writer.write(g)
    sink.rows += 1
  }

  private def allSinks: Seq[OneFile] =
    finished.toSeq ++ Option(current).toSeq

  override def commit(): WriterCommitMessage = {
    if (current != null) { current.finish(); finished += current }
    val done = finished.toSeq
    current = null
    SnapFilesCommit(done.filter(_.rows > 0).map(s =>
      SnapFile(s.file, s.rows,
        java.nio.file.Files.size(java.nio.file.Paths.get(s.file)),
        s.label,
        // row-group offsets read TASK-SIDE from the just-written
        // footer (one local read per file): the planner then splits
        // big files exactly at group boundaries
        SnapshotLog.splitOffsetsOf(s.file))))
  }

  override def abort(): Unit = {
    allSinks.foreach { s =>
      s.finish()
      java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(s.file))
    }
  }

  override def close(): Unit = ()
}
