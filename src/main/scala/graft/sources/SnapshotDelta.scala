package graft.sources

import graft.operators.SnapshotLog
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{PrimitiveType, Types}
import org.apache.parquet.schema.LogicalTypeAnnotation.stringType
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.MetadataColumn
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** SQL DML on snapshot-log tables — the POSITION-DELTA row-level
  * operation behind [[SnapshotTable]]'s `SupportsRowLevelOperations`:
  *
  *   DELETE FROM graft_lake.`/dir` WHERE <any predicate>
  *   UPDATE graft_lake.`/dir` SET ... WHERE ...
  *   MERGE INTO graft_lake.`/dir` t USING src ON ... WHEN ...
  *
  * Spark's own analyzer rewrites (RewriteDeleteFromTable /
  * RewriteUpdateTable / RewriteMergeIntoTable) plan the matched rows
  * over THIS operation's scan — the table's own DSv2 scan serving the
  * `(_file, _pos)` row address as metadata columns — and hand each
  * matched row to the [[PositionDeltaWriter]]:
  *
  *  - a DELETE becomes `(file_path, row_pos)` rows collected task-side
  *    and written once as a position-delete parquet (kind "P");
  *  - an UPDATE is delete + reinsert (`representUpdateAsDeleteAndInsert`),
  *    the new row landing in a task-local data file (kind "D");
  *  - a MERGE mixes all three; NOT MATCHED inserts are plain inserts.
  *
  * The driver then publishes ONE merge-on-read snapshot: every prior
  * entry carried by reference (an O(delta) segment commit), the new
  * P/D files appended at the new version's sequence. ZERO data files
  * are rewritten at any table size — deleting a thousand rows from a
  * 100 TB table costs one tiny parquet file and a manifest list, the
  * Iceberg position-delta write shape. Arbitrary predicates work
  * because Spark evaluates them over the scan; nothing needs to
  * translate to source filters. OCC: the commit derives from the
  * snapshot the scan pinned and fails loudly if the table advanced.
  */
object SnapshotDelta {

  val FileCol = "_file"
  val PosCol = "_pos"

  /** METADATA-ONLY DELETE (`SupportsDeleteV2`): when the WHERE clause
    * is exactly a value-set test on ONE column — `c = v`, `c IN (…)`,
    * plus the analyzer's `IS NOT NULL c` rider — the delete commits as
    * an EQUALITY-DELETE VECTOR on that column (the S34 write path
    * through the SQL door): one tiny parquet of the named values, one
    * manifest line, ZERO data files opened at any table size. The
    * Iceberg sequence rule makes it exact: the vector's seq is the
    * committing version, so it suppresses every row of every earlier
    * file whose `c` matches — precisely the rows `c IN (…)` selects
    * (null `c` matches neither the SQL predicate nor the vector).
    * Anything else (ranges, multi-column predicates, non-literal
    * operands) refuses [[canPlan]] and falls back to the row-level
    * position-delta path — never a wrong answer, only a slower one.
    */
  private[sources] object MetaDelete {
    import org.apache.spark.sql.connector.expressions.filter.Predicate

    /** the (column, values, type) a metadata delete would commit, or
      * None to refuse into the row-level path. */
    def canPlan(dir: String, schema: StructType,
        predicates: Array[Predicate]): Option[(String, Seq[Any],
        DataType)] = {
      if (predicates.isEmpty) return None // DELETE all: row-level/TRUNCATE
      val (riders, tests) =
        predicates.partition(_.name() == "IS_NOT_NULL")
      val cs = SnapshotPrune.parseConstraints(tests)
      // every non-rider predicate must parse, and to exactly one
      // value-set constraint on one column
      if (cs.size != tests.length || cs.size != 1) return None
      cs.head match {
        case SnapshotPrune.InSet(col, vals) =>
          val riderOk = riders.forall(_.children() match {
            case Array(f: NamedReference) =>
              f.fieldNames().mkString(".") == col
            case _ => false
          })
          if (!riderOk) return None
          schema.fields.find(_.name == col).map(_.dataType) match {
            case Some(dt @ (LongType | IntegerType | StringType)) =>
              // values must carry in the column's own type — a lossy
              // coercion would delete the wrong rows
              val typed = vals.flatMap { v =>
                (dt, v) match {
                  case (LongType, _) => SnapshotPrune.asLong(v)
                  case (IntegerType, _) => SnapshotPrune.asLong(v)
                    .filter(l => l >= Int.MinValue && l <= Int.MaxValue)
                    .map(_.toInt)
                  case (StringType, s: String) => Some(s)
                  case _ => None
                }
              }
              if (typed.size == vals.size && typed.nonEmpty)
                Some((col, typed, dt))
              else None
            case _ => None
          }
        case _ => None
      }
    }

    /** Commit the delete. Two metadata shapes, picked per snapshot:
      *
      *  - PARTITION DROP: when EVERY data entry is labeled by `col`
      *    with a typed value (label purity — the writer stamped the
      *    label FROM the column), `DELETE WHERE col IN (…)` is exactly
      *    "drop those entries": the new manifest simply omits them.
      *    No vector is introduced, so metadata COUNT and aggregate
      *    pushdown KEEP working after the delete — the Hive
      *    drop-partition / Iceberg delete-by-partition-predicate
      *    optimization. A no-match delete commits nothing.
      *  - EQUALITY VECTOR otherwise: one tiny parquet of the named
      *    values (CAS append; the vector's seq = the committed
      *    version, scoping it to all prior files).
      */
    def commit(dir: String, col: String, vals: Seq[Any],
        dt: DataType): Int = {
      val typedSet = vals.toSet
      var attempts = 0
      while (attempts < 1000) {
        attempts += 1
        val v = SnapshotLog.latest(dir)
        val es = SnapshotLog.entries(dir, v)
        val data = es.filter(_.kind == "D")
        def labelVal(e: SnapshotLog.FileEntry): Option[Any] =
          SnapshotPrune.labelValue(e, col)
            .flatMap(SnapshotPrune.typedLabel(_, dt))
        if (data.isEmpty || data.exists(e => labelVal(e).isEmpty))
          return commitVector(dir, col, vals, dt)
        val (drop, keep) = data.partition(e =>
          typedSet.contains(labelVal(e).get))
        if (drop.isEmpty) return v // zero matching rows: no-op
        if (SnapshotLog.publishEntries(dir, v + 1,
            keep ++ es.filter(_.kind != "D"),
            SnapshotLog.headers(dir, v)))
          return v + 1
        // CAS loss: re-derive from the new head and retry
      }
      throw new IllegalStateException(
        s"metadata DELETE at $dir lost 1000 races")
    }

    private def commitVector(dir: String, col: String, vals: Seq[Any],
        dt: DataType): Int = {
      val root = SnapshotLog.writerRoot(s"$dir/deletes/keydel")
      val file = s"$root/values.parquet"
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(file).getParent)
      val msg = SnapshotWrite.parquetSchema(
        StructType(Seq(StructField(col, dt))))
      val factory = new SimpleGroupFactory(msg)
      val w = ExampleParquetWriter.builder(new Path(file))
        .withConf(new Configuration()).withType(msg).build()
      try vals.foreach { v =>
        val g = factory.newGroup()
        (dt, v) match {
          case (LongType, l: Long) => g.add(col, l)
          case (IntegerType, i: Int) => g.add(col, i)
          case (StringType, s: String) =>
            g.add(col, Binary.fromString(s))
          case other => throw new IllegalStateException(
            s"unreachable: $other")
        }
        w.write(g)
      } finally w.close()
      SnapshotLog.appendEntries(dir, t => Seq(SnapshotLog.FileEntry(
        file, "X", "", Map.empty, seq = t.toLong,
        bytes = SnapshotLog.statBytes(file))))
    }
  }

  val MetaCols: Array[MetadataColumn] = Array(
    new MetadataColumn {
      override def name(): String = FileCol
      override def dataType(): DataType = StringType
      override def isNullable: Boolean = false
      override def comment(): String = "manifest path of the row's file"
    },
    new MetadataColumn {
      override def name(): String = PosCol
      override def dataType(): DataType = LongType
      override def isNullable: Boolean = false
      override def comment(): String = "physical row index in _file"
    })

  /** parquet schema of a position-delete file — matches what
    * [[graft.operators.DeleteVectors.positionsOf]] commits, so every
    * reader (readMor's broadcast anti-join, the scan's reader-side
    * subtraction) serves both producers identically. */
  private[sources] val PosFileSchema = Types.buildMessage()
    .required(PrimitiveType.PrimitiveTypeName.BINARY).as(stringType())
    .named("file_path")
    .required(PrimitiveType.PrimitiveTypeName.INT64).named("row_pos")
    .named("graft_position_deletes")

  final class PositionDeltaOperation(dir: String,
      cmd: RowLevelOperation.Command)
      extends RowLevelOperation with SupportsDelta {
    // the base snapshot, pinned ONCE per statement: the scan reads it
    // and the commit publishes base+1 — statement-level snapshot
    // isolation, conflicts surface as a loud OCC failure
    private val baseV = SnapshotTables.defaultVersion(dir)

    override def command(): RowLevelOperation.Command = cmd

    override def newScanBuilder(options: CaseInsensitiveStringMap)
        : ScanBuilder = {
      val pinned = new java.util.HashMap[String, String](options)
      pinned.put("versionAsOf", baseV.toString)
      new SnapshotScanBuilder(SnapshotTables.dataSchema(dir, baseV), dir,
        new CaseInsensitiveStringMap(pinned))
    }

    override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
      new DeltaWriteBuilder {
        override def build(): DeltaWrite = new DeltaWrite {
          override def toBatch: DeltaBatchWrite =
            new PositionDeltaBatchWrite(dir, baseV, info.schema())
        }
      }

    override def rowId(): Array[NamedReference] =
      Array(Expressions.column(FileCol), Expressions.column(PosCol))

    override def representUpdateAsDeleteAndInsert(): Boolean = true

    override def requiredMetadataAttributes(): Array[NamedReference] =
      Array.empty

    override def description(): String =
      s"GraftPositionDelta[$cmd, $dir @ v$baseV]"
  }
}

/** one task's delta: the data file its inserts landed in (if any) and
  * the position-delete file its deletes landed in (if any). */
private case class DeltaFileCommit(dataPath: String, dataRows: Long,
    posPath: String, posRows: Long) extends WriterCommitMessage

private class PositionDeltaBatchWrite(dir: String, baseV: Int,
    schema: StructType) extends DeltaBatchWrite {
  // writer-unique roots minted on the driver: racing statements can
  // never clobber each other's files; losers' directories are swept
  // by the orphan sweep
  private val dataRoot = SnapshotLog.writerRoot(s"$dir/data/dml")
  private val delRoot = SnapshotLog.writerRoot(s"$dir/deletes/dml")

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DeltaWriterFactory =
    new PositionDeltaWriterFactory(dataRoot, delRoot, schema)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val msgs = messages.collect { case m: DeltaFileCommit => m }
    val newSeq = baseV + 1L
    val dataEntries = msgs.filter(_.dataRows > 0).map(m =>
      SnapshotLog.FileEntry(m.dataPath, "D", "", Map.empty, seq = newSeq,
        rows = m.dataRows, bytes = SnapshotLog.statBytes(m.dataPath)))
    val posEntries = msgs.filter(_.posRows > 0).map(m =>
      SnapshotLog.FileEntry(m.posPath, "P", "", Map.empty, seq = newSeq,
        rows = m.posRows, bytes = SnapshotLog.statBytes(m.posPath)))
    if (dataEntries.isEmpty && posEntries.isEmpty) return // zero-row DML
    val prior = SnapshotLog.entries(dir, baseV)
    if (!SnapshotLog.publishEntries(dir, baseV + 1,
        prior ++ dataEntries ++ posEntries,
        SnapshotLog.headers(dir, baseV)))
      throw new java.util.ConcurrentModificationException(
        s"snapshot $dir advanced past v$baseV during SQL DML; re-run")
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case DeltaFileCommit(d, _, p, _) =>
        Seq(d, p).filter(_.nonEmpty).foreach(f =>
          java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(f)))
      case _ =>
    }
}

private class PositionDeltaWriterFactory(dataRoot: String, delRoot: String,
    schema: StructType) extends DeltaWriterFactory {
  override def createWriter(partitionId: Int,
      taskId: Long): DeltaWriter[InternalRow] =
    new PositionDeltaWriter(dataRoot, delRoot, schema, partitionId)
}

/** Task-side delta writer. Inserts stream straight to a task-local
  * parquet (the [[SnapshotDataWriter]] machinery); delete addresses
  * buffer in memory and flush once at commit — churn-sized by the
  * delete contract (the same bound readMor's broadcast anti-join
  * already relies on), never data-sized.
  */
private class PositionDeltaWriter(dataRoot: String, delRoot: String,
    schema: StructType, partitionId: Int)
    extends DeltaWriter[InternalRow] {

  private val inserts =
    new SnapshotDataWriter(dataRoot, schema, partitionId)
  private val positions =
    scala.collection.mutable.ArrayBuffer.empty[(String, Long)]

  // id row layout == rowId() order: (_file string, _pos long)
  override def delete(meta: InternalRow, id: InternalRow): Unit =
    positions += ((id.getUTF8String(0).toString, id.getLong(1)))

  // unreachable under representUpdateAsDeleteAndInsert = true; kept
  // total for interface completeness
  override def update(meta: InternalRow, id: InternalRow,
      row: InternalRow): Unit = {
    delete(meta, id); insert(row)
  }

  override def insert(row: InternalRow): Unit = inserts.write(row)

  override def commit(): WriterCommitMessage = {
    // the insert writer is unpartitioned here (no spec fan-out for DML
    // inserts): zero or one file per task
    val dataMsg = inserts.commit().asInstanceOf[SnapFilesCommit]
      .files.headOption.getOrElse(SnapFile("", 0L, -1L, ""))
    val (posPath, posRows) =
      if (positions.isEmpty) ("", 0L)
      else {
        java.nio.file.Files.createDirectories(
          java.nio.file.Paths.get(delRoot))
        val f = s"$delRoot/${SnapshotDataWriter.fileName("pos", partitionId)}"
        val writer = ExampleParquetWriter.builder(new Path(f))
          .withConf(new Configuration())
          .withType(SnapshotDelta.PosFileSchema).build()
        val factory = new SimpleGroupFactory(SnapshotDelta.PosFileSchema)
        try positions.foreach { case (p, i) =>
          val g = factory.newGroup()
          g.add("file_path", Binary.fromString(p))
          g.add("row_pos", i)
          writer.write(g)
        } finally writer.close()
        (f, positions.size.toLong)
      }
    DeltaFileCommit(dataMsg.path, dataMsg.rows, posPath, posRows)
  }

  override def abort(): Unit = inserts.abort()

  override def close(): Unit = inserts.close()
}
