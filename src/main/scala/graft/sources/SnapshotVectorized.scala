package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapred.FileSplit
import org.apache.hadoop.mapreduce.TaskAttemptID
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetReadSupport, VectorizedParquetRecordReader}
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarArray, ColumnarBatch, ColumnarMap}
import org.apache.spark.unsafe.types.UTF8String

/** The VECTORIZED read path of the `graft-snapshot` scan: each chunk
  * decodes through Spark's own `VectorizedParquetRecordReader` into
  * `ColumnarBatch`es — page-level columnar decode, lazy decompression,
  * and batch input to whole-stage codegen above the scan. It is the
  * scan's only batch read path: a row-at-a-time parquet `Group` loop
  * (one `Group` + one `GenericInternalRow` + per-field dispatch PER
  * ROW) is a 5-20x constant on a scan-bound 100-TB read, and the
  * Iceberg/Delta connectors made the same move for the same reason.
  *
  * Per-row concerns are expressed per batch:
  *
  *  - COLUMN PRUNING and RENAME/WIDEN evolution ride the requested
  *    Catalyst schema: each required column is requested under the
  *    FILE's field name for it (the historical name for pre-rename
  *    files) at its CANONICAL type — the vectorized reader's updaters
  *    decode int32 pages straight into long vectors (float into
  *    double), and columns the file lacks entirely come back as null
  *    vectors. No per-row translation layer remains.
  *  - POSITION DELETES become a per-batch ROW-INDEX MASK: the reader
  *    is asked for parquet's physical row index as an extra column
  *    (the engine-generated row-index column, exact under byte-range
  *    splits because each row group knows its first row index), each
  *    batch computes the surviving positions once, and every output
  *    vector is served through that mapping ([[MaskedColumnVector]] —
  *    the Iceberg ColumnVectorWithFilter shape). No row is copied.
  *  - The `_op` / `_commit` / `_file` stamps ride as CONSTANT vectors
  *    (the reader's partition-value mechanism); `_pos` IS the row
  *    index column, masked like everything else.
  *
  * Byte-range chunks map to parquet's split contract: a reader serves
  * exactly the row groups whose midpoints fall in its range, so the
  * planner's ranges partition a file without consulting its footer.
  *
  *  - EQUALITY vectors probe PER BATCH: the chunk's applicable vectors
  *    (seq-scoped at plan time) load once per executor from the
  *    shared vector cache ([[EqVectors]]), key columns ride the
  *    parquet request at canonical widened types (never the emitted
  *    row), and suppressed rows drop out of the same live-row mapping
  *    the position mask uses — a vectored 100-TB table reads columnar
  *    too.
  */
private[graft] object SnapshotVectorized {
  private val Capacity = 4096

  /** RAW rows decoded by the vectorized path (per-batch counts BEFORE
    * any delete mask) — the direct witness of parquet-level filter
    * pushdown: with a selective predicate pushed, row groups the
    * statistics veto are never decoded and this counter stays below
    * the table's physical row count. Process-local (exact under
    * local[n]; a per-executor sample under a real cluster), read by
    * specs — the one place pushdown is measured. */
  private[graft] val rawRows = new java.util.concurrent.atomic.LongAdder

  /** vectorized reader over ONE chunk. `dead` is the chunk's file's
    * deleted physical positions (null when no position delete applies);
    * the chunk's equality vectors probe per batch over the cached
    * key-tuple sets; `constraints` are the scan's pushed predicates,
    * re-translated here against THIS file's schema into a parquet
    * FilterPredicate (row-group statistics + dictionary filtering at
    * reader open; column-index filtering stays off). */
  final class ChunkReader(chunk: SnapChunk, op: String, commit: Long,
      dead: java.util.HashSet[java.lang.Long],
      required: StructType, renames: Map[String, String],
      constraints: Seq[SnapshotPrune.Constraint] = Nil) {
    import scala.jdk.CollectionConverters._

    private val file = chunk.path
    private val deadMasked = dead != null && !dead.isEmpty

    // ---- ONE footer read per chunk --------------------------------
    // The footer is read here, ONCE, with the chunk's byte range (so
    // its blocks are exactly the row groups this chunk serves), and
    // then handed to the reader below — the naive path reads every
    // footer twice (once for the schema, again inside the reader),
    // a real per-file constant on a million-file scan.
    private val chunkLen =
      if (chunk.length >= 0L) chunk.length
      else java.nio.file.Files.size(java.nio.file.Paths.get(file)) -
        chunk.start
    private val inputFile =
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new Path(file), SnapshotVectorized.sharedConf)
    private val footerStream = inputFile.newStream()
    private val footer: org.apache.parquet.hadoop.metadata.ParquetMetadata =
      try org.apache.parquet.hadoop.ParquetFileReader.readFooter(
        inputFile,
        org.apache.parquet.HadoopReadOptions
          .builder(SnapshotVectorized.sharedConf, new Path(file))
          .withRange(chunk.start, chunk.start + chunkLen).build(),
        footerStream)
      catch { case t: Throwable => footerStream.close(); throw t }

    private val fileMsg = footer.getFileMetaData.getSchema
    private val fileFields: Set[String] =
      fileMsg.getFields.asScala.map(_.getName).toSet
    private def fieldFor(canonical: String): Option[String] =
      if (fileFields(canonical)) Some(canonical)
      else renames.collectFirst {
        case (old, nw) if nw == canonical && fileFields(old) => old
      }

    private val metaNames =
      Set("_op", "_commit", SnapshotDelta.FileCol)
    private val posName = SnapshotDelta.PosCol

    // requested DATA columns in `required` order: (canonical name,
    // requested field under the file's name for it at the canonical
    // type — missing columns stay requested and come back null)
    private val dataReq: Seq[(String, StructField)] =
      required.fields.toSeq
        .filter(f => !metaNames(f.name) && f.name != posName)
        .map(f => f.name ->
          StructField(fieldFor(f.name).getOrElse(f.name), f.dataType,
            nullable = true))

    // ---- equality vectors: per-batch key probes ----------------------
    // a vector whose key column this file lacks is a no-op here (every
    // row tuple would hold a null, and null never matches) — dropped
    // up front. Key columns may be pruned from the OUTPUT but are
    // still needed to evaluate membership: widen the parquet request,
    // never the emitted row.
    private val vecs: Seq[VecSet] = chunk.eqDeletes.map(EqVectors.load)
    private val activeVecs: Seq[(Seq[String], VecSet)] = vecs.flatMap {
      v =>
        val fields = v.keyCols
          .map(kc => fieldFor(renames.getOrElse(kc, kc)))
        if (fields.exists(_.isEmpty)) None
        else Some((fields.map(_.get), v))
    }
    // probe fields not already served by a requested data column ride
    // as EXTRA requested columns at the canonical probe type
    private val dataFieldPos: Map[String, Int] =
      dataReq.map(_._2.name).zipWithIndex.toMap
    private val probeExtra: Seq[StructField] =
      activeVecs.flatMap(_._1).distinct
        .filterNot(dataFieldPos.contains)
        .map { f =>
          StructField(f, EqVectors.canonSparkType(
            fileMsg.getFields.asScala.find(_.getName == f).get
              .asPrimitiveType()), nullable = true)
        }
    private val probePos: Map[String, Int] =
      dataFieldPos ++ probeExtra.map(_.name)
        .zipWithIndex.map { case (n, i) => n -> (dataReq.size + i) }

    private val filterPred = SnapshotParquetFilter.build(
      constraints, fileMsg, fieldFor)

    private val needRowIdx =
      deadMasked || required.fieldNames.contains(posName)
    private val masked = deadMasked || activeVecs.nonEmpty
    // the row-index field must be requested NULLABLE: the reader
    // routes it through its missing-column path (it is never in the
    // file), where the row-index special case keeps the vector
    // writable for the per-batch generator — a required missing
    // column is a loud error instead
    private val requested = StructType(dataReq.map(_._2) ++
      probeExtra ++
      (if (needRowIdx)
        Seq(StructField(ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME,
          LongType, nullable = true))
      else Nil))
    private val rowIdxPos = dataReq.size + probeExtra.size

    // the constant stamps, appended by the reader AFTER the requested
    // columns (its partition-value mechanism)
    private val constFields: Seq[StructField] =
      required.fields.toSeq.filter(f => metaNames(f.name))
    private val constBase = requested.size

    // PRE-SKIP: when the pushed filter already excludes EVERY row
    // group of this chunk (a statistics-level check over the footer
    // just read — parquet's own RowGroupFilter, so the decision
    // cannot drift from what the reader would conclude), no reader,
    // no requested-schema conf, no second file open — the whole
    // chunk costs exactly one footer read. On a selective 100-TB
    // scan MOST chunks take this exit; it is what keeps the per-file
    // constant at "footer" instead of "reader construction".
    private val preSkipped: Boolean = filterPred.exists { fp =>
      try org.apache.parquet.filter2.compat.RowGroupFilter
        .filterRowGroups(
          org.apache.parquet.filter2.compat.FilterCompat.get(fp),
          footer.getBlocks, fileMsg).isEmpty
      catch { case scala.util.control.NonFatal(_) => false }
    }
    if (preSkipped) footerStream.close()

    private val reader: VectorizedParquetRecordReader =
        if (preSkipped) null else {
      val conf = new Configuration(SnapshotVectorized.sharedConf)
      conf.set("parquet.read.support.class",
        classOf[ParquetReadSupport].getName)
      conf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA,
        requested.json)
      // the Parquet->Spark schema converter reads these from the
      // Hadoop conf WITHOUT defaults (executor-side readers normally
      // inherit them from the session's hadoopConf) — pin the engine's
      // fixed answers: binary stays binary unless string-annotated,
      // no INT96 in the kernel's type surface, case-insensitive names
      import org.apache.spark.sql.internal.SQLConf
      conf.setBoolean(SQLConf.PARQUET_BINARY_AS_STRING.key, false)
      conf.setBoolean(SQLConf.PARQUET_INT96_AS_TIMESTAMP.key, true)
      conf.setBoolean(SQLConf.CASE_SENSITIVE.key, false)
      conf.setBoolean(SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED.key,
        true)
      conf.setBoolean(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key, false)
      conf.setBoolean(SQLConf.PARQUET_FIELD_ID_READ_ENABLED.key, false)
      // PREDICATE PUSHDOWN into the parquet read: the reader's open
      // path (HadoopReadOptions) picks the filter up from the conf and
      // serves only the row groups whose statistics or dictionaries
      // admit it. Row indexes stay physical under skipping (each
      // surviving group carries its true row-index offset), so `_pos`
      // and the delete masks are exact.
      // Conservative by construction: Spark re-applies every non-exact
      // predicate above the scan.
      filterPred.foreach { fp =>
          org.apache.parquet.hadoop.ParquetInputFormat
            .setFilterPredicate(conf, fp)
          // column-index (page-level) filtering MUST stay off (parquet
          // defaults it ON): it evaluates against the REQUESTED
          // projection and treats a filter column missing from it as
          // ALL-NULL — a pruned-output query (count(*) WHERE ok = …)
          // would return zero rows. Row-group statistics and
          // dictionary filtering evaluate against the FILE's own
          // metadata, projection-independent — those stay on.
          conf.setBoolean(org.apache.parquet.hadoop.ParquetInputFormat
            .COLUMN_INDEX_FILTERING_ENABLED, false)
        }
      val split = new FileSplit(new Path(file), chunk.start, chunkLen,
        Array.empty[String])
      val r = new VectorizedParquetRecordReader(
        null, "CORRECTED", "UTC", "CORRECTED", "UTC", false, Capacity)
      // the footer read above rides into the reader (file, stream and
      // metadata) — the reader's own open path would otherwise fetch
      // and decode the same footer a second time. If construction
      // fails past the footer read (bad conf, corrupt data pages at
      // open), close the stream and the half-built reader before
      // rethrowing — otherwise the error path leaks a file handle.
      try {
        r.initialize(split, new TaskAttemptContextImpl(conf,
          new TaskAttemptID()), Some(inputFile), Some(footerStream),
          Some(footer))
        val constRow = new GenericInternalRow(constFields.map { f =>
          (f.name match {
            case "_op" => UTF8String.fromString(op)
            case "_commit" => commit
            case _ => UTF8String.fromString(file) // SnapshotDelta.FileCol
          }): Any
        }.toArray)
        r.initBatch(StructType(constFields), constRow)
        r
      } catch { case t: Throwable =>
        try r.close() catch { case _: Throwable => () }
        try footerStream.close() catch { case _: Throwable => () }
        throw t
      }
    }
    private val batch: ColumnarBatch =
      if (preSkipped) null else reader.resultBatch()

    // per active vector: a PROBE resolved once per chunk, applied per
    // raw row under the SAME canonical widening the vector's own rows
    // got (ints→long, floats→double, binary→string). The common case
    // — one LONG key column (the `#keys` tables) — takes a PRIMITIVE
    // path: an open-addressing long set probed with zero per-row
    // allocation; composite or non-long keys keep the generic tuple
    // probe.
    private sealed trait Probe { def deleted(i: Int): Boolean }
    private final class LongProbe(vec: ColumnVector, asInt: Boolean,
        set: LongHashSet) extends Probe {
      def deleted(i: Int): Boolean = !vec.isNullAt(i) &&
        set.contains(if (asInt) vec.getInt(i).toLong else vec.getLong(i))
    }
    private final class TupleProbe(vecs: Array[ColumnVector],
        dts: Array[DataType],
        set: java.util.HashSet[Seq[Any]]) extends Probe {
      def deleted(i: Int): Boolean = {
        val t = new Array[Any](vecs.length)
        var j = 0
        while (j < vecs.length) {
          val v = canonAt(vecs(j), dts(j), i)
          if (v == null) return false // a null key matches nothing
          t(j) = v
          j += 1
        }
        // ArraySeq and the stored List hash/compare alike (Seq equality)
        set.contains(scala.collection.immutable.ArraySeq
          .unsafeWrapArray(t))
      }
    }

    private val probes: Array[Probe] =
      if (preSkipped) Array.empty
      else activeVecs.map { case (fields, v) =>
        val pos = fields.map(probePos).toArray
        val dts = fields.map { f =>
          dataFieldPos.get(f) match {
            case Some(i) => dataReq(i)._2.dataType
            case None => EqVectors.canonSparkType(
              fileMsg.getFields.asScala.find(_.getName == f).get
                .asPrimitiveType())
          }
        }.toArray
        val fastSet =
          if (pos.length == 1 &&
              (dts(0) == LongType || dts(0) == IntegerType))
            v.singleLongSet
          else null
        if (fastSet != null)
          new LongProbe(batch.column(pos(0)),
            dts(0) == IntegerType, fastSet): Probe
        else new TupleProbe(pos.map(batch.column), dts, v.tuples)
      }.toArray

    private def canonAt(vec: ColumnVector, dt: DataType, i: Int): Any =
      if (vec.isNullAt(i)) null
      else dt match {
        case LongType => vec.getLong(i)
        case IntegerType => vec.getInt(i).toLong
        case DoubleType => vec.getDouble(i)
        case FloatType => vec.getFloat(i).toDouble
        case BooleanType => vec.getBoolean(i)
        case StringType => vec.getUTF8String(i).toString
        case other => throw new IllegalArgumentException(
          s"graft-snapshot: cannot probe a $other key column")
      }

    /** is RAW batch row `i` suppressed by any applicable vector? */
    private def vecDeleted(i: Int): Boolean = {
      var p = 0
      while (p < probes.length) {
        if (probes(p).deleted(i)) return true
        p += 1
      }
      false
    }

    // output vectors in `required` order, each through the shared mask
    // when position deletes or vectors apply to this file
    private var liveMap: Array[Int] =
      if (masked) new Array[Int](Capacity) else null

    private val outVectors: Array[ColumnVector] =
        if (preSkipped) Array.empty else {
      var di = 0
      var ci = 0
      required.fields.map { f =>
        val base: ColumnVector =
          if (metaNames(f.name)) {
            val v = batch.column(constBase + ci); ci += 1; v
          }
          else if (f.name == posName) batch.column(rowIdxPos)
          else { val v = batch.column(di); di += 1; v }
        if (masked) new MaskedColumnVector(base) else base
      }.toArray
    }
    private val outBatch = new ColumnarBatch(outVectors)

    def nextBatch(): Boolean = {
      if (preSkipped || !reader.nextBatch()) return false
      val n = batch.numRows()
      rawRows.add(n)
      if (!masked) { outBatch.setNumRows(n); return true }
      val idxVec = if (deadMasked) batch.column(rowIdxPos) else null
      val probing = probes.nonEmpty
      if (liveMap.length < n) liveMap = new Array[Int](n)
      var live = 0
      var i = 0
      while (i < n) {
        if ((idxVec == null || !dead.contains(idxVec.getLong(i))) &&
            (!probing || !vecDeleted(i))) {
          liveMap(live) = i; live += 1
        }
        i += 1
      }
      var j = 0
      while (j < outVectors.length) {
        outVectors(j).asInstanceOf[MaskedColumnVector].set(liveMap, live)
        j += 1
      }
      outBatch.setNumRows(live)
      // an all-deleted batch still RETURNS (zero rows) — callers must
      // not interpret it as end-of-chunk
      true
    }

    def get(): ColumnarBatch = outBatch

    def close(): Unit = if (reader != null) reader.close()
  }

  /** one pre-loaded Hadoop conf shared by every chunk (copied for each
    * reader, used read-only for footer opens) — a fresh Configuration
    * per chunk re-parses default resources, a measurable per-file
    * constant on small-file tables. */
  private val sharedConf = new Configuration()
}

/** minimal open-addressing primitive LONG set (add-only, load ≤ 0.5):
  * the zero-allocation probe behind the single-long-key equality
  * vectors — `contains` touches no heap, boxes nothing. */
private[sources] final class LongHashSet(expected: Int) {
  private val cap = {
    var c = 8
    while (c < expected * 2) c <<= 1
    c
  }
  private val mask = cap - 1
  private val keys = new Array[Long](cap)
  private val used = new Array[Boolean](cap)
  // splitmix64 finalizer: well-distributed slots even for the
  // sequential key ranges CDC vectors typically hold
  private def slot(k: Long): Int = {
    var h = k * -7046029254386353131L
    h ^= (h >>> 32)
    (h & mask).toInt
  }
  def add(k: Long): Unit = {
    var i = slot(k)
    while (used(i) && keys(i) != k) i = (i + 1) & mask
    if (!used(i)) { used(i) = true; keys(i) = k }
  }
  def contains(k: Long): Boolean = {
    var i = slot(k)
    while (used(i)) {
      if (keys(i) == k) return true
      i = (i + 1) & mask
    }
    false
  }
}

/** a ColumnVector view through a row-index mapping: logical row i of
  * the batch is physical row `map(i)` of the delegate — how position
  * deletes subtract from a ColumnarBatch without copying a single
  * value (the Iceberg vectorized-delete shape). The delegate owns the
  * memory; closing the wrapper is a no-op.
  *
  * `hasNull`/`numNulls` are EXACT over the LIVE rows (computed lazily
  * once per batch, only when the delegate holds nulls at all): a
  * batch whose deleted rows held the only nulls reports none, so a
  * consumer branching on the null mask can never mis-assume. */
private[sources] final class MaskedColumnVector(base: ColumnVector)
    extends ColumnVector(base.dataType()) {
  private var map: Array[Int] = _
  private var live: Int = 0
  private var nullsCached: Int = -1 // -1 = not yet computed this batch
  def set(m: Array[Int], n: Int): Unit = { map = m; live = n
    nullsCached = -1 }
  override def close(): Unit = ()
  override def hasNull: Boolean = base.hasNull && numNulls() > 0
  override def numNulls(): Int = {
    if (nullsCached < 0)
      nullsCached =
        if (!base.hasNull) 0
        else {
          var c = 0; var i = 0
          while (i < live) { if (base.isNullAt(map(i))) c += 1; i += 1 }
          c
        }
    nullsCached
  }
  override def isNullAt(i: Int): Boolean = base.isNullAt(map(i))
  override def getBoolean(i: Int): Boolean = base.getBoolean(map(i))
  override def getByte(i: Int): Byte = base.getByte(map(i))
  override def getShort(i: Int): Short = base.getShort(map(i))
  override def getInt(i: Int): Int = base.getInt(map(i))
  override def getLong(i: Int): Long = base.getLong(map(i))
  override def getFloat(i: Int): Float = base.getFloat(map(i))
  override def getDouble(i: Int): Double = base.getDouble(map(i))
  override def getDecimal(i: Int, precision: Int, scale: Int)
      : org.apache.spark.sql.types.Decimal =
    base.getDecimal(map(i), precision, scale)
  override def getUTF8String(i: Int): UTF8String =
    base.getUTF8String(map(i))
  override def getBinary(i: Int): Array[Byte] = base.getBinary(map(i))
  override def getArray(i: Int): ColumnarArray = base.getArray(map(i))
  override def getMap(i: Int): ColumnarMap = base.getMap(map(i))
  override def getChild(ordinal: Int): ColumnVector =
    throw new UnsupportedOperationException(
      "nested columns are not served by the snapshot scan")
}
