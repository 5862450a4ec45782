package graft.streaming

import graft.operators.SnapshotLog
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Streaming writer for a snapshot-log table — every micro-batch lands
  * as ONE committed snapshot (exactly-once at the table level): the
  * batch's files are written to a batchId-scoped directory, then an
  * O(delta) append publishes them (labelled `batch=<batchId>`) through
  * the CAS commit, stamping the writer's epoch high-water header
  * ([[SnapshotLog.batchHighWater]]). That makes REPLAY idempotence a
  * metadata check: a restarted query re-delivering an epoch at or
  * below its own high-water no-ops — the same high-water-mark contract
  * as the checksum sink's 2PC, here expressed through the table format
  * itself. Readers meanwhile pin snapshots: an analyst query running
  * against snapshot v is never torn by the stream appending v+1.
  *
  * Scale shape: the commit adds one manifest line per file per epoch;
  * history cost is bounded by [[SnapshotLog.expire]] (the vacuum),
  * and a crashed epoch leaves only unreferenced files the next vacuum
  * sweeps.
  */
object SnapshotCommitSink {

  private def batchLabel(batchId: Long) = s"batch=$batchId"

  /** the batch STAGING directory, keyed by writer AND batch: two
    * writers committing the same epoch number must never share a
    * staging path — the second's mode("overwrite") write would
    * truncate files the first's already-published manifest still
    * references (reads break, data lost). The empty writerId keeps
    * the single-writer layout `<sub>/b<batchId>`. */
  private def stagingDir(tableDir: String, sub: String, batchId: Long,
      writerId: String): String =
    if (writerId.isEmpty) s"$tableDir/$sub/b$batchId"
    else {
      // filesystem-safe, collision-safe: readable prefix + a hash of
      // the FULL id (two ids sanitizing alike still get distinct dirs)
      val safe = writerId.map(c =>
        if (c.isLetterOrDigit || c == '-' || c == '.' || c == '_') c
        else '_').take(40)
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(writerId.getBytes("UTF-8")).take(4)
        .map("%02x".format(_)).mkString
      s"$tableDir/$sub/w-$safe-$h/b$batchId"
    }

  /** has `batchId` already been committed into the table BY THIS
    * WRITER? One header read — see [[SnapshotLog.batchHighWater]]. */
  private def replayed(tableDir: String, v: Int, batchId: Long,
      writerId: String): Boolean =
    batchId <= SnapshotLog.batchHighWater(tableDir, v, writerId)

  private def hwHeaders(tableDir: String, v: Int, batchId: Long,
      writerId: String): (Seq[String], Seq[String]) = {
    val hw = math.max(SnapshotLog.batchHighWater(tableDir, v, writerId),
      batchId)
    (Seq(SnapshotLog.hwHeader(writerId, hw)),
      Seq(SnapshotLog.hwDropPrefix(writerId)))
  }

  /** Commit one micro-batch as the next snapshot; no-op (returning the
    * current latest) if `batchId` is already committed — the replay
    * path after a restart.
    *
    * `writerId` SCOPES the replay detection (the Delta txn-appId
    * contract): pass your streaming query's stable id
    * (`query.id.toString`) whenever MORE THAN ONE query may write this
    * table, or a query may restart with a fresh checkpoint — each
    * writer then replays against its own high-water. The default ""
    * keeps the table-global marker: correct for the single-query,
    * stable-checkpoint shape, but a second independent epoch counter
    * would silently no-op its early epochs against it.
    */
  def commitBatch(s: SparkSession, tableDir: String,
      batch: DataFrame, batchId: Long, writerId: String = ""): Int = {
    val v = SnapshotLog.latest(tableDir)
    if (replayed(tableDir, v, batchId, writerId)) return v
    val dir = stagingDir(tableDir, "data", batchId, writerId)
    batch.write.mode("overwrite").parquet(dir)
    // seq = the committing version: any delete vector already in the
    // manifest has a LOWER seq and therefore does NOT apply to these
    // rows — a key re-inserted by a later batch is served, not
    // silently suppressed by an older vector (the Iceberg
    // sequence-number scoping). O(delta) commit: the parent's segment
    // refs are adopted verbatim, only this epoch's entries are written.
    val files = SnapshotLog.dataFiles(dir)
    val (extra, drop) = hwHeaders(tableDir, v, batchId, writerId)
    SnapshotLog.appendEntries(tableDir,
      t => files.map(f => SnapshotLog.FileEntry(f, "D",
        batchLabel(batchId), Map.empty, seq = t.toLong,
        bytes = SnapshotLog.statBytes(f))),
      extraHeaders = extra, dropHeaders = drop,
      noopIf = h => replayed(tableDir, h, batchId, writerId))
  }

  /** Commit one micro-batch as a merge-on-read UPSERT — the streaming
    * CDC-apply shape: the batch lands as a data file (the inserts) AND
    * as an equality-delete vector on `keyCols` (retracting every OLDER
    * row of the batch's keys). Both ride ONE snapshot commit, and the
    * Iceberg sequence rule makes it correct by construction: the
    * vector's seq equals the committing version, so it covers every
    * data entry committed strictly before (all prior batches' versions
    * of these keys) and NOT the batch's own file (same seq, not lower).
    * `readMor` then serves last-writer-wins per key with zero rewrites
    * — compaction folds the vectors off-peak, exactly the high-churn
    * contract a CDC stream needs at 100 TB. The batch must be
    * key-unique (dedupe upstream); replayed epochs no-op as in
    * [[commitBatch]].
    */
  def upsertBatch(s: SparkSession, tableDir: String, batch: DataFrame,
      batchId: Long, keyCols: Seq[String], writerId: String = ""): Int = {
    val v = SnapshotLog.latest(tableDir)
    if (replayed(tableDir, v, batchId, writerId)) return v
    val dataDir = stagingDir(tableDir, "data", batchId, writerId)
    val vecDir = stagingDir(tableDir, "deletes", batchId, writerId)
    batch.write.mode("overwrite").parquet(dataDir)
    batch.select(keyCols.map(org.apache.spark.sql.functions.col): _*)
      .write.mode("overwrite").parquet(vecDir)
    val dataFiles = SnapshotLog.dataFiles(dataDir)
    val vecFiles = SnapshotLog.dataFiles(vecDir)
    val (extra, drop) = hwHeaders(tableDir, v, batchId, writerId)
    SnapshotLog.appendEntries(tableDir,
      t =>
        dataFiles.map(f => SnapshotLog.FileEntry(f, "D",
          batchLabel(batchId), Map.empty, seq = t.toLong,
          bytes = SnapshotLog.statBytes(f))) ++
        vecFiles.map(f => SnapshotLog.FileEntry(f, "X",
          batchLabel(batchId), Map.empty, seq = t.toLong,
          bytes = SnapshotLog.statBytes(f))),
      extraHeaders = extra, dropHeaders = drop,
      noopIf = h => replayed(tableDir, h, batchId, writerId))
  }
}
