package graft.sources

import graft.SparkSpec
import graft.operators.SnapshotLog
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** `writeStream.format("graft-snapshot")` — the STREAMING_WRITE face:
  * an AvailableNow stream's table equals the batch-written oracle, one
  * snapshot per epoch; a REPLAYED epoch — even with different content —
  * no-ops against the `#batchhw` high-water mark with byte-identical
  * manifest; a crashed epoch's files are invisible. Epoch commits ride
  * the O(delta) segment append.
  */
class StreamingWriteSpec extends SparkSpec {

  private def fresh(tag: String): String = {
    val base = s"/tmp/graft-test/streamwrite-$tag"
    graft.Scratch.clear(base)
    s"$base/t"
  }

  test("AvailableNow stream lands as snapshot commits; equals batch") {
    import spark.implicits._
    val dir = fresh("drain")
    val src = s"/tmp/graft-test/streamwrite-drain/src"
    val cp = s"/tmp/graft-test/streamwrite-drain/cp"
    (0L until 60L).map(i => (i, i % 4)).toDF("id", "grp")
      .repartition(3).write.parquet(src)
    val q = spark.readStream.schema("id LONG, grp LONG").parquet(src)
      .writeStream.format("graft-snapshot")
      .option("path", dir).option("checkpointLocation", cp)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val v = SnapshotLog.latest(dir)
    assert(v >= 1)
    val got = SnapshotLog.read(spark, dir, v)
      .agg(count(lit(1)), sum(col("id")), countDistinct(col("grp"))).head
    assert((got.getLong(0), got.getLong(1), got.getLong(2)) ==
      ((60L, 1770L, 4L)))
    // entries carry the epoch label, row counts and bytes
    val es = SnapshotLog.entries(dir, v).filter(_.kind == "D")
    assert(es.forall(_.partition.startsWith("batch=")))
    assert(es.forall(e => e.rows > 0 && e.bytes > 0))
    // the table records the epoch high-water mark, scoped to THIS
    // query's stable id (the Delta txn-appId shape — a second query's
    // epochs never replay against it)
    assert(SnapshotLog.headers(dir, v)
      .exists(_.startsWith(s"${SnapshotLog.WriterHwHeader}\t")))
  }

  test("replayed epoch no-ops: same latest, byte-identical manifest") {
    import spark.implicits._
    val dir = fresh("replay")
    // drive the commit path directly at the epoch level (the exact
    // call a restarted query re-issues)
    val fA = s"/tmp/graft-test/streamwrite-replay/fileA.parquet"
    Seq((1L, 10L)).toDF("id", "v").coalesce(1).write
      .mode("overwrite").parquet(fA)
    val a = SnapshotLog.dataFiles(fA).head
    SnapshotStreamingWrite.commitEpoch(dir, None, 0L,
      Seq((a, 1L, SnapshotLog.statBytes(a))))
    SnapshotStreamingWrite.commitEpoch(dir, None, 1L,
      Seq((a, 1L, SnapshotLog.statBytes(a))))
    assert(SnapshotLog.latest(dir) == 2)
    val m2 = java.nio.file.Paths.get(dir, "_manifests", "v2.manifest")
    val bytes = java.nio.file.Files.readAllBytes(m2).toSeq
    // replay epoch 0 with DIFFERENT content: must not advance
    val fB = s"/tmp/graft-test/streamwrite-replay/fileB.parquet"
    Seq((9L, 99L)).toDF("id", "v").coalesce(1).write
      .mode("overwrite").parquet(fB)
    val b = SnapshotLog.dataFiles(fB).head
    val r = SnapshotStreamingWrite.commitEpoch(dir, None, 0L,
      Seq((b, 1L, SnapshotLog.statBytes(b))))
    assert(r == 2 && SnapshotLog.latest(dir) == 2)
    assert(java.nio.file.Files.readAllBytes(m2).toSeq == bytes,
      "replay must leave the manifest byte-identical")
    // epoch 1 replay too (at the high-water mark, not only below it)
    assert(SnapshotStreamingWrite.commitEpoch(dir, None, 1L, Nil) == 2)
    // the next NEW epoch commits
    assert(SnapshotStreamingWrite.commitEpoch(dir, None, 2L,
      Seq((b, 1L, SnapshotLog.statBytes(b)))) == 3)
  }

  test("two writers replay independently: epoch ids never cross-drop") {
    import spark.implicits._
    val dir = fresh("twowriters")
    val f = s"/tmp/graft-test/streamwrite-twowriters/f.parquet"
    Seq((1L, 10L)).toDF("id", "v").coalesce(1).write
      .mode("overwrite").parquet(f)
    val p = SnapshotLog.dataFiles(f).head
    def files = Seq((p, 1L, SnapshotLog.statBytes(p)))
    // writer A commits epochs 0..2
    (0L to 2L).foreach(e =>
      SnapshotStreamingWrite.commitEpoch(dir, None, e, files, "qA"))
    assert(SnapshotLog.latest(dir) == 3)
    // writer B (a second query, or a fresh-checkpoint restart with a
    // new id) starts at epoch 0: MUST COMMIT, not silently no-op
    // against A's high-water
    assert(SnapshotStreamingWrite.commitEpoch(dir, None, 0L, files,
      "qB") == 4)
    assert(SnapshotStreamingWrite.commitEpoch(dir, None, 1L, files,
      "qB") == 5)
    // each writer's own replays still no-op
    assert(SnapshotStreamingWrite.commitEpoch(dir, None, 2L, files,
      "qA") == 5)
    assert(SnapshotStreamingWrite.commitEpoch(dir, None, 1L, files,
      "qB") == 5)
    // both markers coexist in the manifest headers
    val hs = SnapshotLog.headers(dir, 5)
    assert(hs.contains(s"${SnapshotLog.WriterHwHeader}\tqA\t2"))
    assert(hs.contains(s"${SnapshotLog.WriterHwHeader}\tqB\t1"))
    // and the foreachBatch door keys by writer too
    val b = Seq((7L, 70L)).toDF("id", "v")
    val v6 = graft.streaming.SnapshotCommitSink.commitBatch(spark, dir,
      b, 0L, writerId = "qC")
    assert(v6 == 6, "a third writer's epoch 0 must commit")
    assert(graft.streaming.SnapshotCommitSink.commitBatch(spark, dir,
      b, 0L, writerId = "qC") == 6, "its replay must no-op")
  }

  test("global-marker tables: an unknown writer's epoch 0 commits") {
    import spark.implicits._
    val dir = fresh("globalhw")
    val f = s"${fresh("globalhw-fixture")}/f.parquet"
    Seq((1L, 10L)).toDF("id", "v").coalesce(1).write
      .mode("overwrite").parquet(f)
    val p = SnapshotLog.dataFiles(f).head
    def files = Seq((p, 1L, SnapshotLog.statBytes(p)))
    // epochs 0..2 committed by the "" writer under the table-global
    // marker
    (0L to 2L).foreach(e =>
      SnapshotStreamingWrite.commitEpoch(dir, None, e, files, ""))
    assert(SnapshotLog.batchHighWater(dir, 3) == 2L)
    // an UNKNOWN writer's epoch 0 is a NEW batch, not a replay: it
    // must commit, never be dropped against the global high-water
    assert(SnapshotStreamingWrite.commitEpoch(dir, None, 0L, files,
      "qNew") == 4)
    // the foreachBatch door: same contract
    val b = Seq((7L, 70L)).toDF("id", "v")
    val dir3 = fresh("globalhw3")
    (0L to 2L).foreach(e => graft.streaming.SnapshotCommitSink
      .commitBatch(spark, dir3, b, e))
    assert(graft.streaming.SnapshotCommitSink.commitBatch(spark, dir3,
      b, 0L, writerId = "qNew") == 4,
      "an unknown writer's epoch 0 must commit on a global-marker table")
  }

  test("a scoped writer's epoch 0 never no-ops the default writer's") {
    import spark.implicits._
    val dir = fresh("scopedfirst")
    val f = s"${fresh("scopedfirst-fixture")}/f.parquet"
    Seq((1L, 10L)).toDF("id", "v").coalesce(1).write
      .mode("overwrite").parquet(f)
    val p = SnapshotLog.dataFiles(f).head
    // writer qA commits epoch 0 (its entries carry the `batch=0` label)
    assert(SnapshotStreamingWrite.commitEpoch(dir, None, 0L,
      Seq((p, 1L, SnapshotLog.statBytes(p))), "qA") == 1)
    // the default writer's own epoch 0 is a new batch: it must commit
    val b = Seq((7L, 70L)).toDF("id", "v")
    assert(graft.streaming.SnapshotCommitSink.commitBatch(spark, dir,
      b, 0L) == 2, "the default writer's epoch 0 was dropped")
    assert(SnapshotLog.read(spark, dir, 2).count() == 2L)
    // and its replay no-ops against its own (global) marker
    assert(graft.streaming.SnapshotCommitSink.commitBatch(spark, dir,
      b, 0L) == 2)
  }

  test("branch-staged streaming epochs stay off the default read") {
    import spark.implicits._
    val dir = fresh("branch")
    Seq((1L, 1L)).toDF("id", "v").write.format("graft-snapshot")
      .option("path", dir).mode("append").save()
    graft.operators.SnapshotRefs.createBranch(dir, "audit", 1)
    val f = s"/tmp/graft-test/streamwrite-branch/f.parquet"
    Seq((2L, 2L)).toDF("id", "v").coalesce(1).write
      .mode("overwrite").parquet(f)
    val p = SnapshotLog.dataFiles(f).head
    val t = SnapshotStreamingWrite.commitEpoch(dir, Some("audit"), 0L,
      Seq((p, 1L, SnapshotLog.statBytes(p))))
    // staged: invisible to the unpinned read, visible on the branch
    assert(SnapshotTables.defaultVersion(dir) == 1)
    assert(graft.operators.SnapshotRefs.head(dir, "audit") == t)
    assert(SnapshotLog.read(spark, dir, t).count() == 2L)
    // replay on the branch no-ops too
    assert(SnapshotStreamingWrite.commitEpoch(dir, Some("audit"), 0L,
      Seq((p, 1L, SnapshotLog.statBytes(p)))) == t)
    assert(graft.operators.SnapshotRefs.head(dir, "audit") == t)
  }
}
