package graft.operators

import graft.SparkSpec
import java.nio.file.{Files, Paths}

/** TWO-LEVEL manifests (the Iceberg manifest-list design). Claims:
  *  - a commit on a LARGE table writes O(delta) manifest bytes: the
  *    carried 10k entries are REFERENCED (one `@seg` line), never
  *    re-serialized — the byte bound is the proof, not the plan;
  *  - reads across the segment boundary resolve the exact entry set;
  *  - a shallow clone adopts the SOURCE's segments by reference
  *    (O(1) metadata at any table size);
  *  - segment-count ceiling: past 64 refs a commit folds the smallest
  *    segments into its delta (amortized O(delta), bounded planning);
  *  - expire deletes exactly the segments no retained manifest
  *    references — and never a foreign (source) segment.
  */
class ManifestSegmentSpec extends SparkSpec {

  private def fresh(tag: String): String = {
    val dir = s"/tmp/graft-test/manifestseg-$tag/t"
    graft.Scratch.clear(s"/tmp/graft-test/manifestseg-$tag")
    dir
  }

  private def fakeEntries(dir: String, n: Int, from: Int = 0) =
    (from until from + n).map(i =>
      SnapshotLog.FileEntry(s"$dir/data/f$i.parquet", "D", s"p=${i % 7}",
        Map("k" -> ((i.toLong, i.toLong + 10))), seq = 1L))

  /** total bytes of manifest-layer files (list + segments) under dir. */
  private def metaBytes(dir: String): Map[String, Long] = {
    val d = Paths.get(dir, "_manifests")
    val listing = Files.list(d)
    try listing.toArray.toSeq.map(_.toString)
      .filterNot(Paths.get(_).getFileName.toString.startsWith("."))
      .map(p => p -> Files.size(Paths.get(p))).toMap
    finally listing.close()
  }

  test("a commit on a 10k-entry table writes O(delta) manifest bytes") {
    val dir = fresh("odelta")
    val big = fakeEntries(dir, 10000)
    SnapshotLog.commitEntries(dir, big)
    val before = metaBytes(dir)
    val bigSeg = before.filter(_._1.contains("seg-"))
    assert(bigSeg.nonEmpty, "the initial commit must write a segment")

    // commit k: ONE new entry on top of 10k carried
    val v2 = SnapshotLog.commitEntries(dir,
      big ++ fakeEntries(dir, 1, from = 10000))
    val after = metaBytes(dir)
    val newFiles = after.filterNot { case (p, _) => before.contains(p) }
    val newBytes = newFiles.values.sum
    // the delta is one entry line + one manifest list (headers + 2 seg
    // refs): comfortably under 1 KB where re-serializing 10k entries
    // costs ~600 KB
    assert(newBytes < 1024,
      s"commit wrote $newBytes manifest bytes for a 1-entry delta " +
        s"(${newFiles.keys.mkString(", ")})")
    // the big segment is SHARED by reference, byte-identical
    assert(SnapshotLog.segRefs(dir, v2).map(_._1)
      .exists(bigSeg.keySet.contains),
      "the carried segment must be referenced, not rewritten")
    // and the entry set resolves exactly
    assert(SnapshotLog.entries(dir, v2).size == 10001)
    assert(SnapshotLog.entries(dir, 1).size == 10000)
  }

  test("a COW-style drop rewrites survivors once; reads stay exact") {
    val dir = fresh("drop")
    val es = fakeEntries(dir, 1000)
    SnapshotLog.commitEntries(dir, es)
    // drop 10 entries, add 5 — the adopted segment no longer fits, so
    // the survivors rewrite into the delta segment (Iceberg's
    // rewrite-affected-manifests); correctness first, bytes second
    val next = es.drop(10) ++ fakeEntries(dir, 5, from = 1000)
    val v2 = SnapshotLog.commitEntries(dir, next)
    assert(SnapshotLog.entries(dir, v2).map(_.path).toSet ==
      next.map(_.path).toSet)
    // a follow-up append adopts the REWRITTEN segment: O(delta) again
    val before = metaBytes(dir)
    SnapshotLog.commitEntries(dir,
      next ++ fakeEntries(dir, 1, from = 2000))
    val newBytes = metaBytes(dir)
      .filterNot { case (p, _) => before.contains(p) }.values.sum
    assert(newBytes < 1024,
      s"append after a drop wrote $newBytes bytes — adoption broken")
  }

  test("a clone references the source's segments; expire respects roots") {
    val src = fresh("clone-src")
    val dst = fresh("clone-dst")
    val es = fakeEntries(src, 5000)
    SnapshotLog.commitEntries(src, es)
    val v0 = SnapshotLog.clone(src, dst)
    val dstRefs = SnapshotLog.segRefs(dst, v0)
    assert(dstRefs.nonEmpty && dstRefs.forall(_._1.startsWith(
      Paths.get(src).toAbsolutePath.toString)),
      s"clone must adopt the source's segments by reference: $dstRefs")
    assert(metaBytes(dst).values.sum < 1024,
      "clone metadata must be O(1), not O(table)")
    assert(SnapshotLog.entries(dst, v0).size == 5000)

    // diverge the clone, expire its v0: the source's segment survives
    SnapshotLog.commitEntries(dst, fakeEntries(dst, 3))
    SnapshotLog.expire(dst, keepFrom = SnapshotLog.latest(dst))
    assert(dstRefs.forall(r => Files.exists(Paths.get(r._1))),
      "clone expire deleted a FOREIGN segment")
    assert(SnapshotLog.entries(src, 1).size == 5000)

    // expiring the SOURCE's own superseded snapshots does delete its
    // dead segments
    val srcSeg = SnapshotLog.segRefs(src, 1).map(_._1)
    SnapshotLog.commitEntries(src, fakeEntries(src, 2, from = 90000))
    SnapshotLog.commitEntries(src, fakeEntries(src, 2, from = 91000))
    SnapshotLog.expire(src, keepFrom = SnapshotLog.latest(src))
    assert(srcSeg.forall(p => !Files.exists(Paths.get(p))),
      "expire left dead own-root segments behind")
  }

  test("segment refs stay bounded: the ceiling folds small segments") {
    val dir = fresh("ceiling")
    var es = fakeEntries(dir, 10)
    SnapshotLog.commitEntries(dir, es)
    (1 to 80).foreach { k =>
      es = es ++ fakeEntries(dir, 1, from = 100 + k)
      SnapshotLog.commitEntries(dir, es)
    }
    val refs = SnapshotLog.segRefs(dir, SnapshotLog.latest(dir))
    assert(refs.size <= 64,
      s"manifest carries ${refs.size} segment refs — merge never fired")
    assert(SnapshotLog.entries(dir, SnapshotLog.latest(dir)).size == 90,
      "merge-down lost or duplicated entries")
  }

  test("orphaned segments (lost CAS race) are swept, age-guarded") {
    val dir = fresh("orphan")
    SnapshotLog.commitEntries(dir, fakeEntries(dir, 5))
    // a loser's segment: written, never referenced by any manifest
    val stray = Paths.get(dir, "_manifests",
      s"seg-${java.util.UUID.randomUUID().toString}.seg")
    Files.write(stray, "x\tD\t-\t-\t1".getBytes("UTF-8"))
    assert(SnapshotLog.removeOrphans(dir).isEmpty,
      "age guard must protect a fresh (possibly in-flight) segment")
    val swept = SnapshotLog.removeOrphans(dir, olderThanMillis = 0L)
    assert(swept.contains(stray.toAbsolutePath.toString), s"swept: $swept")
    assert(SnapshotLog.entries(dir, 1).size == 5,
      "the sweep must never touch referenced segments")
  }

  test("a truncated segment fails the read with its own exception type") {
    // segments parse on the metadata pool: its ExecutionException wrapper
    // must not reach the caller
    val dir = fresh("truncated")
    SnapshotLog.commitEntries(dir, fakeEntries(dir, 10))
    val (seg, n) = SnapshotLog.segRefs(dir, SnapshotLog.latest(dir)).head
    val lines = Files.readAllLines(Paths.get(seg))
    Files.write(Paths.get(seg), lines.subList(0, lines.size - 1))
    SnapshotLog.resetEntryCache()
    val e = intercept[IllegalArgumentException](
      SnapshotLog.entries(dir, SnapshotLog.latest(dir)))
    assert(e.getMessage.contains(s"expected $n lines"), e.getMessage)
  }
}
