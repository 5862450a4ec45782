package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** O(delta) COMMIT MEMORY (the publishAppend path): an append onto a
  * segmented table adopts the parent's `@seg` reference lines VERBATIM
  * — it never opens a segment file, never materializes the parent's
  * entry set, and writes only the delta's bytes. Proven by counting
  * actual segment-file reads across the append on a 100k-entry table.
  * Pure manifest logic — no SparkSession needed.
  */
class AppendDeltaSpec extends AnyFunSuite {

  private def fresh(tag: String): String = {
    val base = s"/tmp/graft-test/appenddelta-$tag"
    graft.Scratch.clear(base)
    s"$base/t"
  }

  private def entry(dir: String, i: Int, seq: Long) =
    SnapshotLog.FileEntry(s"$dir/data/f$i.parquet", "D", s"m=${i % 7}",
      Map.empty, seq = seq, rows = 10L, bytes = 1000L)

  test("append on a 100k-entry table reads zero segment files") {
    val dir = fresh("zeroreads")
    val big = (0 until 100000).map(entry(dir, _, 1L))
    assert(SnapshotLog.commitEntries(dir, big) == 1)
    // one warm-up append: the measured one then starts from an
    // appended parent
    SnapshotLog.appendEntries(dir,
      t => Seq(entry(dir, 200000, t.toLong)))
    assert(SnapshotLog.latest(dir) == 2)

    // the measured append: zero segment reads, tiny manifest delta
    SnapshotLog.resetEntryCache()
    val before = SnapshotLog.segFileReads.get()
    val v3 = SnapshotLog.appendEntries(dir,
      t => Seq(entry(dir, 200001, t.toLong)))
    assert(v3 == 3)
    assert(SnapshotLog.segFileReads.get() == before,
      "an O(delta) append must not open any parent segment")
    // the new version's manifest LIST is small (headers + @seg refs),
    // and the delta segment holds exactly one line
    val m3 = java.nio.file.Paths.get(dir, "_manifests", "v3.manifest")
    assert(java.nio.file.Files.size(m3) < 2048,
      s"manifest list should be refs-only, got ${
        java.nio.file.Files.size(m3)} bytes")

    // correctness: the resolved entry set is parent + delta
    val es = SnapshotLog.entries(dir, v3)
    assert(es.size == 100002)
    assert(es.map(_.path).toSet.contains(s"$dir/data/f200001.parquet"))
  }

  test("adoption and entries() on the same segment read its file once") {
    import java.nio.file.{Files, Paths}
    val dir = fresh("oneread")
    val base = (0 until 1000).map(entry(dir, _, 1L))
    assert(SnapshotLog.commitEntries(dir, base) == 1)
    val seg1 = SnapshotLog.segRefs(dir, 1).map(_._1)
    assert(seg1.size == 1)
    // the segment files are moved away while the second touch runs, so
    // that touch can only succeed from what the first one read
    def withoutFiles[T](segs: Seq[String])(body: => T): T = {
      val moved = segs.map(p => Paths.get(p) -> Paths.get(s"$p.aside"))
      moved.foreach { case (p, q) => Files.move(p, q) }
      try body finally moved.foreach { case (p, q) => Files.move(q, p) }
    }
    val paths = base.map(_.path).toSet

    // adoption first: v2 holds every v1 entry plus one, so it adopts
    // v1's segment; resolving v1 then needs no file
    SnapshotLog.resetEntryCache()
    val before = SnapshotLog.segFileReads.get()
    assert(SnapshotLog.commitEntries(dir, base :+ entry(dir, 5000, 2L)) == 2)
    assert(SnapshotLog.segRefs(dir, 2).map(_._1).contains(seg1.head),
      "v2 did not adopt v1's segment")
    withoutFiles(seg1) {
      assert(SnapshotLog.entries(dir, 1).map(_.path).toSet == paths)
    }
    assert(SnapshotLog.segFileReads.get() == before + 1,
      s"segment file reads: ${SnapshotLog.segFileReads.get() - before}")

    // entries() first: resolving v2 reads both its segments; a commit
    // adopting them then opens neither
    SnapshotLog.resetEntryCache()
    val segs2 = SnapshotLog.segRefs(dir, 2).map(_._1)
    assert(segs2.size == 2)
    val es2 = SnapshotLog.entries(dir, 2)
    withoutFiles(segs2) {
      assert(SnapshotLog.commitEntries(dir, es2 :+ entry(dir, 5001, 3L)) == 3)
    }
    assert(segs2.forall(SnapshotLog.segRefs(dir, 3).map(_._1).contains),
      "v3 did not adopt v2's segments")
  }

  test("headers carry, drop-headers replace, CAS loser cleans its segment") {
    val dir = fresh("headers")
    SnapshotLog.commitEntries(dir, (0 until 10).map(entry(dir, _, 1L)),
      Seq("#keys\tid"))
    SnapshotLog.appendEntries(dir, t => Seq(entry(dir, 100, t.toLong)),
      extraHeaders = Seq("#batchhw\t5"))
    assert(SnapshotLog.keysOf(dir, 2).contains(Seq("id")))
    assert(SnapshotLog.batchHighWater(dir, 2) == 5L)
    // a second append REPLACES the high-water (dropHeaders) and keeps #keys
    SnapshotLog.appendEntries(dir, t => Seq(entry(dir, 101, t.toLong)),
      extraHeaders = Seq("#batchhw\t9"), dropHeaders = Seq("#batchhw\t"))
    assert(SnapshotLog.batchHighWater(dir, 3) == 9L)
    assert(SnapshotLog.keysOf(dir, 3).contains(Seq("id")))

    // CAS loser: publishing at an already-taken version fails AND
    // leaves no orphan delta segment behind
    val segsBefore = java.nio.file.Files.list(
      java.nio.file.Paths.get(dir, "_manifests")).toArray.toSeq
      .map(_.toString).count(_.endsWith(".seg"))
    val lost = SnapshotLog.publishAppend(dir, 3, 2,
      Seq(entry(dir, 102, 3L)))
    assert(!lost)
    val segsAfter = java.nio.file.Files.list(
      java.nio.file.Paths.get(dir, "_manifests")).toArray.toSeq
      .map(_.toString).count(_.endsWith(".seg"))
    assert(segsAfter == segsBefore,
      "a lost CAS must delete its just-written delta segment")
  }

  test("ref merge-down keeps the manifest list bounded across appends") {
    val dir = fresh("mergedown")
    SnapshotLog.commitEntries(dir, (0 until 50).map(entry(dir, _, 1L)))
    // 200 O(delta) appends: without merge-down the list would carry
    // 200 refs; the ≥64 fold keeps it bounded
    (0 until 200).foreach { i =>
      SnapshotLog.appendEntries(dir,
        t => Seq(entry(dir, 1000 + i, t.toLong)))
    }
    val v = SnapshotLog.latest(dir)
    assert(SnapshotLog.segRefs(dir, v).size <= 64)
    assert(SnapshotLog.entries(dir, v).size == 250)
  }
}
