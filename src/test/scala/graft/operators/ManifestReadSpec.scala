package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** O(delta) READ MEMORY (the entries() path) — the read-side mirror of
  * AppendDeltaSpec: parsed segments are shared across versions, so an
  * appended version's first touch parses ONLY its delta segment, and
  * the per-version label summary scan planning reads is equivalent to
  * a direct walk of the entry list. Pure manifest logic — no
  * SparkSession needed.
  */
class ManifestReadSpec extends AnyFunSuite {

  private def fresh(tag: String): String = {
    val base = s"/tmp/graft-test/manifestread-$tag"
    graft.Scratch.clear(base)
    s"$base/t"
  }

  private def entry(dir: String, i: Int, seq: Long) =
    SnapshotLog.FileEntry(s"$dir/data/f$i.parquet", "D", s"m=${i % 7}",
      Map("k" -> ((i * 10L, i * 10L + 9L))), seq = seq, rows = 10L,
      bytes = 1000L)

  test("append first-touch parses only the delta segment") {
    val dir = fresh("odelta")
    SnapshotLog.commitEntries(dir, (0 until 50000).map(entry(dir, _, 1L)))
    // warm-up append migrates a possibly-inline v1 to segmented shape
    SnapshotLog.appendEntries(dir, t => Seq(entry(dir, 90000, t.toLong)))
    val v = SnapshotLog.latest(dir)

    SnapshotLog.resetEntryCache()
    SnapshotLog.entries(dir, v) // parse every segment of v once
    val segBefore = SnapshotLog.segFileReads.get()
    val verBefore = SnapshotLog.entryParses.get()

    // warm hit: zero parses of either layer
    assert(SnapshotLog.entries(dir, v).size == 50001)
    assert(SnapshotLog.segFileReads.get() == segBefore)
    assert(SnapshotLog.entryParses.get() == verBefore)

    // the measured append: its first entries() touch re-splices the
    // version (one version parse) but parses exactly ONE segment —
    // the delta — because every parent segment is already cached
    val v2 = SnapshotLog.appendEntries(dir,
      t => Seq(entry(dir, 90001, t.toLong)))
    val es = SnapshotLog.entries(dir, v2)
    assert(es.size == 50002)
    assert(SnapshotLog.entryParses.get() == verBefore + 1)
    assert(SnapshotLog.segFileReads.get() == segBefore + 1,
      "an O(delta) read must parse only the appended delta segment")
    assert(es.map(_.path).contains(s"$dir/data/f90001.parquet"))
  }

  test("labelSummary matches a direct walk and caches per version") {
    val dir = fresh("summary")
    // two label signatures would refuse grouping — use one spec plus
    // string stats on some entries so every summary field is exercised
    val es = (0 until 500).map { i =>
      val base = entry(dir, i, 1L)
      if (i % 3 == 0)
        base.copy(strStats = Map("name" -> (("a", "z"))))
      else base
    }
    SnapshotLog.commitEntries(dir, es)
    val v = SnapshotLog.latest(dir)

    val sum = SnapshotLog.labelSummary(dir, v)
    val data = SnapshotLog.entries(dir, v).filter(_.kind == "D")
    assert(sum.sigs ==
      data.map(e => SnapshotLog.labelColsOf(e.partition)).distinct)
    assert(sum.parts.sorted == data.map(_.partition).distinct.sorted)
    assert(sum.labelCols == Seq("m"))
    assert(sum.statCols == Seq("k"))
    assert(sum.strStatCols == Seq("name"))

    // second call: same cached object, no re-walk of the entry list
    // (identity check — the summary cache returns the same instance)
    assert(SnapshotLog.labelSummary(dir, v) eq sum)
  }

  test("a re-created table directory invalidates both cache layers") {
    val dir = fresh("invalidate")
    SnapshotLog.commitEntries(dir, (0 until 10).map(entry(dir, _, 1L)))
    val v = SnapshotLog.latest(dir)
    assert(SnapshotLog.entries(dir, v).size == 10)
    val sum1 = SnapshotLog.labelSummary(dir, v)

    // recreate: same path, different content — new file identity
    graft.Scratch.clear(s"/tmp/graft-test/manifestread-invalidate")
    SnapshotLog.commitEntries(dir, (0 until 25).map(entry(dir, _, 1L)))
    assert(SnapshotLog.entries(dir, SnapshotLog.latest(dir)).size == 25)
    val sum2 = SnapshotLog.labelSummary(dir, SnapshotLog.latest(dir))
    assert(!(sum2 eq sum1))
    assert(sum2.parts.size == 7)
  }
}
