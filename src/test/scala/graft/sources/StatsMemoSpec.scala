package graft.sources

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SnapshotLog

/** The scan-statistics survivor fold is memoized per (manifest
  * identity, constraint set) — every plan of a pinned version asks for
  * statistics, and re-walking a million entries per plan was the last
  * repeated O(files) pass on the plan path. Pinned: the fold's values,
  * constraint sensitivity, and self-invalidation when the table
  * directory is re-created (same path, new manifest identity). */
class StatsMemoSpec extends AnyFunSuite {

  private def fresh(tag: String): String = {
    val base = s"/tmp/graft-test/statsmemo-$tag"
    graft.Scratch.clear(base)
    s"$base/t"
  }

  private def entry(dir: String, i: Int) =
    SnapshotLog.FileEntry(s"$dir/data/f$i.parquet", "D", s"m=${i % 3}",
      Map("k" -> ((i * 10L, i * 10L + 9L))), seq = 1L, rows = 10L,
      bytes = 1000L)

  test("values, constraint sensitivity, re-create invalidation") {
    val dir = fresh("basic")
    SnapshotLog.commitEntries(dir, (0 until 10).map(entry(dir, _)))
    assert(SnapshotTables.statsFor(dir, 1, Nil) == ((10000L, 100L)))
    // warm hit returns the same answer
    assert(SnapshotTables.statsFor(dir, 1, Nil) == ((10000L, 100L)))
    // a constraint set folds its own survivors (k <= 29 admits files
    // 0..2 by the manifest stats)
    val c = Seq(SnapshotPrune.Bound("k", None, Some(29L)))
    val (b, r) = SnapshotTables.statsFor(dir, 1, c)
    assert(b == 3000L && r == 30L)

    // re-create: same path, different content — the memo must follow
    // the new manifest identity, never serve the 10-file answer
    graft.Scratch.clear(s"/tmp/graft-test/statsmemo-basic")
    SnapshotLog.resetEntryCache()
    SnapshotLog.commitEntries(dir, (0 until 25).map(entry(dir, _)))
    assert(SnapshotTables.statsFor(dir, 1, Nil) == ((25000L, 250L)))
  }

  test("an unknown row count poisons only the row side") {
    val dir = fresh("norows")
    SnapshotLog.commitEntries(dir,
      entry(dir, 0).copy(rows = -1L) +: (1 until 5).map(entry(dir, _)))
    val (b, r) = SnapshotTables.statsFor(dir, 1, Nil)
    assert(b == 5000L && r == -1L)
  }

  test("equal IN-sets built in different orders share one memo entry") {
    import scala.jdk.CollectionConverters._
    val dir = fresh("canon")
    SnapshotLog.commitEntries(dir, (0 until 10).map(entry(dir, _)))
    def memoEntries = SnapshotTables.statsMemo.synchronized {
      SnapshotTables.statsMemo.keySet.asScala.count(_.startsWith(s"$dir#1#"))
    }
    // the same members inserted in two orders, the constraint list
    // in two orders
    val a = (0L until 40L).map(_ * 7L)
    val b = a.reverse
    val csA = Seq(SnapshotPrune.InSet("k", a), SnapshotPrune.NotNull("k"))
    val csB = Seq(SnapshotPrune.NotNull("k"), SnapshotPrune.InSet("k", b))
    assert(csA != csB)
    val first = SnapshotTables.statsFor(dir, 1, csA)
    assert(memoEntries == 1)
    assert(SnapshotTables.statsFor(dir, 1, csB) == first)
    assert(memoEntries == 1, "equal constraint sets minted two memo keys")
    // a different set still gets its own entry
    SnapshotTables.statsFor(dir, 1, Seq(SnapshotPrune.InSet("k", Seq(0L))))
    assert(memoEntries == 2)
  }
}
