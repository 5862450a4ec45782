package graft.operators

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** ONE on-disk lake format. Claims:
  *  - an entry line has exactly one of three shapes (8, 10 or 11
  *    tab-separated fields), and parse/render are inverse on every line
  *    the writer renders;
  *  - any other entry line, and a manifest holding anything but `#`
  *    headers and `@seg` references, fails loudly with
  *    `IllegalStateException` naming the line or file — never misread;
  *  - `commit(dir, paths)` entries carry no facts: seq 0, rows −1,
  *    bytes −1.
  * Pure manifest logic — no SparkSession needed.
  */
class ManifestGrammarSpec extends AnyFunSuite {

  private def fresh(tag: String): String = {
    val base = s"/tmp/graft-test/manifestgrammar-$tag"
    graft.Scratch.clear(base)
    s"$base/t"
  }

  private val base =
    SnapshotLog.FileEntry("/t/data/f.parquet", "D", "", Map.empty)

  /** entries covering every optional fact the writer records. */
  private val entries: Seq[SnapshotLog.FileEntry] = Seq(
    base,
    base.copy(kind = "X", partition = "m=3", seq = 7L, rows = 12L,
      bytes = 4096L),
    base.copy(kind = "P", partition = "a=1/b=x", seq = 2L),
    base.copy(stats = Map("k" -> ((-5L, 9L)), "id" -> ((0L, 0L))),
      strStats = Map("d" -> (("2020-01-01", "2020:12,31\t%"))),
      rows = 3L, bytes = 10L),
    base.copy(rows = 5L, nullCounts = Map("k" -> 1L)),
    base.copy(rows = 5L, sums = Map("k" -> Long.MinValue)),
    base.copy(rows = 5L, nullCounts = Map("k" -> 0L, "v" -> 5L),
      sums = Map("k" -> 42L)),
    base.copy(splitOffsets = Seq(4L, 1000L, 5000L)),
    base.copy(stats = Map("k" -> ((1L, 2L))), seq = 3L, rows = 9L,
      bytes = 77L, nullCounts = Map("k" -> 2L), sums = Map("k" -> 3L),
      splitOffsets = Seq(4L, 99L)))

  test("parse and render are inverse on all three entry shapes") {
    val lines = entries.map(SnapshotLog.renderEntry)
    assert(lines.map(_.split("\t").length).toSet == Set(8, 10, 11),
      s"the fixtures must cover every shape: $lines")
    entries.zip(lines).foreach { case (e, l) =>
      val back = SnapshotLog.parseEntry(l)
      assert(back == e, s"parse changed the entry of $l")
      assert(SnapshotLog.renderEntry(back) == l, s"render changed $l")
    }
  }

  test("lines a commit writes round-trip; bare paths carry no facts") {
    val dir = fresh("commit")
    SnapshotLog.commitEntries(dir, entries.zipWithIndex.map { case (e, i) =>
      e.copy(path = s"$dir/data/f$i.parquet") })
    val segLines = SnapshotLog.segRefs(dir, 1).flatMap { case (p, _) =>
      new String(Files.readAllBytes(Paths.get(p)), "UTF-8").split("\n")
    }
    assert(segLines.size == entries.size)
    segLines.foreach(l =>
      assert(SnapshotLog.renderEntry(SnapshotLog.parseEntry(l)) == l))

    val v = SnapshotLog.commit(dir, Seq("a.parquet"))
    assert(SnapshotLog.entries(dir, v) ==
      Seq(SnapshotLog.FileEntry("a.parquet", "D", "", Map.empty, seq = 0L,
        rows = -1L, bytes = -1L)))
  }

  test("1-, 4-, 5- and 7-field entry lines fail, naming the line") {
    Seq(
      "/t/a.parquet",
      "/t/a.parquet\tD\tp=1\tk:0:5",
      "/t/a.parquet\tD\tp=1\t-\t1",
      "/t/a.parquet\tD\t-\t-\t1\t10\t-").foreach { l =>
      val e = intercept[IllegalStateException](SnapshotLog.parseEntry(l))
      assert(e.getMessage.contains(l), e.getMessage)
    }
  }

  test("a segment holding an old-shape line fails the read") {
    val dir = fresh("badseg")
    SnapshotLog.commitEntries(dir,
      Seq(base.copy(path = s"$dir/data/a.parquet")))
    val (seg, _) = SnapshotLog.segRefs(dir, 1).head
    Files.write(Paths.get(seg), s"$dir/data/a.parquet\tD\tp=1\t-\t1"
      .getBytes("UTF-8"))
    SnapshotLog.resetEntryCache()
    val e = intercept[IllegalStateException](SnapshotLog.entries(dir, 1))
    assert(e.getMessage.contains("a.parquet"), e.getMessage)
  }

  test("an inline-entry manifest fails every read, naming the file") {
    val dir = fresh("inline")
    Files.createDirectories(Paths.get(dir, "_manifests"))
    val m = Paths.get(dir, "_manifests", "v1.manifest")
    Files.write(m, Seq(
      "#ts\t1000",
      s"$dir/data/a.parquet\tD\tp=1\tk:0:5\t1\t-1\t-\t-1").mkString("\n")
      .getBytes("UTF-8"))
    val e = intercept[IllegalStateException](SnapshotLog.entries(dir, 1))
    assert(e.getMessage.contains(m.toString), e.getMessage)
    intercept[IllegalStateException](SnapshotLog.headers(dir, 1))
    // and no commit builds on it
    intercept[IllegalStateException](
      SnapshotLog.appendEntries(dir, t => Seq(base.copy(
        path = s"$dir/data/b.parquet", seq = t.toLong))))
  }
}
