package graft.queries

import graft.{SparkSpec, Tables}
import graft.operators.SnapshotLog
import org.apache.spark.sql.functions._

/** Snapshot log (s31_time_travel) — what makes it a table format:
  *
  *  1. Time travel: after a copy-on-write commit, the OLD snapshot
  *     still reads the original table exactly.
  *  2. Manifests are immutable: committing v2 does not touch v1's
  *     manifest bytes.
  *  3. Atomic publish: a crashed commit (tmp present, never moved) is
  *     invisible — latest() and readers resolve only complete
  *     manifests.
  */
class SnapshotLogSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("time travel, manifest immutability, crashed commits invisible") {
    val dir = s"${graft.Scratch.dirFor("s31_tt_spec", sf)}/t"
    graft.Scratch.clear(dir)
    val base = Tables.lineitem(spark, sf).select(
      col("l_orderkey"), col("l_linenumber"),
      col("l_quantity").cast("decimal(18,2)").cast("int").as("qty"),
      month(to_date(col("l_shipdate"))).as("m"))
    base.filter(col("m") =!= 3).write.mode("overwrite")
      .parquet(s"$dir/data/rest")
    base.filter(col("m") === 3).write.mode("overwrite")
      .parquet(s"$dir/data/m3")
    val rest = SnapshotLog.dataFiles(s"$dir/data/rest")
    val v1 = SnapshotLog.commit(dir,
      rest ++ SnapshotLog.dataFiles(s"$dir/data/m3"))
    assert(v1 == 1 && SnapshotLog.latest(dir) == 1)
    val m1 = java.nio.file.Paths.get(dir, "_manifests", "v1.manifest")
    val v1Bytes = java.nio.file.Files.readAllBytes(m1).toSeq

    spark.read.parquet(SnapshotLog.dataFiles(s"$dir/data/m3"): _*)
      .withColumn("qty", col("qty") + 7)
      .write.mode("overwrite").parquet(s"$dir/data/m3_r1")
    val v2 = SnapshotLog.commit(dir,
      rest ++ SnapshotLog.dataFiles(s"$dir/data/m3_r1"))
    assert(v2 == 2 && SnapshotLog.latest(dir) == 2)

    // 1. v1 still reads the ORIGINAL table after v2 committed
    val got = SnapshotLog.read(spark, dir, v1)
      .select(col("l_orderkey"), col("l_linenumber"), col("qty"), col("m"))
    assert(got.exceptAll(base).count() == 0 &&
      base.exceptAll(got).count() == 0,
      "time travel to v1 diverged from the original table")
    // and v2 sees the rewrite
    val bumped = SnapshotLog.read(spark, dir, v2)
      .filter(col("m") === 3).agg(min(col("qty"))).head.getInt(0)
    val orig = base.filter(col("m") === 3).agg(min(col("qty"))).head.getInt(0)
    assert(bumped == orig + 7)

    // 2. v1's manifest bytes unchanged by the v2 commit
    assert(java.nio.file.Files.readAllBytes(m1).toSeq == v1Bytes)

    // 3. a crashed commit (tmp never moved) is invisible
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "_manifests", ".v3.manifest.tmp"),
      "bogus".getBytes("UTF-8"))
    assert(SnapshotLog.latest(dir) == 2)
    intercept[IllegalArgumentException] {
      SnapshotLog.files(dir, 3)
    }
  }

  test("racing committers: put-if-absent fails the loser, retry lands both") {
    val dir = s"${graft.Scratch.dirFor("s31_race_spec", sf)}/t"
    graft.Scratch.clear(dir)
    val v0 = SnapshotLog.commit(dir, Seq("base.parquet"))
    assert(v0 == 1)

    // deterministic interleave: committer A reads latest()=1 and
    // computes next=2; committer B publishes v2 FIRST; A's publish of
    // v2 must FAIL (not clobber), and A's commit() retry lands v3
    val next = SnapshotLog.latest(dir) + 1          // A's stale read
    def one(p: String) = Seq(SnapshotLog.FileEntry(p, "D", "", Map.empty))
    assert(SnapshotLog.publishEntries(dir, next, one("b.parquet"))) // B wins v2
    assert(!SnapshotLog.publishEntries(dir, next, one("a.parquet")),
      "second publish of the same version must fail, not replace")
    assert(SnapshotLog.files(dir, next) == Seq("b.parquet"),
      "loser's publish clobbered the winner's manifest")
    val vA = SnapshotLog.commit(dir, Seq("a.parquet"))
    assert(vA == next + 1, "retry must land on the then-next version")
    assert(SnapshotLog.files(dir, vA) == Seq("a.parquet"))

    // true concurrency: 4 threads x 5 commits each — every commit must
    // survive under a distinct id with its exact content
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val before = SnapshotLog.latest(dir)
    val futs = (0 until 4).map { t =>
      Future { (0 until 5).map { i =>
        val payload = s"t$t-c$i.parquet"
        (payload, SnapshotLog.commit(dir, Seq(payload)))
      } }
    }
    val landed = Await.result(Future.sequence(futs), 120.seconds).flatten
    assert(landed.map(_._2).distinct.size == 20,
      "two commits landed on the same version id")
    assert(SnapshotLog.latest(dir) == before + 20)
    landed.foreach { case (payload, v) =>
      assert(SnapshotLog.files(dir, v) == Seq(payload),
        s"v$v lost its committed content")
    }
  }

  test("rollback republishes old content; history stays append-only") {
    val dir = s"/tmp/graft-test/snaplog-rollback"
    graft.Scratch.clear(dir)
    SnapshotLog.commit(dir, Seq("good-a.parquet", "good-b.parquet"))
    SnapshotLog.commit(dir, Seq("bad.parquet"))
    val v3 = SnapshotLog.rollback(dir, 1)
    assert(v3 == 3 && SnapshotLog.latest(dir) == 3)
    assert(SnapshotLog.files(dir, 3) == SnapshotLog.files(dir, 1))
    // the bad version stays inspectable — append-only history
    assert(SnapshotLog.files(dir, 2) == Seq("bad.parquet"))
    intercept[IllegalArgumentException] {
      SnapshotLog.rollback(dir, 99)
    }
  }
}
