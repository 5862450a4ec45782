package graft

import org.apache.spark.sql.types.StructType

import graft.operators.SnapshotLog
import graft.operators.SnapshotLog.FileEntry

/** Driver-side manifest-planning cost at FILE-COUNT scale: builds a
  * synthetic snapshot table whose manifest references `n` (default 1M)
  * data entries — only 128 of them real files (hardlinks of one tiny
  * parquet), the rest fakes that planning must never open — then times
  *
  *   1. first-touch `entries()` parse (cold caches) and the warm hit,
  *   2. the retained driver heap of the parsed entry list,
  *   3. an O(delta) append's incremental first-touch (shared segments
  *      must not re-parse),
  *   4. DSv2 `planInputPartitions` through a selective filter (the
  *      production scan path: manifest pruning + SPJ grouping + task
  *      packing over the full entry list), plus the answer's row count
  *      (a fake file opened anywhere here throws), and
  *   5. `prunedRead` range planning (the non-DSv2 metadata prune).
  *
  * `tools/run.sh graft.ManifestProbe [nEntries] [batches]`
  */
object ManifestProbe {
  private def usedHeap(): Long = {
    val rt = Runtime.getRuntime
    System.gc(); Thread.sleep(200); System.gc(); Thread.sleep(100)
    rt.totalMemory - rt.freeMemory
  }

  def main(args: Array[String]): Unit = {
    val n = args.lift(0).map(_.toInt).getOrElse(1000000)
    val batches = args.lift(1).map(_.toInt).getOrElse(50)
    val nReal = 128
    val dir = Scratch.dirFor("manifest_probe", s"n$n")
    Scratch.clear(dir)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    val spark = Sessions.local()

    // one real 1000-row file (k in [0, 999]), hardlinked nReal times —
    // the only bytes the selective read below is allowed to touch
    import spark.implicits._
    val tmp = s"$dir/seed"
    spark.range(0, 1000).select(
      $"id".as("k"), ($"id" * 7).as("v"),
      ($"id" % nReal).as("m")).coalesce(1)
      .write.mode("overwrite").parquet(tmp)
    val seed = new java.io.File(tmp).listFiles()
      .find(_.getName.endsWith(".parquet")).get.toPath
    val dataDir = java.nio.file.Paths.get(dir, "data")
    java.nio.file.Files.createDirectories(dataDir)
    val seedBytes = java.nio.file.Files.size(seed)
    val realPaths = (0 until nReal).map { i =>
      val p = dataDir.resolve(s"real_$i.parquet")
      java.nio.file.Files.createLink(p, seed)
      p.toString
    }

    val schema = StructType.fromDDL("k BIGINT, v BIGINT, m BIGINT")
    def entryAt(i: Int): FileEntry =
      if (i < nReal) FileEntry(realPaths(i), "D", s"m=${i % nReal}",
        Map("k" -> ((0L, 999L)), "v" -> ((0L, 6993L))), seq = 0L,
        rows = 1000L, bytes = seedBytes)
      else FileEntry(s"$dataDir/fake_$i.parquet", "D", s"m=${i % nReal}",
        Map("k" -> ((i * 1000L, i * 1000L + 999L)),
          "v" -> ((i * 7000L, i * 7000L + 6993L))), seq = 0L,
        rows = 1000L, bytes = 64L * 1024 * 1024)

    // ---- build: one initial publish + (batches-1) O(delta) appends ----
    val per = math.max(1, n / batches)
    var t0 = System.nanoTime()
    var v = 0
    var i0 = 0
    while (i0 < n) {
      val hi = math.min(n, i0 + per)
      // fakes start AT ID 1000 so the selective range [0,999] admits
      // exactly the real files (fake stats begin at k = 1_000_000)
      val es = (i0 until hi).map(j => entryAt(if (j < nReal) j else j + 1000))
      val ok =
        if (v == 0) SnapshotLog.publishEntries(dir, 1, es,
          SnapshotLog.renderSchemaHeaders(schema, Map.empty))
        else SnapshotLog.publishAppend(dir, v + 1, v, es)
      require(ok, s"publish v${v + 1} failed")
      v += 1
      i0 = hi
    }
    println(f"build: $n entries in $v commits, ${(System.nanoTime() - t0) / 1e9}%.3f s")

    // ---- 1+2: cold/warm entries() parse + retained heap --------------
    (1 to 3).foreach { r =>
      SnapshotLog.resetEntryCache()
      val h0 = usedHeap()
      t0 = System.nanoTime()
      val es = SnapshotLog.entries(dir, v)
      val coldS = (System.nanoTime() - t0) / 1e9
      val h1 = usedHeap()
      t0 = System.nanoTime()
      val es2 = SnapshotLog.entries(dir, v)
      val warmS = (System.nanoTime() - t0) / 1e9
      println(f"rep$r entries() cold: $coldS%.3f s  warm: $warmS%.6f s  " +
        f"retained: ${(h1 - h0) / 1e6}%.1f MB  (n=${es.size}, ${es2.size})")
    }

    // ---- 3: O(delta) incremental first-touch --------------------------
    require(SnapshotLog.publishAppend(dir, v + 1, v,
      Seq(entryAt(n + 2000))), "probe append failed")
    val parses0 = SnapshotLog.entryParses.get()
    t0 = System.nanoTime()
    val esNew = SnapshotLog.entries(dir, v + 1)
    println(f"append first-touch: ${(System.nanoTime() - t0) / 1e9}%.3f s " +
      f"(n=${esNew.size}, versionParses=${SnapshotLog.entryParses.get() - parses0})")

    // ---- 4: DSv2 selective plan + read over the full manifest ---------
    (1 to 3).foreach { r =>
      SnapshotLog.resetEntryCache()
      t0 = System.nanoTime()
      val df = spark.read.format("graft-snapshot")
        .option("versionAsOf", v).load(dir).filter("k <= 999")
      val planned = df.queryExecution.toRdd.partitions.length
      val planS = (System.nanoTime() - t0) / 1e9
      t0 = System.nanoTime()
      val rows = df.count()
      val countS = (System.nanoTime() - t0) / 1e9
      // warm RE-PLAN of the same version (fresh Dataset, caches warm):
      // the dashboard shape — repeated plans must not re-walk the
      // million-entry list for statistics or label facts
      t0 = System.nanoTime()
      val df2 = spark.read.format("graft-snapshot")
        .option("versionAsOf", v).load(dir).filter("k <= 999")
      val planned2 = df2.queryExecution.toRdd.partitions.length
      val rePlanS = (System.nanoTime() - t0) / 1e9
      println(f"rep$r dsv2 plan(filter k<=999): $planS%.3f s " +
        f"($planned tasks)  count: $countS%.3f s " +
        f"(rows=$rows, expect ${nReal * 1000})  " +
        f"warm re-plan: $rePlanS%.3f s ($planned2 tasks)")
    }

    // ---- 5: prunedRead range planning ---------------------------------
    t0 = System.nanoTime()
    val pr = SnapshotLog.prunedRead(spark, dir, v, "k", 0L, 999L)
    val prPlanS = (System.nanoTime() - t0) / 1e9
    t0 = System.nanoTime()
    val prRows = pr.count()
    println(f"prunedRead plan: $prPlanS%.3f s  count: " +
      f"${(System.nanoTime() - t0) / 1e9}%.3f s (rows=$prRows)")

    spark.stop()
  }
}
