package graft.sources

import graft.SparkSpec
import graft.operators.SnapshotLog
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation

/** One snapshot per scan: an UNPINNED lake scan resolves the table head
  * once, at first use, and every later planning face reads that same
  * version. A commit landing between statistics and partition planning
  * must not leak into the planned files (it would pair one version's
  * statistics or data with the next one's deletes). */
class ScanVersionPinSpec extends SparkSpec {

  test("a commit between statistics and planning leaves the scan on v1") {
    import spark.implicits._
    val base = "/tmp/graft-test/scanpin"
    graft.Scratch.clear(base)
    val dir = s"$base/t"
    def files(sub: String, lo: Long, parts: Int): Seq[String] = {
      (lo until lo + 300L).map(i => (i, i % 5)).toDF("k", "g")
        .repartition(parts).write.parquet(s"$dir/data/$sub")
      SnapshotLog.dataFiles(s"$dir/data/$sub")
    }
    def entry(f: String) = SnapshotLog.FileEntry(f, "D", "", Map.empty,
      seq = 1L, rows = -1L, bytes = SnapshotLog.statBytes(f))
    val v1Files = files("a", 0L, 2)
    val extra = files("b", 1000L, 1)
    SnapshotLog.commitEntries(dir, v1Files.map(entry))

    val df = spark.read.format("graft-snapshot").option("path", dir).load()
    val scan = df.queryExecution.optimizedPlan.collectFirst {
      case r: DataSourceV2ScanRelation => r.scan
    }.get.asInstanceOf[SnapshotScan]
    val stats = scan.estimateStatistics()
    assert(stats.sizeInBytes().getAsLong ==
      v1Files.map(SnapshotLog.statBytes).sum)

    // one more data file commits mid-plan
    SnapshotLog.commitEntries(dir,
      SnapshotLog.entries(dir, 1) ++ extra.map(entry))
    assert(SnapshotLog.latest(dir) == 2)

    val planned = scan.toBatch.planInputPartitions().toSeq.flatMap {
      case p: SnapFilePartition => p.paths
      case _ => Nil
    }
    assert(planned.map(SnapshotLog.normPath).sorted ==
      v1Files.map(SnapshotLog.normPath).sorted,
      "the scan planned files outside the version its statistics used")
    // a fresh read sees the new head
    assert(spark.read.format("graft-snapshot").option("path", dir).load()
      .count() == 600L)
  }
}
