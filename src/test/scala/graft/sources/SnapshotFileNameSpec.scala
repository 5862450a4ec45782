package graft.sources

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.operators.SnapshotLog

/** Data files are named `part-<partition>-<attempt>-<8 hex>.parquet`, so the
  * paths a manifest stores do not depend on how many tasks the session ran
  * before: the same commit made early and late stores the same bytes. */
class SnapshotFileNameSpec extends SparkSpec {

  private def commit(dir: Path): Unit =
    spark.range(0, 2000, 1, 4).selectExpr("id", "id * 2 AS v")
      .write.format("graft-snapshot").option("path", dir.toString)
      .mode("append").save()

  private def manifestBytes(dir: Path): Long =
    Files.walk(dir.resolve("_manifests")).iterator().asScala
      .filter(Files.isRegularFile(_)).map(Files.size).sum

  test("file names carry partition and attempt, not the session's task count") {
    val root = Files.createTempDirectory("snapname")
    try {
      val early = root.resolve("t1")
      val late = root.resolve("t2")
      commit(early)
      // a few thousand tasks later the JVM-global task ids are longer
      spark.range(0, 3000, 1, 3000).count()
      commit(late)
      val files = SnapshotLog.files(late.toString, SnapshotLog.latest(late.toString))
        .map(new java.io.File(_).getName)
      assert(files.nonEmpty)
      files.foreach(f => assert(f.matches("part-[0-3]-0-[0-9a-f]{8}\\.parquet"), f))
      assert(manifestBytes(early) == manifestBytes(late))
    } finally {
      Files.walk(root).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.deleteIfExists(p))
    }
  }
}
