package graft

import graft.llmdata.Dedup
import org.apache.spark.sql.functions._

/** [[Caches.barrier]] under both materialization modes: the default
  * `localCheckpoint` and the cluster-reliable `checkpoint()` selected by
  * `spark.graft.checkpoint.dir`. Same call sites, same results — and the
  * reliable mode must actually write into the configured directory
  * (that's what survives executor loss on a cluster).
  */
class CheckpointModeSpec extends SparkSpec {

  private def withReliable[T](body: => T): (T, String) = {
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    spark.conf.set("spark.graft.checkpoint.dir", dir)
    try (body, dir)
    finally {
      spark.conf.unset("spark.graft.checkpoint.dir")
      Caches.clearAll()
    }
  }

  private def rddFiles(dir: String): Long = {
    import scala.jdk.CollectionConverters._
    val stream = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try stream.iterator().asScala.count(p =>
      p.getFileName.toString.startsWith("rdd-")).toLong
    finally stream.close()
  }

  test("contraction CC: identical canonical map under reliable checkpoint") {
    import spark.implicits._
    val pairs = Seq((3L, 5L), (5L, 9L), (2L, 7L), (11L, 9L))
      .toDF("id_a", "id_b")
    val viaLocal = Dedup.canonicalClusters(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val (viaReliable, dir) = withReliable {
      Dedup.canonicalClusters(pairs)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    }
    assert(viaReliable == viaLocal)
    // the barrier really switched modes: the dir holds checkpointed RDDs
    assert(rddFiles(dir) > 0, s"no rdd-* checkpoint dirs under $dir")
  }

  test("path-graph CC: identical canonical map under reliable checkpoint") {
    import spark.implicits._
    // a 13-node path with scrambled ids: several contraction rounds, each
    // through the barrier
    val path = (0 until 12).map(i => ((i * 7919L) % 101, ((i + 1) * 7919L) % 101))
    val pairs = path.toDF("id_a", "id_b")
    val viaLocal = Dedup.canonicalClusters(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val (viaReliable, _) = withReliable {
      Dedup.canonicalClusters(pairs)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    }
    assert(viaReliable == viaLocal)
  }

  test("memoized trace chain: identical panel under reliable checkpoint") {
    val d = "/root/testdata/sf0.001"
    val q = SparkEntry.queries("tp_daily_panel")
    def key(r: org.apache.spark.sql.Row) = r.toSeq.map(String.valueOf).mkString("|")
    val viaLocal = q(spark, d).collect().map(key).sorted
    Caches.clearAll() // drop the localCheckpoint memo before re-building
    val (viaReliable, _) = withReliable {
      q(spark, d).collect().map(key).sorted
    }
    assert(viaReliable.sameElements(viaLocal))
  }
}
