package graft.clean

import graft.SparkSpec

/** Golden vectors from the reference's bounce-back README
  * (`stage0/README_bounce_back_filter.md:338-560`, FIXTURES.md §2.2), and
  * the grouped pass against the repartition / secondary-sort scan it
  * replaced ([[Stage0References.groupScanFlags]]).
  */
class BounceBackSpec extends SparkSpec {

  private def run(prices: Seq[Double]): Array[Int] = {
    import spark.implicits._
    val df = prices.zipWithIndex
      .map { case (p, i) => (1L, i.toLong, p) }
      .toDF("id", "ord", "price")
    BounceBack.flags(df, "id", "ord", "price")
      .orderBy("ord")
      .collect()
      .map(_.getInt(2))
  }

  test("spike + plateau flagged; bounce row kept") {
    val out = run(Seq(92.0, 93.5, 94.0, 165.0, 168.0, 92.5, 93.8))
    assert(out.toSeq == Seq(0, 0, 0, 1, 1, 0, 0))
  }

  test("genuine downgrade not flagged (no bounce back)") {
    val out = run(Seq(90.0, 89.5, 52.0, 51.5, 52.5, 52.2))
    assert(out.forall(_ == 0))
  }

  test("isolated par print not flagged (displacement below back tolerance)") {
    val out = run(Seq(98.5, 99.2, 100.0, 99.1, 98.8))
    assert(out.forall(_ == 0))
  }

  test("persistent par block of >=3 prints flagged") {
    val out = run(Seq(85.0, 85.2, 84.8, 100.0, 100.0, 100.0, 85.1, 84.9))
    assert(out.toSeq == Seq(0, 0, 0, 1, 1, 1, 0, 0))
  }

  test("blame reassignment: prior row takes the flag when its anchor deviation dominates") {
    // row2 (170) deviates hugely from its baseline; row3's (120) jump opens
    // the candidate but blame moves back to row2
    val out = run(Seq(95.0, 96.0, 170.0, 120.0, 95.5, 96.2))
    assert(out(2) == 1)
  }

  test("the grouped pass matches the repartition / secondary-sort scan") {
    import spark.implicits._
    (1L to 4L).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val rows = (0 until 20).flatMap { id =>
        val level = 60 + rnd.nextInt(80)
        (0 until 1 + rnd.nextInt(40)).map { _ =>
          val p = rnd.nextInt(10) match {
            case 0 => level + 50.0
            case 1 => 100.0
            case 2 => level - 45.0
            case _ => level + rnd.nextInt(5) * 0.5
          }
          (id.toLong, p)
        }
      }
      // unique ords in a random order, so no id arrives sorted
      val df = rows.zip(rnd.shuffle(rows.indices.toVector))
        .map { case ((id, p), ord) => (id, ord.toLong, p) }
        .toDF("id", "ord", "price").repartition(3)
      def flagsOf(f: org.apache.spark.sql.DataFrame) =
        f.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
      val got = flagsOf(BounceBack.flags(df, "id", "ord", "price"))
      val want = flagsOf(Stage0References.groupScanFlags(df, BounceBack.Params()))
      assert(got == want, s"seed $seed: ${want.toSeq.filter(kv => !got.get(kv._1).contains(kv._2)).take(3)}")
      assert(got.values.exists(_ == 1), s"seed $seed: nothing flagged")
    }
  }
}
