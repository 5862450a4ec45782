package graft.clean

import graft.operators.Dedup
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The formulations [[Stage0]]'s sorted pass replaced, kept as test-only
  * references: each equivalence spec runs one of them next to the pass and
  * compares bit for bit.
  */
object Stage0References {

  /** Dick-Nielsen cleaning as WINDOW FLAGS over one linear frame (3
    * exchanges; the DuckDB oracle mirrors the anti-join formulation):
    *  - J3 cancel:  EXISTS X-row with same (id,dt,price,qty)  ≡ max-when flag
    *  - J7 reversal: n-th R cancels n-th T per (id,dt,side)   ≡ keep rows
    *    with row_number > count(R) (R seqs are contiguous 1..n)
    *  - J9 agency:  (B,D) matching a surviving (S,D)          ≡ max-when flag
    */
  def windowCleaned(tr: DataFrame): DataFrame = {
    val wKey = Window.partitionBy(col("id"), col("dt"), col("price"), col("qty"))
    val wSide = Window.partitionBy(col("id"), col("dt"), col("side"))
    val marked = tr
      .withColumn("__has_cancel",
        max(when(col("trc_st") === "X", 1)).over(wKey))
      .withColumn("__n_rev",
        count(when(col("trc_st") === "R", 1)).over(wSide))
    val afterCancel = marked
      .filter(col("trc_st") === "T" && col("__has_cancel").isNull)
    val afterReversal = afterCancel
      .withColumn("__rn", row_number().over(wSide.orderBy(col("ord"))))
      .filter(col("__rn") > col("__n_rev"))
    val afterAgency = afterReversal
      .withColumn("__has_sell",
        max(when(col("contra") === "D" && col("side") === "S", 1)).over(wKey))
      // coalesce matters: !(… && NULL) is NULL and filter drops NULL
      // predicates — unmatched (B,D) rows must survive
      .filter(!(col("contra") === "D" && col("side") === "B" &&
        coalesce(col("__has_sell"), lit(0)) === 1))
    afterAgency.drop("__has_cancel", "__n_rev", "__rn", "__has_sell")
  }

  private def medianOfSorted(arr: String): String =
    s"""case when size($arr) = 0 then null
        when size($arr) % 2 = 1 then element_at($arr, cast(size($arr) div 2 + 1 as int))
        else (element_at($arr, cast(size($arr) div 2 as int))
              + element_at($arr, cast(size($arr) div 2 + 1 as int))) / 2 end"""

  /** Decimal-shift anchors as a dedup window, sliding medians and a join
    * back on (id, dt, price); adds `__p` and `anchor_price`. */
  def windowAnchored(df: DataFrame, w: Int): DataFrame = {
    val price = col("price").cast("double")
    val work = Dedup.keepFirst(
      df.select(col("id"), col("dt"), col("ord"), price.as("__p")),
      keys = Seq("id", "dt", "__p"),
      order = Seq(col("ord")))
    val frame = "partition by id order by dt, ord"
    def medOver(lo: String, hi: String): String =
      medianOfSorted(
        s"sort_array(collect_list(__p) over ($frame rows between $lo and $hi))")
    val anchored = work
      .withColumn("__med_c",
        expr(s"""case when size(collect_list(__p) over
            ($frame rows between $w preceding and $w following)) >= ${w + 1}
          then ${medOver(s"$w preceding", s"$w following")} end"""))
      .withColumn("__med_f", expr(medOver("current row", s"$w following")))
      .withColumn("__med_b", expr(medOver(s"$w preceding", "current row")))
      .withColumn("anchor_price",
        coalesce(col("__med_c"), col("__med_f"), col("__med_b")))
      .select(col("id"), col("dt"), col("__p"), col("anchor_price"))
    df.withColumn("__p", price).join(anchored, Seq("id", "dt", "__p"), "left")
  }

  private val eps = 1e-12

  /** The factor search and acceptance gates as column algebra over a frame
    * carrying `__p` (the price as double) and `anchor_price`; drops `__p`.
    * Per-factor relative deviations as real columns, then `least` and a
    * first-match CASE — the reference's "first strictly-better candidate
    * wins" rule, and the r1..r4 formulation the DuckDB oracle uses. */
  def columnSuggest(joined: DataFrame, p: DecimalShift.Params): DataFrame = {
    val anchor = col("anchor_price")
    // DuckDB's x/0 is NULL while Spark's ANSI mode throws
    val anchorDiv = expr("nullif(anchor_price, 0.0d)")
    val withR = p.factors.zipWithIndex.foldLeft(
        joined.withColumn("__raw_rel", abs(col("__p") - anchor) / anchorDiv)) {
      case (d, (f, i)) =>
        val cand = col("__p") * f
        d.withColumn(s"__r${i + 1}",
          when(cand >= p.lowPr && cand <= p.highPr, abs(cand - anchor) / anchorDiv))
    }
    val rCols = p.factors.indices.map(i => col(s"__r${i + 1}"))
    val withBest = withR
      .withColumn("__best_rel", least(rCols: _*))
      // reverse-order chains so EARLIER factors take precedence on ties
      .withColumn("__best_price",
        p.factors.zipWithIndex.reverse.foldLeft(lit(null).cast("double")) {
          case (acc, (f, i)) =>
            when(col(s"__r${i + 1}") === col("__best_rel"), col("__p") * f)
              .otherwise(acc)
        })
    val absGood = abs(col("__best_price") - anchor) <= p.tolAbsGood + eps
    val parOk =
      if (p.parSnap)
        abs(anchor - 100.0) <= p.parBand &&
          abs(col("__best_price") - 100.0) <= p.parBand
      else lit(false)
    val flag = (col("__raw_rel") > p.tolPctBad - eps) &&
      ((col("__best_rel") <= p.tolPctGood + eps) || absGood || parOk) &&
      (col("__best_rel") <= col("__raw_rel") * p.improvementFrac + eps)
    val bestFactor = p.factors.zipWithIndex.reverse
      .foldLeft(lit(null).cast("double")) { case (acc, (f, i)) =>
        when(col(s"__r${i + 1}") === col("__best_rel"), lit(f)).otherwise(acc)
      }
    withBest
      .withColumn("dec_shift_flag", when(flag, 1).otherwise(0))
      .withColumn("dec_shift_factor",
        when(col("dec_shift_flag") === 1, bestFactor).otherwise(1.0))
      .withColumn("suggested_price",
        when(col("dec_shift_flag") === 1, col("__best_price"))
          .otherwise(col("__p")))
      .drop("__p", "__raw_rel", "__best_rel", "__best_price")
      .drop(p.factors.indices.map(i => s"__r${i + 1}"): _*)
  }

  /** One input row of the secondary-sort scan: (id, ord, price). */
  final case class ScanRow(id: Long, ord: Long, price: Double)

  /** Output: (id, ord, filtered_error). */
  final case class Flag(id: Long, ord: Long, filtered_error: Int)

  /** Bounce-back flags as a repartition by id, a partition-local sort by
    * (id, ord) and a streamed scan that buffers one id-group at a time. */
  def groupScanFlags(df: DataFrame, p: BounceBack.Params): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val rows = df.select(
      col("id").cast("long").as("id"),
      col("ord").cast("long").as("ord"),
      col("price").cast("double").as("price")).as[ScanRow]
    val out: Dataset[Flag] = rows
      .repartition(col("id"))
      .sortWithinPartitions(col("id"), col("ord"))
      .mapPartitions(it => groupScanIterator(it, p))
    out.toDF()
  }

  private def groupScanIterator(it: Iterator[ScanRow], p: BounceBack.Params): Iterator[Flag] =
    new Iterator[Flag] {
      private val in = it.buffered
      private var pending: Iterator[Flag] = Iterator.empty
      def hasNext: Boolean = pending.hasNext || in.hasNext
      def next(): Flag = {
        if (!pending.hasNext) {
          val id = in.head.id
          val grp = scala.collection.mutable.ArrayBuffer.empty[ScanRow]
          while (in.hasNext && in.head.id == id)
            grp += in.next()
          val flags = BounceBack.scanGroup(grp.map(_.price).toArray, p)
          pending = grp.indices.iterator.map(k => Flag(id, grp(k).ord, flags(k)))
        }
        pending.next()
      }
    }
}
