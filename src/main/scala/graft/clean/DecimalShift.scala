package graft.clean

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructType}

/** Decimal-shift price corrector (W7) — Spark restatement of the
  * reference's `decimal_shift_corrector`
  * (`stage0/create_daily_enhanced_trace.py:764-963`, params
  * `stage0/_trace_settings.py:53-66`).
  *
  * Anchors come from ONE sorted pass per id: the rows are grouped on the
  * id column and sorted by (dt, ord), and [[anchorsOf]] takes the rolling
  * ±window medians over the id's deduplicated print sequence with plain
  * arrays (the first print of each (dt, price) — the reference's
  * duplicate-print guard), then every input row leaves with its
  * representative's anchor. The factor search and the acceptance gates
  * stay column algebra: per-factor relative deviations, a first-match
  * CASE preserving the reference's first-strictly-better tie rule, and
  * one boolean gate expression.
  *
  * Scale: one shuffle on `id` for the grouped pass (none over a source
  * already partitioned by `id`), no join. The pass buffers one id's rows
  * at a time — the same bound as [[BounceBack]]'s per-id scan.
  */
object DecimalShift {

  final case class Params(
      factors: Seq[Double] = Seq(0.1, 0.01, 10.0, 100.0),
      tolPctGood: Double = 0.02,
      tolAbsGood: Double = 8.0,
      tolPctBad: Double = 0.05,
      lowPr: Double = 5.0,
      highPr: Double = 300.0,
      window: Int = 5,
      improvementFrac: Double = 0.2,
      parSnap: Boolean = true,
      parBand: Double = 15.0)

  private val eps = 1e-12

  /** Dedup key of a price within one (id, dt): Spark's key semantics for
    * doubles — -0.0 equals 0.0 and all NaNs are one value (boxed
    * `java.lang.Double.equals` already folds NaNs). A null price is its own
    * key. */
  private def priceKey(p: Any): AnyRef = p match {
    case null => None
    case d: Double => java.lang.Double.valueOf(if (d == 0.0) 0.0 else d)
  }

  /** Anchor of every print of one id, given in (dt, ord) order.
    *
    * Positions are the first print of each (dt, price); a null price takes
    * one position per dt but carries no value. A position's anchor is the
    * median of the values within ±w positions when there are at least w+1
    * of them, else the median of itself and the w positions after, else of
    * the w positions before and itself (pandas' interpolating median:
    * middle element or mean of the two middles). Every print takes its
    * position's anchor; a print with a null dt or price gets none.
    */
  private[clean] def anchorsOf(dts: Array[Any], prices: Array[Any],
      w: Int): Array[Any] = {
    val n = prices.length
    val posOf = new Array[Int](n)
    val value = new Array[Double](n)
    val hasValue = new Array[Boolean](n)
    val seen = new java.util.HashMap[AnyRef, Integer]()
    var m = 0
    var i = 0
    while (i < n) {
      if (i == 0 || dts(i) != dts(i - 1)) seen.clear()
      val key = priceKey(prices(i))
      val known = seen.get(key)
      if (known == null) {
        seen.put(key, m)
        prices(i) match {
          case d: Double => value(m) = d; hasValue(m) = true
          case _ =>
        }
        posOf(i) = m
        m += 1
      } else posOf(i) = known
      i += 1
    }

    val buf = new Array[Double](2 * w + 1)
    // median of the values at positions lo..hi, or null below `min` values;
    // primitive sort order (-0.0 before 0.0, NaN last) as `sort_array`
    def median(lo: Int, hi: Int, min: Int): Any = {
      var k = 0
      var j = math.max(lo, 0)
      while (j <= math.min(hi, m - 1)) {
        if (hasValue(j)) { buf(k) = value(j); k += 1 }
        j += 1
      }
      if (k < min) null
      else {
        java.util.Arrays.sort(buf, 0, k)
        if (k % 2 == 1) buf(k / 2) else (buf(k / 2 - 1) + buf(k / 2)) / 2
      }
    }
    val anchor = new Array[Any](m)
    var j = 0
    while (j < m) {
      if (hasValue(j)) {
        val c = median(j - w, j + w, w + 1)
        anchor(j) =
          if (c != null) c
          else {
            val f = median(j, j + w, 1)
            if (f != null) f else median(j - w, j, 1)
          }
      }
      j += 1
    }
    Array.tabulate(n)(i =>
      if (dts(i) == null || prices(i) == null) null else anchor(posOf(i)))
  }

  /** `df` plus `__p` (the price as double) and `anchor_price`, from one
    * grouped pass per id sorted by (dt, ord). Rows with a null id get no
    * anchor. */
  private def anchored(df: DataFrame, idCol: String, dtCol: String,
      ordCol: String, priceCol: String, w: Int): DataFrame = {
    val in = df.withColumn("__p", col(priceCol).cast("double"))
    val schema = in.schema
    val dtIdx = schema.fieldIndex(dtCol)
    val pIdx = schema.fieldIndex("__p")
    in.groupBy(col(idCol))
      .as[Row, Row](Encoders.row(StructType(Seq(schema(idCol)))),
        Encoders.row(schema))
      .flatMapSortedGroups(col(dtCol), col(ordCol)) { (key, it) =>
        val rows = it.toArray
        val anchors =
          if (key.isNullAt(0)) new Array[Any](rows.length)
          else anchorsOf(rows.map(_.get(dtIdx)), rows.map(_.get(pIdx)), w)
        rows.indices.iterator.map(i => Row.fromSeq(rows(i).toSeq :+ anchors(i)))
      }(Encoders.row(schema.add("anchor_price", DoubleType)))
      .toDF()
  }

  /** Adds `dec_shift_flag` (int), `dec_shift_factor`, `suggested_price`,
    * `anchor_price` to `df`. `ordCol` must be a total order within
    * (idCol, dtCol) — the reference's stable (date, time) sort.
    */
  def withSuggestions(
      df: DataFrame,
      idCol: String,
      dtCol: String,
      ordCol: String,
      priceCol: String,
      p: Params = Params()): DataFrame =
    suggest(anchored(df, idCol, dtCol, ordCol, priceCol, p.window), p)

  /** The factor search and acceptance gates over a frame carrying `__p`
    * (the price as double) and `anchor_price`; drops `__p`. */
  private[clean] def suggest(joined: DataFrame, p: Params): DataFrame = {
    val anchor = col("anchor_price")

    // Per-factor relative deviations as REAL COLUMNS, then least() + a
    // first-match CASE — semantically the "first strictly-better candidate
    // wins" rule of the reference, and exactly the r1..r4 formulation the
    // DuckDB oracle uses. (The previous Column-level foldLeft embedded the
    // accumulated tree twice per factor — exponential expression blowup
    // that pushed the generated projection past janino's 64 KB method
    // limit, silently dropping the whole stage out of codegen and paying
    // a multi-second doomed-compile on first run. Stacked withColumns stay
    // separate projections because each alias is non-cheap and
    // multiply-referenced, so codegen evaluates each once.)
    // nullif guard on the anchor: an all-zero print window would make the
    // median 0 — DuckDB's x/0 is NULL while Spark's ANSI mode throws, so
    // the NULL is made explicit (a null rel never passes the gates)
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

  /** Apply suggestions: overwrite `priceCol` (as double) where flagged. */
  def cleaned(
      df: DataFrame,
      idCol: String,
      dtCol: String,
      ordCol: String,
      priceCol: String,
      p: Params = Params()): DataFrame =
    withSuggestions(df, idCol, dtCol, ordCol, priceCol, p)
      .withColumn(priceCol, col("suggested_price"))
      .drop("dec_shift_flag", "dec_shift_factor", "suggested_price",
        "anchor_price")
}
