package graft.clean

import org.apache.spark.sql.DataFrame

/** Decimal-shift price corrector (W7) — Spark restatement of the
  * reference's `decimal_shift_corrector`
  * (`stage0/create_daily_enhanced_trace.py:764-963`, params
  * `stage0/_trace_settings.py:53-66`).
  *
  * It runs inside [[Stage0]]'s sorted pass per id, on the Dick-Nielsen
  * survivors in (dt, ord) order: [[anchorsOf]] takes the rolling ±window
  * medians over the id's deduplicated print sequence with plain arrays
  * (the first print of each (dt, price) — the reference's duplicate-print
  * guard), every row takes its representative's anchor, and [[gate]] runs
  * the factor search and acceptance gates per row as scalar code with the
  * semantics of the reference's column algebra (the first strictly-better
  * factor wins a tie). `DecimalShiftEquivalenceSpec` keeps the window and
  * column formulation as the test-only reference.
  *
  * Scale: one shuffle on `id` for the grouped pass (none over a source
  * already partitioned by `id`), no join. The pass buffers one id's rows
  * at a time.
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

  /** One row's shift: the flag, the factor, the suggested price and the
    * anchor it was judged against. */
  final case class Shift(flag: Int, factor: Any, price: Any, anchor: Any)

  /** Adds `dec_shift_flag` (int), `dec_shift_factor`, `suggested_price`,
    * `anchor_price` to `df`, from one [[Stage0]] pass per id sorted by
    * (dtCol, ordCol). `ordCol` must be a total order within (idCol,
    * dtCol) — the reference's stable (date, time) sort. Rows with a null
    * id get no anchor.
    */
  def withSuggestions(
      df: DataFrame,
      idCol: String,
      dtCol: String,
      ordCol: String,
      priceCol: String,
      p: Params = Params()): DataFrame =
    Stage0.pass(df, Stage0.Steps(dickNielsen = false, shift = true, bounce = false),
      idCol, dtCol, ordCol, priceCol, shiftP = p)

  /** Spark's ascending order on doubles: -0.0 equals 0.0, NaN above all. */
  private def cmp(a: Double, b: Double): Int = if (a == b) 0 else java.lang.Double.compare(a, b)

  /** The factor search and acceptance gates for one price (a double or
    * null) against its anchor (likewise), with the semantics of the
    * reference's column algebra as Spark evaluates it:
    *  - a zero anchor divides to null (`nullif(anchor, 0)`), and a
    *    comparison with a null operand is never true;
    *  - each factor's relative deviation counts only when the candidate
    *    lies in [lowPr, highPr]; the best is the first smallest
    *    (`least`), so an earlier factor wins a tie;
    *  - comparisons order NaN above every number, as Spark does.
    * The flag needs the raw deviation above `tolPctBad`, the best within
    * `tolPctGood`, `tolAbsGood` of the anchor or (with `parSnap`) both
    * within `parBand` of par, and an improvement to `improvementFrac` of
    * the raw deviation.
    */
  private[clean] def gate(price: Any, anchor: Any, p: Params): Shift =
    (price, anchor) match {
      case (x: Double, a: Double) if a != 0.0 =>
        val rawRel = math.abs(x - a) / a
        var best = -1
        var bestRel = 0.0
        var i = 0
        while (i < p.factors.length) {
          val cand = x * p.factors(i)
          if (cmp(cand, p.lowPr) >= 0 && cmp(cand, p.highPr) <= 0) {
            val rel = math.abs(cand - a) / a
            if (best < 0 || cmp(rel, bestRel) < 0) { best = i; bestRel = rel }
          }
          i += 1
        }
        val flag = best >= 0 && {
          val bestPrice = x * p.factors(best)
          cmp(rawRel, p.tolPctBad - eps) > 0 &&
          (cmp(bestRel, p.tolPctGood + eps) <= 0 ||
            cmp(math.abs(bestPrice - a), p.tolAbsGood + eps) <= 0 ||
            (p.parSnap && cmp(math.abs(a - 100.0), p.parBand) <= 0 &&
              cmp(math.abs(bestPrice - 100.0), p.parBand) <= 0)) &&
          cmp(bestRel, rawRel * p.improvementFrac + eps) <= 0
        }
        if (flag) Shift(1, p.factors(best), x * p.factors(best), a)
        else Shift(0, 1.0, x, a)
      case _ => Shift(0, 1.0, price, anchor)
    }
}
