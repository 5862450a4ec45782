package graft.clean

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bounce-back price-error filter (W8) — Spark port of the reference's
  * `flag_price_change_errors` state machine
  * (`stage0/create_daily_enhanced_trace.py:965-1221`, params
  * `stage0/_trace_settings.py:69-83`).
  *
  * The candidate/lookahead/blame-reassignment/plateau/cooldown logic is
  * irreducibly sequential per id (SURVEY.md §7.3), so it runs as a scan
  * over one id's prices in ord order inside [[Stage0]]'s sorted pass per
  * id — in production on the decimal-shift-corrected survivors of the
  * same pass, so no repartition, no flag frame and no join back.
  * `BounceBackSpec` keeps the repartition / secondary-sort wrapper this
  * replaced as its test-only reference. A pass buffers ONE id-group at a
  * time (bounded by the largest single id, not the partition).
  */
object BounceBack {

  final case class Params(
      thresholdAbs: Double = 35.0,
      lookahead: Int = 5,
      maxSpan: Int = 5,
      window: Int = 5,
      backToAnchorTol: Double = 0.25,
      candidateSlackAbs: Double = 1.0,
      reassignmentMarginAbs: Double = 5.0,
      parSpike: Boolean = true,
      parLevel: Double = 100.0,
      parEqualTol: Double = 1e-8,
      parMinRun: Int = 3,
      parCooldown: Int = 2)

  private val eps = 1e-12

  /** Returns (id, ord, filtered_error) rows: [[Stage0]]'s grouped pass per
    * id, sorted by ord, running only the bounce-back scan. */
  def flags(
      df: DataFrame,
      idCol: String,
      ordCol: String,
      priceCol: String,
      p: Params = Params()): DataFrame =
    Stage0.pass(
        df.select(
          col(idCol).cast("long").as("id"),
          col(ordCol).cast("long").as("ord"),
          col(priceCol).cast("double").as("price")),
        Stage0.Steps(dickNielsen = false, shift = false, bounce = true),
        bounceP = p)
      .select("id", "ord", "filtered_error")

  /** trailing unique median over the previous `win` rows ending at i-1
    * (the reference's rolling(window+1).apply(uniq_med).shift(1)).
    */
  private def baseline(prices: Array[Double], i: Int, win: Int): Double = {
    if (i == 0) return Double.NaN
    val lo = math.max(0, i - win)
    val distinct = prices.slice(lo, i).distinct.sorted
    val n = distinct.length
    if (n == 0) Double.NaN
    else if (n % 2 == 1) distinct(n / 2)
    else (distinct(n / 2 - 1) + distinct(n / 2)) / 2.0
  }

  /** The state machine over one id's prices in ord order; 1 marks a
    * flagged print. */
  private[clean] def scanGroup(P: Array[Double], p: Params): Array[Int] = {
    val m = P.length
    val D = Array.tabulate(m)(i => if (i == 0) Double.NaN else P(i) - P(i - 1))
    val B = Array.tabulate(m)(i => baseline(P, i, p.window + 1))
    val flagged = new Array[Int](m)

    val thrLo = math.max(0.0, p.thresholdAbs - p.candidateSlackAbs)
    val backTolAbs = p.backToAnchorTol * p.thresholdAbs
    var parCooldownUntil = -1
    var i = 0
    while (i < m) {
      var advanced = false
      if (i <= parCooldownUntil && math.abs(P(i) - p.parLevel) > p.parEqualTol) {
        i += 1
        advanced = true
      } else {
        val condJump = !D(i).isNaN && math.abs(D(i)) >= thrLo - eps
        val condFarPrev = !B(i).isNaN && math.abs(P(i) - B(i)) >= thrLo - eps
        val condPar = p.parSpike && !P(i).isNaN &&
          math.abs(P(i) - p.parLevel) <= p.parEqualTol &&
          !B(i).isNaN && math.abs(P(i) - B(i)) >= backTolAbs - eps
        val parOnly = condPar && !condJump

        if (condJump || condFarPrev || condPar) {
          val jLim = math.min(m - 1, i + p.lookahead)
          var jMatch = -1
          var kReturn = -1
          if (!parOnly) {
            var j = i + 1
            while (j <= jLim && jMatch < 0 && kReturn < 0) {
              if (!D(i).isNaN && !D(j).isNaN &&
                  math.signum(D(j)) == -math.signum(D(i)) &&
                  math.abs(D(j)) >= thrLo - eps) jMatch = j
              else if (!B(i).isNaN && math.abs(P(j) - B(i)) <= backTolAbs + eps)
                kReturn = j
              j += 1
            }
          }
          val parStart = condPar

          if (!parOnly && (jMatch >= 0 || kReturn >= 0)) {
            val stopAt = if (jMatch >= 0) jMatch else kReturn
            var flagStart = i
            // blame reassignment to the prior row
            if (i - 1 >= 0) {
              val devPrev =
                if (B(i - 1).isNaN) Double.NaN else math.abs(P(i - 1) - B(i - 1))
              val devCurr = if (B(i).isNaN) Double.NaN else math.abs(P(i) - B(i))
              if (!devPrev.isNaN && !devCurr.isNaN &&
                  devPrev - devCurr >= p.reassignmentMarginAbs - eps &&
                  devPrev >= backTolAbs - eps)
                flagStart = i - 1
            }
            if (!parStart || math.abs(P(flagStart) - p.parLevel) <= p.parEqualTol)
              flagged(flagStart) = 1
            // plateau extension
            val bStart = B(flagStart)
            val spanEnd = math.min(stopAt, flagStart + p.maxSpan)
            var k = flagStart + 1
            var break = false
            while (k <= spanEnd && !break) {
              if (parStart) {
                if (math.abs(P(k) - p.parLevel) <= p.parEqualTol) flagged(k) = 1
              } else if (!bStart.isNaN && math.abs(P(k) - bStart) >= backTolAbs - eps)
                flagged(k) = 1
              else break = true
              k += 1
            }
            if (parStart)
              parCooldownUntil = math.max(parCooldownUntil, stopAt + p.parCooldown)
            i = stopAt + 1
            advanced = true
          } else if (parStart) {
            // persistent par block needs run length >= parMinRun
            var runEnd = i
            while (runEnd + 1 < m &&
                math.abs(P(runEnd + 1) - p.parLevel) <= p.parEqualTol)
              runEnd += 1
            if (runEnd - i + 1 >= p.parMinRun) {
              var k = i
              while (k <= runEnd) { flagged(k) = 1; k += 1 }
              parCooldownUntil = math.max(parCooldownUntil, runEnd + p.parCooldown)
              i = runEnd + 1
              advanced = true
            }
          }
        }
      }
      if (!advanced) i += 1
    }
    flagged
  }
}
