package graft.queries

import graft.agg.DailyMetrics
import graft.clean.Stage0
import graft.operators.SeqMatch
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The flagship Stage-0-shaped pipeline (SURVEY.md §3.1) over the synthetic
  * trade view: Dick-Nielsen-style cancel/reversal/agency cleaning (J3/J7/
  * J9) → decimal-shift correction (W7) → bounce-back error filter (W8) →
  * daily panel aggregation (A1–A3).
  *
  * The chunk loop of the reference disappears entirely: the whole chain is
  * ONE lazy DataFrame DAG with two shuffles, no barrier and no join:
  *  - ONE id-shuffle into [[Stage0]]'s sorted pass per bond, which cleans,
  *    corrects and flags every row in one kernel;
  *  - the final (id, dt) hash aggregation.
  * Over a source bucketed by id the pass needs no exchange
  * (`BucketedTradesSpec`).
  */
object QTracePipeline extends Registry {

  import org.apache.spark.sql.expressions.Window

  /** The columns the Stage-0 pass and its consumers read: a typed grouped
    * operator stops Catalyst's column pruning, so dead columns (`ts`, the
    * raw `dvol`) are cut before it. */
  private val stage0Cols =
    Seq("id", "dt", "ord", "secs", "price", "qty", "side", "contra", "trc_st")

  /** Every Dick-Nielsen survivor of any trades-shaped frame, with its
    * decimal-shift columns and `filtered_error`, from ONE sorted pass per
    * bond. `price` stays the cleaned input price. */
  private[graft] def flaggedFrom(tr: DataFrame): DataFrame =
    Stage0.pass(tr.select(stage0Cols.map(col): _*), Stage0.Steps.all)

  /** Memoized flagged rows — the six memo-served `tp_*`/`s4` queries each
    * re-run the pass otherwise (Spark has no plan-subtree sharing). */
  private def flagged(s: SparkSession, d: String): DataFrame =
    graft.Caches.memo(s, s"tp_stage0:$d") {
      graft.Caches.barrier(flaggedFrom(Trades.df(s, d)))
    }

  /** Price re-entered as decimal(18,3) from the suggestion (corrections
    * are price×{0.1,0.01,10,100} of a 2dp price → true 3dp values, so the
    * cast is exact) with dvol recomputed from it. */
  private def correctedOf(rows: DataFrame): DataFrame =
    rows.withColumn("price", col("suggested_price").cast("decimal(18,3)"))
      // (18,5) keeps price*dvol at precision 37 — exact in both engines
      // (Spark clamps precision-38 overflow by dropping scale digits)
      .withColumn("dvol", (col("price") * col("qty")).cast("decimal(18,5)"))

  /** The cleaned + corrected rows of the memo (no bounce-back filter). */
  private[queries] def corrected(s: SparkSession, d: String): DataFrame =
    correctedOf(flagged(s, d))

  /** Dick-Nielsen cleaning alone over the plain scan — [[graft.Plans]]
    * explains it for the exchange-count evidence. */
  private[graft] def cleanedDag(s: SparkSession, d: String): DataFrame =
    cleanedDagFrom(Trades.df(s, d))

  /** The Dick-Nielsen survivors of any trades-shaped frame, all input
    * columns kept: the Stage-0 pass running only the cleaning. */
  private[graft] def cleanedDagFrom(tr: DataFrame): DataFrame =
    Stage0.pass(tr, Stage0.Steps(dickNielsen = true, shift = false, bounce = false))

  /** Decimal-shift correction alone over any cleaned frame: the Stage-0
    * pass running only the shift, then price and dvol as in production. */
  private[graft] def correctedDag(base: DataFrame): DataFrame =
    correctedOf(Stage0.pass(base,
        Stage0.Steps(dickNielsen = false, shift = true, bounce = false)))
      .drop("dec_shift_flag", "dec_shift_factor", "suggested_price", "anchor_price")

  /** One Stage-0 query over flagged rows (the output of [[flaggedFrom]]) —
    * the registry runs them over the memo (`tp_full_panel` over the lazy
    * pass), `BucketedTradesSpec` over re-laid-out sources. */
  private[graft] def overFlagged(name: String, rows: DataFrame): DataFrame =
    name match {
      case "tp_clean_chain" =>
        rows.select(col("id"), col("ord"), col("price").cast("double").as("price"))
      case "tp_decimal_shift" =>
        rows.select(col("id"), col("ord"), col("dec_shift_flag"),
          col("dec_shift_factor"), col("suggested_price"), col("anchor_price"))
      case "tp_daily_panel" => DailyMetrics.panel(correctedOf(rows), sumScale = 8)
      case "tp_full_panel" =>
        DailyMetrics.panel(correctedOf(rows.filter(col("filtered_error") === 0)),
          sumScale = 8)
      case "tp_bounceback_flags" =>
        rows.filter(col("filtered_error") === 1)
          .select(col("id"), col("ord"), col("filtered_error"))
      case "tp_error_replay" =>
        val win = Window.partitionBy(col("id")).orderBy(col("ord"))
        val wAll = Window.partitionBy(col("id"))
        correctedOf(rows)
          .withColumn("price_flag",
            when(col("price") < 5 || col("price") > 300, 1).otherwise(0))
          .withColumn("qty_flag",
            when(col("qty") > 90, 1).otherwise(0))
          .withColumn("rn", row_number().over(win))
          .withColumn("jump",
            abs(col("price") - lag(col("price"), 1).over(win))
              .cast("double") > 50 && col("rn") <= 3)
          .withColumn("fj", min(when(col("jump"), col("rn"))).over(wAll))
          .withColumn("initial_error_flag",
            when(col("rn") < coalesce(col("fj"), lit(0)), 1).otherwise(0))
          .select(col("id"), col("ord"), col("price_flag"), col("qty_flag"),
            col("dec_shift_flag"), col("filtered_error").as("bounce_flag"),
            col("initial_error_flag"))
    }

  /** Full pipeline incl. the bounce-back filter — the driver's `entry`:
    * the pass, `filtered_error = 0`, the dvol projection, the panel. */
  def dailyPanel(spark: SparkSession, sfDir: String): DataFrame =
    overFlagged("tp_full_panel", flaggedFrom(Trades.df(spark, sfDir)))

  // ---- oracle SQL mirrors -------------------------------------------

  /** CTE chain `tr` → `tr3` mirroring cancel/reversal/agency cleaning. */
  private val cleanSql: String =
    s"""tr AS (${Trades.sql}),
       x AS (SELECT DISTINCT id, dt, price, qty FROM tr WHERE trc_st = 'X'),
       tr1 AS (SELECT t.* FROM tr t WHERE t.trc_st = 'T' AND NOT EXISTS (
                 SELECT 1 FROM x WHERE x.id = t.id AND x.dt = t.dt
                   AND x.price = t.price AND x.qty = t.qty)),
       rseq AS (SELECT id, dt, side,
                  row_number() OVER (PARTITION BY id, dt, side ORDER BY ord) AS seq
                FROM tr WHERE trc_st = 'R'),
       t1s AS (SELECT *,
                 row_number() OVER (PARTITION BY id, dt, side ORDER BY ord) AS seq
               FROM tr1),
       tr2 AS (SELECT id, dt, ts, ord, secs, price, qty, dvol, side, contra
               FROM t1s t WHERE NOT EXISTS (
                 SELECT 1 FROM rseq r WHERE r.id = t.id AND r.dt = t.dt
                   AND r.side = t.side AND r.seq = t.seq)),
       sells AS (SELECT * FROM tr2 WHERE contra = 'D' AND side = 'S'),
       tr3 AS (SELECT * FROM tr2 WHERE contra = 'C'
               UNION ALL
               SELECT * FROM sells
               UNION ALL
               SELECT b.* FROM tr2 b WHERE b.contra = 'D' AND b.side = 'B'
                 AND NOT EXISTS (SELECT 1 FROM sells s WHERE s.id = b.id
                   AND s.dt = b.dt AND s.price = b.price AND s.qty = b.qty))"""

  /** median of a sorted DuckDB list */
  private def dmed(a: String): String =
    s"""(CASE WHEN $a IS NULL OR len($a) = 0 THEN NULL
         WHEN len($a) % 2 = 1 THEN $a[len($a) // 2 + 1]
         ELSE ($a[len($a) // 2] + $a[len($a) // 2 + 1]) / 2 END)"""

  /** CTE chain `tr3` → `ds` adding dec_shift columns (mirrors
    * [[DecimalShift.withSuggestions]] with default params).
    */
  private val shiftSql: String = {
    val fr = "PARTITION BY id ORDER BY dt, ord"
    def rel(i: Int, f: String) =
      s"""CASE WHEN p * $f >= 5.0e0 AND p * $f <= 300.0e0
           THEN abs(p * $f - anchor) / anchor END AS r$i"""
    s"""workd AS (SELECT id, dt, ord, price, CAST(price AS DOUBLE) AS p,
                    row_number() OVER (PARTITION BY id, dt, price ORDER BY ord) AS rn
                  FROM tr3),
       work AS (SELECT id, dt, ord, price, p FROM workd WHERE rn = 1),
       meds AS (SELECT id, dt, price,
                  list_sort(list(p) OVER ($fr ROWS BETWEEN 5 PRECEDING AND 5 FOLLOWING)) AS ac,
                  list_sort(list(p) OVER ($fr ROWS BETWEEN CURRENT ROW AND 5 FOLLOWING)) AS af,
                  list_sort(list(p) OVER ($fr ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)) AS ab
                FROM work),
       anch AS (SELECT id, dt, price,
                  coalesce(CASE WHEN len(ac) >= 6 THEN ${dmed("ac")} END,
                           ${dmed("af")}, ${dmed("ab")}) AS anchor
                FROM meds),
       dsj AS (SELECT t.*, CAST(t.price AS DOUBLE) AS p, a.anchor
               FROM tr3 t LEFT JOIN anch a
                 ON t.id = a.id AND t.dt = a.dt AND t.price = a.price),
       dsr AS (SELECT *, abs(p - anchor) / anchor AS raw_rel,
                 ${rel(1, "0.1e0")}, ${rel(2, "0.01e0")},
                 ${rel(3, "10.0e0")}, ${rel(4, "100.0e0")}
               FROM dsj),
       dsb AS (SELECT *, least(r1, r2, r3, r4) AS best_rel,
                 CASE WHEN r1 IS NOT NULL AND r1 = least(r1, r2, r3, r4) THEN p * 0.1e0
                      WHEN r2 IS NOT NULL AND r2 = least(r1, r2, r3, r4) THEN p * 0.01e0
                      WHEN r3 IS NOT NULL AND r3 = least(r1, r2, r3, r4) THEN p * 10.0e0
                      ELSE p * 100.0e0 END AS best_price
               FROM dsr),
       ds AS (SELECT *,
                CASE WHEN raw_rel > 0.05e0 - 1e-12 AND best_rel IS NOT NULL
                       AND (best_rel <= 0.02e0 + 1e-12
                            OR abs(best_price - anchor) <= 8.0e0 + 1e-12
                            OR (abs(anchor - 100.0e0) <= 15.0e0
                                AND abs(best_price - 100.0e0) <= 15.0e0))
                       AND best_rel <= raw_rel * 0.2e0 + 1e-12
                     THEN 1 ELSE 0 END AS dec_shift_flag
              FROM dsb)"""
  }

  /** `ds` → corrected trade rows with price decimal(18,3), dvol rebuilt. */
  private val correctedSql: String =
    """corrected AS (
         SELECT id, dt, ts, ord, secs,
                CAST(CASE WHEN dec_shift_flag = 1 THEN best_price ELSE p END
                     AS DECIMAL(18,3)) AS price,
                qty, side, contra
         FROM ds),
       ctr AS (SELECT id, dt, ts, ord, secs, price, qty,
                      CAST(price * qty AS DECIMAL(18,5)) AS dvol,
                      side, contra
               FROM corrected)"""

  /** `ctr` → flagged (id, ord) rows: a DuckDB `WITH RECURSIVE` port of the
    * bounce-back scan ([[BounceBack.scanGroup]], defaults from Params).
    *
    * Each id's price series becomes a LIST; the recursion advances the
    * cursor `i` exactly like the Scala loop (skip-during-cooldown, candidate
    * detection, first-match lookahead, blame reassignment, plateau/par-run
    * flagging, cooldown), accumulating flagged 0-based indexes in `fl`. One
    * row per id survives with `i >= m`; its indexes join back to ords.
    * Constants: thrLo = 35−1 = 34, backTol = 0.25·35 = 8.75, lookahead =
    * maxSpan = 5, baseline window = 6, reassign margin = 5, par level 100
    * (tol 1e-8, min run 3, cooldown 2), eps = 1e-12 — every comparison is
    * plain IEEE arithmetic, so it matches the Scala scan bit-for-bit.
    */
  private val bounceSql: String = {
    val slI = "list_sort(list_distinct(arr[greatest(0, i - 6) + 1 : i]))"
    val slP = "list_sort(list_distinct(arr[greatest(0, i - 7) + 1 : i - 1]))"
    s"""bb AS (SELECT id, ord, CAST(price AS DOUBLE) AS p FROM ctr),
       bg AS (SELECT id, list(p ORDER BY ord) AS arr,
                     list(ord ORDER BY ord) AS ords,
                     CAST(count(*) AS BIGINT) AS m
              FROM bb GROUP BY id),
       walk AS (
         SELECT id, CAST(0 AS BIGINT) AS i, CAST(-1 AS BIGINT) AS cd,
                CAST([] AS BIGINT[]) AS fl
         FROM bg
         UNION ALL
         SELECT id,
           CASE WHEN brd THEN stopat + 1
                WHEN bre THEN runend + 1 ELSE i + 1 END AS i,
           CASE WHEN brd AND condpar THEN greatest(cd, stopat + 2)
                WHEN bre THEN greatest(cd, runend + 2) ELSE cd END AS cd,
           CASE WHEN brd THEN list_concat(fl, list_concat(startflag, plateau))
                WHEN bre THEN list_concat(fl, parrun) ELSE fl END AS fl
         FROM (
          SELECT *,
            (NOT skippar AND cand AND NOT paronly AND stopat IS NOT NULL) AS brd,
            (NOT skippar AND condpar AND (paronly OR stopat IS NULL)
              AND runlen >= 3) AS bre,
            CASE WHEN stopat IS NULL THEN CAST([] AS BIGINT[])
                 WHEN condpar THEN list_filter(
                   generate_series(flagstart + 1, spanend),
                   k -> abs(arr[k + 1] - 100.0e0) <= 1e-8)
                 ELSE generate_series(flagstart + 1,
                   coalesce(list_filter(generate_series(flagstart + 1, spanend),
                     k -> NOT (bstart IS NOT NULL
                               AND abs(arr[k + 1] - bstart) >= 8.75e0 - 1e-12))[1] - 1,
                     spanend)) END AS plateau,
            CASE WHEN runlen >= 3 THEN generate_series(i, runend)
                 ELSE CAST([] AS BIGINT[]) END AS parrun
          FROM (
           SELECT *,
             (condpar AND NOT condjump) AS paronly,
             (condjump OR condfar OR condpar) AS cand,
             CASE WHEN flagstart = i THEN b_i ELSE b_prev END AS bstart,
             least(stopat, flagstart + 5) AS spanend,
             runend - i + 1 AS runlen,
             CASE WHEN NOT condpar OR abs(arr[flagstart + 1] - 100.0e0) <= 1e-8
                  THEN [flagstart] ELSE CAST([] AS BIGINT[]) END AS startflag
           FROM (
            SELECT *,
              (i <= cd AND abs(p_i - 100.0e0) > 1e-8) AS skippar,
              (d_i IS NOT NULL AND abs(d_i) >= 34.0e0 - 1e-12) AS condjump,
              (b_i IS NOT NULL AND abs(p_i - b_i) >= 34.0e0 - 1e-12) AS condfar,
              (abs(p_i - 100.0e0) <= 1e-8 AND b_i IS NOT NULL
                AND abs(p_i - b_i) >= 8.75e0 - 1e-12) AS condpar,
              list_filter(generate_series(i + 1, least(m - 1, i + 5)),
                j -> (d_i IS NOT NULL
                      AND sign(arr[j + 1] - arr[j]) = -sign(d_i)
                      AND abs(arr[j + 1] - arr[j]) >= 34.0e0 - 1e-12)
                  OR (b_i IS NOT NULL
                      AND abs(arr[j + 1] - b_i) <= 8.75e0 + 1e-12))[1] AS stopat,
              CASE WHEN i >= 1 AND b_prev IS NOT NULL AND b_i IS NOT NULL
                     AND abs(arr[i] - b_prev) - abs(p_i - b_i) >= 5.0e0 - 1e-12
                     AND abs(arr[i] - b_prev) >= 8.75e0 - 1e-12
                   THEN i - 1 ELSE i END AS flagstart,
              coalesce(list_filter(generate_series(i + 1, m - 1),
                k -> abs(arr[k + 1] - 100.0e0) > 1e-8)[1] - 1, m - 1) AS runend
            FROM (
             SELECT *, ${dmed("sl_i")} AS b_i, ${dmed("sl_prev")} AS b_prev
             FROM (
              SELECT w.id, w.i, w.cd, w.fl, bg.arr, bg.m,
                     arr[w.i + 1] AS p_i,
                     CASE WHEN w.i = 0 THEN NULL
                          ELSE arr[w.i + 1] - arr[w.i] END AS d_i,
                     $slI AS sl_i, $slP AS sl_prev
              FROM walk w JOIN bg USING (id) WHERE w.i < bg.m) la) lb) lc) ld) le
       ),
       bdone AS (SELECT w.id, w.fl FROM walk w JOIN bg USING (id)
                 WHERE w.i >= bg.m),
       bflags AS (SELECT DISTINCT id, idx FROM
                  (SELECT id, unnest(fl) AS idx FROM bdone) u)"""
  }

  /** The A1–A3 daily-panel aggregate (mirrors [[DailyMetrics.panel]] with
    * sumScale = 8) over any relation with the ctr column set.
    */
  private def panelSql(src: String): String =
    s"""SELECT id, dt,
                CAST(sum(CAST(price AS DECIMAL(38,8))) AS DOUBLE) / count(*) AS prc_ew,
                CAST(sum(CAST(price * dvol AS DECIMAL(38,8))) AS DOUBLE)
                      / nullif(CAST(sum(CAST(dvol AS DECIMAL(38,8))) AS DOUBLE), 0.0) AS prc_vw,
                CAST(sum(CAST(price * qty AS DECIMAL(38,8))) AS DOUBLE)
                      / nullif(CAST(sum(CAST(qty AS DECIMAL(38,8))) AS DOUBLE), 0.0) AS prc_vw_par,
                CAST(arg_min(price, ord) AS DOUBLE) AS prc_first,
                CAST(arg_max(price, ord) AS DOUBLE) AS prc_last,
                CAST(max(price) AS DOUBLE) AS prc_hi,
                CAST(min(price) AS DOUBLE) AS prc_lo,
                count(*) AS trade_count,
                CAST(CAST(sum(CAST(qty AS DECIMAL(28,8))) AS DECIMAL(28,8)) * 0.000001 AS DOUBLE) AS qvolume,
                CAST(CAST(sum(CAST(dvol AS DECIMAL(28,8))) AS DECIMAL(28,8)) * 0.000001 AS DOUBLE) AS dvolume,
                CAST(sum(CAST(price * dvol AS DECIMAL(38,8))) FILTER (WHERE side = 'B' AND contra = 'C') AS DOUBLE)
                      / nullif(CAST(sum(CAST(dvol AS DECIMAL(38,8))) FILTER (WHERE side = 'B' AND contra = 'C') AS DOUBLE), 0.0) AS prc_bid,
                CAST(arg_max(price, ord) FILTER (WHERE side = 'B' AND contra = 'C') AS DOUBLE) AS bid_last,
                count(*) FILTER (WHERE side = 'B' AND contra = 'C') AS bid_count,
                CAST(sum(CAST(price * dvol AS DECIMAL(38,8))) FILTER (WHERE side = 'S' AND contra = 'C') AS DOUBLE)
                      / nullif(CAST(sum(CAST(dvol AS DECIMAL(38,8))) FILTER (WHERE side = 'S' AND contra = 'C') AS DOUBLE), 0.0) AS prc_ask,
                count(*) FILTER (WHERE side = 'S' AND contra = 'C') AS ask_count,
                CAST(sum(secs) AS DOUBLE) / count(*) AS time_ew,
                arg_max(secs, ord) AS time_last,
                CAST(sum(secs) FILTER (WHERE side = 'B' AND contra = 'C') AS DOUBLE)
                  / nullif(count(*) FILTER (WHERE side = 'B' AND contra = 'C'), 0) AS bid_time_ew,
                arg_max(secs, ord) FILTER (WHERE side = 'B' AND contra = 'C') AS bid_time_last
              FROM $src GROUP BY id, dt"""

  def qs: Seq[Q] = Seq(

    // J3+J7+J9 — the Dick-Nielsen-shaped cleaning chain end-to-end.
    Q("tp_clean_chain",
      (s, d) => overFlagged("tp_clean_chain", flagged(s, d)),
      Some(s"""WITH $cleanSql
              SELECT id, ord, CAST(price AS DOUBLE) AS price FROM tr3""")),

    // W7 — decimal-shift corrector: flags, factors, suggestions.
    Q("tp_decimal_shift",
      (s, d) => overFlagged("tp_decimal_shift", flagged(s, d)),
      Some(s"""WITH $cleanSql, $shiftSql
              SELECT id, ord, dec_shift_flag,
                     CASE WHEN dec_shift_flag = 1 THEN
                       CASE WHEN r1 IS NOT NULL AND r1 = best_rel THEN 0.1e0
                            WHEN r2 IS NOT NULL AND r2 = best_rel THEN 0.01e0
                            WHEN r3 IS NOT NULL AND r3 = best_rel THEN 10.0e0
                            ELSE 100.0e0 END
                     ELSE 1.0e0 END AS dec_shift_factor,
                     CASE WHEN dec_shift_flag = 1 THEN best_price ELSE p END AS suggested_price,
                     anchor AS anchor_price
              FROM ds""")),

    // A1–A3 over the cleaned+corrected rows — the oracled panel (the
    // bounce-back step is excluded here; it is validated by golden-vector
    // ScalaTests and exercised in the driver's entry()).
    Q("tp_daily_panel",
      (s, d) => overFlagged("tp_daily_panel", flagged(s, d)),
      Some(s"""WITH $cleanSql, $shiftSql, $correctedSql
              ${panelSql("ctr")}""")),

    // THE FLAGSHIP, oracled end-to-end: clean → decimal-shift → bounce-back
    // filter → daily panel — byte-identical to what the driver's `entry()`
    // returns, and the one tp_* query that runs the lazy pass instead of
    // the memo. The oracle composes every CTE fragment above and
    // anti-joins the recursively-scanned flags before aggregating.
    Q("tp_full_panel",
      (s, d) => dailyPanel(s, d),
      Some(s"""WITH RECURSIVE $cleanSql, $shiftSql, $correctedSql, $bounceSql,
              ford AS (SELECT f.id, bg.ords[f.idx + 1] AS ord
                       FROM bflags f JOIN bg USING (id)),
              kept AS (SELECT c.* FROM ctr c WHERE NOT EXISTS (
                         SELECT 1 FROM ford
                         WHERE ford.id = c.id AND ford.ord = c.ord))
              ${panelSql("kept")}""")),

    // FLAG-PRESERVING error_checks replay (stage0/create_daily_enhanced_
    // trace.py:2402-2780): the reference's inspection reports re-run the
    // whole filter chain with flags KEPT instead of rows dropped, so an
    // analyst can pull the per-flag row sets behind any ledger line. One
    // row per cleaned trade with every flag as a 0/1 column, in pipeline
    // order: F4/F5 screens (price band 5–300, qty ≤ 90 — evaluated on
    // the CORRECTED price, since W7 exists precisely so shifted prices
    // aren't wrongly screened), the W7 dec_shift flag, the W8 bounce
    // flag, the W9 initial-error flag. `ErrorReplaySpec` reconciles the
    // cascade counts derivable from this row set against
    // `AuditedFilter.ledger` on the same frame — flags and drops must
    // tell the same story. Scale shape: every flag but W9 is a column of
    // the memoized pass or a codegen fold over it; W9's id window is the
    // one exchange, and nothing joins.
    Q("tp_error_replay",
      (s, d) => overFlagged("tp_error_replay", flagged(s, d)),
      Some(s"""WITH RECURSIVE $cleanSql, $shiftSql, $correctedSql, $bounceSql,
              ford AS (SELECT f.id, bg.ords[f.idx + 1] AS ord
                       FROM bflags f JOIN bg USING (id)),
              ie AS (SELECT id, ord, rn,
                       min(CASE WHEN adiff > 50 AND rn <= 3 THEN rn END)
                         OVER (PARTITION BY id) AS fj
                     FROM (SELECT id, ord,
                             row_number() OVER (PARTITION BY id ORDER BY ord) AS rn,
                             CAST(abs(price - lag(price, 1)
                               OVER (PARTITION BY id ORDER BY ord)) AS DOUBLE) AS adiff
                           FROM ctr) a)
              SELECT c.id, c.ord,
                     CASE WHEN c.price < 5 OR c.price > 300 THEN 1 ELSE 0 END
                       AS price_flag,
                     CASE WHEN c.qty > 90 THEN 1 ELSE 0 END AS qty_flag,
                     dsx.dec_shift_flag,
                     CASE WHEN ford.ord IS NOT NULL THEN 1 ELSE 0 END
                       AS bounce_flag,
                     CASE WHEN ie.rn < coalesce(ie.fj, 0) THEN 1 ELSE 0 END
                       AS initial_error_flag
              FROM ctr c
              JOIN (SELECT id, ord, dec_shift_flag FROM ds) dsx
                ON dsx.id = c.id AND dsx.ord = c.ord
              LEFT JOIN ford ON ford.id = c.id AND ford.ord = c.ord
              JOIN ie ON ie.id = c.id AND ie.ord = c.ord""")),

    // The regime-split dispatch (stage0/create_daily_enhanced_trace.py:
    // 1519-1569): each chunk is split at the 2012-02-06 regime boundary
    // (synthetic stand-in: 2024-01-16) and DIFFERENT cleaning chains run on
    // each half before re-union — post-regime: composite-key cancel (J3
    // shape, window flag) + count-based reversal (J7 shape); pre-regime:
    // 7-key rpt_dt cancel anti (J5) → W-correction resolve-replace (J6) →
    // ordered sequence-match reversal (J7). One date predicate steers both
    // families; the union is by name, so Catalyst plans each branch
    // independently (both are single-id-shuffle chains).
    Q("tp_regime_dispatch",
      (s, d) => {
        val boundary = "2024-01-16"
        val tr = Trades.df(s, d)

        // -- post-regime half: window-flag J3 cancel + J7 count reversal --
        val post = tr.filter(col("dt") >= lit(boundary))
        val wKey = Window.partitionBy(col("id"), col("dt"), col("price"), col("qty"))
        val wSide = Window.partitionBy(col("id"), col("dt"), col("side"))
        val postClean = post
          .withColumn("__has_cancel",
            max(when(col("trc_st") === "X", 1)).over(wKey))
          .withColumn("__n_rev",
            count(when(col("trc_st") === "R", 1)).over(wSide))
          .filter(col("trc_st") === "T" && col("__has_cancel").isNull)
          .withColumn("__rn", row_number().over(wSide.orderBy(col("ord"))))
          .filter(col("__rn") > col("__n_rev"))
          .select(col("id"), col("ord"), col("price"))

        // -- pre-regime half: J5 cancel → J6 W-correction → J7 reversal --
        val pre = tr.filter(col("dt") < lit(boundary))
        val preT = pre.filter(col("trc_st") === "T")
          .withColumn("rpt_dt", expr("date_add(dt, CAST((ord div 10) % 3 AS INT))"))
        // even-ord X rows play the pre-regime CANCEL role (7-key incl.
        // rpt_dt, fields reconstructed from the ord-1 pointer as in J5)
        val cancels = pre.filter(col("trc_st") === "X" && col("ord") % 2 === 0)
          .select(col("id"), col("dt"),
            expr("date_add(dt, CAST(((ord - 1) div 10) % 3 AS INT))").as("rpt_dt"),
            expr("CAST((ord - 1) % 97 + 1 AS DECIMAL(18,2))").as("qty"),
            (col("ord") - 1).as("ord")).distinct()
        val afterCancel = preT
          .join(cancels, Seq("id", "dt", "rpt_dt", "qty", "ord"), "left_anti")
          .drop("rpt_dt")
        // odd-ord X rows play the W-CORRECTION role (pointer ord-1)
        val w = pre.filter(col("trc_st") === "X" && col("ord") % 2 === 1)
          .withColumn("orig_ord", col("ord") - 1)
        val survivors = afterCancel.join(
          w.select(col("id"), col("orig_ord").as("ord")).distinct(),
          Seq("id", "ord"), "left_anti")
        val replacements = graft.operators.Dedup.keepFirst(
            w.join(afterCancel.select(col("id"), col("ord").as("orig_ord"))
                .distinct(),
              Seq("id", "orig_ord"), "left_semi"),
            keys = Seq("id", "orig_ord"), order = Seq(col("ord")))
          .select(survivors.columns.map(col): _*)
        val merged = survivors.unionByName(replacements)
        val preClean = SeqMatch.antiBySequence(
            merged, pre.filter(col("trc_st") === "R"),
            keys = Seq("id", "dt", "side"),
            leftOrder = Seq(col("ord").asc), rightOrder = Seq(col("ord").asc))
          .select(col("id"), col("ord"), col("price"))

        postClean.withColumn("regime", lit("post"))
          .unionByName(preClean.withColumn("regime", lit("pre")))
          .select(col("id"), col("ord"),
            col("price").cast("double").as("price"), col("regime"))
      },
      Some(s"""WITH tr AS (${Trades.sql}),
              post AS (SELECT * FROM tr WHERE dt >= DATE '2024-01-16'),
              px AS (SELECT DISTINCT id, dt, price, qty FROM post WHERE trc_st = 'X'),
              pt1 AS (SELECT t.* FROM post t WHERE t.trc_st = 'T' AND NOT EXISTS (
                        SELECT 1 FROM px WHERE px.id = t.id AND px.dt = t.dt
                          AND px.price = t.price AND px.qty = t.qty)),
              prseq AS (SELECT id, dt, side,
                          row_number() OVER (PARTITION BY id, dt, side ORDER BY ord) AS seq
                        FROM post WHERE trc_st = 'R'),
              pt1s AS (SELECT *,
                         row_number() OVER (PARTITION BY id, dt, side ORDER BY ord) AS seq
                       FROM pt1),
              postc AS (SELECT id, ord, price FROM pt1s t WHERE NOT EXISTS (
                          SELECT 1 FROM prseq r WHERE r.id = t.id AND r.dt = t.dt
                            AND r.side = t.side AND r.seq = t.seq)),
              pre AS (SELECT * FROM tr WHERE dt < DATE '2024-01-16'),
              pret AS (SELECT *, dt + to_days(CAST((ord // 10) % 3 AS INT)) AS rpt_dt
                       FROM pre WHERE trc_st = 'T'),
              cxl AS (SELECT DISTINCT id, dt,
                             dt + to_days(CAST(((ord - 1) // 10) % 3 AS INT)) AS rpt_dt,
                             CAST((ord - 1) % 97 + 1 AS DECIMAL(18,2)) AS qty,
                             ord - 1 AS ord
                      FROM pre WHERE trc_st = 'X' AND ord % 2 = 0),
              ac AS (SELECT t.id, t.dt, t.ts, t.ord, t.secs, t.price, t.qty,
                            t.dvol, t.side, t.contra, t.trc_st
                     FROM pret t WHERE NOT EXISTS (
                       SELECT 1 FROM cxl c WHERE c.id = t.id AND c.dt = t.dt
                         AND c.rpt_dt = t.rpt_dt AND c.qty = t.qty AND c.ord = t.ord)),
              w AS (SELECT *, ord - 1 AS orig_ord
                    FROM pre WHERE trc_st = 'X' AND ord % 2 = 1),
              surv AS (SELECT * FROM ac WHERE NOT EXISTS (
                         SELECT 1 FROM w WHERE w.id = ac.id AND w.orig_ord = ac.ord)),
              repl AS (SELECT id, dt, ts, ord, secs, price, qty, dvol, side, contra, trc_st
                       FROM (SELECT w.*, row_number() OVER (PARTITION BY id, orig_ord
                               ORDER BY ord) AS rn
                             FROM w WHERE EXISTS (
                               SELECT 1 FROM ac WHERE ac.id = w.id AND ac.ord = w.orig_ord)) x
                       WHERE rn = 1),
              merged AS (SELECT * FROM surv UNION ALL SELECT * FROM repl),
              mseq AS (SELECT *,
                         row_number() OVER (PARTITION BY id, dt, side ORDER BY ord) AS seq
                       FROM merged),
              rre AS (SELECT id, dt, side,
                        row_number() OVER (PARTITION BY id, dt, side ORDER BY ord) AS seq
                      FROM pre WHERE trc_st = 'R'),
              prec AS (SELECT id, ord, price FROM mseq m WHERE NOT EXISTS (
                         SELECT 1 FROM rre r WHERE r.id = m.id AND r.dt = m.dt
                           AND r.side = m.side AND r.seq = m.seq))
              SELECT id, ord, CAST(price AS DOUBLE) AS price, 'post' AS regime FROM postc
              UNION ALL
              SELECT id, ord, CAST(price AS DOUBLE) AS price, 'pre' AS regime FROM prec""")),

    // W8 — bounce-back flags. The state machine is sequential per id, but
    // it IS a linear scan — so the DuckDB oracle walks it with a recursive
    // CTE over per-id price lists (bounceSql above); golden-vector specs in
    // BounceBackSpec additionally pin the reference's worked examples.
    Q("tp_bounceback_flags",
      (s, d) => overFlagged("tp_bounceback_flags", flagged(s, d)),
      Some(s"""WITH RECURSIVE $cleanSql, $shiftSql, $correctedSql, $bounceSql
              SELECT f.id, bg.ords[f.idx + 1] AS ord,
                     CAST(1 AS INT) AS filtered_error
              FROM bflags f JOIN bg USING (id)""")),

    // S4/S10 — the parquet(snappy) and CSV-gzip SINKS, driver-gated: the
    // oracled panel is pushed through BOTH sinks and re-read, and the
    // re-read frame must still hash-match the panel oracle
    // (stage0/create_daily_enhanced_trace.py:2838-2860 writes the same
    // artifact pair). Doubles survive CSV bit-exactly because Spark writes
    // Java shortest-repr strings and Double.parseDouble inverts them; the
    // CSV read uses the parquet schema (no inference nondeterminism).
    Q("s4_sink_roundtrip",
      (s, d) => {
        val panel = overFlagged("tp_daily_panel", flagged(s, d))
        // deterministic per-sfDir dir (graft.Scratch), NOT a fresh
        // createTempDirectory per invocation: bench reps / verify / plan
        // runs would otherwise each leave two full panel copies behind;
        // overwrite mode makes reruns land on the same files
        val dir = graft.Scratch.dirFor("s4_roundtrip", d)
        // coalesce(4): the panel is a ~100-bytes/row aggregate — writing it
        // as 32 near-empty files pays 8x the task/file overhead for zero
        // parallelism benefit. At fact-table scale keep the natural
        // partitioning (drop the coalesce); the sink itself is unchanged.
        panel.coalesce(4).write.mode("overwrite")
          .option("compression", "snappy").parquet(s"$dir/panel_parquet")
        val backP = s.read.parquet(s"$dir/panel_parquet")
        backP.coalesce(4).write.mode("overwrite")
          .option("compression", "gzip").option("header", "true")
          .csv(s"$dir/panel_csv")
        s.read.schema(backP.schema).option("header", "true")
          .csv(s"$dir/panel_csv")
      },
      Some(s"""WITH $cleanSql, $shiftSql, $correctedSql
              ${panelSql("ctr")}"""))
  )
}
