package graft.queries

import graft.Tables
import graft.operators.Quantiles
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The composed Stage-1 END-TO-END chain — the reference's flagship
  * deliverable (`stage1/stage1_pipeline.py:2978-3020` `run_all_steps`):
  * one entry point that takes raw trades to the enriched analytical
  * panel. Every stage is an operator that also has its own standalone
  * CORRECTNESS row; this chain is the composition, oracle-replayed stage
  * by stage in one DuckDB CTE pipeline (the `tx_corpus_build` pattern).
  *
  * Every step but the winsorize is keyed by bond, so all of them run
  * inside ONE `repartition(id)` of ONE `events` scan:
  *
  *   1. A12 panel stack + priority dedup: a trade in both stacked
  *      sources is the same row, so the stack is one filter
  *      (`trc_st <> 'X' OR side = 'S'`) and a `row_number` over (id, ord)
  *      collapses duplicate reports; F11's bond-type screen is
  *      `id % 19 <> 0` on the scan (it drops null ids, as the FISD inner
  *      join did)
  *   2. one per-(id, dt) aggregate over every row: the panel's count and
  *      VWAP over kept trades, the day's error flag, and the max-ord
  *      rating (purchase) and amount (click) with their ords
  *   3. one window per bond by dt: J14 callable (any error day of the
  *      bond, read before step 4 drops error-only days) and the J11 as-of
  *      ratings / amount-outstanding forward fill (steps 6 + the 739-759
  *      amount merge)
  *   4. days without a kept trade dropped; W10 anomaly + W14 first-change
  *      error flags (step8 detectors), then F12 final price filters
  *      (step9)
  *   5. FISD master terms (step4), X1 closed-form analytics and X2 curve
  *      spread (step5) as projections of `id`; the offering-amount
  *      coalesce fallback; J15 issuer->permno linker month-join (step7,
  *      a broadcast join)
  *   6. A8 cross-sectional winsorization (step10 table prep), the one
  *      `dt` exchange
  *
  * `Stage1Reference` (tests) keeps the stage-by-stage form this one must
  * hash-equal.
  */
object QStage1 extends Registry {

  /** The user-facing entry point: the enriched daily panel. */
  def enrichedPanel(s: SparkSession, d: String): DataFrame =
    enrichedFrom(Tables.events(s, d))

  /** The chain over an `events`-shaped frame. */
  def enrichedFrom(ev: DataFrame): DataFrame = {
    // 1 ── one scan, one id partitioning for every per-bond step
    val tr = Trades.of(ev, col("event_type"),
        col("value").cast("decimal(18,2)").cast("double").as("v"))
      .filter(col("id") % 19 =!= 0)
      .repartition(col("id"))
    // A12: a trade in both stacked sources is one row; of duplicate
    // (id, ord) reports the first under (stacked, dt, dvol) is kept, a
    // total order on everything a kept report contributes
    val stacked = col("trc_st") =!= "X" || col("side") === "S"
    val byOrd = Window.partitionBy(col("id"), col("ord"))
      .orderBy(not(stacked), col("dt"), col("dvol"))
    def ifKept(c: Column) = when(col("kept"), c)
    def ordOf(eventType: String) =
      when(col("event_type") === eventType, col("ord"))

    // 2 ── the per-(id, dt) aggregate: hash(id) already clusters (id, dt)
    val daily = tr
      .withColumn("kept", stacked && row_number().over(byOrd) === 1)
      .groupBy(col("id"), col("dt"))
      .agg(count(ifKept(lit(1))).as("trade_count"),
        (Tables.dsum4(ifKept(col("dvol"))) / Tables.dsum(ifKept(col("qty"))))
          .as("prc_vw"),
        max(when(col("event_type") === "error", 1).otherwise(0)).as("err"),
        max(ordOf("purchase")).as("r_ord"),
        max_by(col("v"), ordOf("purchase")).as("rating"),
        max(ordOf("click")).as("a_ord"),
        max_by(col("v"), ordOf("click")).as("amt_out"))

    // 3 ── callable + as-of fill. The fill carries the latest event DAY,
    // so a null value beats an older non-null one; a null date never
    // matches (the null-dt day sorts first and carries nothing)
    val byDay = Window.partitionBy(col("id")).orderBy(col("dt"))
    def fill(ord: String, value: String) =
      last(when(col(ord).isNotNull && col("dt").isNotNull, struct(col(value))),
          ignoreNulls = true)
        .over(byDay.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .getField(value).as(value)
    val filled = daily.select(col("id"), col("dt"), col("trade_count"),
      col("prc_vw"),
      max(col("err")).over(byDay.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)).as("callable"),
      fill("r_ord", "rating"), fill("a_ord", "amt_out"))

    // 4 ── panel days only; W10 anomaly (±5-row strictly-higher median)
    // + W14 first-change flags, then the F12 screens
    val arr =
      """sort_array(filter(collect_list(prc_vw) over
         (partition by id order by dt rows between 5 preceding and 5 following),
         x -> x > prc_vw))"""
    val screened = filled.filter(col("trade_count") > 0)
      .withColumn("hi_med", expr(
        s"""case when size($arr) = 0 then null
            when size($arr) % 2 = 1 then element_at($arr, cast(size($arr) div 2 + 1 as int))
            else (element_at($arr, cast(size($arr) div 2 as int))
                  + element_at($arr, cast(size($arr) div 2 + 1 as int))) / 2 end"""))
      .withColumn("anomaly",
        when(col("hi_med") / expr("nullif(prc_vw, 0.0d)") >= 3, 1).otherwise(0))
      .withColumn("rn", row_number().over(byDay))
      .withColumn("adiff", abs(col("prc_vw") - lag(col("prc_vw"), 1).over(byDay)))
      .withColumn("prc_dip",
        when(col("rn") === 2 && col("adiff") > 35, 1).otherwise(0))
      .filter(col("prc_vw") >= 5 && col("prc_vw") <= 1000 &&
        col("anomaly") === 0 && col("prc_dip") === 0)

    // 5 ── FISD terms, X1 analytics + X2 spread (the SAME closed-form
    // expression strings as the standalone x1/x2 rows), the linker
    val fisd = screened.selectExpr("*",
      "CASE id % 3 WHEN 0 THEN 1 WHEN 1 THEN 2 ELSE 4 END AS m",
      "2 + id % 9 AS years",
      "2.0e0 + (id % 13) / 2.0e0 AS c_pct",
      "(200 + id % 400) / 10000.0e0 AS y",
      "CAST((id % 997 + 1) * 1000 AS DOUBLE) AS offering_amt")
    val analytics = QBond.steps.foldLeft(fisd)(
        (df, st) => df.selectExpr("*" +: st: _*))
      .selectExpr("*",
        s"${QBond.macExpr} AS mac_dur",
        s"${QBond.macExpr} / (1.0e0 + i) AS mod_dur",
        "(cpn * (s2 + s1) / (m * m) + 100.0e0 * n * (n + 1) / (m * m) * vn) / (pv * (1.0e0 + i) * (1.0e0 + i)) AS convexity",
        "CAST(years AS DOUBLE) AS tenor")
      .selectExpr("*", s"${QBond.curveExpr} AS curve_y")
      .withColumn("credit_spread", col("y") - col("curve_y"))
      .withColumn("amt_filled", coalesce(col("amt_out"), col("offering_amt")))
      .withColumn("issuer6", col("id") % 31)
      .withColumn("yyyymm", date_format(col("dt"), "yyyyMM"))
      .join(broadcast(linker(ev)), Seq("issuer6", "yyyymm"), "left")

    // 6 ── A8 cross-sectional winsorization of the surviving panel
    Quantiles.winsorize(analytics,
        groups = Seq("dt"), valueCol = "prc_vw",
        tieBreak = Seq(col("id")),
        qLo = 0.005, qHi = 0.995, outCol = "prc_w")
      .select(col("id"), col("dt"), col("trade_count"), col("prc_vw"),
        col("prc_w"), col("y").as("ytm"), col("pv").as("prfull"),
        col("mac_dur"), col("mod_dur"), col("convexity"),
        col("credit_spread"), col("rating"), col("amt_filled"),
        col("callable"), col("permno"))
  }

  /** J15 issuer→permno monthly linker: the first permno per (issuer,
    * month), the last month carried three months forward. `obs` is
    * unique per (issuer6, month) and every carried month follows the
    * last, so the union needs no dedup. */
  private def linker(ev: DataFrame): DataFrame = {
    val obs = ev.filter(col("event_type") === "signup")
      .select((col("user_id") % 31).as("issuer6"),
        trunc(to_date(col("ts")), "MM").as("month_start"), col("user_id"))
      .groupBy(col("issuer6"), col("month_start"))
      .agg(min(col("user_id")).as("permno"))
    val lastMonth = obs.agg(max(col("month_start")).as("mx"))
    val ext = obs.join(broadcast(lastMonth), col("month_start") === col("mx"))
      .select(col("issuer6"), col("permno"),
        explode(array((1 to 3).map(i =>
          add_months(col("month_start"), i)): _*)).as("month_start"))
    obs.select("issuer6", "month_start", "permno")
      .unionByName(ext.select("issuer6", "month_start", "permno"))
      .select(col("issuer6"),
        date_format(col("month_start"), "yyyyMM").as("yyyymm"), col("permno"))
  }

  /** nested-select fold of QBond's step chain over a CTE name */
  private def foldSql(base: String, chain: Seq[Seq[String]]): String =
    chain.zipWithIndex.foldLeft(base) { case (acc, (st, ix)) =>
      s"(SELECT *, ${st.mkString(", ")} FROM $acc) s${ix + 1}"
    }

  private val oracle: String = {
    val analyticsFrom = foldSql("merged", QBond.steps)
    s"""WITH tr AS (${Trades.sql}),
        stacked AS (
          SELECT *, 1 AS src FROM tr WHERE trc_st <> 'X'
          UNION ALL
          SELECT *, 2 AS src FROM tr WHERE side = 'S'),
        dedup AS (
          SELECT * FROM (
            SELECT *, row_number() OVER (PARTITION BY id, ord ORDER BY src) AS drn
            FROM stacked) x WHERE drn = 1),
        panel AS (
          SELECT id, dt, count(*) AS trade_count,
                 CAST(sum(CAST(dvol AS DECIMAL(28,4))) AS DOUBLE)
                   / CAST(sum(CAST(qty AS DECIMAL(18,2))) AS DOUBLE) AS prc_vw
          FROM dedup GROUP BY id, dt),
        fisd AS (
          SELECT id,
                 CASE id % 3 WHEN 0 THEN 1 WHEN 1 THEN 2 ELSE 4 END AS m,
                 2 + id % 9 AS years,
                 2.0e0 + (id % 13) / 2.0e0 AS c_pct,
                 (200 + id % 400) / 10000.0e0 AS y,
                 CASE WHEN id % 19 = 0 THEN 'C' ELSE 'B' END AS bond_type,
                 CAST((id % 997 + 1) * 1000 AS DOUBLE) AS offering_amt
          FROM (SELECT DISTINCT id FROM tr)),
        merged AS (
          SELECT p.*, f.m, f.years, f.c_pct, f.y, f.bond_type, f.offering_amt
          FROM panel p JOIN fisd f USING (id) WHERE f.bond_type <> 'C'),
        analytics AS (
          SELECT *, ${QBond.macExpr} AS mac_dur,
                 ${QBond.macExpr} / (1.0e0 + i) AS mod_dur,
                 (cpn * (s2 + s1) / (m * m) + 100.0e0 * n * (n + 1) / (m * m) * vn) / (pv * (1.0e0 + i) * (1.0e0 + i)) AS convexity,
                 CAST(years AS DOUBLE) AS tenor
          FROM $analyticsFrom),
        withcurve AS (
          SELECT *, ${QBond.curveExpr} AS curve_y FROM analytics),
        spreads AS (
          SELECT *, y - curve_y AS credit_spread FROM withcurve),
        ratings AS (
          SELECT id, r_dt, rating FROM (
            SELECT user_id AS id, CAST(ts AS DATE) AS r_dt,
                   CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE) AS rating,
                   row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                     ORDER BY event_id DESC) AS rn
            FROM events WHERE event_type = 'purchase') x WHERE rn = 1),
        amounts AS (
          SELECT id, a_dt, amt_out FROM (
            SELECT user_id AS id, CAST(ts AS DATE) AS a_dt,
                   CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE) AS amt_out,
                   row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                     ORDER BY event_id DESC) AS rn
            FROM events WHERE event_type = 'click') x WHERE rn = 1),
        enriched AS (
          SELECT s.*, r.rating, a.amt_out,
                 coalesce(a.amt_out, s.offering_amt) AS amt_filled
          FROM spreads s
          ASOF LEFT JOIN ratings r ON r.id = s.id AND s.dt >= r.r_dt
          ASOF LEFT JOIN amounts a ON a.id = s.id AND s.dt >= a.a_dt),
        callable AS (
          SELECT DISTINCT user_id AS id, 1 AS callable
          FROM events WHERE event_type = 'error'),
        obs AS (
          SELECT user_id % 31 AS issuer6,
                 date_trunc('month', CAST(ts AS DATE)) AS month_start,
                 min(user_id) AS permno
          FROM events WHERE event_type = 'signup' GROUP BY 1, 2),
        mx AS (SELECT max(month_start) AS mx FROM obs),
        ext AS (
          SELECT issuer6, permno,
                 CAST(month_start + to_months(CAST(i AS INT)) AS DATE) AS month_start
          FROM obs, mx, generate_series(1, 3) g(i)
          WHERE obs.month_start = mx.mx),
        linker AS (
          SELECT issuer6, strftime(month_start, '%Y%m') AS yyyymm, permno
          FROM (
            SELECT *, row_number() OVER (PARTITION BY issuer6, month_start
                        ORDER BY permno) AS rn
            FROM (SELECT issuer6, month_start, permno FROM obs
                  UNION ALL
                  SELECT issuer6, month_start, permno FROM ext) u) x
          WHERE rn = 1),
        linked AS (
          SELECT a.*, coalesce(cb.callable, 0) AS callable, lk.permno
          FROM enriched a
          LEFT JOIN callable cb ON cb.id = a.id
          LEFT JOIN linker lk ON lk.issuer6 = a.id % 31
                             AND lk.yyyymm = strftime(a.dt, '%Y%m')),
        flagged AS (
          SELECT *,
                 CASE WHEN hi_med / nullif(prc_vw, 0.0e0) >= 3 THEN 1 ELSE 0 END AS anomaly,
                 CASE WHEN frn = 2 AND adiff > 35 THEN 1 ELSE 0 END AS prc_dip
          FROM (
            SELECT *,
                   CASE WHEN hiarr IS NULL OR len(hiarr) = 0 THEN NULL
                        WHEN len(hiarr) % 2 = 1 THEN hiarr[len(hiarr) // 2 + 1]
                        ELSE (hiarr[len(hiarr) // 2] + hiarr[len(hiarr) // 2 + 1]) / 2
                   END AS hi_med
            FROM (
              SELECT *,
                     list_sort(list_filter(list(prc_vw) OVER
                       (PARTITION BY id ORDER BY dt
                        ROWS BETWEEN 5 PRECEDING AND 5 FOLLOWING),
                       x -> x > prc_vw)) AS hiarr,
                     row_number() OVER (PARTITION BY id ORDER BY dt) AS frn,
                     abs(prc_vw - lag(prc_vw, 1) OVER
                       (PARTITION BY id ORDER BY dt)) AS adiff
              FROM linked) w1) w2),
        screened AS (
          SELECT * FROM flagged
          WHERE prc_vw >= 5 AND prc_vw <= 1000 AND anomaly = 0 AND prc_dip = 0),
        ranked AS (
          SELECT *,
                 row_number() OVER (PARTITION BY dt ORDER BY prc_vw, id) AS wrn,
                 count(*) OVER (PARTITION BY dt) AS wn
          FROM screened),
        bounds AS (
          SELECT *,
                 max(CASE WHEN wrn = greatest(1, CAST(ceil(0.005 * wn) AS BIGINT))
                          THEN prc_vw END) OVER (PARTITION BY dt) AS wlo,
                 max(CASE WHEN wrn = greatest(1, CAST(ceil(0.995 * wn) AS BIGINT))
                          THEN prc_vw END) OVER (PARTITION BY dt) AS whi
          FROM ranked)
        SELECT id, dt, trade_count, prc_vw,
               least(greatest(prc_vw, wlo), whi) AS prc_w,
               y AS ytm, pv AS prfull, mac_dur, mod_dur, convexity,
               credit_spread, rating, amt_filled, callable, permno
        FROM bounds"""
  }

  def qs: Seq[Q] = Seq(
    Q("tp_stage1_panel", (s, d) => enrichedPanel(s, d), Some(oracle)))
}
