package graft.queries

import graft.Tables
import graft.operators.{AsOfJoin, Dedup, Quantiles}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The Stage-1 chain in its stage-by-stage form, kept as the reference
  * [[QStage1.enrichedFrom]] must hash-equal (`Stage1EquivalenceSpec`):
  *
  *   1. panel stack (`trc_st <> 'X'` ∪ `side = 'S'`) + A12 priority dedup
  *      by (id, ord), then the per-(id, dt) aggregate
  *   2. FISD master as `distinct(id)` + broadcast join + F11 screen
  *   3. X1 closed-form bond analytics + X2 curve spread
  *   4. J11 as-of ratings and amount outstanding, two backward joins
  *   5. J14 callable flag (`distinct` + broadcast left join) + J15 linker
  *   6. W10 anomaly + W14 first-change flags
  *   7. F12 final screens
  *   8. A8 cross-sectional winsorization
  *
  * It reads `events` once per branch and shuffles by `id` once per step.
  */
object Stage1Reference {

  def enrichedFrom(ev: DataFrame): DataFrame = {
    val tr = Trades.of(ev)

    // 1 ── stack two overlapping panel sources, A12 priority dedup:
    // the richer source (src=1) wins where both carry the same trade
    val stacked = tr.filter(col("trc_st") =!= "X").withColumn("src", lit(1))
      .unionByName(tr.filter(col("side") === "S").withColumn("src", lit(2)))
    val panel = Dedup.keepFirst(stacked, keys = Seq("id", "ord"),
        order = Seq(col("src")))
      .groupBy(col("id"), col("dt"))
      .agg(count(lit(1)).as("trade_count"),
        (Tables.dsum4(col("dvol")) / Tables.dsum(col("qty"))).as("prc_vw"))

    // 2 ── FISD-style bond master (deterministic terms per id) + F11
    val fisd = tr.select(col("id")).distinct().selectExpr(
      "id",
      "CASE id % 3 WHEN 0 THEN 1 WHEN 1 THEN 2 ELSE 4 END AS m",
      "2 + id % 9 AS years",
      "2.0e0 + (id % 13) / 2.0e0 AS c_pct",
      "(200 + id % 400) / 10000.0e0 AS y",
      "CASE WHEN id % 19 = 0 THEN 'C' ELSE 'B' END AS bond_type",
      "CAST((id % 997 + 1) * 1000 AS DOUBLE) AS offering_amt")
    val merged = panel.join(broadcast(fisd), Seq("id"))
      .filter(col("bond_type") =!= "C")

    // 3 ── X1 analytics + X2 spread: the SAME closed-form expression
    // strings as the standalone x1/x2 rows (QBond.steps/curveExpr) —
    // bit-identical across engines, pure projection, no shuffle
    val analytics = QBond.steps.foldLeft(merged)(
        (df, st) => df.selectExpr("*" +: st: _*))
      .selectExpr("*",
        s"${QBond.macExpr} AS mac_dur",
        s"${QBond.macExpr} / (1.0e0 + i) AS mod_dur",
        "(cpn * (s2 + s1) / (m * m) + 100.0e0 * n * (n + 1) / (m * m) * vn) / (pv * (1.0e0 + i) * (1.0e0 + i)) AS convexity",
        "CAST(years AS DOUBLE) AS tenor")
      .selectExpr("*", s"${QBond.curveExpr} AS curve_y")
      .withColumn("credit_spread", col("y") - col("curve_y"))

    // 4 ── ratings + amount-outstanding as-of enrichment: two backward
    // joins, among equal dates the max-ord row's payload wins
    val ratings = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("id"), to_date(col("ts")).as("r_dt"),
        col("event_id").as("r_ord"),
        col("value").cast("decimal(18,2)").cast("double").as("rating"))
    val amounts = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("id"), to_date(col("ts")).as("a_dt"),
        col("event_id").as("a_ord"),
        col("value").cast("decimal(18,2)").cast("double").as("amt_out"))
    val asOf = AsOfJoin.backward(
        AsOfJoin.backward(analytics, ratings, Seq("id"), "dt", "r_dt",
          Seq("rating"), rightTieBreak = Seq("r_ord")),
        amounts, Seq("id"), "dt", "a_dt", Seq("amt_out"),
        rightTieBreak = Seq("a_ord"))
      .withColumn("amt_filled", coalesce(col("amt_out"), col("offering_amt")))

    // 5 ── J14 callable flag + J15 issuer→permno monthly linker
    val callable = ev.filter(col("event_type") === "error")
      .select(col("user_id").as("id")).distinct()
      .withColumn("callable", lit(1))
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
    val linker = Dedup.keepFirst(
        obs.select("issuer6", "month_start", "permno")
          .unionByName(ext.select("issuer6", "month_start", "permno")),
        keys = Seq("issuer6", "month_start"), order = Seq(col("permno")))
      .withColumn("yyyymm", date_format(col("month_start"), "yyyyMM"))
      .select("issuer6", "yyyymm", "permno")
    val linked = asOf
      .join(broadcast(callable), Seq("id"), "left")
      .withColumn("callable", coalesce(col("callable"), lit(0)))
      .withColumn("issuer6", col("id") % 31)
      .withColumn("yyyymm", date_format(col("dt"), "yyyyMM"))
      .join(broadcast(linker), Seq("issuer6", "yyyymm"), "left")

    // 6 ── W10 anomaly (±5-row strictly-higher median) + W14 first-change
    // flags over the panel: one exchange by id, shared sort by dt
    val arr =
      """sort_array(filter(collect_list(prc_vw) over
         (partition by id order by dt rows between 5 preceding and 5 following),
         x -> x > prc_vw))"""
    val win = Window.partitionBy(col("id")).orderBy(col("dt"))
    val flagged = linked
      .withColumn("hi_med", expr(
        s"""case when size($arr) = 0 then null
            when size($arr) % 2 = 1 then element_at($arr, cast(size($arr) div 2 + 1 as int))
            else (element_at($arr, cast(size($arr) div 2 as int))
                  + element_at($arr, cast(size($arr) div 2 + 1 as int))) / 2 end"""))
      .withColumn("anomaly",
        when(col("hi_med") / expr("nullif(prc_vw, 0.0d)") >= 3, 1).otherwise(0))
      .withColumn("rn", row_number().over(win))
      .withColumn("adiff", abs(col("prc_vw") - lag(col("prc_vw"), 1).over(win)))
      .withColumn("prc_dip",
        when(col("rn") === 2 && col("adiff") > 35, 1).otherwise(0))

    // 7 ── F12 final screens
    val screened = flagged.filter(
      col("prc_vw") >= 5 && col("prc_vw") <= 1000 &&
        col("anomaly") === 0 && col("prc_dip") === 0)

    // 8 ── A8 cross-sectional winsorization of the surviving panel
    Quantiles.winsorize(screened,
        groups = Seq("dt"), valueCol = "prc_vw",
        tieBreak = Seq(col("id")),
        qLo = 0.005, qHi = 0.995, outCol = "prc_w")
      .select(col("id"), col("dt"), col("trade_count"), col("prc_vw"),
        col("prc_w"), col("y").as("ytm"), col("pv").as("prfull"),
        col("mac_dur"), col("mod_dur"), col("convexity"),
        col("credit_spread"), col("rating"), col("amt_filled"),
        col("callable"), col("permno"))
  }
}
