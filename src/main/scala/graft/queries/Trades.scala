package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The synthetic "intraday trade reports" view: a deterministic mapping of
  * the `events` table onto the reference's trade-report shape
  * (FIXTURES.md §1.1) so every TRACE-style operator has a realistic input.
  *
  * `price`/`qty`/`dvol` are DECIMAL (exact) per the [[graft.agg.DailyMetrics]]
  * determinism contract; `ord` (= event_id) is a unique total order within
  * each (id, dt) group — the stand-in for the reference's canonical sort key
  * (cusip, dt, tm, rpt_dt, rpt_tm, msg_seq_nb).
  */
object Trades {

  def df(s: SparkSession, d: String): DataFrame = of(Tables.events(s, d))

  /** The mapping over any `events`-shaped frame; `carry` columns of `ev`
    * ride along after the trade columns. */
  def of(ev: DataFrame, carry: Column*): DataFrame =
    ev.select(Seq(
      col("user_id").as("id"),
      to_date(col("ts")).as("dt"),
      col("ts"),
      col("event_id").as("ord"),
      (hour(col("ts")) * 3600 + minute(col("ts")) * 60 + second(col("ts")))
        .as("secs"),
      col("value").cast("decimal(18,2)").as("price"),
      (col("event_id") % 97 + 1).cast("decimal(18,2)").as("qty"),
      (col("value").cast("decimal(18,2)") *
        (col("event_id") % 97 + 1).cast("decimal(18,2)")).as("dvol"),
      when(col("event_type").isin("purchase", "signup"), "S")
        .otherwise("B").as("side"),
      when(col("event_id") % 3 === 0, "D").otherwise("C").as("contra"),
      when(col("event_type") === "error", "X")
        .when(col("event_type") === "signup", "R")
        .otherwise("T").as("trc_st")) ++ carry: _*)

  /** Same mapping as ANSI SQL for DuckDB oracles (CTE body, table `events`). */
  val sql: String =
    """SELECT user_id AS id, CAST(ts AS DATE) AS dt, ts, event_id AS ord,
       CAST(extract(hour FROM ts) * 3600 + extract(minute FROM ts) * 60
            + extract(second FROM ts) AS INT) AS secs,
       CAST(value AS DECIMAL(18,2)) AS price,
       CAST(event_id % 97 + 1 AS DECIMAL(18,2)) AS qty,
       CAST(value AS DECIMAL(18,2)) * CAST(event_id % 97 + 1 AS DECIMAL(18,2)) AS dvol,
       CASE WHEN event_type IN ('purchase', 'signup') THEN 'S' ELSE 'B' END AS side,
       CASE WHEN event_id % 3 = 0 THEN 'D' ELSE 'C' END AS contra,
       CASE WHEN event_type = 'error' THEN 'X'
            WHEN event_type = 'signup' THEN 'R' ELSE 'T' END AS trc_st
       FROM events"""
}
