package graft.queries

import graft.Tables
import graft.operators.SeqMatch
import org.apache.spark.sql.functions._

/** Join shapes from SURVEY.md §2.3, restated over the synthetic star schema.
  *
  * Scale notes: dimension sides (region/nation/ranges/month sequences) are
  * broadcast — no shuffle of the fact table; anti/semi joins keep composite
  * keys as real key tuples (never concatenated strings, unlike the
  * reference's merge-key concat at
  * `stage0/create_daily_enhanced_trace.py:1679-1695`), so Catalyst can pick
  * broadcast/shuffled-hash strategies and push the build side.
  */
object QJoins extends Registry {

  def qs: Seq[Q] = Seq(

    // J1 — issue ⋈ issuer shape: left equi join
    // (stage0/create_daily_enhanced_trace.py:2289).
    Q("j1_left_equi",
      (s, d) => {
        val n = Tables.nation(s, d)
        val r = Tables.region(s, d)
        n.join(broadcast(r), n("n_regionkey") === r("r_regionkey"), "left")
          .select(col("n_nationkey"), col("n_name"), col("r_name"))
      },
      Some("""SELECT n_nationkey, n_name, r_name
              FROM nation LEFT JOIN region ON n_regionkey = r_regionkey""")),

    // J2/F9 — fact ⋈ broadcast dim + theta predicate on joined columns
    // (stage0/create_daily_enhanced_trace.py:690-699: entrd_vol_qt <
    // offering_amt*1000*0.5 after the FISD offering join).
    Q("j2_broadcast_theta",
      (s, d) => {
        val li = Tables.lineitem(s, d)
        val p = Tables.part(s, d)
        li.join(broadcast(p), li("l_partkey") === p("p_partkey"), "left")
          .filter(col("l_extendedprice") < col("p_retailprice") * 30)
          .select(col("l_orderkey"), col("l_linenumber"),
            col("l_extendedprice"), col("p_retailprice"))
      },
      Some("""SELECT l_orderkey, l_linenumber, l_extendedprice, p_retailprice
              FROM lineitem LEFT JOIN part ON l_partkey = p_partkey
              WHERE l_extendedprice < p_retailprice * 30""")),

    // J3 — composite-key anti-join (post-2012 cancel matching,
    // stage0/create_daily_enhanced_trace.py:1668-1701): remove "trade" rows
    // whose composite key matches a "cancel" ('R') row. The cancel side is
    // deduped before the anti-join (small build side, as in the reference).
    Q("j3_composite_anti",
      (s, d) => {
        val li = Tables.lineitem(s, d)
        val trades = li.filter(col("l_returnflag") =!= "R")
        val cancels = li.filter(col("l_returnflag") === "R")
          .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
            col("l_quantity")).distinct()
        trades.join(cancels,
            Seq("l_orderkey", "l_partkey", "l_suppkey", "l_quantity"),
            "left_anti")
          .select(col("l_orderkey"), col("l_linenumber"))
      },
      Some("""SELECT l_orderkey, l_linenumber FROM lineitem t
              WHERE t.l_returnflag <> 'R' AND NOT EXISTS (
                SELECT 1 FROM lineitem c
                WHERE c.l_returnflag = 'R'
                  AND c.l_orderkey = t.l_orderkey
                  AND c.l_partkey = t.l_partkey
                  AND c.l_suppkey = t.l_suppkey
                  AND c.l_quantity = t.l_quantity)""")),

    // J4 — asymmetric-key anti-join with an extra non-equi condition
    // (post-2012 reversal: survivor msg_seq_nb = reversal orig_msg_seq_nb,
    // stage0/create_daily_enhanced_trace.py:1710-1734).
    Q("j4_asymmetric_anti",
      (s, d) => {
        val li = Tables.lineitem(s, d)
        val ord = Tables.orders(s, d).filter(col("o_orderstatus") === "F")
        li.join(ord,
            li("l_orderkey") === ord("o_custkey") &&
              li("l_extendedprice") < ord("o_totalprice") / 10,
            "left_anti")
          .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
      },
      Some("""SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem t
              WHERE NOT EXISTS (
                SELECT 1 FROM orders o
                WHERE o.o_orderstatus = 'F'
                  AND o.o_custkey = t.l_orderkey
                  AND t.l_extendedprice < o.o_totalprice / 10)""")),

    // J7/J8 — SAS-style ordered 1:1 sequence matching: the n-th 'R' row
    // cancels the n-th 'A' row under the same (orderkey, suppkey) group
    // (stage0/create_daily_enhanced_trace.py:1912-2057;
    // stage0/create_daily_standard_trace.py:138-267).
    Q("j7_sequence_match_anti",
      (s, d) => {
        val li = Tables.lineitem(s, d)
        SeqMatch.antiBySequence(
            li.filter(col("l_returnflag") === "A"),
            li.filter(col("l_returnflag") === "R"),
            keys = Seq("l_orderkey", "l_suppkey"),
            leftOrder = Seq(col("l_linenumber").asc),
            rightOrder = Seq(col("l_linenumber").asc))
          .select(col("l_orderkey"), col("l_suppkey"), col("l_linenumber"))
      },
      Some("""WITH t AS (
                SELECT l_orderkey, l_suppkey, l_linenumber,
                       row_number() OVER (PARTITION BY l_orderkey, l_suppkey
                                          ORDER BY l_linenumber) AS seq
                FROM lineitem WHERE l_returnflag = 'A'),
              r AS (
                SELECT l_orderkey, l_suppkey,
                       row_number() OVER (PARTITION BY l_orderkey, l_suppkey
                                          ORDER BY l_linenumber) AS seq
                FROM lineitem WHERE l_returnflag = 'R')
              SELECT t.l_orderkey, t.l_suppkey, t.l_linenumber FROM t
              WHERE NOT EXISTS (
                SELECT 1 FROM r WHERE r.l_orderkey = t.l_orderkey
                  AND r.l_suppkey = t.l_suppkey AND r.seq = t.seq)""")),

    // J5 — pre-2012 cancel matching: a 7-key composite including the REPORT
    // date plus the asymmetric orig_msg_seq_nb pointer
    // (stage0/create_daily_enhanced_trace.py:1790-1825). Synthetic analog:
    // rpt_dt = dt + (ord div 10) % 3 days; the cancel ('X') row repeats the
    // original's fields, reconstructed here deterministically from its
    // pointer ord-1 (the reference's cancel record carries them verbatim).
    Q("j5_pre2012_cancel_anti",
      (s, d) => {
        val tr = Trades.df(s, d)
        val t = tr.filter(col("trc_st") === "T")
          .withColumn("rpt_dt", expr("date_add(dt, CAST((ord div 10) % 3 AS INT))"))
        val c = tr.filter(col("trc_st") === "X")
          .select(col("id"), col("dt"),
            expr("date_add(dt, CAST(((ord - 1) div 10) % 3 AS INT))").as("rpt_dt"),
            expr("CAST((ord - 1) % 97 + 1 AS DECIMAL(18,2))").as("qty"),
            (col("ord") - 1).as("ord")).distinct()
        t.join(c, Seq("id", "dt", "rpt_dt", "qty", "ord"), "left_anti")
          .select(col("id"), col("ord"),
            col("price").cast("double").as("price"))
      },
      Some(s"""WITH tr AS (${Trades.sql})
              SELECT t.id, t.ord, CAST(t.price AS DOUBLE) AS price
              FROM tr t WHERE t.trc_st = 'T' AND NOT EXISTS (
                SELECT 1 FROM tr c WHERE c.trc_st = 'X'
                  AND c.id = t.id AND c.dt = t.dt
                  AND c.dt + to_days(CAST(((c.ord - 1) // 10) % 3 AS INT))
                      = t.dt + to_days(CAST((t.ord // 10) % 3 AS INT))
                  AND CAST((c.ord - 1) % 97 + 1 AS DECIMAL(18,2)) = t.qty
                  AND c.ord - 1 = t.ord)""")),

    // J8 — standard-regime clean_reversal end-to-end
    // (stage0/create_daily_standard_trace.py:138-267): reversal headers and
    // non-reversal headers get per-group sequence numbers (add_seq, :109-118),
    // seq-matched headers are removed, and the final step keeps FULL body
    // rows whose key appears in the surviving header set, then DISTINCT —
    // the left-semi-of-full-rows + DISTINCT ending the verdict called out.
    // Key analog: (id, dt, side, contra) for the reference's 6-key; body
    // key (id, dt, secs, ord, side, contra) for the 8-key. Sequence order
    // (secs, ord): ord tiebreaks equal times — pandas relies on stable input
    // order there, which has no cross-engine meaning.
    Q("j8_clean_reversal_semi",
      (s, d) => {
        val tr = Trades.df(s, d)
        val keys6 = Seq("id", "dt", "side", "contra")
        val revSeq = SeqMatch.withSeq(
            tr.filter(col("trc_st") === "R")
              .select("id", "dt", "side", "contra", "secs", "ord"),
            keys6, Seq(col("secs").asc, col("ord").asc), "seq6")
          .select((keys6 :+ "seq6").map(col): _*)
        val body = tr.filter(!col("trc_st").isin("R", "X"))
        val surviving = SeqMatch.withSeq(
            body.select("id", "dt", "side", "contra", "secs", "ord"),
            keys6, Seq(col("secs").asc, col("ord").asc), "seq6")
          .join(revSeq, keys6 :+ "seq6", "left_anti")
        body.join(
            surviving.select("id", "dt", "secs", "ord", "side", "contra")
              .distinct(),
            Seq("id", "dt", "secs", "ord", "side", "contra"), "left_semi")
          .select(col("id"), col("dt"), col("ord"),
            col("price").cast("double").as("price"),
            col("side"), col("contra"))
          .distinct()
      },
      Some(s"""WITH tr AS (${Trades.sql}),
              rev AS (
                SELECT id, dt, side, contra,
                       row_number() OVER (PARTITION BY id, dt, side, contra
                                          ORDER BY secs, ord) AS seq6
                FROM tr WHERE trc_st = 'R'),
              body AS (SELECT * FROM tr WHERE trc_st NOT IN ('R', 'X')),
              hdr AS (
                SELECT id, dt, secs, ord, side, contra,
                       row_number() OVER (PARTITION BY id, dt, side, contra
                                          ORDER BY secs, ord) AS seq6
                FROM body),
              surv AS (
                SELECT h.* FROM hdr h WHERE NOT EXISTS (
                  SELECT 1 FROM rev r WHERE r.id = h.id AND r.dt = h.dt
                    AND r.side = h.side AND r.contra = h.contra
                    AND r.seq6 = h.seq6))
              SELECT DISTINCT b.id, b.dt, b.ord,
                     CAST(b.price AS DOUBLE) AS price, b.side, b.contra
              FROM body b WHERE EXISTS (
                SELECT 1 FROM surv s WHERE s.id = b.id AND s.dt = b.dt
                  AND s.secs = b.secs AND s.ord = b.ord
                  AND s.side = b.side AND s.contra = b.contra)""")),

    // J16 — cross join of a snapshot × generated month range
    // (stage1/helper_functions.py:595-601): region × 1995 month-ends via
    // explode(sequence(...)) — no driver-side loop, broadcastable generator.
    Q("j16_crossjoin_months",
      (s, d) => {
        val months = s.range(1).select(
          explode(sequence(
            to_date(lit("1995-01-31")),
            to_date(lit("1995-12-31")),
            expr("interval 1 month"))).as("month_end"))
        Tables.region(s, d).crossJoin(broadcast(months))
          .select(col("r_name"), col("month_end"))
      },
      // Spark's sequence() computes start + i*interval (Jan 31 + 2mo =
      // Mar 31); DuckDB's generate_series steps cumulatively (→ Mar 28),
      // so the oracle uses explicit start + i months.
      Some("""SELECT r_name, CAST(DATE '1995-01-31' + to_months(CAST(m.i AS INT)) AS DATE) AS month_end
              FROM region CROSS JOIN range(12) m(i)""")),

    // J17 — range join against a tiny broadcast ranges table (SIC→FF
    // industry, stage1/helper_functions.py:435-455): p_size banded into
    // named buckets, unmatched → 'other'.
    Q("j17_range_join_buckets",
      (s, d) => {
        import s.implicits._
        val ranges = Seq((1, 10, "small"), (11, 25, "mid"), (26, 40, "large"))
          .toDF("lo", "hi", "bucket")
        Tables.part(s, d)
          .join(broadcast(ranges),
            col("p_size") >= col("lo") && col("p_size") <= col("hi"), "left")
          .select(col("p_partkey"),
            coalesce(col("bucket"), lit("other")).as("bucket"))
      },
      Some("""SELECT p_partkey, coalesce(r.bucket, 'other') AS bucket
              FROM part LEFT JOIN (VALUES (1, 10, 'small'), (11, 25, 'mid'),
                   (26, 40, 'large')) AS r(lo, hi, bucket)
                ON p_size >= r.lo AND p_size <= r.hi""")),

    // J6 — W-correction resolve-and-replace (stage0/create_daily_enhanced_
    // trace.py:1827-1910): correction records point at the row they
    // replace via an orig pointer (here: ord-1); matched originals are
    // anti-joined out and the correction rows (deduped, only those that
    // matched) are unioned back in.
    Q("j6_w_correction",
      (s, d) => {
        val tr = Trades.df(s, d)
        val t = tr.filter(col("trc_st") === "T")
        val w = tr.filter(col("trc_st") === "X")
          .withColumn("orig_ord", col("ord") - 1)
        val wKeys = w.select(col("id"), col("orig_ord").as("ord")).distinct()
        val survivors = t.join(wKeys, Seq("id", "ord"), "left_anti")
        val replacements = graft.operators.Dedup.keepFirst(
            w.join(t.select(col("id"), col("ord").as("orig_ord")).distinct(),
              Seq("id", "orig_ord"), "left_semi"),
            keys = Seq("id", "orig_ord"),
            order = Seq(col("ord")))
          .select(survivors.columns.map(col): _*)
        survivors.unionByName(replacements)
          .select(col("id"), col("ord"), col("price").cast("double").as("price"),
            col("trc_st"))
      },
      Some(s"""WITH tr AS (${Trades.sql}),
              t AS (SELECT * FROM tr WHERE trc_st = 'T'),
              w AS (SELECT *, ord - 1 AS orig_ord FROM tr WHERE trc_st = 'X'),
              survivors AS (
                SELECT * FROM t WHERE NOT EXISTS (
                  SELECT 1 FROM w WHERE w.id = t.id AND w.orig_ord = t.ord)),
              repl AS (
                SELECT * FROM (
                  SELECT w.*, row_number() OVER (PARTITION BY id, orig_ord
                    ORDER BY ord) AS rn
                  FROM w WHERE EXISTS (
                    SELECT 1 FROM t WHERE t.id = w.id AND t.ord = w.orig_ord)) x
                WHERE rn = 1)
              SELECT id, ord, CAST(price AS DOUBLE) AS price, trc_st FROM survivors
              UNION ALL
              SELECT id, ord, CAST(price AS DOUBLE) AS price, trc_st FROM repl""")),

    // J15 — equity-linker join verbatim (stage1/stage1_pipeline.py:
    // 1055-1066): issuer key = substring(cusip_id, 1, 6), period key =
    // yyyymm derived from the panel date, LEFT join to a linker frame —
    // composed with the W16 forward extension (stage1/helper_functions.py:
    // 549-621): linker coverage ends 1999-12; issuers active in that final
    // month are extended 3 months forward, so Jan–Mar 2000 panel rows link
    // ONLY via the extension and later months stay null. The linker is a
    // small derived dimension → broadcast; the panel never shuffles.
    Q("j15_linker_join",
      (s, d) => {
        val o = Tables.orders(s, d)
          .withColumn("odt", to_date(col("o_orderdate")))
          .withColumn("cusip_id", lpad(col("o_custkey").cast("string"), 9, "0"))
        val obs = o.filter(col("odt") < lit("2000-01-01"))
          .select(substring(col("cusip_id"), 1, 6).as("issuer6"),
            trunc(col("odt"), "MM").as("month_start"), col("o_custkey"))
          .groupBy(col("issuer6"), col("month_start"))
          .agg(min(col("o_custkey")).as("permno"))
        val lastMonth = obs.agg(max(col("month_start")).as("mx"))
        val ext = obs.join(broadcast(lastMonth), col("month_start") === col("mx"))
          .select(col("issuer6"), col("permno"),
            explode(array((1 to 3).map(i =>
              add_months(col("month_start"), i)): _*)).as("month_start"))
        val linker = graft.operators.Dedup.keepFirst(
            obs.select("issuer6", "month_start", "permno")
              .unionByName(ext.select("issuer6", "month_start", "permno")),
            keys = Seq("issuer6", "month_start"), order = Seq(col("permno")))
          .withColumn("yyyymm", date_format(col("month_start"), "yyyyMM"))
          .select("issuer6", "yyyymm", "permno")
        val panel = o.filter(col("odt") >= lit("1999-07-01"))
          .select(col("o_orderkey"), col("cusip_id"),
            substring(col("cusip_id"), 1, 6).as("issuer6"),
            date_format(col("odt"), "yyyyMM").as("yyyymm"))
        panel.join(broadcast(linker), Seq("issuer6", "yyyymm"), "left")
          .select(col("o_orderkey"), col("cusip_id"), col("yyyymm"), col("permno"))
      },
      Some("""WITH o AS (SELECT *, CAST(o_orderdate AS DATE) AS odt,
                       lpad(CAST(o_custkey AS VARCHAR), 9, '0') AS cusip_id
                FROM orders),
              obs AS (SELECT substr(cusip_id, 1, 6) AS issuer6,
                             date_trunc('month', odt) AS month_start,
                             min(o_custkey) AS permno
                      FROM o WHERE odt < DATE '2000-01-01' GROUP BY 1, 2),
              mx AS (SELECT max(month_start) AS mx FROM obs),
              ext AS (SELECT issuer6, permno,
                             CAST(month_start + to_months(CAST(i AS INT)) AS DATE) AS month_start
                      FROM obs, mx, generate_series(1, 3) g(i)
                      WHERE obs.month_start = mx.mx),
              linker AS (SELECT issuer6,
                                strftime(month_start, '%Y%m') AS yyyymm, permno
                         FROM (SELECT *, row_number() OVER (
                                 PARTITION BY issuer6, month_start
                                 ORDER BY permno) AS rn
                               FROM (SELECT * FROM obs
                                     UNION ALL
                                     SELECT issuer6, month_start, permno FROM ext) u) x
                         WHERE rn = 1),
              panel AS (SELECT o_orderkey, cusip_id,
                               substr(cusip_id, 1, 6) AS issuer6,
                               strftime(odt, '%Y%m') AS yyyymm
                        FROM o WHERE odt >= DATE '1999-07-01')
              SELECT p.o_orderkey, p.cusip_id, p.yyyymm, l.permno
              FROM panel p LEFT JOIN linker l
                ON p.issuer6 = l.issuer6 AND p.yyyymm = l.yyyymm""")),

    // W16 — linker forward-fill extension (stage1/helper_functions.py:
    // 549-621): users active on the final observed day are extended with
    // three future month-end rows.
    Q("w16_linker_extension",
      (s, d) => {
        val ev = Tables.events(s, d).select(col("user_id"),
          to_date(col("ts")).as("dt"))
        val mx = ev.agg(max(col("dt")).as("mx"))
        val eligible = ev.crossJoin(broadcast(mx))
          .filter(col("dt") === col("mx"))
          .select(col("user_id"), col("mx")).distinct()
        eligible.select(col("user_id"),
            explode(array((1 to 3).map(i =>
              last_day(add_months(col("mx"), i))): _*)).as("future_month_end"))
      },
      Some("""WITH mx AS (SELECT max(CAST(ts AS DATE)) AS mx FROM events),
              eligible AS (
                SELECT DISTINCT user_id, mx.mx FROM events, mx
                WHERE CAST(ts AS DATE) = mx.mx)
              SELECT user_id,
                     CAST(last_day(mx + to_months(CAST(i AS INT))) AS DATE) AS future_month_end
              FROM eligible CROSS JOIN generate_series(1, 3) g(i)""")),

    // J19 — merge of two aggregate panels by full-outer join
    // (stage0/create_daily_enhanced_trace.py:376-391). Kept as a literal
    // outer-join restatement; the preferred single-groupBy design is
    // a1_daily_panel (QAggs/DailyMetrics).
    Q("j19_outer_merge_aggs",
      (s, d) => {
        val li = Tables.lineitem(s, d)
        val qty = li.filter(col("l_returnflag") === "R")
          .groupBy(col("l_orderkey"))
          .agg(Tables.dsum(col("l_quantity")).as("sum_qty"))
        val price = li.filter(col("l_linestatus") === "O")
          .groupBy(col("l_orderkey"))
          .agg(Tables.dsum(col("l_extendedprice")).as("sum_price"))
        qty.join(price, Seq("l_orderkey"), "outer")
      },
      Some("""SELECT coalesce(q.l_orderkey, p.l_orderkey) AS l_orderkey,
                     q.sum_qty, p.sum_price
              FROM (SELECT l_orderkey,
                           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
                    FROM lineitem WHERE l_returnflag = 'R' GROUP BY 1) q
              FULL OUTER JOIN
                   (SELECT l_orderkey,
                           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
                    FROM lineitem WHERE l_linestatus = 'O' GROUP BY 1) p
                ON q.l_orderkey = p.l_orderkey""")),

    // Skew-mitigated join (operators.SaltedJoin), driver-gated: ~90% of
    // left rows collapse onto ONE hot key (the hot-CUSIP / null-ish
    // default-id shape), which a plain shuffle join lands on a single
    // task and AQE cannot split (it can't break one key group). Salting
    // spreads the hot key across 8 sub-keys; results are provably
    // IDENTICAL to the plain join — which is exactly what the DuckDB
    // oracle checks (it runs the unsalted join).
    Q("j20_salted_skew",
      (s, d) => {
        val tr = Trades.df(s, d).select(
          when(col("ord") % 10 =!= 0, 0L).otherwise(col("id")).as("k"),
          col("ord"))
        val dim = Trades.df(s, d).select(col("id").as("k")).distinct()
          .select(col("k"),
            concat(lit("g"), (col("k") % 8).cast("string")).as("payload"))
        graft.operators.SaltedJoin.inner(tr, dim, Seq("k"),
            leftSaltFrom = col("ord"), salt = 8)
          .select(col("k"), col("ord"), col("payload"))
      },
      Some(s"""WITH tr AS (${Trades.sql}),
              l AS (SELECT CASE WHEN ord % 10 <> 0 THEN 0 ELSE id END AS k, ord
                    FROM tr),
              dim AS (SELECT DISTINCT id AS k,
                             'g' || CAST(id % 8 AS VARCHAR) AS payload
                      FROM tr)
              SELECT l.k, l.ord, dim.payload
              FROM l JOIN dim ON l.k = dim.k""")),

    // J18 — treasury-curve join (stage1/helper_functions.py:381): a DAILY
    // curve (tiny by nature — one row per calendar day) is resampled onto
    // the fact table's date spine with a forward-fill, then broadcast
    // left-joined to the facts. The ffill window is a global orderBy over
    // the CURVE only — a few thousand rows regardless of corpus size —
    // never over the facts; the fact side pays zero shuffle (broadcast).
    Q("j18_curve_join",
      (s, d) => {
        val curve = Tables.orders(s, d)
          .groupBy(col("o_orderdate").as("dt"))
          .agg((Tables.dsum(col("o_totalprice")) / count(lit(1))).as("rate"))
        val spine = Tables.lineitem(s, d)
          .select(col("l_shipdate").as("dt")).distinct()
        // global window over the DISTINCT DATE spine — bounded by the
        // calendar (one row per day), not by fact volume; the fact table
        // itself only ever meets the ffilled curve via broadcast below
        val w = org.apache.spark.sql.expressions.Window.orderBy(col("dt"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
        val filled = spine.join(curve, Seq("dt"), "left")
          .withColumn("rate", last(col("rate"), ignoreNulls = true).over(w))
        Tables.lineitem(s, d)
          .join(broadcast(filled), col("l_shipdate") === filled("dt"))
          .select(col("l_orderkey"), col("l_linenumber"), col("dt"),
            col("rate"))
      },
      Some("""WITH curve AS (
                SELECT o_orderdate AS dt,
                       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                         / count(*) AS rate
                FROM orders GROUP BY 1),
              spine AS (SELECT DISTINCT l_shipdate AS dt FROM lineitem),
              filled AS (
                SELECT spine.dt,
                       last_value(curve.rate IGNORE NULLS)
                         OVER (ORDER BY spine.dt ROWS UNBOUNDED PRECEDING) AS rate
                FROM spine LEFT JOIN curve ON spine.dt = curve.dt)
              SELECT l_orderkey, l_linenumber, filled.dt, rate
              FROM lineitem JOIN filled ON l_shipdate = filled.dt""")),

    // J21 — bucketed CO-LOCATED join (SURVEY §4 physical-execution
    // pattern): both sides are written `bucketBy` the join key, so the
    // sort-merge join zips co-located buckets with ZERO shuffle exchange
    // on either side (pinned by BucketedJoinSpec + PlanBudgetSpec). At
    // 100 TB this is THE pattern for the pipeline's repeated id-keyed
    // joins: bucket the fact tables once at ingest and every subsequent
    // join in the chain is exchange-free. The `merge` hint keeps the
    // demo honest at test scale — without it Catalyst would (correctly)
    // broadcast the small dimension and never exercise the bucket path.
    Q("j21_bucketed_join",
      (s, d) => {
        val base = graft.Scratch.dirFor("j21_bkt", d)
        Tables.orders(s, d).write.mode("overwrite")
          .option("path", s"$base/orders")
          .bucketBy(8, "o_custkey").sortBy("o_custkey")
          .saveAsTable("graft_bkt_orders")
        Tables.customer(s, d).write.mode("overwrite")
          .option("path", s"$base/customer")
          .bucketBy(8, "c_custkey").sortBy("c_custkey")
          .saveAsTable("graft_bkt_customer")
        s.table("graft_bkt_orders").hint("merge")
          .join(s.table("graft_bkt_customer"),
            col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n_orders"),
            Tables.dsum(col("o_totalprice")).as("sum_price"))
      },
      Some("""SELECT c_mktsegment, count(*) AS n_orders,
                     CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
              FROM orders JOIN customer ON o_custkey = c_custkey
              GROUP BY c_mktsegment""")),

    // J22 (ext.) — point-in-time join against the SCD2 history s16
    // builds: "what was this customer's status 30 days before each
    // order?" Each probe lands in AT MOST one validity interval
    // (intervals partition time from the first event), so this is the
    // temporal lookup a bi-temporal warehouse serves constantly. Scale
    // shape: equi-join on the entity key carries the work, the interval
    // containment is a cheap residual predicate — no range explosion,
    // no broadcast of the (dimension-sized) history needed beyond what
    // AQE picks. Probes before a customer's first interval keep the
    // LEFT row with a NULL status (the honest answer).
    Q("j22_pit_join",
      (s, d) => {
        val ev = Tables.orders(s, d).select(
          col("o_custkey").as("custkey"),
          col("o_orderstatus").as("status"),
          col("o_orderdate").as("vf"),
          col("o_orderkey").as("tb"))
        val hist = graft.operators.Scd2.build(ev, "custkey", "status",
          "vf", "tb")
        val probes = Tables.orders(s, d).select(
          col("o_orderkey"), col("o_custkey"),
          (col("o_orderdate") - expr("INTERVAL 30 DAY")).as("asof"))
        probes.join(hist,
            probes("o_custkey") === hist("custkey") &&
              col("valid_from") <= col("asof") &&
              (col("valid_to").isNull || col("valid_to") > col("asof")),
            "left")
          .select(col("o_orderkey"), col("o_custkey"), col("asof"),
            col("status").as("status_asof"))
      },
      Some("""WITH ev AS (
                SELECT o_custkey AS custkey, o_orderstatus AS status,
                       o_orderdate AS vf, o_orderkey AS tb,
                       lag(o_orderstatus) OVER (PARTITION BY o_custkey
                         ORDER BY o_orderdate, o_orderkey) AS prev
                FROM orders),
              ch AS (SELECT custkey, status, vf, tb FROM ev
                     WHERE prev IS NULL OR status <> prev),
              iv AS (SELECT custkey, status, vf AS valid_from,
                            lead(vf) OVER (PARTITION BY custkey
                              ORDER BY vf, tb) AS valid_to
                     FROM ch),
              probes AS (SELECT o_orderkey, o_custkey,
                                o_orderdate - INTERVAL 30 DAY AS asof
                         FROM orders)
              SELECT p.o_orderkey, p.o_custkey, p.asof,
                     i.status AS status_asof
              FROM probes p LEFT JOIN iv i
                ON p.o_custkey = i.custkey
                AND i.valid_from <= p.asof
                AND (i.valid_to IS NULL OR i.valid_to > p.asof)""")),

    j23,

    // J26 (ext.) — FUZZY entity-resolution join: q-gram blocking →
    // edit-distance verify → best-match — the name-matching pipeline
    // behind every issuer/customer linkage the reference's J15 linker
    // sidesteps with exact substring keys. Entities get diverse
    // synthetic names (md5-derived, so both engines rebuild them);
    // the dirty side carries one of three 1-edit corruptions, plus a
    // 3-edit decoy every 7th entity that MUST come back unmatched
    // (blocking finds it, verify rejects it — the two-stage contract).
    // Scale shape: candidates are pairs sharing a NON-STOP 4-gram —
    // grams whose clean-side occupancy exceeds the cap ("Corp" here,
    // which every name shares and which would alone make blocking the
    // |L|×|R| cross product) are excluded from blocking on both sides
    // via `operators.ErBlocking` (broadcast stop list, pre-shuffle
    // anti-join; `ErBlockingSpec` proves linearity on a skewed-name
    // fixture). The cap is query semantics: the oracle restates the
    // stop list, so the capped formulation stays hash-gated.
    // levenshtein runs on candidates only; best-match is a
    // per-dirty-row window over the verified slice.
    Q("j26_fuzzy_er_join",
      (s, d) => {
        val clean = Tables.supplier(s, d).select(col("s_suppkey"),
          concat(lit("Corp-"),
            substring(md5(col("s_suppkey").cast("string")), 1, 8))
            .as("ename"))
        val dirty = clean.select(
          (col("s_suppkey") + 10000L).as("d_id"),
          col("s_suppkey").as("true_id"),
          when(col("s_suppkey") % 7 === 0,
            concat(lit("ZZZ"), col("ename")))
            .when(col("s_suppkey") % 3 === 0,
              expr("replace(ename, '-', ' ')"))
            .when(col("s_suppkey") % 3 === 1,
              expr("substring(ename, 1, length(ename) - 1)"))
            .otherwise(concat(col("ename"), lit("x"))).as("dname"))
        import graft.operators.ErBlocking
        // Cap PINNED to the library constant, not a session conf: the
        // oracle below interpolates the same constant, so a conf
        // override can never silently diverge the query from its own
        // hash gate. Callers wanting a different cap pass it to
        // ErBlocking.candidates directly (and own their oracle).
        val maxGram = ErBlocking.DefaultMaxGramBucket
        val cand = ErBlocking.candidates(
            ErBlocking.grams(dirty, "dname"),
            ErBlocking.grams(clean, "ename"), maxGram)
          .select(col("d_id"), col("true_id"), col("dname"),
            col("s_suppkey"), col("ename"))
          .distinct()
        val verified = cand
          .withColumn("dist", levenshtein(col("dname"), col("ename")))
          .filter(col("dist") <= 2)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("d_id"))
          .orderBy(col("dist"), col("s_suppkey"))
        val best = verified.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("d_id"), col("s_suppkey").as("matched_id"),
            col("dist"))
        dirty.join(best, Seq("d_id"), "left")
          .select(col("d_id"), col("matched_id"), col("dist"),
            when(col("matched_id") === col("true_id"), 1).otherwise(0)
              .as("is_correct"))
      },
      Some(s"""WITH clean AS (
                SELECT s_suppkey,
                       'Corp-' || substr(md5(CAST(s_suppkey AS VARCHAR)),
                                         1, 8) AS ename
                FROM supplier),
              dirty AS (
                SELECT s_suppkey + 10000 AS d_id, s_suppkey AS true_id,
                       CASE WHEN s_suppkey % 7 = 0 THEN 'ZZZ' || ename
                            WHEN s_suppkey % 3 = 0
                              THEN replace(ename, '-', ' ')
                            WHEN s_suppkey % 3 = 1
                              THEN substr(ename, 1, length(ename) - 1)
                            ELSE ename || 'x' END AS dname
                FROM clean),
              dg AS (SELECT d_id, true_id, dname,
                       substr(dname, CAST(i AS INT), 4) AS gram
                     FROM dirty,
                       unnest(generate_series(1, length(dname) - 3)) t(i)),
              cg AS (SELECT s_suppkey, ename,
                       substr(ename, CAST(i AS INT), 4) AS gram
                     FROM clean,
                       unnest(generate_series(1, length(ename) - 3)) t(i)),
              stopg AS (SELECT gram FROM cg
                        GROUP BY gram HAVING count(*) >
                          ${graft.operators.ErBlocking.DefaultMaxGramBucket}),
              cand AS (SELECT DISTINCT d_id, true_id, dname, s_suppkey,
                                       ename
                       FROM dg JOIN cg USING (gram)
                       WHERE gram NOT IN (SELECT gram FROM stopg)),
              ver AS (SELECT *, levenshtein(dname, ename) AS dist
                      FROM cand
                      WHERE levenshtein(dname, ename) <= 2),
              best AS (SELECT d_id, s_suppkey AS matched_id, dist,
                         row_number() OVER (PARTITION BY d_id
                           ORDER BY dist, s_suppkey) AS rn
                       FROM ver)
              SELECT d.d_id, b.matched_id, b.dist,
                     CASE WHEN b.matched_id = d.true_id THEN 1 ELSE 0 END
                       AS is_correct
              FROM dirty d LEFT JOIN best b
                ON b.d_id = d.d_id AND b.rn = 1""")),

    // J31 (ext.) — range join written NAIVELY, planned as an equi join
    // by the engine's own optimizer rule (`plans.RangeJoinRewriteRule`,
    // the Databricks bin-size technique as a Catalyst extension): the
    // query below is `points JOIN bands ON p BETWEEN lo AND hi` with no
    // hand bucketing — j17's manual form made the user do the
    // bucketing; here the rule explodes each interval into its
    // overlapped buckets, keys points by p div W, and the planner picks
    // a shuffled equi join instead of BroadcastNestedLoopJoin. The
    // oracle runs the same naive SQL in DuckDB, so the row certifies
    // the rewrite is semantics-preserving end-to-end;
    // `RangeJoinRuleSpec` pins both physical shapes and on==off
    // equality (negatives and null bounds included).
    Q("j31_range_rewrite",
      (s, d) => {
        val bands = s.range(0, 120).select(col("id").as("band"),
          (col("id") * 87000 + 13).as("lo"),
          (col("id") * 87000 + 50012).as("hi"))
        val pts = Tables.lineitem(s, d).select(
          (col("l_extendedprice").cast("decimal(18,2)") * 100)
            .cast("bigint").as("p"))
        val prev = s.conf.getOption("spark.graft.rangejoin.bucketWidth")
        s.conf.set("spark.graft.rangejoin.bucketWidth", "65536")
        // the rule reads the conf at OPTIMIZATION time — materialize
        // inside the window (eager localCheckpoint) so the rewrite is
        // what actually ran, then restore
        try {
          pts.join(bands, col("p") >= col("lo") && col("p") <= col("hi"))
            .groupBy(col("band"))
            .agg(count(lit(1)).as("n_rows"),
              sum(col("p")).as("sum_cents"))
            .localCheckpoint(true)
        } finally prev match {
          case Some(v) => s.conf.set("spark.graft.rangejoin.bucketWidth", v)
          case None => s.conf.unset("spark.graft.rangejoin.bucketWidth")
        }
      },
      Some("""WITH bands AS (
                SELECT i AS band, i*87000 + 13 AS lo, i*87000 + 50012 AS hi
                FROM range(0, 120) t(i)),
              p AS (
                SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                         AS BIGINT) AS p
                FROM lineitem)
              SELECT band, count(*) AS n_rows,
                     CAST(sum(p) AS BIGINT) AS sum_cents
              FROM p JOIN bands ON p >= lo AND p <= hi
              GROUP BY 1""")),

    // J30 (ext.) — Fellegi–Sunter PROBABILISTIC record linkage: j26
    // picks the closest candidate by edit distance; this is the model a
    // linkage pipeline actually ships (Splink/fastLink): per-field
    // evidence weights (agree / partial / disagree on name, phone,
    // nation — integer milli-log2 constants from
    // `operators.FellegiSunter`) summed into a match score, thresholded
    // into match / possible / nonmatch. TWO blocking passes feed it —
    // the classic multi-pass design: the capped q-gram index catches
    // name-preserving corruptions, an exact phone-suffix block catches
    // the alien-name class (c%5==3) gram blocking can NEVER see. Union
    // of two linear candidate sets, scoring a pure codegen projection,
    // best-per-record one bounded window — no all-pairs anywhere. The
    // planted corruption classes land in different decision bands
    // (exact copies and name-typos 'match'; phone-digit and alien-name
    // classes 'possible' — the clerical-review queue), which the oracle
    // pins exactly.
    Q("j30_er_fs_score",
      (s, d) => {
        import graft.operators.{FellegiSunter => FS}
        val clean = fsClean(s, d)
        val dirty = fsDirty(clean)
        val cand = fsCand(dirty, clean)
        val scored = cand
          .join(dirty, Seq("d_id")).join(clean, Seq("c_id"))
          .withColumn("score_milli", FS.score(
            col("dname"), col("ename"), col("dphone"), col("ephone"),
            col("dnation"), col("enation")))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("d_id"))
          .orderBy(col("score_milli").desc, col("c_id"))
        val best = scored.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("d_id"), col("c_id").as("matched_id"),
            col("score_milli"))
        dirty.join(best, Seq("d_id"), "left")
          .select(col("d_id"), col("matched_id"), col("score_milli"),
            when(col("score_milli").isNull, lit("no_candidate"))
              .when(col("score_milli") >= FS.MatchThresh, lit("match"))
              .when(col("score_milli") >= 0, lit("possible"))
              .otherwise(lit("nonmatch")).as("decision"),
            when(col("matched_id") === col("true_id"), 1).otherwise(0)
              .as("is_correct"))
      },
      Some(s"""WITH $fsBlockingCtes,
              scored AS (
                SELECT cand.d_id, cand.c_id,
                       ${graft.operators.FellegiSunter.scoreSql}
                         AS score_milli
                FROM cand
                JOIN dirty d USING (d_id) JOIN clean c USING (c_id)),
              best AS (SELECT d_id, c_id AS matched_id, score_milli,
                         row_number() OVER (PARTITION BY d_id
                           ORDER BY score_milli DESC, c_id) AS rn
                       FROM scored)
              SELECT d.d_id, b.matched_id, b.score_milli,
                     CASE WHEN b.score_milli IS NULL THEN 'no_candidate'
                          WHEN b.score_milli >=
                            ${graft.operators.FellegiSunter.MatchThresh}
                            THEN 'match'
                          WHEN b.score_milli >= 0 THEN 'possible'
                          ELSE 'nonmatch' END AS decision,
                     CASE WHEN b.matched_id = d.true_id THEN 1 ELSE 0 END
                       AS is_correct
              FROM dirty d LEFT JOIN best b
                ON b.d_id = d.d_id AND b.rn = 1""")),

    // J32 (ext.) — Fellegi–Sunter weight ESTIMATION by EM: j30 ships
    // hand-set m/u evidence weights; this FITS them from the blocked
    // pairs, unsupervised, the way Splink/fastLink actually train. The
    // pair space reduces to a ≤18-cell CONTINGENCY table (one hash agg
    // over comparison vectors γ = (name∈{0,1,2}, phone∈{0,1,2},
    // nation∈{0,1})) — likelihood depends only on γ, so cell-level EM
    // is EXACTLY pair-level EM at metadata cost, and the 3 fixed EM
    // rounds run relationally (18-row cells × 1-row params, broadcast
    // cross join per round — the sim_kmeans_assign iteration shape).
    // ALL arithmetic is integer: per-cell match/unmatch likelihoods
    // are products of milli-probabilities (≤1000⁴, exact BIGINT),
    // responsibilities are `pm·1000 div (pm+pu)`, M-step params are
    // clamped integer ratios — both engines replay the identical
    // fixed-point, hash-exact, zero float drift. Output: each cell's
    // pair count, final responsibility, learned likelihood-ratio
    // pieces (num/den), and the ratio-space decision (match iff
    // num ≥ 4096·den ⟺ LLR ≥ 12 bits — j30's MatchThresh).
    // `FellegiSunterSpec` proves the LEARNED weights classify the
    // planted corruption classes at least as accurately as the
    // hand-set constants.
    Q("j32_er_fs_em",
      (s, d) => {
        val clean = fsClean(s, d)
        val dirty = fsDirty(clean)
        val gam = fsGammas(fsCand(dirty, clean), dirty, clean)
        val cells = gam.groupBy(col("gn"), col("gp"), col("gt"))
          .agg(count(lit(1)).as("n"))
          .localCheckpoint(true) // ≤18 rows, reused by every round
        var params = fsInitParams(s)
        for (_ <- 1 to FsEmRounds)
          params = fsEmRound(cells, params).localCheckpoint(true) // 1 row
        cells.crossJoin(broadcast(params))
          .withColumn("pm", fsPm).withColumn("pu", fsPu)
          .select(col("gn"), col("gp"), col("gt"),
            col("n").as("n_pairs"),
            expr("pm * 1000 div (pm + pu)").as("w_milli"),
            fsNum.as("num"), fsDen.as("den"),
            when(fsNum >= lit(4096L) * fsDen, lit("match"))
              .when(fsNum >= fsDen, lit("possible"))
              .otherwise(lit("nonmatch")).as("cls"))
      },
      Some(s"""WITH $fsBlockingCtes,
              $fsEmOracleCtes
              SELECT gn, gp, gt, n AS n_pairs,
                     pm * 1000 // (pm + pu) AS w_milli,
                     num, den,
                     CASE WHEN num >= 4096 * den THEN 'match'
                          WHEN num >= den THEN 'possible'
                          ELSE 'nonmatch' END AS cls
              FROM fin""")),

    // J25 (ext.) — multi-hop STAR join (the TPC-H Q5 shape): fact ⋈
    // supplier ⋈ nation ⋈ region with a region filter, revenue per
    // nation. The scale story is dimension-side broadcast all the way
    // up the snowflake: region/nation/supplier chain-reduce to ONE
    // small broadcast relation, the fact table never shuffles for the
    // joins — only the final per-nation aggregate exchanges (group
    // cardinality rows). Catalyst's join reorder + size estimation
    // pick this automatically; the per-dim predicate (r_name) prunes
    // BEFORE the fact join touches anything.
    Q("j25_star_multihop",
      (s, d) => {
        val dims = Tables.supplier(s, d)
          .join(Tables.nation(s, d),
            col("s_nationkey") === col("n_nationkey"))
          .join(Tables.region(s, d).filter(col("r_name") < "C"),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("s_suppkey"), col("n_name"))
        Tables.lineitem(s, d)
          .join(broadcast(dims), col("l_suppkey") === col("s_suppkey"))
          .groupBy(col("n_name"))
          .agg(count(lit(1)).as("n_items"),
            Tables.dsum4(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
              .as("revenue"))
      },
      Some("""SELECT n_name, count(*) AS n_items,
                     CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
                       AS DECIMAL(28,4))) AS DOUBLE) AS revenue
              FROM lineitem
              JOIN supplier ON l_suppkey = s_suppkey
              JOIN nation ON s_nationkey = n_nationkey
              JOIN region ON n_regionkey = r_regionkey
              WHERE r_name < 'C'
              GROUP BY 1""")),

    // G1 (ext.) — per-node TRIANGLE counting over the part
    // co-occurrence graph (parts sharing an order — the market-basket
    // graph), with the degree-ordered orientation that makes
    // distributed triangle enumeration tractable (Schank's compact-
    // forward / the Suri–Vassilvitskii MapReduce scheme): every edge
    // points from its lower-(degree, id) endpoint, so wedge fan-out is
    // bounded by ORIENTED out-degree (≤ O(√m) for any graph) instead
    // of raw degree — a hub node's quadratic wedge set never
    // materializes. Wedges (s→t1, s→t2) close iff the oriented edge
    // (t1→t2) exists; each triangle is found exactly once. The edge
    // build itself is an order-key self-join with fan-out bounded by
    // basket size. The orientation is pure relational algebra (degree
    // agg + two joins), so DuckDB replays it verbatim — the per-node
    // triangle counts hash-gate the whole construction.
    Q("g1_triangles",
      (s, d) => {
        val e = copurchaseEdges(s, d)
        // AUTO-SELECT the close strategy from the MEASURED edge count,
        // not a static conf (r16 verdict: a static broadcast default
        // ships a driver OOM past the broadcast threshold at 100 TB).
        // The count is ~free: copurchaseEdges is persisted and every
        // close consumes it, so the materialization is paid either way.
        // Budget: the broadcast close ships the full adjacency relation
        // (~25-30 B/edge in list form), so the default 4M-edge cap puts
        // the built relation at ~100-130 MB — inside the "few hundred
        // MB is fine" broadcast band, far under Spark's 8 GB cap. A cap
        // of 0 reaches the shuffle arm at any size (TriangleCloseSpec
        // pins both physical shapes that way).
        val bcastClose = e.count() <= s.conf.get(
          "spark.graft.triangles.broadcastMaxEdges", "4000000").toLong
        val deg = e.select(col("u").as("id"))
          .unionByName(e.select(col("v").as("id")))
          .groupBy(col("id")).agg(count(lit(1)).as("dg"))
        // deg is |V| rows — metadata-sized at any scale. Broadcasting it
        // keeps the |E|-row edge relation un-exchanged through the
        // orientation (measured r16: the two degree SMJs re-shuffled the
        // edges twice for no reason); on the shuffle arm the planner keeps
        // its own choice so the scale path stays exercisable.
        def degSide(dd: org.apache.spark.sql.DataFrame) =
          if (bcastClose) broadcast(dd) else dd
        val lower = col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v"))
        val oriented = graft.Caches.registerTransient(e
          .join(degSide(deg.select(col("id").as("u"), col("dg").as("du"))),
            Seq("u"))
          .join(degSide(deg.select(col("id").as("v"), col("dg").as("dv"))),
            Seq("v"))
          .select(when(lower, col("u")).otherwise(col("v")).as("s"),
            when(lower, col("v")).otherwise(col("u")).as("t"),
            when(lower, col("dv")).otherwise(col("du")).as("dt"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        // The orientation makes node order total inside every triangle
        // (a→b, a→c, b→c), so each triangle is found exactly once and
        // out-adjacency fan-out is bounded by O(√m).
        //
        // Under the cap (broadcast): compact-forward ADJACENCY close — for
        // each oriented edge (a→b), every c ∈ adj+(a) ∩ adj+(b) closes
        // a triangle. The Σ C(outdeg,2) wedge stream NEVER materializes
        // as rows: the intersection runs inside the edge row against
        // two broadcast copies of the |E|-long adjacency relation
        // (measured r16: 2-3× faster than enumerating ~25M wedge rows
        // through a SortMergeJoin and probing the edge set per wedge).
        //
        // Past the cap, where the adjacency relation outgrows a broadcast
        // (the 100 TB regime), the close is the Suri–Vassilvitskii
        // shuffle-close: wedges (s→t1, s→t2) with (dt1,t1) < (dt2,t2)
        // equi-join the edge relation on (t1, t2) under a shuffle_hash hint (the hint also
        // keeps AQE from re-broadcasting, so the scale path is genuinely
        // exercisable at test size — `TriangleCloseSpec` runs both
        // arms and pins both physical shapes). The wedge bound from
        // the degree orientation is what keeps EITHER variant
        // linear-ish.
        val tri =
          if (bcastClose) {
            val adj = oriented.groupBy(col("s"))
              .agg(collect_list(col("t")).as("nbr"))
            oriented
              .join(broadcast(adj.select(col("s").as("a2"),
                col("nbr").as("na"))), col("s") === col("a2"))
              .join(broadcast(adj.select(col("s").as("b2"),
                col("nbr").as("nb"))), col("t") === col("b2"))
              .select(col("s").as("a"), col("t").as("b"),
                explode(array_intersect(col("na"), col("nb"))).as("c"))
          } else {
            val wedgeOrder = col("e1.dt") < col("e2.dt") ||
              (col("e1.dt") === col("e2.dt") && col("e1.t") < col("e2.t"))
            val e3 = oriented.select(col("s"), col("t")).as("e3")
            oriented.as("e1").join(oriented.as("e2"),
                col("e1.s") === col("e2.s") && wedgeOrder)
              .join(e3.hint("shuffle_hash"),
                col("e3.s") === col("e1.t") && col("e3.t") === col("e2.t"))
              .select(col("e1.s").as("a"), col("e1.t").as("b"),
                col("e2.t").as("c"))
          }
        tri.select(explode(array(col("a"), col("b"), col("c"))).as("id"))
          .groupBy(col("id")).agg(count(lit(1)).as("n_triangles"))
      },
      Some("""WITH li AS (SELECT DISTINCT l_orderkey AS ok,
                            l_partkey AS pk FROM lineitem),
              e AS (SELECT DISTINCT a.pk AS u, b.pk AS v
                    FROM li a JOIN li b
                      ON a.ok = b.ok AND a.pk < b.pk),
              deg AS (SELECT id, count(*) AS dg FROM (
                        SELECT u AS id FROM e
                        UNION ALL SELECT v FROM e) x GROUP BY 1),
              o AS (SELECT
                      CASE WHEN du.dg < dv.dg
                             OR (du.dg = dv.dg AND e.u < e.v)
                           THEN e.u ELSE e.v END AS s,
                      CASE WHEN du.dg < dv.dg
                             OR (du.dg = dv.dg AND e.u < e.v)
                           THEN e.v ELSE e.u END AS t,
                      CASE WHEN du.dg < dv.dg
                             OR (du.dg = dv.dg AND e.u < e.v)
                           THEN dv.dg ELSE du.dg END AS dt
                    FROM e
                    JOIN deg du ON du.id = e.u
                    JOIN deg dv ON dv.id = e.v),
              tri AS (SELECT e1.s AS a, e1.t AS b, e2.t AS c
                      FROM o e1
                      JOIN o e2 ON e1.s = e2.s
                        AND (e1.dt < e2.dt
                             OR (e1.dt = e2.dt AND e1.t < e2.t))
                      JOIN o e3 ON e3.s = e1.t AND e3.t = e2.t),
              pn AS (SELECT unnest([a, b, c]) AS id FROM tri)
              SELECT id, count(*) AS n_triangles
              FROM pn GROUP BY 1""")),

    // G2 (ext.) — bounded-hop LABEL PROPAGATION over the same part
    // co-purchase graph: synchronous min-label rounds (every node takes
    // the minimum label over itself and its neighbors). With min as the
    // tie-break the k-round result has a CLOSED FORM — label_k(v) =
    // min id within v's k-hop neighborhood — which makes the usually
    // order-dependent LPA heuristic deterministic and hash-gateable,
    // and distinguishes it from full connected components (dd's CC):
    // this is bounded-radius community structure, the "local cluster"
    // signal at k=3. Each round is ONE edge-join + ONE hash-agg over
    // the (adjacency ∪ self-loops) relation behind a lineage-truncating
    // barrier — the dd_pagerank iteration shape; k rounds never touch
    // more than |E|+|V| rows. `LabelPropSpec` pins the closed form on a
    // path graph.
    Q("g2_label_prop",
      (s, d) => {
        val e = copurchaseEdges(s, d)
        val sym = e.select(col("u").as("src"), col("v").as("dst"))
          .unionByName(e.select(col("v").as("src"), col("u").as("dst")))
        val nodes = sym.select(col("src").as("id")).distinct()
        val adj = graft.Caches.registerTransient(
          sym.unionByName(nodes.select(col("id").as("src"),
              col("id").as("dst")))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        // lbl0 is a DISTINCT over the |E|-row symmetric relation —
        // checkpointed so round 1's broadcast collects |V| cached rows
        // instead of re-running the distinct
        var lbl = nodes.select(col("id"), col("id").as("lbl"))
          .localCheckpoint(true)
        // the label table is |V| rows — broadcast it into each round so
        // the |E|-row adjacency relation never exchanges (measured r16:
        // the SMJ rounds re-shuffled adj 3×). AUTO-SELECTED from the
        // measured |V| (free: lbl0 is already checkpointed), because a
        // static broadcast default would ship a driver OOM once |V|
        // outgrows a broadcast at 100 TB: labels are 2 longs/row, so
        // the default 8M-node cap bounds the built relation at
        // ~200 MB.
        val bcastRounds = labelPropBroadcast(s, lbl.count())
        // the per-round barrier is NOT optional on the broadcast path:
        // without it round r+1's BroadcastExchange re-executes every
        // prior round's join (broadcast collection is a fresh job with
        // no exchange reuse across rounds — O(k²) round-joins). The
        // |V|-row checkpoint is metadata-sized next to the |E|-row
        // join it saves re-running.
        for (_ <- 1 to 3)
          lbl = labelPropRound(adj, lbl, bcastRounds).localCheckpoint(true)
        lbl
      },
      Some("""WITH li AS (SELECT DISTINCT l_orderkey AS ok,
                            l_partkey AS pk FROM lineitem),
              e AS (SELECT DISTINCT a.pk AS u, b.pk AS v
                    FROM li a JOIN li b
                      ON a.ok = b.ok AND a.pk < b.pk),
              sym AS (SELECT u AS src, v AS dst FROM e
                      UNION ALL SELECT v, u FROM e),
              nodes AS (SELECT DISTINCT src AS id FROM sym),
              adj AS (SELECT src, dst FROM sym
                      UNION ALL SELECT id, id FROM nodes),
              l0 AS (SELECT id, id AS lbl FROM nodes),
              l1 AS (SELECT a.dst AS id, min(l.lbl) AS lbl
                     FROM adj a JOIN l0 l ON l.id = a.src GROUP BY 1),
              l2 AS (SELECT a.dst AS id, min(l.lbl) AS lbl
                     FROM adj a JOIN l1 l ON l.id = a.src GROUP BY 1),
              l3 AS (SELECT a.dst AS id, min(l.lbl) AS lbl
                     FROM adj a JOIN l2 l ON l.id = a.src GROUP BY 1)
              SELECT id, lbl FROM l3"""))
  )

  /** Whether `g2_label_prop` broadcasts its label table: |V| at most
    * `spark.graft.labelprop.broadcastMaxNodes` (default 8M; 0 always
    * shuffles).
    */
  private[queries] def labelPropBroadcast(
      s: org.apache.spark.sql.SparkSession, nodes: Long): Boolean =
    nodes <= s.conf.get(
      "spark.graft.labelprop.broadcastMaxNodes", "8000000").toLong

  /** One synchronous min-label round of `g2_label_prop`: every node takes
    * the minimum label over its (adjacency ∪ self-loop) neighbors. The
    * label table is broadcast-hinted when `bcast`.
    */
  private[queries] def labelPropRound(adj: org.apache.spark.sql.DataFrame,
      lbl: org.apache.spark.sql.DataFrame,
      bcast: Boolean): org.apache.spark.sql.DataFrame =
    adj.join(if (bcast) broadcast(lbl) else lbl, adj("src") === lbl("id"))
      .groupBy(col("dst")).agg(min(col("lbl")).as("lbl"))
      .select(col("dst").as("id"), col("lbl"))

  /** The distinct co-purchase edge list (parts sharing an order,
    * u < v) SHARED by `g1_triangles` and `g2_label_prop` — the two
    * distinct-heavy derivation passes dominated both queries' cost, so
    * the edge relation is a build-once session memo (the
    * `Caches.memo` pattern the tp_* chain uses): first caller pays the
    * order-key self-join + distincts, the second reads the persisted
    * blocks. Bench attributes the warm hit explicitly (`memo_warm`).
    * At 100 TB the analogue is materializing the edge relation once
    * per corpus snapshot — every graph query downstream shares it.
    */
  private def copurchaseEdges(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    graft.Caches.memo(s, s"g_copurchase_edges:$d") {
      // pairs are generated INSIDE each order's basket: one basket agg
      // (collect_set bounded by basket size) + ordered-pair expansion in
      // array expressions + one distinct — replaces the order-key
      // self-join and its extra exchange/distinct over the |li| relation
      // (guide §2.4; measured r16: ~1.6 s vs ~1.9 s steady-state and
      // less than half the cold cost at sf0.1). sort_array makes x < y
      // inside every emitted pair, matching the oracle's u < v.
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      li.groupBy(col("ok"))
        .agg(sort_array(collect_set(col("pk"))).as("ps"))
        .select(explode(expr(
          "flatten(transform(ps, (x, i) -> " +
            "transform(slice(ps, i + 2, size(ps)), " +
            "y -> struct(x AS u, y AS v))))")).as("e"))
        .select(col("e.u").as("u"), col("e.v").as("v"))
        .distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** J23 (ext.) — KEYLESS interval-overlap join via a time-grid: both
    * interval sets explode to the 30-day grid cells they cover, the
    * join is a plain shuffle equi-join on the cell, and each
    * overlapping pair is emitted EXACTLY ONCE by keeping only the cell
    * containing the overlap's start (`greatest(s1,s2) div 30` — that
    * cell is covered by BOTH sequences whenever the pair overlaps, so
    * no post-join DISTINCT shuffle is needed). This is the shape a
    * large×large interval join takes at 100 TB, where J17's
    * broadcast-ranges trick no longer fits: cost is pairs-per-cell,
    * not |L|×|R|, and the fan-out is bounded by interval length ÷ cell
    * width (≤ 2 cells for these ≤ 30-day intervals). The `merge` hint
    * pins the sort-merge path — the oracle is the plain theta join.
    */
  private def j23: Q =
    Q("j23_interval_grid_join",
      (s, d) => {
        val cellDays = 30
        // 28 quarterly 20-day "maintenance windows" over 1995–2001;
        // all interval arithmetic is in INTEGER day indices from
        // 1995-01-01 (engine-safe — no month stepping, no TZ).
        val win = s.range(0, 28).select(
            col("id").as("win_id"),
            (col("id") * 90 + 9).cast("int").as("wsd"))
          .withColumn("wed", col("wsd") + 20)
          .withColumn("cell",
            explode(expr(s"sequence(wsd div $cellDays, wed div $cellDays)")))
        // delivery interval: [shipdate, shipdate + quantity days]
        val li = Tables.lineitem(s, d).select(
            col("l_quantity"), to_date(col("l_shipdate")).as("ship_d"))
          .withColumn("sd", datediff(col("ship_d"), lit("1995-01-01")))
          .withColumn("ed", col("sd") + col("l_quantity").cast("int"))
          .withColumn("cell",
            explode(expr(s"sequence(sd div $cellDays, ed div $cellDays)")))
        li.hint("merge").join(win,
            li("cell") === win("cell") &&
              col("sd") <= col("wed") && col("ed") >= col("wsd") &&
              li("cell") === expr(s"greatest(sd, wsd) div $cellDays"))
          .groupBy(col("win_id"))
          .agg(count(lit(1)).as("n_items"),
            sum(col("l_quantity")).as("sum_qty"),
            min(col("ship_d")).as("first_ship"),
            max(expr("date_add(ship_d, CAST(l_quantity AS INT))"))
              .as("last_end"))
      },
      Some("""WITH win AS (
                SELECT i AS win_id,
                       CAST(i * 90 + 9 AS INTEGER) AS wsd,
                       CAST(i * 90 + 29 AS INTEGER) AS wed
                FROM range(0, 28) t(i)),
              li AS (
                SELECT l_quantity,
                       CAST(l_shipdate AS DATE) AS ship_d,
                       datediff('day', DATE '1995-01-01',
                                CAST(l_shipdate AS DATE)) AS sd
                FROM lineitem)
              SELECT win_id, count(*) AS n_items,
                     sum(l_quantity) AS sum_qty,
                     min(ship_d) AS first_ship,
                     max(ship_d + CAST(l_quantity AS INTEGER)) AS last_end
              FROM li JOIN win
                ON sd <= wed
                AND sd + CAST(l_quantity AS INTEGER) >= wsd
              GROUP BY 1"""))

  // ---- Fellegi–Sunter fixture + blocking, shared by j30 (hand-set
  // weights) and j32 (EM-learned weights) so the two faces score the
  // identical candidate universe ----

  /** clean register: deterministic name/phone/nation per customer. */
  private[queries] def fsClean(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    Tables.customer(s, d).select(
      col("c_custkey").as("c_id"),
      concat(lit("Corp-"),
        substring(md5(col("c_custkey").cast("string")), 1, 8))
        .as("ename"),
      lpad(((col("c_custkey") * 7919 + 13) % 10000000).cast("string"),
        7, "0").as("ephone"),
      col("c_nationkey").as("enation"))

  /** dirty feed: five planted corruption classes keyed on c_id % 5. */
  private[queries] def fsDirty(clean: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    clean.select(
      (col("c_id") + 100000L).as("d_id"), col("c_id").as("true_id"),
      when(col("c_id") % 5 === 0,
        expr("substring(ename, 1, length(ename) - 1)"))
        .when(col("c_id") % 5 === 2, expr("replace(ename, '-', ' ')"))
        .when(col("c_id") % 5 === 3,
          concat(lit("X"), substring(
            md5((col("c_id") + 999).cast("string")), 1, 8)))
        .otherwise(col("ename")).as("dname"),
      when(col("c_id") % 5 === 1,
        concat(substring(col("ephone"), 1, 6),
          ((substring(col("ephone"), 7, 1).cast("int") + 1) % 10)
            .cast("string")))
        .when(col("c_id") % 5 === 2,
          concat(lit("9"), substring(col("ephone"), 2, 6)))
        .otherwise(col("ephone")).as("dphone"),
      when(col("c_id") % 5 === 2, (col("enation") + 1) % 25)
        .otherwise(col("enation")).as("dnation"))

  /** two-pass blocking: capped q-gram index ∪ exact phone-suffix. */
  private[queries] def fsCand(dirty: org.apache.spark.sql.DataFrame,
      clean: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import graft.operators.ErBlocking
    val candA = ErBlocking.candidates(
        ErBlocking.grams(dirty.select(col("d_id"), col("dname")), "dname"),
        ErBlocking.grams(clean.select(col("c_id"), col("ename")), "ename"))
      .select(col("d_id"), col("c_id"))
    val candB = dirty.select(col("d_id"),
        substring(col("dphone"), 2, 6).as("blk"))
      .join(clean.select(col("c_id"),
        substring(col("ephone"), 2, 6).as("blk")), Seq("blk"))
      .select(col("d_id"), col("c_id"))
    candA.unionByName(candB).distinct()
  }

  /** per-pair comparison vector γ — the FS model's sufficient data:
    * name ∈ {2 agree, 1 lev≤2, 0}, phone ∈ {2, 1 last-4, 0},
    * nation ∈ {1, 0}. Keeps d_id/c_id/true_id for the spec's accuracy
    * grading; the query aggregates them away.
    */
  private[queries] def fsGammas(cand: org.apache.spark.sql.DataFrame,
      dirty: org.apache.spark.sql.DataFrame,
      clean: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    cand.join(dirty, Seq("d_id")).join(clean, Seq("c_id"))
      .select(col("d_id"), col("c_id"), col("true_id"),
        when(col("dname") === col("ename"), 2)
          .when(levenshtein(col("dname"), col("ename")) <= 2, 1)
          .otherwise(0).as("gn"),
        when(col("dphone") === col("ephone"), 2)
          .when(substring(col("dphone"), 4, 4) ===
            substring(col("ephone"), 4, 4), 1)
          .otherwise(0).as("gp"),
        when(col("dnation") === col("enation"), 1).otherwise(0).as("gt"))

  /** the clean/dirty/blocking CTE chain as DuckDB SQL — interpolated
    * into BOTH j30's and j32's oracles (the kmvSketchCtes pattern: one
    * text, two faces, no drift). Ends at `cand(d_id, c_id)`.
    */
  private[queries] def fsBlockingCtes: String =
    s"""clean AS (
                SELECT c_custkey AS c_id,
                       'Corp-' || substr(md5(CAST(c_custkey AS VARCHAR)),
                                         1, 8) AS ename,
                       lpad(CAST((c_custkey * 7919 + 13) % 10000000
                         AS VARCHAR), 7, '0') AS ephone,
                       c_nationkey AS enation
                FROM customer),
              dirty AS (
                SELECT c_id + 100000 AS d_id, c_id AS true_id,
                       CASE WHEN c_id % 5 = 0
                              THEN substr(ename, 1, length(ename) - 1)
                            WHEN c_id % 5 = 2 THEN replace(ename, '-', ' ')
                            WHEN c_id % 5 = 3
                              THEN 'X' || substr(md5(CAST(c_id + 999
                                AS VARCHAR)), 1, 8)
                            ELSE ename END AS dname,
                       CASE WHEN c_id % 5 = 1
                              THEN substr(ephone, 1, 6) ||
                                CAST((CAST(substr(ephone, 7, 1) AS INT) + 1)
                                  % 10 AS VARCHAR)
                            WHEN c_id % 5 = 2
                              THEN '9' || substr(ephone, 2, 6)
                            ELSE ephone END AS dphone,
                       CASE WHEN c_id % 5 = 2 THEN (enation + 1) % 25
                            ELSE enation END AS dnation
                FROM clean),
              dg AS (SELECT d_id, substr(dname, CAST(i AS INT), 4) AS gram
                     FROM dirty,
                       unnest(generate_series(1, length(dname) - 3)) t(i)),
              cg AS (SELECT c_id, substr(ename, CAST(i AS INT), 4) AS gram
                     FROM clean,
                       unnest(generate_series(1, length(ename) - 3)) t(i)),
              stopg AS (SELECT gram FROM cg
                        GROUP BY gram HAVING count(*) >
                          ${graft.operators.ErBlocking.DefaultMaxGramBucket}),
              canda AS (SELECT DISTINCT d_id, c_id
                        FROM dg JOIN cg USING (gram)
                        WHERE gram NOT IN (SELECT gram FROM stopg)),
              candb AS (SELECT DISTINCT d.d_id, c.c_id
                        FROM dirty d JOIN clean c
                          ON substr(d.dphone, 2, 6) = substr(c.ephone, 2, 6)),
              cand AS (SELECT * FROM canda UNION SELECT * FROM candb)"""

  // ---- j32's integer EM machinery (Spark face + oracle text) ----

  private[queries] val FsEmRounds = 3

  /** init milli-probabilities — the model's priors; every later value
    * is derived from these by the shared integer fixed-point. */
  private[queries] val FsInit: Seq[(String, Long)] = Seq(
    "p" -> 100L,
    "mn0" -> 50L, "mn1" -> 150L, "mn2" -> 800L,
    "un0" -> 900L, "un1" -> 80L, "un2" -> 20L,
    "mp0" -> 100L, "mp1" -> 150L, "mp2" -> 750L,
    "up0" -> 850L, "up1" -> 100L, "up2" -> 50L,
    "mt0" -> 150L, "mt1" -> 850L,
    "ut0" -> 960L, "ut1" -> 40L)

  private[queries] def fsInitParams(
      s: org.apache.spark.sql.SparkSession): org.apache.spark.sql.DataFrame =
    s.range(1).select(FsInit.map { case (n, v) => lit(v).as(n) }: _*)

  // per-cell likelihood pieces, selecting the level's param by γ
  private def fsSel(g: String, c0: String, c1: String, c2: String) =
    when(col(g) === 0, col(c0)).when(col(g) === 1, col(c1))
      .otherwise(col(c2))
  private def fsSel2(g: String, c0: String, c1: String) =
    when(col(g) === 0, col(c0)).otherwise(col(c1))
  private[queries] def fsNum =
    fsSel("gn", "mn0", "mn1", "mn2") * fsSel("gp", "mp0", "mp1", "mp2") *
      fsSel2("gt", "mt0", "mt1")
  private[queries] def fsDen =
    fsSel("gn", "un0", "un1", "un2") * fsSel("gp", "up0", "up1", "up2") *
      fsSel2("gt", "ut0", "ut1")
  private[queries] def fsPm = col("p") * fsNum
  private[queries] def fsPu = (lit(1000L) - col("p")) * fsDen

  private def clampMilli(c: org.apache.spark.sql.Column) =
    greatest(lit(1L), least(lit(999L), c))

  /** field/level grid: (m-param, u-param, γ column, level). */
  private val FsLevels = Seq(
    ("mn0", "un0", "gn", 0), ("mn1", "un1", "gn", 1), ("mn2", "un2", "gn", 2),
    ("mp0", "up0", "gp", 0), ("mp1", "up1", "gp", 1), ("mp2", "up2", "gp", 2),
    ("mt0", "ut0", "gt", 0), ("mt1", "ut1", "gt", 1))

  /** One EM round over the contingency cells — all integer: E-step
    * responsibility w = pm·1000 div (pm+pu) (likelihoods are exact
    * BIGINT products of milli-params), M-step params are clamped
    * integer ratios. 18 rows × 1 param row: metadata-scale however
    * large the pair universe was.
    */
  private[queries] def fsEmRound(cells: org.apache.spark.sql.DataFrame,
      params: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val e = cells.crossJoin(broadcast(params))
      .withColumn("pm", fsPm).withColumn("pu", fsPu)
      .withColumn("w", expr("pm * 1000 div (pm + pu)"))
    val mSums = FsLevels.flatMap { case (mName, uName, g, l) => Seq(
      sum(when(col(g) === l, col("n") * col("w")).otherwise(lit(0L)))
        .as(s"s_$mName"),
      sum(when(col(g) === l, col("n") * (lit(1000L) - col("w")))
        .otherwise(lit(0L))).as(s"s_$uName")) }
    val aggCols = Seq(
      sum(col("n") * col("w")).as("sw"),
      sum(col("n") * (lit(1000L) - col("w"))).as("swc"),
      sum(col("n")).as("nn")) ++ mSums
    val agg = e.agg(aggCols.head, aggCols.tail: _*)
    agg.select(
      clampMilli(expr("sw div nn")).as("p") +:
      FsLevels.flatMap { case (mName, uName, _, _) => Seq(
        clampMilli(expr(s"s_$mName * 1000 div sw")).as(mName),
        clampMilli(expr(s"s_$uName * 1000 div swc")).as(uName)) }: _*)
  }

  // the identical fixed-point as DuckDB CTE text (appended after
  // fsBlockingCtes; ends at `fin(gn, gp, gt, n, pm, pu, num, den)`)
  private def sqlSel(g: String, c0: String, c1: String, c2: String) =
    s"CASE WHEN $g = 0 THEN $c0 WHEN $g = 1 THEN $c1 ELSE $c2 END"
  private def sqlSel2(g: String, c0: String, c1: String) =
    s"CASE WHEN $g = 0 THEN $c0 ELSE $c1 END"
  private def sqlNum =
    s"""${sqlSel("gn", "mn0", "mn1", "mn2")} *
        ${sqlSel("gp", "mp0", "mp1", "mp2")} * ${sqlSel2("gt", "mt0", "mt1")}"""
  private def sqlDen =
    s"""${sqlSel("gn", "un0", "un1", "un2")} *
        ${sqlSel("gp", "up0", "up1", "up2")} * ${sqlSel2("gt", "ut0", "ut1")}"""

  private[queries] def fsEmOracleCtes: String = {
    val init = "p0 AS (SELECT " + FsInit.map { case (n, v) =>
      s"CAST($v AS BIGINT) AS $n" }.mkString(", ") + ")"
    val mStep = (Seq("CAST(GREATEST(1, LEAST(999, sum(n*w) // sum(n))) " +
        "AS BIGINT) AS p") ++
      FsLevels.flatMap { case (mName, uName, g, l) => Seq(
        s"""CAST(GREATEST(1, LEAST(999,
            sum(CASE WHEN $g = $l THEN n*w ELSE 0 END) * 1000
              // sum(n*w))) AS BIGINT) AS $mName""",
        s"""CAST(GREATEST(1, LEAST(999,
            sum(CASE WHEN $g = $l THEN n*(1000-w) ELSE 0 END) * 1000
              // sum(n*(1000-w)))) AS BIGINT) AS $uName""") })
      .mkString(",\n                ")
    val rounds = (1 to FsEmRounds).map { r =>
      s"""e$r AS (SELECT c.*, p * ($sqlNum) AS pm,
                       (1000 - p) * ($sqlDen) AS pu
                 FROM cont c, p${r - 1}),
              w$r AS (SELECT gn, gp, gt, n, pm * 1000 // (pm + pu) AS w
                      FROM e$r),
              p$r AS (SELECT $mStep FROM w$r)""" }.mkString(",\n              ")
    s"""gam AS (
                SELECT CASE WHEN d.dname = c.ename THEN 2
                            WHEN levenshtein(d.dname, c.ename) <= 2 THEN 1
                            ELSE 0 END AS gn,
                       CASE WHEN d.dphone = c.ephone THEN 2
                            WHEN substr(d.dphone, 4, 4)
                              = substr(c.ephone, 4, 4) THEN 1
                            ELSE 0 END AS gp,
                       CASE WHEN d.dnation = c.enation THEN 1 ELSE 0 END
                         AS gt
                FROM cand JOIN dirty d USING (d_id)
                JOIN clean c USING (c_id)),
              cont AS (SELECT gn, gp, gt, CAST(count(*) AS BIGINT) AS n
                       FROM gam GROUP BY 1, 2, 3),
              $init,
              $rounds,
              fin AS (SELECT c.gn, c.gp, c.gt, c.n,
                             CAST(p * ($sqlNum) AS BIGINT) AS pm,
                             CAST((1000 - p) * ($sqlDen) AS BIGINT) AS pu,
                             CAST($sqlNum AS BIGINT) AS num,
                             CAST($sqlDen AS BIGINT) AS den
                      FROM cont c, p$FsEmRounds)"""
  }
}
