package graft.queries

import graft.Tables
import org.apache.spark.sql.functions._

/** Scans, projections and audited filter predicates (SURVEY §2.1–2.2).
  * Each filter family from the reference is restated over the synthetic
  * star schema; predicates are written so Catalyst pushes them into the
  * parquet scan (verified via explain — `PushedFilters`).
  */
object QFilters extends Registry {

  def qs: Seq[Q] = Seq(

    // S1/F15 — projected, filtered scan with pushdown (reference: WRDS
    // chunk SELECT, stage0/create_daily_enhanced_trace.py:499-508).
    Q("s1_scan_prune",
      (s, d) => Tables.lineitem(s, d)
        .filter(col("l_returnflag") === "R" && col("l_quantity") <= 10)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice")),
      Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
              FROM lineitem WHERE l_returnflag = 'R' AND l_quantity <= 10""")),

    // F1 — universe screens: chained predicates incl. regex + IN-list + range
    // (reference: FISD screens, stage0/create_daily_enhanced_trace.py:2294-2391).
    Q("f1_universe_screens",
      (s, d) => Tables.part(s, d)
        .filter(!col("p_type").rlike("PROMO|ECONOMY"))
        .filter(!col("p_brand").isin("Brand#1", "Brand#2"))
        .filter(col("p_size") >= 5 && col("p_size") <= 40)
        .filter(col("p_retailprice") > 950)
        .filter(col("p_name").rlike("widget|bolt"))
        .select(col("p_partkey"), col("p_name"), col("p_type"), col("p_size"),
          col("p_retailprice")),
      Some("""SELECT p_partkey, p_name, p_type, p_size, p_retailprice
              FROM part
              WHERE NOT regexp_matches(p_type, 'PROMO|ECONOMY')
                AND p_brand NOT IN ('Brand#1', 'Brand#2')
                AND p_size >= 5 AND p_size <= 40
                AND p_retailprice > 950
                AND regexp_matches(p_name, 'widget|bolt')""")),

    // F4/F5 — price screen + derived dollar-volume screen
    // (stage0/create_daily_enhanced_trace.py:607-634). The product of two
    // 2-dp inputs is a true 4-decimal value, so round at 4dp — rounding at
    // 2dp would sit exactly on half boundaries where Spark (exact-binary
    // HALF_UP) and DuckDB (scale-then-rint) disagree.
    Q("f4f5_price_volume_screen",
      (s, d) => Tables.lineitem(s, d)
        .withColumn("dollar_vol",
          round(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4))
        .filter(col("l_extendedprice") > 1000 && col("l_extendedprice") <= 100000)
        .filter(col("dollar_vol") >= 20000)
        .filter(col("l_quantity") <= 45)
        .select(col("l_orderkey"), col("l_linenumber"), col("dollar_vol")),
      Some("""SELECT l_orderkey, l_linenumber,
                     round(l_extendedprice * (1.0 - l_discount), 4) AS dollar_vol
              FROM lineitem
              WHERE l_extendedprice > 1000 AND l_extendedprice <= 100000
                AND round(l_extendedprice * (1.0 - l_discount), 4) >= 20000
                AND l_quantity <= 45""")),

    // F6 — trading-calendar semi-join: keep only ship dates that are NYSE
    // sessions (stage0/create_daily_enhanced_trace.py:1397-1456). The
    // session set is GENERATED from holiday rules
    // (analytics.TradingCalendar — the pandas_market_calendars analogue),
    // not shipped: ~250 rows/year → always a broadcast semi-join. The
    // oracle re-derives the same rule set independently in pure SQL
    // (weekday filter + per-year holiday construction, Gregorian Easter
    // computus included), so the two calendars cross-check each other.
    Q("f6_calendar_semi_join",
      (s, d) => {
        // lineitem's ship-date domain (1995-01..2001-11 — which spans
        // the September 2001 closures)
        val cal = graft.analytics.TradingCalendar.table(s,
          java.time.LocalDate.of(1995, 1, 1),
          java.time.LocalDate.of(2001, 12, 31))
        Tables.lineitem(s, d)
          .withColumn("ship_d", to_date(col("l_shipdate")))
          .join(broadcast(cal), col("ship_d") === col("valid_dt"), "left_semi")
          .groupBy(col("ship_d")).agg(count(lit(1)).as("n"))
      },
      Some("""WITH years AS (SELECT y FROM generate_series(1995, 2001) g(y)),
              -- anonymous/Meeus Gregorian Easter, pure integer arithmetic
              e1 AS (SELECT y, y % 19 AS a, y // 100 AS b, y % 100 AS c FROM years),
              e2 AS (SELECT *, b // 4 AS d, b % 4 AS ee, (b + 8) // 25 AS f FROM e1),
              e3 AS (SELECT *, (b - f + 1) // 3 AS g FROM e2),
              e4 AS (SELECT *, (19*a + b - d - g + 15) % 30 AS h, c // 4 AS i, c % 4 AS k FROM e3),
              e5 AS (SELECT *, (32 + 2*ee + 2*i - h - k) % 7 AS l FROM e4),
              e6 AS (SELECT *, (a + 11*h + 22*l) // 451 AS m FROM e5),
              easterd AS (SELECT y, make_date(y, (h + l - 7*m + 114) // 31,
                                  (h + l - 7*m + 114) % 31 + 1) AS es FROM e6),
              fom AS (SELECT y,
                        make_date(y, 1, 1) AS jan1, make_date(y, 2, 1) AS feb1,
                        make_date(y, 9, 1) AS sep1, make_date(y, 11, 1) AS nov1,
                        make_date(y, 5, 31) AS may31
                      FROM years),
              hol AS (
                -- New Year: Sun -> Mon, Sat -> NOT observed
                SELECT y, CASE isodow(jan1) WHEN 7 THEN jan1 + CAST(1 AS INT)
                               WHEN 6 THEN NULL ELSE jan1 END AS hd FROM fom
                UNION ALL  -- MLK: 3rd Monday Jan, observed since 1998
                SELECT y, jan1 + CAST((8 - isodow(jan1)) % 7 + 14 AS INT) FROM fom WHERE y >= 1998
                UNION ALL  -- September 2001 market closure
                SELECT 2001, make_date(2001, 9, CAST(dd AS INT))
                FROM generate_series(11, 14) q(dd)
                UNION ALL  -- Washington: 3rd Monday Feb
                SELECT y, feb1 + CAST((8 - isodow(feb1)) % 7 + 14 AS INT) FROM fom
                UNION ALL  -- Good Friday
                SELECT y, es - CAST(2 AS INT) FROM easterd
                UNION ALL  -- Memorial: last Monday May
                SELECT y, may31 - CAST((isodow(may31) - 1) % 7 AS INT) FROM fom
                UNION ALL  -- Independence Day, observed
                SELECT y, CASE isodow(make_date(y, 7, 4))
                               WHEN 6 THEN make_date(y, 7, 4) - CAST(1 AS INT)
                               WHEN 7 THEN make_date(y, 7, 4) + CAST(1 AS INT)
                               ELSE make_date(y, 7, 4) END FROM years
                UNION ALL  -- Labor: 1st Monday Sep
                SELECT y, sep1 + CAST((8 - isodow(sep1)) % 7 AS INT) FROM fom
                UNION ALL  -- Thanksgiving: 4th Thursday Nov
                SELECT y, nov1 + CAST((11 - isodow(nov1)) % 7 + 21 AS INT) FROM fom
                UNION ALL  -- Christmas, observed
                SELECT y, CASE isodow(make_date(y, 12, 25))
                               WHEN 6 THEN make_date(y, 12, 25) - CAST(1 AS INT)
                               WHEN 7 THEN make_date(y, 12, 25) + CAST(1 AS INT)
                               ELSE make_date(y, 12, 25) END FROM years)
              SELECT CAST(l_shipdate AS DATE) AS ship_d, count(*) AS n
              FROM lineitem
              WHERE isodow(CAST(l_shipdate AS DATE)) <= 5
                AND CAST(l_shipdate AS DATE) NOT IN
                    (SELECT hd FROM hol WHERE hd IS NOT NULL)
              GROUP BY 1""")),

    // F7/X4 — time-of-day seconds + wrap-around window filter
    // (stage0/create_daily_enhanced_trace.py:1344-1375, 128-163).
    Q("f7_time_window_wrap",
      (s, d) => Tables.events(s, d)
        .withColumn("secs",
          (hour(col("ts")) * 3600 + minute(col("ts")) * 60 + second(col("ts")))
            .cast("long"))
        .filter(col("secs") >= 79200 || col("secs") <= 7200)
        .select(col("event_id"), col("secs")),
      Some("""SELECT event_id,
                     CAST(extract(hour FROM ts) * 3600 + extract(minute FROM ts) * 60
                          + extract(second FROM ts) AS BIGINT) AS secs
              FROM events
              WHERE (extract(hour FROM ts) * 3600 + extract(minute FROM ts) * 60
                     + extract(second FROM ts)) >= 79200
                 OR (extract(hour FROM ts) * 3600 + extract(minute FROM ts) * 60
                     + extract(second FROM ts)) <= 7200""")),

    // S9 — semi-structured text parse (Fama-French Siccodes format:
    // industry header lines + indented SIC range lines,
    // stage1/helper_functions.py:4420-4466): regex extraction over a raw
    // positioned text relation; each range row is associated with the
    // nearest header ABOVE it via a positional backward as-of (window max
    // over line order) → (ind_num, ind_name, sic_start, sic_end).
    Q("s9_siccodes_parse",
      (s, d) => {
        import s.implicits._
        val raw = Seq(
          " 1 Food   Food products",
          "          0100-0199 Agricultural production",
          "          0200-0299 Livestock",
          " 2 Mines  Mining",
          "          1000-1099 Metal mining",
          " 3 Oil    Petroleum",
          "          1300-1399 Oil and gas extraction",
          "          2900-2999 Refining")
        val lines = raw.zipWithIndex.map { case (l, i) => (i, l) }
          .toDF("pos", "line")
        // Window.orderBy with NO partition key moves everything to one
        // task — acceptable ONLY because this input is 8 literal driver
        // rows (a fixed text-file parse); NEVER use this shape on a real
        // table (see operators.PrefixSum for the distributed alternative).
        val w = org.apache.spark.sql.expressions.Window
          .orderBy(col("pos"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
        lines
          .withColumn("h_num",
            when(col("line").rlike("^ ?\\d+ "),
              regexp_extract(col("line"), "^ ?(\\d+) +(\\S+)", 1).cast("int")))
          .withColumn("h_name",
            when(col("line").rlike("^ ?\\d+ "),
              regexp_extract(col("line"), "^ ?(\\d+) +(\\S+)", 2)))
          .withColumn("ind_num", last(col("h_num"), ignoreNulls = true).over(w))
          .withColumn("ind_name", last(col("h_name"), ignoreNulls = true).over(w))
          .filter(col("line").rlike("^ +\\d{4}-\\d{4}"))
          .select(col("ind_num"), col("ind_name"),
            regexp_extract(col("line"), "(\\d{4})-(\\d{4})", 1)
              .cast("int").as("sic_start"),
            regexp_extract(col("line"), "(\\d{4})-(\\d{4})", 2)
              .cast("int").as("sic_end"))
      },
      Some("""WITH lines(pos, line) AS (VALUES
                (0, ' 1 Food   Food products'),
                (1, '          0100-0199 Agricultural production'),
                (2, '          0200-0299 Livestock'),
                (3, ' 2 Mines  Mining'),
                (4, '          1000-1099 Metal mining'),
                (5, ' 3 Oil    Petroleum'),
                (6, '          1300-1399 Oil and gas extraction'),
                (7, '          2900-2999 Refining')),
              marked AS (
                SELECT pos, line,
                  CASE WHEN regexp_matches(line, '^ ?\d+ ')
                    THEN CAST(regexp_extract(line, '^ ?(\d+) +(\S+)', 1) AS INT) END AS h_num,
                  CASE WHEN regexp_matches(line, '^ ?\d+ ')
                    THEN regexp_extract(line, '^ ?(\d+) +(\S+)', 2) END AS h_name
                FROM lines),
              filled AS (
                SELECT pos, line,
                  last_value(h_num IGNORE NULLS) OVER (ORDER BY pos) AS ind_num,
                  last_value(h_name IGNORE NULLS) OVER (ORDER BY pos) AS ind_name
                FROM marked)
              SELECT ind_num, ind_name,
                CAST(regexp_extract(line, '(\d{4})-(\d{4})', 1) AS INT) AS sic_start,
                CAST(regexp_extract(line, '(\d{4})-(\d{4})', 2) AS INT) AS sic_end
              FROM filled
              WHERE regexp_matches(line, '^ +\d{4}-\d{4}')""")),

    // §2.12 audit ledger — (stage, rows_before, rows_after, removed) per
    // filter stage, computed in ONE conditional-aggregate pass (the
    // reference counts after each stage: log_filter,
    // stage0/create_daily_enhanced_trace.py:42-107).
    Q("audit_filter_ledger",
      (s, d) => graft.operators.AuditedFilter.ledger(
        Tables.lineitem(s, d),
        Seq(
          graft.operators.AuditedFilter.Stage("price_screen",
            col("l_extendedprice") > 1000 && col("l_extendedprice") <= 100000),
          graft.operators.AuditedFilter.Stage("qty_screen", col("l_quantity") <= 45),
          graft.operators.AuditedFilter.Stage("not_returned", col("l_returnflag") =!= "R"),
          graft.operators.AuditedFilter.Stage("dollar_vol",
            round(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4) >= 20000))),
      Some("""WITH c AS (
                SELECT count(*) AS n,
                  count(*) FILTER (WHERE l_extendedprice > 1000 AND l_extendedprice <= 100000) AS s0,
                  count(*) FILTER (WHERE l_extendedprice > 1000 AND l_extendedprice <= 100000
                                     AND l_quantity <= 45) AS s1,
                  count(*) FILTER (WHERE l_extendedprice > 1000 AND l_extendedprice <= 100000
                                     AND l_quantity <= 45 AND l_returnflag <> 'R') AS s2,
                  count(*) FILTER (WHERE l_extendedprice > 1000 AND l_extendedprice <= 100000
                                     AND l_quantity <= 45 AND l_returnflag <> 'R'
                                     AND round(l_extendedprice * (1.0 - l_discount), 4) >= 20000) AS s3
                FROM lineitem)
              SELECT 'price_screen' AS stage, n AS rows_before, s0 AS rows_after, n - s0 AS removed FROM c
              UNION ALL
              SELECT 'qty_screen', s0, s1, s0 - s1 FROM c
              UNION ALL
              SELECT 'not_returned', s1, s2, s1 - s2 FROM c
              UNION ALL
              SELECT 'dollar_vol', s2, s3, s2 - s3 FROM c""")),

    // S6 — Excel scan: region rows written to an .xlsx with a 2-row
    // preamble (the reference reads the Liu–Wu workbook with header=8,
    // stage1/helper_functions.py:645-762), read back through the JDK-only
    // xlsx reader (graft.sources.Xlsx), cast from the all-strings schema.
    Q("s6_excel_scan",
      (s, d) => {
        import graft.sources.Xlsx
        val path = s"${System.getProperty("java.io.tmpdir")}/graft_s6_region.xlsx"
        val rows: Seq[Seq[Any]] =
          Seq(Seq("Liu-Wu style preamble"), Seq("generated for S6 scan"),
            Seq("r_regionkey", "r_name")) ++
          Tables.region(s, d).select(col("r_regionkey"), col("r_name"))
            .orderBy(col("r_regionkey")).collect()
            .map(r => Seq[Any](r.getInt(0), r.getString(1))).toSeq
        Xlsx.write(path, rows)
        Xlsx.read(s, path, headerRow = 2)
          .select(col("r_regionkey").cast("int").as("r_regionkey"),
            col("r_name"))
      },
      Some("SELECT r_regionkey, r_name FROM region")),

    // S7 — CSV-over-URL scan (FRED fetch shape,
    // stage1/helper_functions.py:257-307): nation staged as a CSV file and
    // read back through the URL code path (file:// here — zero egress —
    // http(s):// in production is the same handler).
    Q("s7_csv_over_url",
      (s, d) => {
        val path = s"${System.getProperty("java.io.tmpdir")}/graft_s7_nation.csv"
        val rows = Tables.nation(s, d)
          .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
          .orderBy(col("n_nationkey")).collect()
          .map(r => s"${r.getInt(0)},${r.getString(1)},${r.getInt(2)}")
        java.nio.file.Files.write(java.nio.file.Paths.get(path),
          (("n_nationkey,n_name,n_regionkey" +: rows).mkString("\n") + "\n")
            .getBytes("UTF-8"))
        graft.sources.CsvUrl.read(s, s"file://$path")
          .select(col("n_nationkey").cast("int").as("n_nationkey"),
            col("n_name"),
            col("n_regionkey").cast("int").as("n_regionkey"))
      },
      Some("SELECT n_nationkey, n_name, n_regionkey FROM nation")),

    // S8 — parquet-inside-zip scan (load_parquet_from_zip_url,
    // stage1/helper_functions.py:457-472): the region parquet zipped under
    // a member path, located by name and handed to the vectorized reader.
    Q("s8_parquet_in_zip",
      (s, d) => {
        val zipPath = s"${System.getProperty("java.io.tmpdir")}/graft_s8_region.zip"
        val zout = new java.util.zip.ZipOutputStream(
          new java.io.FileOutputStream(zipPath))
        try {
          zout.putNextEntry(new java.util.zip.ZipEntry("data/region.parquet"))
          zout.write(java.nio.file.Files.readAllBytes(
            java.nio.file.Paths.get(s"$d/region.parquet")))
          zout.closeEntry()
        } finally zout.close()
        graft.sources.ParquetInZip.read(s, zipPath, "data/region.parquet")
          .select(col("r_regionkey"), col("r_name"))
      },
      Some("SELECT r_regionkey, r_name FROM region")),

    // F2/F3/F8/F10–F13 — the pre-2012 base-filter family run the way the
    // reference runs it: ONE audited sequence over the trades view
    // (stage0/create_daily_enhanced_trace.py:1520-1558), including the
    // NaN→'None' string normalization before the settlement/special-
    // condition membership tests. Indicator columns are deterministic
    // derivations from `ord` (the synthetic stand-ins for days_to_sttl_ct,
    // wis_fl, lckd_in_ind, sale_cndtn_cd); the ledger itself is the
    // one-pass conditional-aggregate AuditedFilter.
    Q("f_pre2012_audited_chain",
      (s, d) => {
        import graft.operators.AuditedFilter
        val tr = Trades.df(s, d).select(
          col("*"),
          expr("CASE WHEN ord % 7 = 0 THEN 'None' " +
            "ELSE lpad(CAST(CAST(ord % 5 AS INT) AS STRING), 3, '0') END")
            .as("days_to_sttl_ct"),
          expr("CASE WHEN ord % 11 = 0 THEN 'Y' ELSE 'N' END").as("wis_fl"),
          expr("CASE WHEN ord % 13 = 0 THEN 'Y' ELSE 'N' END").as("lckd_in_ind"),
          expr("CASE WHEN ord % 17 = 0 THEN 'Z' WHEN ord % 3 = 0 THEN '@' " +
            "ELSE 'None' END").as("sale_cndtn_cd"))
        AuditedFilter.ledger(tr, Seq(
          AuditedFilter.Stage("pre_settle_<=2d",
            col("days_to_sttl_ct").isin("000", "001", "002", "None")),
          AuditedFilter.Stage("pre_exclude_WIS", col("wis_fl") =!= "Y"),
          AuditedFilter.Stage("pre_exclude_locked_in", col("lckd_in_ind") =!= "Y"),
          AuditedFilter.Stage("pre_exclude_special_cond",
            col("sale_cndtn_cd").isin("None", "@")),
          AuditedFilter.Stage("yld_ne_price", col("price") =!= col("qty")),
          AuditedFilter.Stage("positive_price", col("price") > 0),
          AuditedFilter.Stage("positive_qty", col("qty") > 0),
          AuditedFilter.Stage("known_side", col("side").isin("B", "S")),
          AuditedFilter.Stage("trade_reports_only", col("trc_st") === "T")))
      },
      Some {
        val preds = Seq(
          "pre_settle_<=2d" ->
            """(CASE WHEN ord % 7 = 0 THEN 'None'
               ELSE lpad(CAST(CAST(ord % 5 AS INT) AS VARCHAR), 3, '0') END)
               IN ('000', '001', '002', 'None')""",
          "pre_exclude_WIS" ->
            "(CASE WHEN ord % 11 = 0 THEN 'Y' ELSE 'N' END) <> 'Y'",
          "pre_exclude_locked_in" ->
            "(CASE WHEN ord % 13 = 0 THEN 'Y' ELSE 'N' END) <> 'Y'",
          "pre_exclude_special_cond" ->
            """(CASE WHEN ord % 17 = 0 THEN 'Z' WHEN ord % 3 = 0 THEN '@'
               ELSE 'None' END) IN ('None', '@')""",
          "yld_ne_price" -> "price <> qty",
          "positive_price" -> "price > 0",
          "positive_qty" -> "qty > 0",
          "known_side" -> "side IN ('B', 'S')",
          "trade_reports_only" -> "trc_st = 'T'")
        val failSql = preds.zipWithIndex
          .map { case ((_, p), i) => s"WHEN NOT ($p) THEN $i" }
          .mkString("CASE ", " ", s" ELSE ${preds.length} END")
        val counts = preds.indices
          .map(i => s"count(*) FILTER (WHERE fs > $i) AS s$i").mkString(",\n")
        val rows = preds.zipWithIndex.map { case ((name, _), i) =>
          val before = if (i == 0) "n" else s"s${i - 1}"
          s"SELECT '$name' AS stage, $before AS rows_before, s$i AS rows_after, $before - s$i AS removed FROM c"
        }.mkString("\nUNION ALL\n")
        s"""WITH tr AS (${Trades.sql}),
           f AS (SELECT $failSql AS fs FROM tr),
           c AS (SELECT count(*) AS n, $counts FROM f)
           $rows"""
      }),

    // F14 — scalar-aggregate cutoff: keep lineitem rows shipped strictly
    // after the max 'F'-order date (stage1/stage1_pipeline.py:218-240).
    // The 1-row max side is cross-joined (broadcast) to stay fully lazy.
    Q("f14_overlap_clip",
      (s, d) => {
        val mx = Tables.orders(s, d).filter(col("o_orderstatus") === "F")
          .agg(max(col("o_orderdate")).as("__mx"))
        Tables.lineitem(s, d).crossJoin(broadcast(mx))
          .filter(col("l_shipdate") > col("__mx"))
          .select(col("l_orderkey"), col("l_linenumber"))
      },
      Some("""SELECT l_orderkey, l_linenumber FROM lineitem
              WHERE l_shipdate > (SELECT max(o_orderdate) FROM orders
                                  WHERE o_orderstatus = 'F')""")),

    // S11 — PARTITIONED sink + partition-PRUNED scan: orders written
    // `partitionBy` month (~80 dirs), read back with a month-range
    // predicate that Catalyst resolves against the directory layout —
    // only 12/80 partitions are ever listed or read (PartitionFilters in
    // the scan; pinned by PartitionPruneSpec). At 100 TB partition-on-
    // ingest-date is the first-order scan reducer: a month-window query
    // touches 1% of the files, no row-group stats needed. The read-back
    // passes an explicit schema — partition-value inference would parse
    // '1995-01' as a DATE and silently change the column's type.
    Q("s11_partition_prune",
      (s, d) => {
        val dir = graft.Scratch.dirFor("s11_part", d)
        val withMonth = Tables.orders(s, d)
          .withColumn("o_month", date_format(col("o_orderdate"), "yyyy-MM"))
        // repartition ON the partition column before the write: without it
        // every input task writes a file into every month dir (tasks ×
        // months small files — the classic partitioned-sink file
        // explosion); with it each dir gets one file per owning task
        withMonth.repartition(col("o_month"))
          .write.mode("overwrite").partitionBy("o_month")
          .parquet(s"$dir/orders_bymonth")
        s.read.schema(withMonth.schema).parquet(s"$dir/orders_bymonth")
          .filter(col("o_month").between("1995-01", "1995-12"))
          .groupBy(col("o_month"))
          .agg(count(lit(1)).as("n_orders"),
            Tables.dsum(col("o_totalprice")).as("sum_price"))
      },
      Some("""SELECT strftime(o_orderdate, '%Y-%m') AS o_month,
                     count(*) AS n_orders,
                     CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
              FROM orders
              WHERE strftime(o_orderdate, '%Y-%m') BETWEEN '1995-01' AND '1995-12'
              GROUP BY 1""")),

    // S12 — gzipped-JSONL corpus round trip (the de-facto LLM training-
    // data interchange format; training-data extension, no reference
    // analogue): documents written as gzip JSONL shards by the Spark
    // sink, read back through sources.Jsonl with an EXPLICIT schema (no
    // inference scan) and corrupt-line quarantine. The oracle is the
    // parquet table itself — the round trip must be lossless, JSON
    // escaping and all.
    // S13 — ORC sink + scan round trip (ext.): the second columnar
    // format a mixed lake serves. Same discipline as S4: write through
    // the Spark ORC sink, re-read, and the re-read frame must still
    // match the parquet-derived oracle; the re-read filter reaches the
    // ORC reader as PushedFilters (ORC predicate pushdown is stripe-
    // level min/max skipping — the same file-skipping story as parquet
    // row groups at 100 TB).
    Q("s13_orc_roundtrip",
      (s, d) => {
        val dir = graft.Scratch.dirFor("s13_orc", d)
        Tables.lineitem(s, d).write.mode("overwrite")
          .option("compression", "zlib").orc(s"$dir/lineitem_orc")
        s.read.orc(s"$dir/lineitem_orc")
          .filter(col("l_returnflag") === "A" && col("l_quantity") >= 30)
          .groupBy(col("l_linestatus"))
          .agg(count(lit(1)).as("n_rows"),
            Tables.dsum(col("l_extendedprice")).as("sum_price"))
      },
      Some("""SELECT l_linestatus, count(*) AS n_rows,
                     CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
                       AS DOUBLE) AS sum_price
              FROM lineitem
              WHERE l_returnflag = 'A' AND l_quantity >= 30
              GROUP BY 1""")),

    // S14 — snapshot diff (ext.): the CDC primitive an incremental
    // 100 TB corpus refresh runs before re-processing — classify every
    // doc_id across two corpus versions as added / removed / changed /
    // unchanged by content hash and ledger the counts per source. v2 is
    // derived deterministically from v1 (drops, in-place edits, brand-new
    // ids) so the oracle rebuilds both sides exactly. Scale shape: one
    // full-outer sort-merge join on the id — content never compared
    // beyond the md5 computed in-row on each side; the ledger is a
    // low-cardinality hash-agg.
    Q("s14_snapshot_diff",
      (s, d) => {
        val v1 = Tables.documents(s, d)
        val v2 = QFilters.snapshotV2(v1)
        val a = v1.select(col("doc_id"), md5(col("text")).as("h1"),
          col("source").as("src1"))
        val b = v2.select(col("doc_id"), md5(col("text")).as("h2"),
          col("source").as("src2"))
        a.join(b, Seq("doc_id"), "full_outer")
          .select(coalesce(col("src1"), col("src2")).as("source"),
            when(col("h1").isNull, "added")
              .when(col("h2").isNull, "removed")
              .when(col("h1") === col("h2"), "unchanged")
              .otherwise("changed").as("status"))
          .groupBy(col("source"), col("status"))
          .agg(count(lit(1)).as("n_docs"))
      },
      Some(s"""WITH ${QFilters.snapshotV2Sql},
              a AS (SELECT doc_id, md5(text) AS h1, source AS src1
                    FROM documents),
              b AS (SELECT doc_id, md5(text) AS h2, source AS src2 FROM v2)
              SELECT coalesce(src1, src2) AS source,
                     CASE WHEN h1 IS NULL THEN 'added'
                          WHEN h2 IS NULL THEN 'removed'
                          WHEN h1 = h2 THEN 'unchanged'
                          ELSE 'changed' END AS status,
                     count(*) AS n_docs
              FROM a FULL OUTER JOIN b USING (doc_id)
              GROUP BY 1, 2""")),

    // S15 — Z-order clustered layout (ext.): lineitem rewritten
    // range-partitioned + sorted on the Morton interleave of
    // (l_partkey, l_suppkey), then probed with a box predicate on BOTH
    // dimensions. The RESULT is layout-invariant (that is the oracle);
    // the LAYOUT is the point — matching rows concentrate into a few
    // files whose footer min/max covers the box, so a min/max-pruning
    // reader skips the rest, where a linear (single-key-sorted) layout
    // scatters second-dimension matches across every file
    // (`ZOrderSpec` measures files-touched under both layouts). At
    // 100 TB this is the difference between a scan and a seek.
    Q("s15_zorder_layout",
      (s, d) => {
        val dir = graft.Scratch.dirFor("s15_zorder", d)
        // stats pass first (one 4-value agg — metadata-cheap next to the
        // rewrite): raw keys exceed the 16-bit budget past small scale
        // factors, so each dim is range-bucketed onto [0, 2^16) before
        // interleaving — zValue refuses out-of-range input at runtime
        val b = Tables.lineitem(s, d)
          .agg(min(col("l_partkey")), max(col("l_partkey")),
            min(col("l_suppkey")), max(col("l_suppkey")))
          .collect().head
        val z = graft.operators.ZOrder.zValue(Seq(
          graft.operators.ZOrder.bucketed("l_partkey",
            b.getLong(0), b.getLong(1)),
          graft.operators.ZOrder.bucketed("l_suppkey",
            b.getLong(2), b.getLong(3))))
        Tables.lineitem(s, d).withColumn("zval", z)
          .repartitionByRange(16, col("zval"))
          .sortWithinPartitions(col("zval"))
          .drop("zval")
          .write.mode("overwrite").parquet(s"$dir/lineitem_z")
        s.read.parquet(s"$dir/lineitem_z")
          .filter(col("l_partkey").between(50, 150) &&
            col("l_suppkey").between(5, 15))
          .agg(count(lit(1)).as("n_rows"),
            Tables.dsum(col("l_extendedprice")).as("sum_price"),
            min(col("l_partkey")).as("min_part"),
            max(col("l_suppkey")).as("max_supp"))
      },
      Some("""SELECT count(*) AS n_rows,
                     CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
                       AS DOUBLE) AS sum_price,
                     min(l_partkey) AS min_part,
                     max(l_suppkey) AS max_supp
              FROM lineitem
              WHERE l_partkey BETWEEN 50 AND 150
                AND l_suppkey BETWEEN 5 AND 15""")),

    // S16 — SCD2 incremental merge (ext.): the validity-interval upsert
    // an incremental warehouse refresh runs where the reference's S10
    // sink just overwrites latest rows. Base history is built from
    // pre-1997 orders, then the 1997+ batch is MERGED — untouched
    // customers pass through with NO window, touched customers replay
    // their stored change points plus the new events (prefix-stable run
    // collapse makes this exactly equal to a full rebuild, which is
    // what the oracle computes — the merge path must land on the
    // rebuild's answer bit for bit). See operators/Scd2.scala for the
    // scale shape.
    Q("s16_scd2_merge",
      (s, d) => {
        val ev = Tables.orders(s, d).select(
          col("o_custkey").as("custkey"),
          col("o_orderstatus").as("status"),
          col("o_orderdate").as("vf"),
          col("o_orderkey").as("tb"))
        val base = graft.operators.Scd2.build(
          ev.filter(col("vf") < "1997-01-01"),
          "custkey", "status", "vf", "tb")
        graft.operators.Scd2.merge(base,
            ev.filter(col("vf") >= "1997-01-01"),
            "custkey", "status", "vf", "tb")
          .select(col("custkey"), col("status"), col("valid_from"),
            col("valid_to"), col("is_current"))
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
                     FROM ch)
              SELECT custkey, status, valid_from, valid_to,
                     CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END
                       AS is_current
              FROM iv""")),

    Q("s12_jsonl_scan",
      (s, d) => {
        val dir = s"${graft.Scratch.dirFor("s12_jsonl", d)}/documents_jsonl"
        val docs = Tables.documents(s, d)
        docs.write.mode("overwrite").option("compression", "gzip").json(dir)
        graft.sources.Jsonl.readClean(s, dir, docs.schema)
          .select(col("doc_id"), col("text"), col("lang"),
            col("source"), col("n_chars"))
      },
      Some("SELECT doc_id, text, lang, source, n_chars FROM documents")),

    // S17 — compaction planner (ext.): the OPTIMIZE/rewrite-small-files
    // planning pass a 100 TB table needs after every streaming ingest
    // window. The file manifest is derived relationally (one file per
    // (table_partition = l_returnflag, file_id = l_suppkey), size = rows
    // × 100 bytes — deterministic, so the oracle rebuilds it); the plan
    // packs files into target-size bins by START OFFSET in the
    // concatenated per-partition byte stream (bin = prefix_bytes div
    // target) — the same sorted-greedy coalesce Spark's own scan packing
    // uses (maxPartitionBytes). Scale shape: the manifest is METADATA
    // (files, not rows) — one hash-agg builds it, one per-partition
    // window plans it; per-table-partition file counts are bounded in
    // any sane layout (and a pathological 10M-file partition would swap
    // the window for the two-phase PrefixSum). Executing the plan is
    // then one `repartition(bin)` write driven by this table.
    Q("s17_compaction_plan",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("part")).orderBy(col("file_id"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
        Tables.lineitem(s, d)
          .groupBy(col("l_returnflag").as("part"),
            col("l_suppkey").as("file_id"))
          .agg((count(lit(1)) * lit(100L)).as("size_bytes"))
          .withColumn("cum", sum(col("size_bytes")).over(w))
          .withColumn("bin",
            expr("(cum - size_bytes) div 131072"))
          .groupBy(col("part"), col("bin"))
          .agg(count(lit(1)).as("n_files"),
            sum(col("size_bytes")).as("total_bytes"),
            min(col("file_id")).as("first_file"),
            max(col("file_id")).as("last_file"))
      },
      Some("""WITH manifest AS (
                SELECT l_returnflag AS part, l_suppkey AS file_id,
                       count(*) * 100 AS size_bytes
                FROM lineitem GROUP BY 1, 2),
              offs AS (
                SELECT part, file_id, size_bytes,
                       sum(size_bytes) OVER (PARTITION BY part
                         ORDER BY file_id ROWS UNBOUNDED PRECEDING)
                         AS cum
                FROM manifest)
              SELECT part, CAST((cum - size_bytes) // 131072 AS BIGINT) AS bin,
                     count(*) AS n_files,
                     CAST(sum(size_bytes) AS BIGINT) AS total_bytes,
                     min(file_id) AS first_file, max(file_id) AS last_file
              FROM offs GROUP BY 1, 2""")),

    // S18 — zone-map file skipping (ext.): the Iceberg/Delta data-
    // skipping pattern made explicit — per-FILE min/max statistics
    // consulted BEFORE the scan, so a selective range predicate opens
    // only the files whose zone overlaps it. The table is written
    // range-clustered on the key (16 files); the stats come from the
    // REAL parquet footers (row-group statistics — a pure metadata
    // read, no data pages touched), and the probe reads ONLY surviving
    // files — `ZoneMapSpec` asserts the survivor set is a strict
    // subset. Only the file LIST is driver-side (metadata-scale, like
    // every table format's planning step). The RESULT is
    // layout-invariant, which is what the oracle checks.
    Q("s18_zonemap_prune",
      (s, d) => {
        val dir = graft.Scratch.dirFor("s18_zonemap", d)
        Tables.lineitem(s, d)
          .repartitionByRange(16, col("l_orderkey"))
          .sortWithinPartitions(col("l_orderkey"))
          .write.mode("overwrite").parquet(s"$dir/lineitem_zm")
        val survivors = zoneMapSurvivors(s, s"$dir/lineitem_zm",
          lo = 1000L, hi = 3000L)
        s.read.parquet(survivors: _*)
          .filter(col("l_orderkey").between(1000L, 3000L))
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n_rows"),
            Tables.dsum(col("l_extendedprice")).as("sum_price"),
            min(col("l_orderkey")).as("min_key"),
            max(col("l_orderkey")).as("max_key"))
      },
      Some("""SELECT l_returnflag, count(*) AS n_rows,
                     CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
                       AS DOUBLE) AS sum_price,
                     min(l_orderkey) AS min_key,
                     max(l_orderkey) AS max_key
              FROM lineitem
              WHERE l_orderkey BETWEEN 1000 AND 3000
              GROUP BY 1""")),

    // S19 — DataSource V2 connector (ext.): `format("graft-synth")` is
    // a REAL DSv2 TableProvider (`sources.SynthTrades`) with partition
    // planning (8 input partitions generate their row-range slice on
    // executors — nothing driver-materialized) and column pruning
    // (`SupportsPushDownRequiredColumns` — this projection's pruned
    // schema reaches the reader, `Dsv2Spec` pins it). The closed-form
    // rows let DuckDB's range() reproduce every value, so the connector
    // is hash-gated like any table.
    Q("s19_dsv2_synth",
      (s, d) => s.read.format("graft-synth")
        .option("rows", 100000L).option("partitions", 8)
        .load()
        .groupBy(col("entity_id"))
        .agg(count(lit(1)).as("n_trades"),
          sum(col("price_cents")).as("sum_cents"),
          sum(col("qty")).as("sum_qty")),
      Some("""SELECT i % 97 AS entity_id, count(*) AS n_trades,
                     CAST(sum(10000 + (i * 31) % 5000) AS BIGINT) AS sum_cents,
                     CAST(sum(1 + i % 50) AS BIGINT) AS sum_qty
              FROM range(0, 100000) t(i)
              GROUP BY 1""")),

    // S20 — DSv2 WRITE path (ext.): the documents ids stream through
    // the `graft-checksum` sink (`sources.ChecksumSink` — per-task
    // (rows, sum, xor) folds, driver-side two-phase commit, atomic
    // manifest publish), then the published manifest is read back and
    // hash-gated against SQL computing the same order-invariant
    // aggregates — a SINK with an oracle. `Dsv2SinkSpec` pins the
    // transactional property (a failing write never clobbers the
    // previous manifest).
    Q("s20_dsv2_sink",
      (s, d) => {
        val manifest = s"${graft.Scratch.dirFor("s20_sink", d)}/manifest.json"
        Tables.documents(s, d).select(col("doc_id"))
          .write.format("graft-checksum")
          .option("path", manifest).mode("append").save()
        s.read.schema("n_rows LONG, sum_id LONG, xor_id LONG")
          .json(manifest)
          .select(col("n_rows"), col("sum_id"), col("xor_id"))
      },
      Some("""SELECT count(*) AS n_rows,
                     CAST(sum(doc_id) AS BIGINT) AS sum_id,
                     bit_xor(doc_id) AS xor_id
              FROM documents""")),

    // S21 — the LAYOUT COMPOSITION (round-8 stretch): s15's z-order
    // write + s18's real-footer zone maps, consulted on BOTH clustered
    // dimensions at once. The write clusters lineitem on the Morton
    // interleave of domain-bucketed (l_partkey, l_suppkey); the planner
    // then reads ONLY footer statistics and keeps the files whose
    // row-group ranges overlap the box on EVERY dimension (conjunctive
    // pruning — what Delta/Iceberg data skipping does off the manifest).
    // This is where z-order pays: under a linear layout the second
    // dimension's min/max spans the whole domain in every file, so
    // zone maps prune nothing on it — `ZOrderSpec` measures the
    // footer-surviving file count under both layouts and pins
    // z-order strictly ahead. The RESULT is layout-invariant (the
    // oracle); the survivor measurement is the spec's job.
    Q("s21_zorder_zonemap",
      (s, d) => {
        val dir = graft.Scratch.dirFor("s21_layout", d)
        val b = Tables.lineitem(s, d)
          .agg(min(col("l_partkey")), max(col("l_partkey")),
            min(col("l_suppkey")), max(col("l_suppkey")))
          .collect().head
        val z = graft.operators.ZOrder.zValue(Seq(
          graft.operators.ZOrder.bucketed("l_partkey",
            b.getLong(0), b.getLong(1)),
          graft.operators.ZOrder.bucketed("l_suppkey",
            b.getLong(2), b.getLong(3))))
        Tables.lineitem(s, d).withColumn("zval", z)
          .repartitionByRange(16, col("zval"))
          .sortWithinPartitions(col("zval"))
          .drop("zval")
          .write.mode("overwrite").parquet(s"$dir/lineitem_zz")
        val survivors = zoneMapSurvivorsBox(s, s"$dir/lineitem_zz",
          Seq(("l_partkey", 50L, 150L), ("l_suppkey", 5L, 15L)))
        s.read.parquet(survivors: _*)
          .filter(col("l_partkey").between(50L, 150L) &&
            col("l_suppkey").between(5L, 15L))
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n_rows"),
            Tables.dsum(col("l_extendedprice")).as("sum_price"),
            min(col("l_partkey")).as("min_part"),
            max(col("l_suppkey")).as("max_supp"))
      },
      Some("""SELECT l_returnflag, count(*) AS n_rows,
                     CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
                       AS DOUBLE) AS sum_price,
                     min(l_partkey) AS min_part,
                     max(l_suppkey) AS max_supp
              FROM lineitem
              WHERE l_partkey BETWEEN 50 AND 150
                AND l_suppkey BETWEEN 5 AND 15
              GROUP BY 1""")),

    // S28 — HILBERT-curve layout (ext.): the same two-dim clustered
    // write as s21 behind the same stats pass and ZOrder.bucketed
    // normalization, but ordered by the Hilbert index (native codegen
    // expression, expressions.HilbertIndex) instead of the Morton
    // interleave. Consecutive Hilbert positions are always adjacent
    // cells (HilbertSpec pins the bijection + adjacency), so sorted
    // files cover seam-free boxes and conjunctive footer pruning
    // skips at least as well as z-order — HilbertLayoutSpec measures
    // both layouts on an identical box panel and pins Hilbert ≤
    // Morton files-touched. Result aggregates THROUGH the relaid
    // table, so correctness is layout-invariant (the oracle never
    // sees the curve) while the spec owns the skipping claim. Scale
    // shape: identical to s21 — stats pass (metadata), one
    // range-shuffle sized by the rewrite, footer-only planning reads.
    Q("s28_hilbert_layout",
      (s, d) => {
        val dir = graft.Scratch.dirFor("s28_layout", d)
        val b = Tables.lineitem(s, d)
          .agg(min(col("l_partkey")), max(col("l_partkey")),
            min(col("l_suppkey")), max(col("l_suppkey")))
          .collect().head
        val h = call_function("hilbertindex",
          graft.operators.ZOrder.bucketed("l_partkey",
            b.getLong(0), b.getLong(1)),
          graft.operators.ZOrder.bucketed("l_suppkey",
            b.getLong(2), b.getLong(3)),
          lit(16))
        Tables.lineitem(s, d).withColumn("hval", h)
          .repartitionByRange(16, col("hval"))
          .sortWithinPartitions(col("hval"))
          .drop("hval")
          .write.mode("overwrite").parquet(s"$dir/lineitem_hh")
        val survivors = zoneMapSurvivorsBox(s, s"$dir/lineitem_hh",
          Seq(("l_partkey", 50L, 150L), ("l_suppkey", 5L, 15L)))
        s.read.parquet(survivors: _*)
          .filter(col("l_partkey").between(50L, 150L) &&
            col("l_suppkey").between(5L, 15L))
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n_rows"),
            Tables.dsum(col("l_extendedprice")).as("sum_price"),
            min(col("l_partkey")).as("min_part"),
            max(col("l_suppkey")).as("max_supp"))
      },
      Some("""SELECT l_returnflag, count(*) AS n_rows,
                     CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
                       AS DOUBLE) AS sum_price,
                     min(l_partkey) AS min_part,
                     max(l_suppkey) AS max_supp
              FROM lineitem
              WHERE l_partkey BETWEEN 50 AND 150
                AND l_suppkey BETWEEN 5 AND 15
              GROUP BY 1""")),

    // S22 — compaction EXECUTION (ext.): s17 plans the bins; this runs
    // the rewrite. Every row is tagged with its file's bin (the same
    // manifest + prefix-offset binning as s17), then the table is
    // rewritten `repartition(part, bin).partitionBy(part, bin)` — all
    // rows of one bin hash to one task, so each bin directory gets
    // exactly ONE output file (no small files left; `CompactionSpec`
    // counts them). The read-back manifest per (part, bin) — rows,
    // source files merged, cent-exact volume — is the hash gate; it
    // must reconcile with the plan the oracle rebuilds relationally.
    // Scale shape: one metadata-sized manifest join onto the fact rows
    // (broadcast — the manifest is files, not rows) + one shuffle
    // sized by the rewrite itself, which IS the job.
    Q("s22_compaction_exec",
      (s, d) => {
        val dir = graft.Scratch.dirFor("s22_compact", d)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("part")).orderBy(col("file_id"))
          .rowsBetween(
            org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
        val manifest = Tables.lineitem(s, d)
          .groupBy(col("l_returnflag").as("part"),
            col("l_suppkey").as("file_id"))
          .agg((count(lit(1)) * lit(100L)).as("size_bytes"))
          .withColumn("cum", sum(col("size_bytes")).over(w))
          .withColumn("bin", expr("(cum - size_bytes) div 131072"))
          .select(col("part"), col("file_id"), col("bin"))
        Tables.lineitem(s, d)
          .select(col("l_returnflag").as("part"),
            col("l_suppkey").as("file_id"),
            col("l_orderkey"), col("l_extendedprice"))
          .join(broadcast(manifest), Seq("part", "file_id"))
          .repartition(col("part"), col("bin"))
          .write.mode("overwrite").partitionBy("part", "bin")
          .parquet(s"$dir/compacted")
        s.read.parquet(s"$dir/compacted")
          .groupBy(col("part"), col("bin").cast("long").as("bin"))
          .agg(count(lit(1)).as("n_rows"),
            countDistinct(col("file_id")).as("n_source_files"),
            Tables.dsum(col("l_extendedprice")).as("sum_price"))
      },
      Some("""WITH manifest AS (
                SELECT l_returnflag AS part, l_suppkey AS file_id,
                       count(*) * 100 AS size_bytes
                FROM lineitem GROUP BY 1, 2),
              offs AS (
                SELECT part, file_id, size_bytes,
                       sum(size_bytes) OVER (PARTITION BY part
                         ORDER BY file_id ROWS UNBOUNDED PRECEDING)
                         AS cum
                FROM manifest),
              binned AS (
                SELECT part, file_id,
                       CAST((cum - size_bytes) // 131072 AS BIGINT) AS bin
                FROM offs)
              SELECT b.part, b.bin, count(*) AS n_rows,
                     count(DISTINCT l.l_suppkey) AS n_source_files,
                     CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2)))
                       AS DOUBLE) AS sum_price
              FROM lineitem l
              JOIN binned b ON b.part = l.l_returnflag
                AND b.file_id = l.l_suppkey
              GROUP BY 1, 2""")),

    // S23 — SCHEMA EVOLUTION read (ext.): a table written over time by
    // two producer versions — v1 rows lack the later-added discount
    // column — read back as ONE relation with `mergeSchema` (the
    // footer-union schema merge every lake format performs from its
    // manifest; absent columns surface as NULL, never as a failure).
    // The write is deterministic (orderkey parity), so the oracle
    // rebuilds both slices relationally. Scale shape: schema merge is
    // a FOOTER operation (one per file, metadata-sized); the data
    // pages of v1 files are never rewritten — exactly how a 100 TB
    // table absorbs a column addition with zero backfill.
    Q("s23_schema_evolution",
      (s, d) => {
        val dir = graft.Scratch.dirFor("s23_evolve", d)
        val li = Tables.lineitem(s, d)
        li.filter(col("l_orderkey") % 2 === 0)
          .select(col("l_orderkey"), col("l_linenumber"),
            col("l_extendedprice"))
          .write.mode("overwrite").parquet(s"$dir/t/v=1")
        li.filter(col("l_orderkey") % 2 === 1)
          .select(col("l_orderkey"), col("l_linenumber"),
            col("l_extendedprice"), col("l_discount"))
          .write.mode("overwrite").parquet(s"$dir/t/v=2")
        s.read.option("mergeSchema", "true").parquet(s"$dir/t")
          .groupBy(col("v").cast("int").as("producer_version"))
          .agg(count(lit(1)).as("n_rows"),
            count(col("l_discount")).as("n_with_discount"),
            Tables.dsum(col("l_extendedprice")).as("sum_price"))
      },
      Some("""SELECT CASE WHEN l_orderkey % 2 = 0 THEN 1 ELSE 2 END
                       AS producer_version,
                     count(*) AS n_rows,
                     count(CASE WHEN l_orderkey % 2 = 1
                                THEN l_discount END) AS n_with_discount,
                     CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
                       AS DOUBLE) AS sum_price
              FROM lineitem GROUP BY 1""")),

    // S24 — DYNAMIC partition pruning (ext.): the fact table is
    // partitioned on the join key; the dim side's selective filter is
    // only known at RUN time, so Catalyst plans a `dynamicpruning`
    // subquery that executes the dim first and feeds the surviving
    // keys into the fact scan's partition filter — s11's static
    // pruning, driven by a JOIN instead of a literal. `DppSpec` pins
    // the plan (dynamicpruning expression present; only matching
    // partitions read). At 100 TB this is the difference between
    // scanning 3 of 90 date partitions and scanning the table.
    Q("s24_dpp_join",
      (s, d) => {
        val dir = graft.Scratch.dirFor("s24_dpp", d)
        Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_quantity"),
            col("l_extendedprice"), col("l_returnflag"))
          .write.mode("overwrite").partitionBy("l_returnflag")
          .parquet(s"$dir/fact")
        // dim written to disk too (a LocalRelation dim would constant-
        // fold), carrying a DERIVED attribute the fact lacks — a filter
        // on the join key itself would be statically inferable onto the
        // fact; the tier filter is only resolvable by EXECUTING the dim,
        // which is exactly what DPP does
        Tables.lineitem(s, d)
          .select(col("l_returnflag")).distinct()
          .withColumn("tier",
            when(col("l_returnflag") === "R", "junk").otherwise("gold"))
          .write.mode("overwrite").parquet(s"$dir/dim")
        val fact = s.read.parquet(s"$dir/fact")
        val dim = s.read.parquet(s"$dir/dim")
          .filter(col("tier") === "gold")
          .select(col("l_returnflag"))
        fact.join(dim, Seq("l_returnflag"))
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n_rows"),
            Tables.dsum(col("l_extendedprice")).as("sum_price"))
      },
      Some("""WITH dim AS (SELECT l_returnflag FROM (
                             SELECT DISTINCT l_returnflag FROM lineitem) x
                           WHERE CASE WHEN l_returnflag = 'R' THEN 'junk'
                                      ELSE 'gold' END = 'gold')
              SELECT l.l_returnflag, count(*) AS n_rows,
                     CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
                       AS DOUBLE) AS sum_price
              FROM lineitem l JOIN dim USING (l_returnflag)
              GROUP BY 1""")),

    // S25 — incremental VIEW MAINTENANCE (ext.): the materialized
    // per-source aggregate is brought to the v2 snapshot by applying
    // the CDC DELTA (s14's diff, as signed rows: removed → −1/−chars,
    // added → +1/+chars, changed → both) to the stored v1 aggregate —
    // count/sum are ABELIAN-GROUP aggregates, so maintenance is one
    // delta-sized union+agg, never a corpus rescan (min/max are not;
    // an IVM layer recomputes those or keeps heaps). The oracle is the
    // FULL RECOMPUTE over v2 — maintained must land on it bit for bit,
    // which is the whole IVM contract. Scale shape: the diff join is
    // the CDC cost a lakehouse already pays; the maintenance itself
    // touches base-aggregate rows (group cardinality) + delta rows.
    Q("s25_ivm_aggregate",
      (s, d) => {
        val v1 = Tables.documents(s, d)
        val v2 = QFilters.snapshotV2(v1)
        val base = v1.groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(length(col("text"))).as("sum_chars"))
        val j = v1.select(col("doc_id"), col("text").as("t1"),
            col("source").as("src1"))
          .join(v2.select(col("doc_id"), col("text").as("t2"),
            col("source").as("src2")), Seq("doc_id"), "full_outer")
        // signed delta rows: array of (source, dn, dchars) structs,
        // exploded — a changed doc contributes both its retraction and
        // its insertion
        val delta = j
          .filter(!(col("t1") <=> col("t2")))
          .select(explode(array(
            struct(col("src1").as("source"), lit(-1L).as("dn"),
              (-length(col("t1"))).cast("long").as("dchars")),
            struct(col("src2").as("source"), lit(1L).as("dn"),
              length(col("t2")).cast("long").as("dchars"))))
            .as("x"))
          .select(col("x.*"))
          // null-side structs (a removed doc's "insertion", an added
          // doc's "retraction") drop here; unchanged docs were filtered
          // above — the surviving delta is change-sized
          .filter(col("source").isNotNull && col("dchars").isNotNull)
        val maintained = base.select(col("source"),
            col("n_docs").cast("long").as("dn"),
            col("sum_chars").cast("long").as("dchars"))
          .unionByName(delta)
          .groupBy(col("source"))
          .agg(sum(col("dn")).as("n_docs"),
            sum(col("dchars")).as("sum_chars"))
          .filter(col("n_docs") > 0)
        maintained
      },
      Some(s"""WITH ${QFilters.snapshotV2Sql}
              SELECT source, count(*) AS n_docs,
                     CAST(sum(length(text)) AS BIGINT) AS sum_chars
              FROM v2 GROUP BY 1""")),

    // S26 — schema-evolution WRITE path (ext.): the other half of s23.
    // v1 files are written under the OLD schema (column `qty`, INT) and
    // are never rewritten; the table evolves (rename qty→quantity,
    // widen INT→BIGINT) and v2 producers write the canonical shape.
    // Readers lift v1 files through the evolution mapping (a pure
    // projection — SchemaEvolution.upgradeReader), and readers still
    // PINNED to v1 get the downgrade view back (inverse rename +
    // guarded narrowing cast: overflow raises, never wraps). The query
    // aggregates THROUGH the v1-typed view — old consumers must
    // reconcile exactly against the relational oracle, which is the
    // round-trip contract. Scale shape: both mappings are codegen'd
    // projections over the scan; a 100 TB table absorbs rename+widen
    // with zero data rewrite and zero backfill.
    Q("s26_schema_evolution_write",
      (s, d) => {
        val dir = graft.Scratch.dirFor("s26_evolve_w", d)
        val li = Tables.lineitem(s, d)
        // v1 producer: old name, narrow type
        li.filter(col("l_orderkey") % 2 === 0)
          .select(col("l_orderkey"), col("l_linenumber"),
            col("l_quantity").cast("int").as("qty"))
          .write.mode("overwrite").parquet(s"$dir/t/v=1")
        // evolution applied; v2 producer writes canonical
        val renames = Map("qty" -> "quantity")
        val widen = Map("quantity" -> "bigint")
        li.filter(col("l_orderkey") % 2 === 1)
          .select(col("l_orderkey"), col("l_linenumber"),
            col("l_quantity").cast("long").as("quantity"))
          .write.mode("overwrite").parquet(s"$dir/t/v=2")
        // canonical relation: v1 lifted through the mapping, v2 as-is —
        // per-version resolution, the projection a format's name
        // mapping performs; no file rewritten
        val canonical = graft.operators.SchemaEvolution.upgradeReader(
            s.read.parquet(s"$dir/t/v=1"), renames, widen)
          .withColumn("producer_version", lit(1))
          .unionByName(s.read.parquet(s"$dir/t/v=2")
            .withColumn("producer_version", lit(2)))
        // a v1-pinned reader consumes the downgrade view and must see
        // the whole evolved table under its own schema
        val v1view = graft.operators.SchemaEvolution.downgradeReader(
          canonical, renames,
          Map("quantity" -> (("int", Int.MinValue.toLong, Int.MaxValue.toLong))))
        v1view.groupBy(col("producer_version"))
          .agg(count(lit(1)).as("n_rows"),
            sum(col("qty")).cast("long").as("sum_qty"),
            max(col("qty")).cast("long").as("max_qty"))
      },
      Some("""SELECT CASE WHEN l_orderkey % 2 = 0 THEN 1 ELSE 2 END
                       AS producer_version,
                     count(*) AS n_rows,
                     CAST(sum(CAST(l_quantity AS INT)) AS BIGINT) AS sum_qty,
                     CAST(max(CAST(l_quantity AS INT)) AS BIGINT) AS max_qty
              FROM lineitem GROUP BY 1""")),

    // S29 — per-file BLOOM index (ext.): the skipping story zone maps
    // CANNOT tell. The table is written hash-clustered on l_suppkey, so
    // every file's l_orderkey zone spans the whole domain and the
    // zone-map planner keeps ALL files for any point lookup
    // (`BloomIndexSpec` proves exactly that on this layout). A per-file
    // Bloom index (2^17 bits, 4 hashes — built in one distributed pass,
    // files·2048 words of metadata) skips every file whose bits rule
    // the probe keys out; false negatives are impossible by
    // construction, so the RESULT is layout- and index-invariant, which
    // is what the oracle certifies. The probe keys are derived, not
    // hard-coded: the 5 smallest orderkeys ≡ 0 (mod 997) — present at
    // every SF, and few enough that a point lookup SHOULD touch few
    // files. At 100 TB this is the planner shape for needle queries on
    // unclustered high-cardinality keys: metadata join → survivor
    // list → scan of the surviving files only.
    Q("s29_bloom_index",
      (s, d) => {
        val dir = graft.Scratch.dirFor("s29_bloom", d)
        Tables.lineitem(s, d)
          .repartition(16, col("l_suppkey"))
          .write.mode("overwrite").parquet(s"$dir/lineitem_hashed")
        val probeKeys = Tables.lineitem(s, d)
          .filter(col("l_orderkey") % 997 === 0)
          .select(col("l_orderkey")).distinct()
          .orderBy(col("l_orderkey")).limit(5)
          .as(org.apache.spark.sql.Encoders.scalaLong).collect().toSeq
        // size the filter per KEY VOLUME (~8 bits/key across the
        // table's files, the parquet column-bloom practice), not a
        // fixed constant: a fixed m saturates once keys/file outgrow
        // it, every probe bit is set, and skipping silently dies — the
        // x10 probe measured exactly that (every file surviving).
        // count() here is a footer-stats read; the index stays
        // files·(m/64) words.
        val rows = s.read.parquet(s"$dir/lineitem_hashed").count()
        val m = java.lang.Long.highestOneBit(
          math.max(1L << 17, rows / 2) - 1) << 1
        val index = graft.operators.BloomIndex.build(
          s, s"$dir/lineitem_hashed", "l_orderkey", m)
        val files = graft.operators.BloomIndex.survivors(
          s, index, probeKeys, m)
        // zero survivors (possible at tiny SFs where no probe key
        // exists) must yield an EMPTY frame, not a zero-path read
        // error — keep the table schema, read nothing
        val src =
          if (files.nonEmpty) s.read.parquet(files: _*)
          else s.read.parquet(s"$dir/lineitem_hashed").filter(lit(false))
        src.filter(col("l_orderkey").isin(probeKeys: _*))
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n_rows"),
            Tables.dsum(col("l_extendedprice")).as("sum_price"),
            min(col("l_orderkey")).as("min_key"),
            max(col("l_orderkey")).as("max_key"))
      },
      Some("""WITH probes AS (
                SELECT DISTINCT l_orderkey AS k FROM lineitem
                WHERE l_orderkey % 997 = 0
                ORDER BY k LIMIT 5)
              SELECT l_returnflag, count(*) AS n_rows,
                     CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
                       AS DOUBLE) AS sum_price,
                     min(l_orderkey) AS min_key,
                     max(l_orderkey) AS max_key
              FROM lineitem
              WHERE l_orderkey IN (SELECT k FROM probes)
              GROUP BY 1""")),

    // S30 — partition-pruned MERGE INTO (ext.): the lake upsert. A CDC
    // batch (deletes %19, updates %13 → qty+5, inserts %17 under new
    // keys) confined to months 2–3 is MERGED into a month-partitioned
    // table by `operators.MergeInto`: touched-partition list collected
    // from the batch (the planner step), pruned read, three-way apply
    // (anti-join / left-join+coalesce / union), dynamic-partition-
    // overwrite commit. The ten untouched months are never read and
    // never written — `MergeIntoSpec` pins their files byte-identical —
    // which is what makes MERGE affordable at 100 TB where a day's CDC
    // touches a handful of date partitions. The oracle recomputes the
    // merged table relationally; the full-table readback must
    // reconcile, proving the pruned rewrite equals the logical MERGE.
    Q("s30_merge_upsert",
      (s, d) => {
        val dir = s"${graft.Scratch.dirFor("s30_merge", d)}/t"
        Tables.lineitem(s, d).select(
            col("l_orderkey"), col("l_linenumber"),
            col("l_quantity").cast("decimal(18,2)").cast("int").as("qty"),
            month(to_date(col("l_shipdate"))).as("m"))
          .write.partitionBy("m").mode("overwrite").parquet(dir)
        val touchedSrc = s.read.parquet(dir)
          .filter(col("m").isin(2, 3))
        val deletes = touchedSrc.filter(col("l_orderkey") % 19 === 0)
          .select(col("l_orderkey"), col("l_linenumber"), col("m"))
        // new value is KEY-deterministic (not row-derived): the base
        // holds duplicate (l_orderkey, l_linenumber) pairs, and MERGE
        // demands one source row per target key — duplicates collapse
        // under MergeInto's distinct only if their values agree
        val updates = touchedSrc.filter(col("l_orderkey") % 19 =!= 0 &&
            col("l_orderkey") % 13 === 0)
          .select(col("l_orderkey"), col("l_linenumber"), col("m"),
            (col("l_orderkey") % 47 + 1).cast("int").as("new_qty"))
        val inserts = touchedSrc.filter(col("l_orderkey") % 19 =!= 0 &&
            col("l_orderkey") % 13 =!= 0 && col("l_orderkey") % 17 === 0)
          .select((col("l_orderkey") + 1000000L).as("l_orderkey"),
            col("l_linenumber"), col("qty"), col("m"))
        graft.operators.MergeInto(s, dir, "m",
          Seq("l_orderkey", "l_linenumber"), deletes, updates, inserts,
          Map("qty" -> "new_qty"))
        s.read.parquet(dir)
          .groupBy(col("m"))
          .agg(count(lit(1)).as("n_rows"),
            sum(col("qty")).cast("long").as("sum_qty"),
            sum(col("l_orderkey") * 7 + col("l_linenumber"))
              .cast("long").as("sum_key"))
      },
      Some("""WITH base AS (
                SELECT l_orderkey AS ok, l_linenumber AS ln,
                       month(CAST(l_shipdate AS DATE)) AS m,
                       CAST(l_quantity AS INT) AS qty
                FROM lineitem),
              kept AS (
                SELECT ok, ln, m,
                       CASE WHEN m IN (2, 3) AND ok % 19 <> 0
                                 AND ok % 13 = 0
                            THEN CAST(ok % 47 + 1 AS INT)
                            ELSE qty END AS qty
                FROM base
                WHERE NOT (m IN (2, 3) AND ok % 19 = 0)),
              ins AS (
                SELECT ok + 1000000 AS ok, ln, m, qty FROM base
                WHERE m IN (2, 3) AND ok % 19 <> 0 AND ok % 13 <> 0
                  AND ok % 17 = 0),
              merged AS (SELECT * FROM kept UNION ALL SELECT * FROM ins)
              SELECT CAST(m AS INT) AS m, count(*) AS n_rows,
                     CAST(sum(qty) AS BIGINT) AS sum_qty,
                     CAST(sum(ok * 7 + ln) AS BIGINT) AS sum_key
              FROM merged GROUP BY 1""")),

    // S31 — snapshot log + TIME TRAVEL (ext.): the table-format kernel.
    // Commit 1 publishes the base table's file list as an immutable
    // manifest; commit 2 is a COPY-ON-WRITE rewrite of month 3 only
    // (qty+7 — new files, old files untouched on disk) publishing a
    // second manifest. Readers pin snapshots: the query aggregates BOTH
    // versions from their manifests — v1 must still read the original
    // table bit-for-bit AFTER v2 committed (`SnapshotLogSpec` also pins
    // manifest immutability and that a crashed commit is invisible).
    // Scale shape: manifests are metadata, planning is a file-list
    // handoff (no directory walk), and only the rewritten partition's
    // files are new — the Iceberg/Delta read path from this repo's own
    // parts (s30's pruned merge is the natural writer).
    Q("s31_time_travel",
      (s, d) => {
        val dir = s"${graft.Scratch.dirFor("s31_tt", d)}/t"
        graft.Scratch.clear(dir)
        val base = Tables.lineitem(s, d).select(
            col("l_orderkey"), col("l_linenumber"),
            col("l_quantity").cast("decimal(18,2)").cast("int").as("qty"),
            month(to_date(col("l_shipdate"))).as("m"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // month 3 isolated into its own file group so a rewrite can
        // replace exactly its files (the per-file partition metadata a
        // real format tracks)
        base.filter(col("m") =!= 3).write.mode("overwrite")
          .parquet(s"$dir/data/rest")
        base.filter(col("m") === 3).write.mode("overwrite")
          .parquet(s"$dir/data/m3")
        import graft.operators.SnapshotLog
        val rest = SnapshotLog.dataFiles(s"$dir/data/rest")
        val v1 = SnapshotLog.commit(dir, rest ++
          SnapshotLog.dataFiles(s"$dir/data/m3"))
        // copy-on-write: rewrite month 3 (qty+7) into NEW files
        s.read.parquet(SnapshotLog.dataFiles(s"$dir/data/m3"): _*)
          .withColumn("qty", col("qty") + 7)
          .write.mode("overwrite").parquet(s"$dir/data/m3_r1")
        val v2 = SnapshotLog.commit(dir, rest ++
          SnapshotLog.dataFiles(s"$dir/data/m3_r1"))
        base.unpersist()
        Seq(v1, v2).map { v =>
          SnapshotLog.read(s, dir, v)
            .groupBy(col("m"))
            .agg(count(lit(1)).as("n_rows"),
              sum(col("qty")).cast("long").as("sum_qty"))
            .select(lit(v).as("snapshot"), col("m"), col("n_rows"),
              col("sum_qty"))
        }.reduce(_.unionByName(_))
      },
      Some("""WITH base AS (
                SELECT month(CAST(l_shipdate AS DATE)) AS m,
                       CAST(l_quantity AS INT) AS qty
                FROM lineitem)
              SELECT 1 AS snapshot, m, count(*) AS n_rows,
                     CAST(sum(qty) AS BIGINT) AS sum_qty
              FROM base GROUP BY 2
              UNION ALL
              SELECT 2, m, count(*),
                     CAST(sum(CASE WHEN m = 3 THEN qty + 7 ELSE qty END)
                       AS BIGINT)
              FROM base GROUP BY 2""")),

    // S32 — MERGE composed WITH the snapshot log (ext.): copy-on-write
    // all the way down, so TIME TRAVEL spans upserts. v1 commits the
    // base table through `SnapshotMerge.writeInitial` (one manifest
    // entry per file, partition-labeled); the s30 CDC batch (deletes
    // %19, updates %13 → key-deterministic qty, inserts %17 under new
    // keys, confined to months 2–3) is applied by `SnapshotMerge`:
    // touched partitions resolved from the MANIFEST (a metadata
    // filter — no directory walk), three-way apply shared with s30,
    // rewritten partitions written to NEW version-scoped files, and
    // the v2 manifest REFERENCES the ten untouched months' v1 files
    // unchanged (structural sharing — `SnapshotMergeSpec` pins it).
    // The query aggregates BOTH snapshots: v1 must read the pre-merge
    // table bit-for-bit AFTER the merge committed. OCC: the merge
    // publishes put-if-absent at exactly v+1 and fails on a
    // concurrent commit instead of landing stale output.
    Q("s32_merge_snapshot",
      (s, d) => {
        val dir = s"${graft.Scratch.dirFor("s32_msnap", d)}/t"
        graft.Scratch.clear(dir)
        import graft.operators.{SnapshotLog, SnapshotMerge}
        val base = Tables.lineitem(s, d).select(
          col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").cast("decimal(18,2)").cast("int").as("qty"),
          month(to_date(col("l_shipdate"))).as("m"))
        val v1 = SnapshotLog.clone(lakeBaseDir(s, d), dir)
        val touchedSrc = SnapshotLog.read(s, dir, v1)
          .filter(col("m").isin(2, 3))
        val deletes = touchedSrc.filter(col("l_orderkey") % 19 === 0)
          .select(col("l_orderkey"), col("l_linenumber"), col("m"))
        val updates = touchedSrc.filter(col("l_orderkey") % 19 =!= 0 &&
            col("l_orderkey") % 13 === 0)
          .select(col("l_orderkey"), col("l_linenumber"), col("m"),
            (col("l_orderkey") % 47 + 1).cast("int").as("new_qty"))
        val inserts = touchedSrc.filter(col("l_orderkey") % 19 =!= 0 &&
            col("l_orderkey") % 13 =!= 0 && col("l_orderkey") % 17 === 0)
          .select((col("l_orderkey") + 1000000L).as("l_orderkey"),
            col("l_linenumber"), col("qty"), col("m"))
        val v2 = SnapshotMerge(s, dir, "m",
          Seq("l_orderkey", "l_linenumber"), deletes, updates, inserts,
          Map("qty" -> "new_qty"))
        Seq(v1, v2).map { v =>
          SnapshotLog.read(s, dir, v)
            .groupBy(col("m"))
            .agg(count(lit(1)).as("n_rows"),
              sum(col("qty")).cast("long").as("sum_qty"),
              sum(col("l_orderkey") * 7 + col("l_linenumber"))
                .cast("long").as("sum_key"))
            .select(lit(v).as("snapshot"), col("m"), col("n_rows"),
              col("sum_qty"), col("sum_key"))
        }.reduce(_.unionByName(_))
      },
      Some("""WITH base AS (
                SELECT l_orderkey AS ok, l_linenumber AS ln,
                       month(CAST(l_shipdate AS DATE)) AS m,
                       CAST(l_quantity AS INT) AS qty
                FROM lineitem),
              kept AS (
                SELECT ok, ln, m,
                       CASE WHEN m IN (2, 3) AND ok % 19 <> 0
                                 AND ok % 13 = 0
                            THEN CAST(ok % 47 + 1 AS INT)
                            ELSE qty END AS qty
                FROM base
                WHERE NOT (m IN (2, 3) AND ok % 19 = 0)),
              ins AS (
                SELECT ok + 1000000 AS ok, ln, m, qty FROM base
                WHERE m IN (2, 3) AND ok % 19 <> 0 AND ok % 13 <> 0
                  AND ok % 17 = 0),
              merged AS (SELECT * FROM kept UNION ALL SELECT * FROM ins)
              SELECT 1 AS snapshot, CAST(m AS INT) AS m,
                     count(*) AS n_rows,
                     CAST(sum(qty) AS BIGINT) AS sum_qty,
                     CAST(sum(ok * 7 + ln) AS BIGINT) AS sum_key
              FROM base GROUP BY 2
              UNION ALL
              SELECT 2, CAST(m AS INT), count(*),
                     CAST(sum(qty) AS BIGINT),
                     CAST(sum(ok * 7 + ln) AS BIGINT)
              FROM merged GROUP BY 2""")),

    // S33 — manifest-carried file stats → METADATA-ONLY pruning
    // (ext.): where s18/s21 read parquet footers at PLAN time on every
    // query, here the per-file l_orderkey min/max is paid ONCE at
    // write (`writeInitial(statsCols)` folds row-group footer stats
    // into the manifest line) and the range scan plans from the
    // manifest alone — `ManifestPruneSpec` proves zero plan-time
    // footer reads by DELETING the pruned files and reading anyway,
    // and pins the survivor set to the footer-read planner's. The
    // range-clustered write gives files tight key zones so the
    // predicate actually skips; the RESULT is layout- and
    // stats-invariant, which is what the oracle certifies.
    Q("s33_manifest_prune",
      (s, d) => {
        val dir = s"${graft.Scratch.dirFor("s33_mstats", d)}/t"
        graft.Scratch.clear(dir)
        import graft.operators.{SnapshotLog, SnapshotMerge}
        val base = Tables.lineitem(s, d).select(
            col("l_orderkey"), col("l_linenumber"),
            col("l_quantity").cast("decimal(18,2)").cast("int").as("qty"),
            month(to_date(col("l_shipdate"))).as("m"))
          .repartitionByRange(16, col("l_orderkey"))
          .sortWithinPartitions(col("l_orderkey"))
        val v1 = SnapshotMerge.writeInitial(s, base, dir, "m",
          statsCols = Seq("l_orderkey"))
        SnapshotLog.prunedRead(s, dir, v1, "l_orderkey", 1000L, 3000L)
          .filter(col("l_orderkey").between(1000L, 3000L))
          .groupBy(col("m"))
          .agg(count(lit(1)).as("n_rows"),
            sum(col("qty")).cast("long").as("sum_qty"),
            min(col("l_orderkey")).as("min_key"),
            max(col("l_orderkey")).as("max_key"))
      },
      Some("""SELECT CAST(month(CAST(l_shipdate AS DATE)) AS INT) AS m,
                     count(*) AS n_rows,
                     CAST(sum(CAST(l_quantity AS INT)) AS BIGINT)
                       AS sum_qty,
                     min(l_orderkey) AS min_key,
                     max(l_orderkey) AS max_key
              FROM lineitem
              WHERE l_orderkey BETWEEN 1000 AND 3000
              GROUP BY 1""")),

    // S34 — merge-on-read DELETE VECTORS (ext.): the high-churn half
    // of the lake story. v1 commits the base table; the delete batch
    // (months 2–3, keys %19) commits as an EQUALITY-DELETE file
    // (Iceberg-style key tuples, manifest kind "X") WITHOUT rewriting
    // any data file — `DeleteVectorsSpec` pins the v1 data files
    // byte-identical under v2 — and readers subtract it with one
    // broadcast anti-join (`readMor`). v3 is the lazy compaction that
    // folds the vectors into fresh files (no "X" entries left). The
    // query aggregates all three snapshots: v1 full, v2 deletes
    // visible through the vectors, v3 identical values from
    // vector-free files.
    Q("s34_delete_vectors",
      (s, d) => {
        val dir = s"${graft.Scratch.dirFor("s34_dv", d)}/t"
        graft.Scratch.clear(dir)
        import graft.operators.{DeleteVectors, SnapshotLog, SnapshotMerge}
        val base = Tables.lineitem(s, d).select(
          col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").cast("decimal(18,2)").cast("int").as("qty"),
          month(to_date(col("l_shipdate"))).as("m"))
        val v1 = SnapshotLog.clone(lakeBaseDir(s, d), dir)
        val delKeys = SnapshotLog.read(s, dir, v1)
          .filter(col("m").isin(2, 3) && col("l_orderkey") % 19 === 0)
          .select(col("l_orderkey"), col("l_linenumber"), col("m"))
        val v2 = DeleteVectors.appendDeletes(s, dir, delKeys)
        val v3 = DeleteVectors.compact(s, dir, "m")
        val faces = Seq(
          v1 -> SnapshotLog.read(s, dir, v1),
          v2 -> SnapshotLog.readMor(s, dir, v2),
          v3 -> SnapshotLog.read(s, dir, v3))
        faces.map { case (v, df) =>
          df.groupBy(col("m"))
            .agg(count(lit(1)).as("n_rows"),
              sum(col("qty")).cast("long").as("sum_qty"))
            .select(lit(v).as("snapshot"), col("m"), col("n_rows"),
              col("sum_qty"))
        }.reduce(_.unionByName(_))
      },
      Some("""WITH base AS (
                SELECT l_orderkey AS ok, l_linenumber AS ln,
                       month(CAST(l_shipdate AS DATE)) AS m,
                       CAST(l_quantity AS INT) AS qty
                FROM lineitem),
              kept AS (
                SELECT * FROM base
                WHERE NOT (m IN (2, 3) AND ok % 19 = 0))
              SELECT 1 AS snapshot, CAST(m AS INT) AS m,
                     count(*) AS n_rows,
                     CAST(sum(qty) AS BIGINT) AS sum_qty
              FROM base GROUP BY 2
              UNION ALL
              SELECT 2, CAST(m AS INT), count(*),
                     CAST(sum(qty) AS BIGINT)
              FROM kept GROUP BY 2
              UNION ALL
              SELECT 3, CAST(m AS INT), count(*),
                     CAST(sum(qty) AS BIGINT)
              FROM kept GROUP BY 2""")),

    // S35 — snapshot EXPIRY / VACUUM (ext.): the lifecycle end of the
    // table format. v1 commits the base, v2 is the s32 copy-on-write
    // merge (months 2–3 rewritten, ten months SHARED by reference),
    // then `SnapshotLog.expire(keepFrom = v2)` deletes v1's manifest
    // plus every file only v1 referenced — a pure manifest set
    // difference; the shared files survive BECAUSE they appear in the
    // retained manifest. The query reads the retained snapshot AFTER
    // the vacuum physically deleted the old month-2/3 files — the
    // oracle certifies post-vacuum correctness, `SnapshotExpireSpec`
    // pins exactly which files died, that time travel below keepFrom
    // fails loudly, and that the vacuum is a no-op at keepFrom = 1.
    Q("s35_snapshot_expire",
      (s, d) => {
        val dir = s"${graft.Scratch.dirFor("s35_vacuum", d)}/t"
        graft.Scratch.clear(dir)
        import graft.operators.{SnapshotLog, SnapshotMerge}
        val base = Tables.lineitem(s, d).select(
          col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").cast("decimal(18,2)").cast("int").as("qty"),
          month(to_date(col("l_shipdate"))).as("m"))
        val v1 = SnapshotMerge.writeInitial(s, base, dir, "m")
        val touchedSrc = SnapshotLog.read(s, dir, v1)
          .filter(col("m").isin(2, 3))
        val deletes = touchedSrc.filter(col("l_orderkey") % 19 === 0)
          .select(col("l_orderkey"), col("l_linenumber"), col("m"))
        val updates = touchedSrc.filter(col("l_orderkey") % 19 =!= 0 &&
            col("l_orderkey") % 13 === 0)
          .select(col("l_orderkey"), col("l_linenumber"), col("m"),
            (col("l_orderkey") % 47 + 1).cast("int").as("new_qty"))
        val inserts = touchedSrc.filter(col("l_orderkey") % 19 =!= 0 &&
            col("l_orderkey") % 13 =!= 0 && col("l_orderkey") % 17 === 0)
          .select((col("l_orderkey") + 1000000L).as("l_orderkey"),
            col("l_linenumber"), col("qty"), col("m"))
        val v2 = SnapshotMerge(s, dir, "m",
          Seq("l_orderkey", "l_linenumber"), deletes, updates, inserts,
          Map("qty" -> "new_qty"))
        SnapshotLog.expire(dir, keepFrom = v2)
        SnapshotLog.read(s, dir, v2)
          .groupBy(col("m"))
          .agg(count(lit(1)).as("n_rows"),
            sum(col("qty")).cast("long").as("sum_qty"),
            sum(col("l_orderkey") * 7 + col("l_linenumber"))
              .cast("long").as("sum_key"))
      },
      Some("""WITH base AS (
                SELECT l_orderkey AS ok, l_linenumber AS ln,
                       month(CAST(l_shipdate AS DATE)) AS m,
                       CAST(l_quantity AS INT) AS qty
                FROM lineitem),
              kept AS (
                SELECT ok, ln, m,
                       CASE WHEN m IN (2, 3) AND ok % 19 <> 0
                                 AND ok % 13 = 0
                            THEN CAST(ok % 47 + 1 AS INT)
                            ELSE qty END AS qty
                FROM base
                WHERE NOT (m IN (2, 3) AND ok % 19 = 0)),
              ins AS (
                SELECT ok + 1000000 AS ok, ln, m, qty FROM base
                WHERE m IN (2, 3) AND ok % 19 <> 0 AND ok % 13 <> 0
                  AND ok % 17 = 0),
              merged AS (SELECT * FROM kept UNION ALL SELECT * FROM ins)
              SELECT CAST(m AS INT) AS m, count(*) AS n_rows,
                     CAST(sum(qty) AS BIGINT) AS sum_qty,
                     CAST(sum(ok * 7 + ln) AS BIGINT) AS sum_key
              FROM merged GROUP BY 1""")),

    // S36 — PARTITION-SCOPED delete-vector compaction (ext.): fold the
    // vectors only where the churn is. v2 appends equality deletes for
    // months 2–3; v3 compacts ONLY month 2 — its files are rewritten
    // with the deletes materialized, every other data file is shared
    // by reference, and the keys still targeting month 3 survive as a
    // RESIDUAL vector readers keep applying (they cannot touch the
    // compacted rows: their partition values lie outside the residual
    // key set). The vectored views of v2 and v3 must agree exactly —
    // which is what the oracle certifies; `DeleteVectorsSpec` pins the
    // file-level sharing, the residual's key scope, and the require
    // when delete keys lack the partition column.
    Q("s36_partial_compaction",
      (s, d) => {
        val dir = s"${graft.Scratch.dirFor("s36_pc", d)}/t"
        graft.Scratch.clear(dir)
        import graft.operators.{DeleteVectors, SnapshotLog, SnapshotMerge}
        val base = Tables.lineitem(s, d).select(
          col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").cast("decimal(18,2)").cast("int").as("qty"),
          month(to_date(col("l_shipdate"))).as("m"))
        val v1 = SnapshotLog.clone(lakeBaseDir(s, d), dir)
        val delKeys = SnapshotLog.read(s, dir, v1)
          .filter(col("m").isin(2, 3) && col("l_orderkey") % 19 === 0)
          .select(col("l_orderkey"), col("l_linenumber"), col("m"))
        val v2 = DeleteVectors.appendDeletes(s, dir, delKeys)
        val v3 = DeleteVectors.compactPartitions(s, dir, "m", Seq(2))
        Seq(v2, v3).map { v =>
          SnapshotLog.readMor(s, dir, v)
            .groupBy(col("m"))
            .agg(count(lit(1)).as("n_rows"),
              sum(col("qty")).cast("long").as("sum_qty"))
            .select(lit(v).as("snapshot"), col("m"), col("n_rows"),
              col("sum_qty"))
        }.reduce(_.unionByName(_))
      },
      Some("""WITH base AS (
                SELECT l_orderkey AS ok, l_linenumber AS ln,
                       month(CAST(l_shipdate AS DATE)) AS m,
                       CAST(l_quantity AS INT) AS qty
                FROM lineitem),
              kept AS (
                SELECT * FROM base
                WHERE NOT (m IN (2, 3) AND ok % 19 = 0))
              SELECT 2 AS snapshot, CAST(m AS INT) AS m,
                     count(*) AS n_rows,
                     CAST(sum(qty) AS BIGINT) AS sum_qty
              FROM kept GROUP BY 2
              UNION ALL
              SELECT 3, CAST(m AS INT), count(*),
                     CAST(sum(qty) AS BIGINT)
              FROM kept GROUP BY 2""")),

    // S37 — CHANGE DATA FEED between snapshots (ext.): "what changed
    // between v1 and v2" answered from the MANIFESTS — shared files
    // cannot contribute changes (same path ⇒ same bytes), so the diff
    // reads ONLY each snapshot's exclusive files (here: the rewritten
    // months 2–3; the ten shared months are never opened —
    // `ChangeFeedSpec` pins that nothing outside the touched months
    // appears). Key-level signatures (row count + qty sum per key)
    // full-outer join into D/U/I ops: old-only keys are deletes,
    // new-only inserts, signature drift updates — recovering exactly
    // the CDC batch the merge applied, which is what the oracle
    // certifies. At 100 TB a downstream consumer pays the touched
    // partitions, not a table scan — the Delta CDF/Iceberg
    // incremental-read shape from the engine's own parts.
    Q("s37_change_feed",
      (s, d) => {
        val dir = s"${graft.Scratch.dirFor("s37_cdf", d)}/t"
        graft.Scratch.clear(dir)
        import graft.operators.{SnapshotLog, SnapshotMerge}
        val base = Tables.lineitem(s, d).select(
          col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").cast("decimal(18,2)").cast("int").as("qty"),
          month(to_date(col("l_shipdate"))).as("m"))
        val v1 = SnapshotLog.clone(lakeBaseDir(s, d), dir)
        val touchedSrc = SnapshotLog.read(s, dir, v1)
          .filter(col("m").isin(2, 3))
        val deletes = touchedSrc.filter(col("l_orderkey") % 19 === 0)
          .select(col("l_orderkey"), col("l_linenumber"), col("m"))
        val updates = touchedSrc.filter(col("l_orderkey") % 19 =!= 0 &&
            col("l_orderkey") % 13 === 0)
          .select(col("l_orderkey"), col("l_linenumber"), col("m"),
            (col("l_orderkey") % 47 + 1).cast("int").as("new_qty"))
        val inserts = touchedSrc.filter(col("l_orderkey") % 19 =!= 0 &&
            col("l_orderkey") % 13 =!= 0 && col("l_orderkey") % 17 === 0)
          .select((col("l_orderkey") + 1000000L).as("l_orderkey"),
            col("l_linenumber"), col("qty"), col("m"))
        val v2 = SnapshotMerge(s, dir, "m",
          Seq("l_orderkey", "l_linenumber"), deletes, updates, inserts,
          Map("qty" -> "new_qty"))
        changeFeed(s, dir, v1, v2)
          .groupBy(col("op"))
          .agg(count(lit(1)).as("n_keys"),
            sum(col("l_orderkey")).cast("long").as("sum_ok"),
            sum(col("l_linenumber")).cast("long").as("sum_ln"))
      },
      Some("""WITH base AS (
                SELECT l_orderkey AS ok, l_linenumber AS ln,
                       month(CAST(l_shipdate AS DATE)) AS m,
                       CAST(l_quantity AS INT) AS qty
                FROM lineitem
                WHERE month(CAST(l_shipdate AS DATE)) IN (2, 3)),
              kept AS (
                SELECT ok, ln, m,
                       CASE WHEN ok % 19 <> 0 AND ok % 13 = 0
                            THEN CAST(ok % 47 + 1 AS INT)
                            ELSE qty END AS qty
                FROM base WHERE ok % 19 <> 0),
              ins AS (
                SELECT ok + 1000000 AS ok, ln, m, qty FROM base
                WHERE ok % 19 <> 0 AND ok % 13 <> 0 AND ok % 17 = 0),
              newt AS (SELECT * FROM kept UNION ALL SELECT * FROM ins),
              oldg AS (SELECT ok, ln, m, count(*) AS n,
                              CAST(sum(qty) AS BIGINT) AS sq
                       FROM base GROUP BY 1, 2, 3),
              newg AS (SELECT ok, ln, m, count(*) AS n,
                              CAST(sum(qty) AS BIGINT) AS sq
                       FROM newt GROUP BY 1, 2, 3),
              diff AS (
                SELECT COALESCE(o.ok, n.ok) AS ok,
                       COALESCE(o.ln, n.ln) AS ln,
                       CASE WHEN n.ok IS NULL THEN 'D'
                            WHEN o.ok IS NULL THEN 'I'
                            WHEN o.n <> n.n OR o.sq <> n.sq THEN 'U'
                            ELSE NULL END AS op
                FROM oldg o FULL OUTER JOIN newg n
                  ON o.ok = n.ok AND o.ln = n.ln AND o.m = n.m)
              SELECT op, count(*) AS n_keys,
                     CAST(sum(ok) AS BIGINT) AS sum_ok,
                     CAST(sum(ln) AS BIGINT) AS sum_ln
              FROM diff WHERE op IS NOT NULL GROUP BY 1""")),

    // S38 — CHANGE DATA FEED over a MERGE-ON-READ commit (ext.): the
    // round-10 `weak` cleared. An `appendDeletes` transition shares
    // every data file path, so the old exclusive-path diff saw nothing
    // while rows were logically deleted. The feed now diffs EFFECTIVE
    // states — (path, seq-scoped vector set) — from the manifests
    // alone: the new vector covers every file committed before it, so
    // both sides read those files, the NEW side under the vector's
    // anti-join, and the signature diff recovers exactly the deleted
    // keys as D ops (what Delta CDF / Iceberg incremental reads do for
    // delete files). A follow-up COMPACTION commit (v2→v3) rewrites
    // every touched path yet changes no logical row — the same feed
    // returns EMPTY for it, which the oracle's zero-row branch
    // certifies alongside the D batch.
    Q("s38_cdf_mor",
      (s, d) => {
        val dir = s"${graft.Scratch.dirFor("s38_cdf", d)}/t"
        graft.Scratch.clear(dir)
        import graft.operators.{DeleteVectors, SnapshotLog, SnapshotMerge}
        val base = Tables.lineitem(s, d).select(
          col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").cast("decimal(18,2)").cast("int").as("qty"),
          month(to_date(col("l_shipdate"))).as("m"))
        val v1 = SnapshotLog.clone(lakeBaseDir(s, d), dir)
        val delKeys = SnapshotLog.read(s, dir, v1)
          .filter(col("m").isin(2, 3) && col("l_orderkey") % 19 === 0)
          .select(col("l_orderkey"), col("l_linenumber"), col("m"))
        val v2 = DeleteVectors.appendDeletes(s, dir, delKeys)
        val v3 = DeleteVectors.compact(s, dir, "m")
        val feedDel = changeFeed(s, dir, v1, v2)
        val feedCompact = changeFeed(s, dir, v2, v3)
        feedDel.withColumn("transition", lit("delete"))
          .unionByName(feedCompact.withColumn("transition", lit("compact")))
          .groupBy(col("transition"), col("op"))
          .agg(count(lit(1)).as("n_keys"),
            sum(col("l_orderkey")).cast("long").as("sum_ok"),
            sum(col("l_linenumber")).cast("long").as("sum_ln"))
      },
      Some("""WITH base AS (
                SELECT l_orderkey AS ok, l_linenumber AS ln,
                       month(CAST(l_shipdate AS DATE)) AS m
                FROM lineitem),
              del AS (
                SELECT DISTINCT ok, ln, m FROM base
                WHERE m IN (2, 3) AND ok % 19 = 0)
              SELECT 'delete' AS transition, 'D' AS op,
                     count(*) AS n_keys,
                     CAST(sum(ok) AS BIGINT) AS sum_ok,
                     CAST(sum(ln) AS BIGINT) AS sum_ln
              FROM del""")),

    // S39 — `VERSION AS OF` through the SQL door (ext.): the snapshot
    // log as a first-class DSv2 table (`sources/SnapshotTables`,
    // format "graft-snapshot"), so a pinned snapshot is readable from
    // PLAIN SQL TEXT over a temp view — the Delta `VERSION AS OF` /
    // Iceberg `snapshot-id` read. The scan plans EXACTLY the pinned
    // manifest's files (one input partition per manifest entry — the
    // same SQL text at v1 and v2 reads different file sets; both
    // versions are hash-gated against a two-branch oracle), and the
    // projection is pushed into the parquet read schema
    // (`SnapshotSourceSpec` pins partition count == manifest size).
    // At 100 TB the planning cost is the manifest read, not a listing.
    Q("s39_version_as_of_sql",
      (s, d) => {
        val dir = s"${graft.Scratch.dirFor("s39_vaso", d)}/t"
        graft.Scratch.clear(dir)
        import graft.operators.{SnapshotLog, SnapshotMerge}
        val base = Tables.lineitem(s, d).select(
          col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").cast("decimal(18,2)").cast("int").as("qty"),
          month(to_date(col("l_shipdate"))).as("m"))
        val v1 = SnapshotLog.clone(lakeBaseDir(s, d), dir)
        val src = SnapshotLog.read(s, dir, v1).filter(col("m").isin(2, 3))
        val deletes = src.filter(col("l_orderkey") % 19 === 0)
          .select(col("l_orderkey"), col("l_linenumber"), col("m"))
        val updates = src.filter(col("l_orderkey") % 19 =!= 0 &&
            col("l_orderkey") % 13 === 0)
          .select(col("l_orderkey"), col("l_linenumber"), col("m"),
            (col("l_orderkey") % 47 + 1).cast("int").as("new_qty"))
        val inserts = src.filter(col("l_orderkey") % 19 =!= 0 &&
            col("l_orderkey") % 13 =!= 0 && col("l_orderkey") % 17 === 0)
          .select((col("l_orderkey") + 1000000L).as("l_orderkey"),
            col("l_linenumber"), col("qty"), col("m"))
        val v2 = SnapshotMerge(s, dir, "m",
          Seq("l_orderkey", "l_linenumber"), deletes, updates, inserts,
          Map("qty" -> "new_qty"))
        // the SAME SQL text, pinned to each version via the source's
        // versionAsOf option
        def at(v: Int) = {
          s.read.format("graft-snapshot")
            .option("path", dir).option("versionAsOf", v.toString)
            .load().createOrReplaceTempView(s"snap_v$v")
          s.sql(s"""SELECT $v AS snapshot, m, count(*) AS n_rows,
                           CAST(sum(qty) AS BIGINT) AS sum_qty
                    FROM snap_v$v GROUP BY m""")
        }
        at(v1).unionByName(at(v2))
      },
      Some("""WITH base AS (
                SELECT l_orderkey AS ok, l_linenumber AS ln,
                       month(CAST(l_shipdate AS DATE)) AS m,
                       CAST(l_quantity AS INT) AS qty
                FROM lineitem),
              kept AS (
                SELECT ok, ln, m,
                       CASE WHEN m IN (2, 3) AND ok % 19 <> 0
                                 AND ok % 13 = 0
                            THEN CAST(ok % 47 + 1 AS INT)
                            ELSE qty END AS qty
                FROM base WHERE NOT (m IN (2, 3) AND ok % 19 = 0)),
              ins AS (
                SELECT ok + 1000000 AS ok, ln, m, qty FROM base
                WHERE m IN (2, 3) AND ok % 19 <> 0 AND ok % 13 <> 0
                  AND ok % 17 = 0),
              v2 AS (SELECT * FROM kept UNION ALL SELECT * FROM ins)
              SELECT 1 AS snapshot, CAST(m AS INT) AS m,
                     count(*) AS n_rows,
                     CAST(sum(qty) AS BIGINT) AS sum_qty
              FROM base GROUP BY 2
              UNION ALL
              SELECT 2, CAST(m AS INT), count(*),
                     CAST(sum(qty) AS BIGINT)
              FROM v2 GROUP BY 2""")),

    // S40 — SCHEMA EVOLUTION composed with the snapshot log (ext.):
    // a RENAME + WIDEN commits as a PURE METADATA snapshot — the
    // manifest carries the canonical schema and the old→new name
    // mapping (`SnapshotLog.commitSchemaChange`), every v1 file entry
    // is carried forward verbatim (zero bytes rewritten at any table
    // size), and reads resolve each commit's files through
    // `SchemaEvolution.upgradeTo` (rename, cast, null-fill — one
    // codegen'd projection per commit group). Time travel serves each
    // version under ITS OWN schema: the v1 branch reads `qty` INT
    // exactly as written, the v3 branch reads `quantity` BIGINT
    // spanning old files (lifted) and a post-evolution append (native)
    // — both hash-gated against a two-branch oracle. The
    // Iceberg/Delta table-metadata contract from the engine's parts.
    Q("s40_schema_snapshot",
      (s, d) => {
        val dir = s"${graft.Scratch.dirFor("s40_schema", d)}/t"
        graft.Scratch.clear(dir)
        import graft.operators.{SnapshotLog, SnapshotMerge}
        import org.apache.spark.sql.types._
        val base = Tables.lineitem(s, d).select(
          col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").cast("decimal(18,2)").cast("int").as("qty"),
          month(to_date(col("l_shipdate"))).as("m"))
        val v1 = SnapshotLog.clone(lakeBaseDir(s, d), dir)
        val canonical = StructType(Seq(
          StructField("l_orderkey", LongType),
          StructField("l_linenumber", IntegerType),
          StructField("quantity", LongType), // qty renamed + widened
          StructField("m", IntegerType)))
        SnapshotLog.commitSchemaChange(dir, canonical,
          Map("qty" -> "quantity"))
        // append AFTER the evolution, under the canonical schema
        val appended = base.filter(col("l_orderkey") % 5 === 0)
          .select((col("l_orderkey") + 2000000L).as("l_orderkey"),
            col("l_linenumber"),
            (col("qty") * 2 + 1).cast("long").as("quantity"), col("m"))
        val v3 = graft.streaming.SnapshotCommitSink
          .commitBatch(s, dir, appended, 0L)
        val b1 = SnapshotLog.read(s, dir, v1)
          .groupBy(col("m"))
          .agg(count(lit(1)).as("n_rows"),
            sum(col("qty")).cast("long").as("sum_q"))
          .select(lit(v1).as("snapshot"), col("m"), col("n_rows"),
            col("sum_q"))
        val b3 = SnapshotLog.read(s, dir, v3)
          .groupBy(col("m"))
          .agg(count(lit(1)).as("n_rows"),
            sum(col("quantity")).cast("long").as("sum_q"))
          .select(lit(v3).as("snapshot"), col("m"), col("n_rows"),
            col("sum_q"))
        b1.unionByName(b3)
      },
      Some("""WITH base AS (
                SELECT l_orderkey AS ok, l_linenumber AS ln,
                       CAST(l_quantity AS INT) AS qty,
                       month(CAST(l_shipdate AS DATE)) AS m
                FROM lineitem),
              app AS (
                SELECT ok + 2000000 AS ok, ln,
                       CAST(qty * 2 + 1 AS BIGINT) AS q, m
                FROM base WHERE ok % 5 = 0),
              v3 AS (
                SELECT ok, ln, CAST(qty AS BIGINT) AS q, m FROM base
                UNION ALL SELECT ok, ln, q, m FROM app)
              SELECT 1 AS snapshot, CAST(m AS INT) AS m,
                     count(*) AS n_rows,
                     CAST(sum(qty) AS BIGINT) AS sum_q
              FROM base GROUP BY 2
              UNION ALL
              SELECT 3, CAST(m AS INT), count(*),
                     CAST(sum(q) AS BIGINT)
              FROM v3 GROUP BY 2""")),

    // S41 — POSITION DELETES (ext.): the Delta deletion-vector flavor
    // equality deletes cannot express — "delete THIS physical row".
    // The fixture plants a full duplicate of every %23 row, then
    // deletes exactly one physical copy per duplicate group: addresses
    // come from the parquet `_metadata` row index, the delete commit
    // is one tiny (file_path, row_pos) file + a manifest line, ZERO
    // data files rewritten (the v1 entries appear in v2 verbatim).
    // `readMor` subtracts the addresses with a broadcast anti-join on
    // the scan's own `_metadata` columns; compaction (v3) folds the
    // position file away and the content is unchanged — both
    // snapshots hash-gate against the one oracle. At 100 TB this is
    // the only way to de-duplicate physical rows without rewriting
    // the files that hold them.
    Q("s41_position_deletes",
      (s, d) => {
        val dir = s"${graft.Scratch.dirFor("s41_posdel", d)}/t"
        graft.Scratch.clear(dir)
        import graft.operators.{DeleteVectors, SnapshotLog, SnapshotMerge}
        val base = Tables.lineitem(s, d).select(
          col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").cast("decimal(18,2)").cast("int").as("qty"),
          month(to_date(col("l_shipdate"))).as("m"))
        val dupSlice = base.filter(col("l_orderkey") % 23 === 0)
        val v1 = SnapshotMerge.writeInitial(s,
          base.unionByName(dupSlice), dir, "m")
        // one physical survivor per duplicate group: rank the
        // addresses, delete ranks > 1
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("l_orderkey"), col("l_linenumber"),
            col("qty"), col("m"))
          .orderBy(col("file_path"), col("row_pos"))
        val toDelete = s.read.parquet(SnapshotLog.files(dir, v1): _*)
          .select(col("*"),
            col("_metadata.file_path").as("file_path"),
            col("_metadata.row_index").as("row_pos"))
          .filter(col("l_orderkey") % 23 === 0)
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") > 1)
          .select(col("file_path"), col("row_pos"))
        val v2 = DeleteVectors.appendPositionDeletes(s, dir, toDelete)
        val v3 = DeleteVectors.compact(s, dir, "m")
        Seq(v2, v3).map { v =>
          SnapshotLog.readMor(s, dir, v)
            .groupBy(col("m"))
            .agg(count(lit(1)).as("n_rows"),
              sum(col("qty")).cast("long").as("sum_qty"))
            .select(lit(v).as("snapshot"), col("m"), col("n_rows"),
              col("sum_qty"))
        }.reduce(_.unionByName(_))
      },
      Some("""WITH base AS (
                SELECT l_orderkey AS ok, l_linenumber AS ln,
                       CAST(l_quantity AS INT) AS qty,
                       month(CAST(l_shipdate AS DATE)) AS m
                FROM lineitem),
              vis AS (
                SELECT * FROM base WHERE ok % 23 <> 0
                UNION ALL
                SELECT DISTINCT ok, ln, qty, m FROM base
                WHERE ok % 23 = 0)
              SELECT 2 AS snapshot, CAST(m AS INT) AS m,
                     count(*) AS n_rows,
                     CAST(sum(qty) AS BIGINT) AS sum_qty
              FROM vis GROUP BY 2
              UNION ALL
              SELECT 3, CAST(m AS INT), count(*),
                     CAST(sum(qty) AS BIGINT)
              FROM vis GROUP BY 2""")),

    // S42 — BRANCHES, TAGS and WRITE–AUDIT–PUBLISH (ext.): named refs
    // over the snapshot log (`operators/SnapshotRefs`), the Iceberg
    // refs / WAP pattern. Two batches are staged as commits on an
    // `audit` branch — `main` and the `rel-1` tag keep reading the
    // original snapshot untouched (the "write"); an audit pass
    // validates the staged world; then `main` adopts the branch head by
    // FAST-FORWARD, which requires ancestry (nothing landed on main
    // meanwhile) and moves ONE POINTER — zero data, zero manifests,
    // however many terabytes the branch staged. The tag pins the
    // pre-publish release forever. All four reads (main/audit before,
    // main/tag after) hash-gate against a month-sliced oracle.
    Q("s43_branch_wap",
      (s, d) => {
        val dir = s"${graft.Scratch.dirFor("s43_wap", d)}/t"
        graft.Scratch.clear(dir)
        import graft.operators.{SnapshotLog, SnapshotMerge, SnapshotRefs}
        val base = Tables.lineitem(s, d).select(
          col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").cast("decimal(18,2)").cast("int").as("qty"),
          month(to_date(col("l_shipdate"))).as("m"))
        val v1 = SnapshotMerge.writeInitial(s,
          base.filter(col("m") <= 4), dir, "m")
        SnapshotRefs.createBranch(dir, "main", v1)
        SnapshotRefs.createBranch(dir, "audit", v1)
        SnapshotRefs.tag(dir, "rel-1", v1)
        SnapshotRefs.commitAppend(s, dir, "audit",
          base.filter(col("m").between(5, 8)))
        val v3 = SnapshotRefs.commitAppend(s, dir, "audit",
          base.filter(col("m") >= 9))
        def face(stage: String, ref: String, v: Int) =
          SnapshotLog.read(s, dir, v)
            .agg(count(lit(1)).as("n_rows"),
              sum(col("qty")).cast("long").as("sum_qty"))
            .select(lit(stage).as("stage"), lit(ref).as("ref"),
              col("n_rows"), col("sum_qty"))
        // heads resolved BEFORE the publish pin the pre-publish reads
        val pre = face("pre", "main", SnapshotRefs.head(dir, "main"))
          .unionByName(face("pre", "audit", SnapshotRefs.head(dir, "audit")))
        // the AUDIT: validate the staged branch before anyone can see it
        require(SnapshotLog.read(s, dir, v3).count() > 0,
          "audit failed: staged branch is empty")
        SnapshotRefs.fastForward(dir, "main", v3)
        pre
          .unionByName(face("post", "main", SnapshotRefs.head(dir, "main")))
          .unionByName(face("tag", "rel-1",
            SnapshotRefs.resolveTag(dir, "rel-1")))
      },
      Some("""WITH base AS (
                SELECT CAST(l_quantity AS INT) AS qty,
                       month(CAST(l_shipdate AS DATE)) AS m
                FROM lineitem),
              a AS (SELECT count(*) AS n, CAST(sum(qty) AS BIGINT) AS sq
                    FROM base WHERE m <= 4),
              f AS (SELECT count(*) AS n, CAST(sum(qty) AS BIGINT) AS sq
                    FROM base)
              SELECT 'pre' AS stage, 'main' AS ref,
                     n AS n_rows, sq AS sum_qty FROM a
              UNION ALL SELECT 'pre', 'audit', n, sq FROM f
              UNION ALL SELECT 'post', 'main', n, sq FROM f
              UNION ALL SELECT 'tag', 'rel-1', n, sq FROM a""")),

    // S43 — INCREMENTAL VIEW MAINTENANCE over the change feed (ext.):
    // a grouped aggregate maintained WITHOUT ever re-reading the table
    // — the classic delta rule (count/sum need no row matching at all):
    // each commit contributes its changed entries' rows SIGNED (+1 new
    // side, -1 old side, both under their own delete vectors), and one
    // final fold of base ∪ deltas equals the aggregate computed
    // directly at the head — the query emits BOTH faces and the oracle
    // certifies them identical. The transitions cover all three commit
    // species: a COW merge (only rewritten partitions contribute), an
    // equality-vector delete (every covered file is conservatively
    // changed — the Iceberg bound), and an append (only the new file).
    // At 100 TB the maintained view pays commit volume, not table
    // scans — s25's IVM composed with the lake kernel.
    Q("s44_ivm_cdf",
      (s, d) => {
        val dir = s"${graft.Scratch.dirFor("s44_ivm", d)}/t"
        graft.Scratch.clear(dir)
        import graft.operators.{DeleteVectors, SnapshotLog, SnapshotMerge}
        val base = Tables.lineitem(s, d).select(
          col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").cast("decimal(18,2)").cast("int").as("qty"),
          month(to_date(col("l_shipdate"))).as("m"))
        val v1 = SnapshotLog.clone(lakeBaseDir(s, d), dir)
        val src = SnapshotLog.read(s, dir, v1).filter(col("m").isin(2, 3))
        val deletes = src.filter(col("l_orderkey") % 19 === 0)
          .select(col("l_orderkey"), col("l_linenumber"), col("m"))
        val updates = src.filter(col("l_orderkey") % 19 =!= 0 &&
            col("l_orderkey") % 13 === 0)
          .select(col("l_orderkey"), col("l_linenumber"), col("m"),
            (col("l_orderkey") % 47 + 1).cast("int").as("new_qty"))
        val inserts = src.filter(col("l_orderkey") % 19 =!= 0 &&
            col("l_orderkey") % 13 =!= 0 && col("l_orderkey") % 17 === 0)
          .select((col("l_orderkey") + 1000000L).as("l_orderkey"),
            col("l_linenumber"), col("qty"), col("m"))
        val v2 = SnapshotMerge(s, dir, "m",
          Seq("l_orderkey", "l_linenumber"), deletes, updates, inserts,
          Map("qty" -> "new_qty"))
        val delKeys = SnapshotLog.readMor(s, dir, v2)
          .filter(col("m").isin(5, 6) && col("l_orderkey") % 11 === 0)
          .select(col("l_orderkey"), col("l_linenumber"), col("m"))
        val v3 = DeleteVectors.appendDeletes(s, dir, delKeys)
        val app = base.filter(col("m") === 7 && col("l_orderkey") % 29 === 0)
          .select((col("l_orderkey") + 3000000L).as("l_orderkey"),
            col("l_linenumber"), col("qty"), col("m"))
        val v4 = graft.streaming.SnapshotCommitSink
          .commitBatch(s, dir, app, 0L)
        def signed(v: Int, changed: Seq[SnapshotLog.FileEntry], w: Int) = {
          val dels = SnapshotLog.entries(dir, v).filter(_.kind != "D")
          (if (changed.isEmpty)
            SnapshotLog.read(s, dir, v1).filter(lit(false))
          else SnapshotLog.morFrame(s, dir, v, changed ++ dels))
            .select(col("m"), col("qty"), lit(w).as("w"))
        }
        val deltas = Seq((v1, v2), (v2, v3), (v3, v4)).map { case (a, b) =>
          val (oc, nc) = SnapshotLog.changedEntries(dir, a, b)
          signed(a, oc, -1).unionByName(signed(b, nc, 1))
        }.reduce(_.unionByName(_))
        val ivm = SnapshotLog.read(s, dir, v1)
          .select(col("m"), col("qty"), lit(1).as("w"))
          .unionByName(deltas)
          .groupBy(col("m"))
          .agg(sum(col("w")).cast("long").as("n_rows"),
            sum(col("w") * col("qty")).cast("long").as("sum_qty"))
          .filter(col("n_rows") =!= 0) // fully-retracted groups drop out
          .select(lit("ivm").as("face"), col("m"), col("n_rows"),
            col("sum_qty"))
        val direct = SnapshotLog.readMor(s, dir, v4)
          .groupBy(col("m"))
          .agg(count(lit(1)).as("n_rows"),
            sum(col("qty")).cast("long").as("sum_qty"))
          .select(lit("direct").as("face"), col("m"), col("n_rows"),
            col("sum_qty"))
        ivm.unionByName(direct)
      },
      Some("""WITH base AS (
                SELECT l_orderkey AS ok, l_linenumber AS ln,
                       CAST(l_quantity AS INT) AS qty,
                       month(CAST(l_shipdate AS DATE)) AS m
                FROM lineitem),
              kept AS (
                SELECT ok, ln, m,
                       CASE WHEN m IN (2, 3) AND ok % 19 <> 0
                                 AND ok % 13 = 0
                            THEN CAST(ok % 47 + 1 AS INT)
                            ELSE qty END AS qty
                FROM base WHERE NOT (m IN (2, 3) AND ok % 19 = 0)),
              ins AS (
                SELECT ok + 1000000 AS ok, ln, m, qty FROM base
                WHERE m IN (2, 3) AND ok % 19 <> 0 AND ok % 13 <> 0
                  AND ok % 17 = 0),
              v2 AS (SELECT * FROM kept UNION ALL SELECT * FROM ins),
              v3 AS (SELECT * FROM v2
                     WHERE NOT (m IN (5, 6) AND ok % 11 = 0)),
              app AS (SELECT ok + 3000000 AS ok, ln, m, qty FROM base
                      WHERE m = 7 AND ok % 29 = 0),
              v4 AS (SELECT * FROM v3 UNION ALL SELECT * FROM app),
              agg AS (SELECT m, count(*) AS n_rows,
                             CAST(sum(qty) AS BIGINT) AS sum_qty
                      FROM v4 GROUP BY 1)
              SELECT 'direct' AS face, CAST(m AS INT) AS m,
                     n_rows, sum_qty FROM agg
              UNION ALL
              SELECT 'ivm', CAST(m AS INT), n_rows, sum_qty FROM agg""")),

    // S45 — DSv2 WRITE into the snapshot log (ext.): the lake kernel's
    // write half reachable from the STANDARD DataFrame writer —
    // `df.write.format("graft-snapshot").mode("append")` commits the
    // frame as ONE snapshot (task-local parquet files under a
    // writer-unique root, driver-side CAS manifest publish; nothing
    // visible until the manifest lands — the two-phase commit contract,
    // `SnapshotWriteSpec` pins invisibility of uncommitted files and
    // the append-rebase under an interleaved commit). The fixture
    // builds the whole table through that door — two appends, two
    // snapshots — then reads both versions back through the DSv2
    // SOURCE, closing the loop: a table written and read entirely by
    // plain Spark API, no programmatic kernel calls.
    Q("s45_dsv2_write",
      (s, d) => {
        val dir = s"${graft.Scratch.dirFor("s45_dsv2w", d)}/t"
        graft.Scratch.clear(dir)
        val base = Tables.lineitem(s, d).select(
          col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").cast("decimal(18,2)").cast("int").as("qty"),
          month(to_date(col("l_shipdate"))).as("m"))
        base.filter(col("m") <= 6).write.format("graft-snapshot")
          .option("path", dir).mode("append").save()
        base.filter(col("m") > 6).write.format("graft-snapshot")
          .option("path", dir).mode("append").save()
        def at(v: Int) =
          s.read.format("graft-snapshot")
            .option("path", dir).option("versionAsOf", v.toString).load()
            .agg(count(lit(1)).as("n_rows"),
              sum(col("qty")).cast("long").as("sum_qty"))
            .select(lit(v).as("snapshot"), col("n_rows"), col("sum_qty"))
        at(1).unionByName(at(2))
      },
      Some("""WITH base AS (
                SELECT CAST(l_quantity AS INT) AS qty,
                       month(CAST(l_shipdate AS DATE)) AS m
                FROM lineitem)
              SELECT 1 AS snapshot, count(*) AS n_rows,
                     CAST(sum(qty) AS BIGINT) AS sum_qty
              FROM base WHERE m <= 6
              UNION ALL
              SELECT 2, count(*), CAST(sum(qty) AS BIGINT) FROM base""")),

    // S46 — ROLLBACK / RESTORE (ext.): a bad commit undone by
    // publishing a NEW snapshot with the old snapshot's exact content
    // (`SnapshotLog.rollback`) — history stays append-only (the bad
    // version remains inspectable and expirable), readers of latest see
    // the restored state, and the operation is pure metadata at any
    // table size (the Iceberg rollback / Delta RESTORE shape). The
    // fixture commits a corrupting merge (drops a key slice), rolls
    // back, and gates all three reads: v1 and v3 must agree exactly,
    // v2 shows the damage the rollback undid.
    Q("s46_rollback",
      (s, d) => {
        val dir = s"${graft.Scratch.dirFor("s46_rollb", d)}/t"
        graft.Scratch.clear(dir)
        import graft.operators.{SnapshotLog, SnapshotMerge}
        val base = Tables.lineitem(s, d).select(
          col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").cast("decimal(18,2)").cast("int").as("qty"),
          month(to_date(col("l_shipdate"))).as("m"))
        val v1 = SnapshotLog.clone(lakeBaseDir(s, d), dir)
        // the bad commit: a merge that deletes every %7 key in months 4-5
        val badDel = SnapshotLog.read(s, dir, v1)
          .filter(col("m").isin(4, 5) && col("l_orderkey") % 7 === 0)
          .select(col("l_orderkey"), col("l_linenumber"), col("m"))
        val v2 = SnapshotMerge(s, dir, "m",
          Seq("l_orderkey", "l_linenumber"), badDel,
          badDel.limit(0).withColumn("new_qty", lit(0)),
          base.limit(0), Map("qty" -> "new_qty"))
        val v3 = SnapshotLog.rollback(dir, v1)
        Seq(v1, v2, v3).map { v =>
          SnapshotLog.read(s, dir, v)
            .agg(count(lit(1)).as("n_rows"),
              sum(col("qty")).cast("long").as("sum_qty"))
            .select(lit(v).as("snapshot"), col("n_rows"), col("sum_qty"))
        }.reduce(_.unionByName(_))
      },
      Some("""WITH base AS (
                SELECT l_orderkey AS ok,
                       CAST(l_quantity AS INT) AS qty,
                       month(CAST(l_shipdate AS DATE)) AS m
                FROM lineitem),
              bad AS (SELECT * FROM base
                      WHERE NOT (m IN (4, 5) AND ok % 7 = 0))
              SELECT 1 AS snapshot, count(*) AS n_rows,
                     CAST(sum(qty) AS BIGINT) AS sum_qty FROM base
              UNION ALL
              SELECT 2, count(*), CAST(sum(qty) AS BIGINT) FROM bad
              UNION ALL
              SELECT 3, count(*), CAST(sum(qty) AS BIGINT) FROM base""")),

    // S47 — PARTITION-SPEC EVOLUTION (ext.): the table repartitions
    // WITHOUT a rewrite (the Iceberg spec-evolution idea). The fixture
    // starts partitioned by month, evolves the spec to the returnflag
    // column as a PURE METADATA commit (`SnapshotLog.commitSpecChange`
    // — every v1 entry carried verbatim under its old label), then
    // appends files labeled by the NEW spec
    // (`SnapshotMerge.appendPartitioned`, which refuses a column that
    // contradicts the active spec). Pruned reads are per-ENTRY: an
    // entry prunes by its own label's column, and an entry from the
    // other era is kept conservatively (its rows may hold any value of
    // the filter column) — so one query prunes the month era by label
    // and scans the flag era, the other the reverse, and BOTH equal
    // the oracle. `SpecEvolutionSpec` proves the skipping is
    // metadata-only by deleting the pruned files. At 100 TB the
    // alternative is rewriting the table to change its layout.
    Q("s47_partition_evolution",
      (s, d) => {
        val dir = s"${graft.Scratch.dirFor("s47_specevo", d)}/t"
        graft.Scratch.clear(dir)
        import graft.operators.{SnapshotLog, SnapshotMerge}
        val base = Tables.lineitem(s, d).select(
          col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").cast("decimal(18,2)").cast("int").as("qty"),
          col("l_returnflag").as("rf"),
          month(to_date(col("l_shipdate"))).as("m"))
        SnapshotMerge.writeInitial(s, base, dir, "m")
        SnapshotLog.commitSpecChange(dir, "rf")
        val app = base.filter(col("l_orderkey") % 13 === 0)
          .select((col("l_orderkey") + 5000000L).as("l_orderkey"),
            col("l_linenumber"), col("qty"), col("rf"), col("m"))
        val v3 = SnapshotMerge.appendPartitioned(s, app, dir, "rf")
        def face(name: String, c: String, v: String,
            rowFilter: org.apache.spark.sql.Column) =
          SnapshotLog.prunedByPartition(s, dir, v3, c, v)
            .filter(rowFilter)
            .agg(count(lit(1)).as("n_rows"),
              sum(col("qty")).cast("long").as("sum_qty"))
            .select(lit(name).as("face"), col("n_rows"), col("sum_qty"))
        face("prune_m3", "m", "3", col("m") === 3)
          .unionByName(face("prune_rfR", "rf", "R", col("rf") === "R"))
      },
      Some("""WITH base AS (
                SELECT l_orderkey AS ok,
                       CAST(l_quantity AS INT) AS qty,
                       l_returnflag AS rf,
                       month(CAST(l_shipdate AS DATE)) AS m
                FROM lineitem),
              full_t AS (
                SELECT qty, rf, m FROM base
                UNION ALL
                SELECT qty, rf, m FROM base WHERE ok % 13 = 0)
              SELECT 'prune_m3' AS face, count(*) AS n_rows,
                     CAST(sum(qty) AS BIGINT) AS sum_qty
              FROM full_t WHERE m = 3
              UNION ALL
              SELECT 'prune_rfR', count(*), CAST(sum(qty) AS BIGINT)
              FROM full_t WHERE rf = 'R'""")),

    // S48 — `TIMESTAMP AS OF` time travel (ext.): every manifest
    // publish is stamped with a `#ts` commit wall-clock forced STRICTLY
    // above its predecessor's (two commits inside one clock tick still
    // resolve unambiguously), and `timestampAsOf` on the DSv2 source
    // resolves "the newest snapshot at or before t" — the Delta
    // `TIMESTAMP AS OF` / Iceberg as-of-timestamp read. The fixture
    // builds the table through two DSv2 appends, reads AT each commit's
    // own stamp and BETWEEN the stamps (t2−1 must serve v1 — the
    // strict-monotonicity guarantee made observable), all three faces
    // against one oracle. Reads before the oldest retained stamp fail
    // loudly rather than silently serving newer data.
    Q("s48_time_travel_ts",
      (s, d) => {
        val dir = s"${graft.Scratch.dirFor("s48_tsaso", d)}/t"
        graft.Scratch.clear(dir)
        import graft.operators.SnapshotLog
        val base = Tables.lineitem(s, d).select(
          col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").cast("decimal(18,2)").cast("int").as("qty"),
          month(to_date(col("l_shipdate"))).as("m"))
        base.filter(col("m") <= 6).write.format("graft-snapshot")
          .option("path", dir).mode("append").save()
        base.filter(col("m") > 6).write.format("graft-snapshot")
          .option("path", dir).mode("append").save()
        val t1 = SnapshotLog.tsOf(dir, 1).get
        val t2 = SnapshotLog.tsOf(dir, 2).get
        def at(face: String, ts: Long) =
          s.read.format("graft-snapshot").option("path", dir)
            .option("timestampAsOf", ts.toString).load()
            .agg(count(lit(1)).as("n_rows"),
              sum(col("qty")).cast("long").as("sum_qty"))
            .select(lit(face).as("face"), col("n_rows"), col("sum_qty"))
        at("at_t1", t1)
          .unionByName(at("between", t2 - 1))
          .unionByName(at("at_t2", t2))
      },
      Some("""WITH base AS (
                SELECT CAST(l_quantity AS INT) AS qty,
                       month(CAST(l_shipdate AS DATE)) AS m
                FROM lineitem),
              h AS (SELECT count(*) AS n, CAST(sum(qty) AS BIGINT) AS sq
                    FROM base WHERE m <= 6),
              f AS (SELECT count(*) AS n, CAST(sum(qty) AS BIGINT) AS sq
                    FROM base)
              SELECT 'at_t1' AS face, n AS n_rows, sq AS sum_qty FROM h
              UNION ALL SELECT 'between', n, sq FROM h
              UNION ALL SELECT 'at_t2', n, sq FROM f""")),

    // S49 — METADATA TABLES (ext.): the table's own history as a
    // queryable DataFrame — Iceberg's `table.snapshots` / Delta's
    // DESCRIBE HISTORY. `SnapshotLog.metaSnapshots` surfaces one row
    // per retained snapshot (version, parent, active spec, entry
    // counts by kind, distinct partition labels), built from manifests
    // alone on the driver — observability costs a metadata read at any
    // table size, and composes with ordinary SQL (the query filters
    // and projects it like any frame). The fixture walks three commit
    // species — partitioned initial write, equality-delete vector,
    // spec evolution — and the oracle pins each version's counts (the
    // label count derives from the DATA: distinct months in lineitem).
    Q("s49_metadata_tables",
      (s, d) => {
        val dir = s"${graft.Scratch.dirFor("s49_meta", d)}/t"
        graft.Scratch.clear(dir)
        import graft.operators.{DeleteVectors, SnapshotLog, SnapshotMerge}
        val base = Tables.lineitem(s, d).select(
          col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").cast("decimal(18,2)").cast("int").as("qty"),
          col("l_returnflag").as("rf"),
          month(to_date(col("l_shipdate"))).as("m"))
        val v1 = SnapshotMerge.writeInitial(s, base, dir, "m")
        DeleteVectors.appendDeletes(s, dir,
          SnapshotLog.read(s, dir, v1)
            .filter(col("l_orderkey") % 19 === 0)
            .select(col("l_orderkey"), col("l_linenumber"), col("m")))
        SnapshotLog.commitSpecChange(dir, "rf")
        SnapshotLog.metaSnapshots(s, dir)
          .select(col("version"), col("spec"), col("n_eqdel"),
            col("n_posdel"), col("n_partitions"))
      },
      Some("""WITH np AS (
                SELECT CAST(count(DISTINCT
                         month(CAST(l_shipdate AS DATE))) AS BIGINT) AS n
                FROM lineitem)
              SELECT 1 AS version, '-' AS spec,
                     CAST(0 AS BIGINT) AS n_eqdel,
                     CAST(0 AS BIGINT) AS n_posdel,
                     n AS n_partitions FROM np
              UNION ALL
              SELECT 2, '-', 1, 0, n FROM np
              UNION ALL
              SELECT 3, 'rf', 1, 0, n FROM np""")),

    // S50 — SHALLOW CLONE (ext.): a writable copy of a table for the
    // cost of ONE manifest write (Delta CLONE): the clone's v1
    // references the source's files by path, zero bytes copied at any
    // table size; the sides then diverge freely — the fixture deletes
    // a key slice on the CLONE (merge-on-read vector, still zero
    // copies) and proves the SOURCE serves every row untouched.
    // `CloneSpec` additionally pins zero data files under the clone's
    // root after cloning and that a clone-side VACUUM cannot reach the
    // source's files (expire's own-root rule). This is the dev/test
    // workflow of a 100 TB production table — and the engine's own
    // harness runs on it: every lake fixture above clones one shared
    // base instead of rewriting lineitem.
    Q("s50_shallow_clone",
      (s, d) => {
        val cloneDir = s"${graft.Scratch.dirFor("s50_clone", d)}/t"
        graft.Scratch.clear(cloneDir)
        import graft.operators.{DeleteVectors, SnapshotLog}
        val srcDir = lakeBaseDir(s, d)
        val v1 = SnapshotLog.clone(srcDir, cloneDir)
        val delKeys = SnapshotLog.read(s, cloneDir, v1)
          .filter(col("m").isin(8, 9) && col("l_orderkey") % 7 === 0)
          .select(col("l_orderkey"), col("l_linenumber"), col("m"))
        val v2 = DeleteVectors.appendDeletes(s, cloneDir, delKeys)
        def face(name: String, df: org.apache.spark.sql.DataFrame) =
          df.agg(count(lit(1)).as("n_rows"),
            sum(col("qty")).cast("long").as("sum_qty"))
            .select(lit(name).as("face"), col("n_rows"), col("sum_qty"))
        face("clone_v2", SnapshotLog.readMor(s, cloneDir, v2))
          .unionByName(face("source",
            SnapshotLog.read(s, srcDir, SnapshotLog.latest(srcDir))))
      },
      Some("""WITH base AS (
                SELECT l_orderkey AS ok,
                       CAST(l_quantity AS INT) AS qty,
                       month(CAST(l_shipdate AS DATE)) AS m
                FROM lineitem),
              cl AS (SELECT * FROM base
                     WHERE NOT (m IN (8, 9) AND ok % 7 = 0))
              SELECT 'clone_v2' AS face, count(*) AS n_rows,
                     CAST(sum(qty) AS BIGINT) AS sum_qty FROM cl
              UNION ALL
              SELECT 'source', count(*), CAST(sum(qty) AS BIGINT)
              FROM base""")),

    // S51 — OPTIMIZE ZORDER as a snapshot COMMIT (ext.): the
    // Delta/Iceberg maintenance job from the engine's own parts — the
    // table's data rewritten clustered on the (l_orderkey, qty)
    // z-curve and published as ONE content-preserving snapshot whose
    // manifest carries fresh per-file min/max (`SnapshotOptimize`).
    // The same manifest-pruned range read runs against BOTH layouts:
    // identical answers (the oracle computes once, certifies both
    // faces), but the optimized manifest localizes the key range to a
    // small file subset where the month-partitioned layout had
    // every file overlapping it — `OptimizeSpec` pins the survivor
    // drop AND the time-traveled pre-optimize layout. The fixture
    // starts from a SHALLOW CLONE of the shared base: even the
    // maintenance-job demo costs zero base copies.
    Q("s51_optimize_zorder",
      (s, d) => {
        val dir = s"${graft.Scratch.dirFor("s51_optz", d)}/t"
        graft.Scratch.clear(dir)
        import graft.operators.{SnapshotLog, SnapshotOptimize}
        val v1 = SnapshotLog.clone(lakeBaseDir(s, d), dir)
        val v2 = SnapshotOptimize.zorder(s, dir,
          Seq("l_orderkey", "qty"), nFiles = 8)
        def face(name: String, v: Int) =
          SnapshotLog.prunedRead(s, dir, v, "l_orderkey", 10000L, 30000L)
            .filter(col("l_orderkey").between(10000L, 30000L))
            .agg(count(lit(1)).as("n_rows"),
              sum(col("qty")).cast("long").as("sum_qty"))
            .select(lit(name).as("face"), col("n_rows"), col("sum_qty"))
        face("pre_optimize", v1).unionByName(face("post_optimize", v2))
      },
      Some("""WITH base AS (
                SELECT l_orderkey AS ok,
                       CAST(l_quantity AS INT) AS qty
                FROM lineitem
                WHERE l_orderkey BETWEEN 10000 AND 30000),
              a AS (SELECT count(*) AS n, CAST(sum(qty) AS BIGINT) AS sq
                    FROM base)
              SELECT 'pre_optimize' AS face, n AS n_rows, sq AS sum_qty
              FROM a
              UNION ALL SELECT 'post_optimize', n, sq FROM a""")),

    // S52 — TWO-LEVEL MANIFESTS / O(delta) commits (ext.): the
    // round-11 kernel's first 100-TB breaking point closed. Entry
    // lines live in immutable SEGMENT files; each per-version manifest
    // is a tiny list of `@seg` references (the Iceberg manifest-list
    // design), and a commit that carries a parent segment REFERENCES
    // it — never re-serializes it. The fixture commits three times
    // (sizes derived from the data so the oracle is relational, not
    // literal) and the query surfaces the sharing structure itself:
    // every commit adds exactly ONE new segment and reuses EVERY
    // segment of its parent, so commit k writes O(delta) metadata
    // bytes on a table of any size (`ManifestSegmentSpec` pins the
    // byte bound and the ≤64-ref merge-down).
    Q("s52_manifest_segments",
      (s, d) => {
        import s.implicits._
        val dir = s"${graft.Scratch.dirFor("s52_segs", d)}/t"
        graft.Scratch.clear(dir)
        import graft.operators.SnapshotLog
        val li = Tables.lineitem(s, d)
        def fakes(tag: String, vals: Seq[String]) = vals.map(v =>
          SnapshotLog.FileEntry(s"$dir/data/$tag-$v.parquet", "D",
            s"$tag=$v", Map.empty, seq = 1L))
        val months = li.select(month(to_date(col("l_shipdate"))))
          .distinct().collect().map(_.getInt(0).toString).sorted.toSeq
        val flags = li.select(col("l_returnflag")).distinct()
          .collect().map(_.getString(0)).sorted.toSeq
        val statuses = li.select(col("l_linestatus")).distinct()
          .collect().map(_.getString(0)).sorted.toSeq
        val e1 = fakes("m", months)
        val e2 = e1 ++ fakes("rf", flags)
        val e3 = e2 ++ fakes("ls", statuses)
        val vs = Seq(e1, e2, e3).map(SnapshotLog.commitEntries(dir, _))
        val rows = vs.foldLeft(Seq.empty[(Int, Long, Long, Long)]) {
          (acc, v) =>
            val refs = SnapshotLog.segRefs(dir, v).map(_._1).toSet
            val parentRefs = if (v == vs.head) Set.empty[String]
              else SnapshotLog.segRefs(dir, v - 1).map(_._1).toSet
            acc :+ ((v, SnapshotLog.entries(dir, v).size.toLong,
              (refs -- parentRefs).size.toLong,
              (refs intersect parentRefs).size.toLong))
        }
        rows.toDF("version", "n_entries", "n_new_segs", "n_reused_segs")
      },
      Some("""WITH np AS (
                SELECT CAST(count(DISTINCT
                         month(CAST(l_shipdate AS DATE))) AS BIGINT) AS m,
                       CAST(count(DISTINCT l_returnflag) AS BIGINT) AS rf,
                       CAST(count(DISTINCT l_linestatus) AS BIGINT) AS ls
                FROM lineitem)
              SELECT 1 AS version, m AS n_entries,
                     CAST(1 AS BIGINT) AS n_new_segs,
                     CAST(0 AS BIGINT) AS n_reused_segs FROM np
              UNION ALL SELECT 2, m + rf, 1, 1 FROM np
              UNION ALL SELECT 3, m + rf + ls, 1, 2 FROM np""")),

    // S53 — SQL DML through the catalog door (ext.): `DELETE FROM` /
    // `UPDATE` / `MERGE INTO` as PLAIN SQL TEXT against a
    // `graft_lake.`dir`` table — Spark's own row-level-operation
    // rewrites planned over the table's DSv2 scan (which serves the
    // `(_file, _pos)` row address as metadata columns), each statement
    // committing ONE merge-on-read snapshot: deletes land as
    // position-delete vectors, updates as delete + reinsert, merge
    // mixes all three — ZERO data files rewritten at any table size
    // (`SqlDmlSpec` pins the path-sharing; the oracle gates the
    // content after every statement). Arbitrary predicates work —
    // nothing has to translate to source filters, because the matched
    // rows are computed by Spark over the scan.
    Q("s53_sql_dml",
      (s, d) => {
        graft.GraftExtensions.ensure(s)
        val dir = s"${graft.Scratch.dirFor("s53_sqldml", d)}/t"
        graft.Scratch.clear(dir)
        import graft.operators.SnapshotLog
        val v1 = SnapshotLog.clone(lakeBaseDir(s, d), dir)
        val tbl = s"graft_lake.`$dir`"
        s.sql(s"DELETE FROM $tbl WHERE m IN (2, 3) AND l_orderkey % 19 = 0")
        s.sql(s"UPDATE $tbl SET qty = qty + 100 " +
          "WHERE m = 5 AND l_orderkey % 13 = 0")
        // insert-branch keys offset by max(l_orderkey)+1 — DERIVED from
        // the data, so they can never collide with a live key at any
        // scale (a literal offset broke the MERGE's one-match-per-row
        // contract once the x100 probe's replicated keys outgrew it)
        val off = SnapshotLog.read(s, dir, v1)
          .agg(max(col("l_orderkey"))).head.getLong(0) + 1L
        SnapshotLog.read(s, dir, v1)
          .filter(col("m") === 7 && col("l_orderkey") % 23 === 0)
          .select(col("l_orderkey"), col("l_linenumber"), col("m"))
          .distinct()
          .withColumn("nq", (col("l_orderkey") % 31).cast("int"))
          .unionByName(
            SnapshotLog.read(s, dir, v1)
              .filter(col("m") === 7 && col("l_orderkey") % 29 === 0)
              .select((col("l_orderkey") + off).as("l_orderkey"),
                col("l_linenumber"), col("m")).distinct()
              .withColumn("nq", lit(7).cast("int")))
          .createOrReplaceTempView("s53_src")
        s.sql(
          s"""MERGE INTO $tbl t USING s53_src s
              ON t.l_orderkey = s.l_orderkey
                 AND t.l_linenumber = s.l_linenumber AND t.m = s.m
              WHEN MATCHED THEN UPDATE SET qty = s.nq
              WHEN NOT MATCHED THEN INSERT (l_orderkey, l_linenumber,
                qty, m) VALUES (s.l_orderkey, s.l_linenumber, s.nq, s.m)""")
        s.sql(s"""SELECT m, count(*) AS n_rows,
                         CAST(sum(qty) AS BIGINT) AS sum_qty
                  FROM $tbl GROUP BY m""")
      },
      Some("""WITH base AS (
                SELECT l_orderkey AS ok, l_linenumber AS ln,
                       CAST(l_quantity AS INT) AS qty,
                       month(CAST(l_shipdate AS DATE)) AS m
                FROM lineitem),
              afterdel AS (
                SELECT * FROM base
                WHERE NOT (m IN (2, 3) AND ok % 19 = 0)),
              afterupd AS (
                SELECT ok, ln,
                       CASE WHEN m = 5 AND ok % 13 = 0
                            THEN qty + 100 ELSE qty END AS qty, m
                FROM afterdel),
              merged AS (
                SELECT ok, ln,
                       CASE WHEN m = 7 AND ok % 23 = 0
                            THEN CAST(ok % 31 AS INT) ELSE qty END AS qty,
                       m
                FROM afterupd),
              mx AS (SELECT max(l_orderkey) + 1 AS off FROM lineitem),
              ins AS (
                SELECT DISTINCT ok + (SELECT off FROM mx) AS ok, ln,
                       CAST(7 AS INT) AS qty, m
                FROM base WHERE m = 7 AND ok % 29 = 0),
              final_t AS (SELECT * FROM merged UNION ALL SELECT * FROM ins)
              SELECT CAST(m AS INT) AS m, count(*) AS n_rows,
                     CAST(sum(qty) AS BIGINT) AS sum_qty
              FROM final_t GROUP BY 1""")),

    // S54 — BIN-PACKING OPTIMIZE as a snapshot commit (ext.): the
    // everyday maintenance job (Delta OPTIMIZE without ZORDER) — the
    // s17 planner's decision composed with the kernel: only the small
    // files of each partition rewrite into packed bins; every large
    // file is SHARED by reference (paths + mtimes pinned in
    // `OptimizeSpec`), partition labels survive (unlike ZORDER's
    // cross-partition clustering), and time travel serves the
    // pre-pack layout. The fixture force-fragments a table (12-way
    // pre-shuffle per partition), appends two big files, packs, and
    // gates all three faces on one oracle — content is invariant
    // under layout, which is the whole point of a maintenance job.
    Q("s54_optimize_binpack",
      (s, d) => {
        val dir = s"${graft.Scratch.dirFor("s54_binpack", d)}/t"
        graft.Scratch.clear(dir)
        import graft.operators.{SnapshotLog, SnapshotMerge, SnapshotOptimize}
        val base = Tables.lineitem(s, d).select(
          col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").cast("decimal(18,2)").cast("int").as("qty"),
          month(to_date(col("l_shipdate"))).as("m"))
        val v1 = SnapshotMerge.writeInitial(s,
          base.filter(col("m") <= 6).repartition(12), dir, "m")
        val v2 = SnapshotMerge.appendPartitioned(s,
          base.filter(col("m") > 6).coalesce(1), dir, "m")
        val v3 = SnapshotOptimize.binPack(s, dir, "m",
          smallBytes = 512L * 1024, statsCols = Seq("l_orderkey"))
        require(v3 == v2 + 1, "fixture must actually pack something")
        def face(name: String, v: Int) =
          SnapshotLog.read(s, dir, v)
            .agg(count(lit(1)).as("n_rows"),
              sum(col("qty")).cast("long").as("sum_qty"))
            .select(lit(name).as("face"), col("n_rows"), col("sum_qty"))
        face("pre_pack", v2).unionByName(face("post_pack", v3))
          .unionByName(face("time_travel_v1", v1))
      },
      Some("""WITH base AS (
                SELECT CAST(l_quantity AS INT) AS qty,
                       month(CAST(l_shipdate AS DATE)) AS m
                FROM lineitem),
              f AS (SELECT count(*) AS n, CAST(sum(qty) AS BIGINT) AS sq
                    FROM base),
              h AS (SELECT count(*) AS n, CAST(sum(qty) AS BIGINT) AS sq
                    FROM base WHERE m <= 6)
              SELECT 'pre_pack' AS face, n AS n_rows, sq AS sum_qty FROM f
              UNION ALL SELECT 'post_pack', n, sq FROM f
              UNION ALL SELECT 'time_travel_v1', n, sq FROM h""")),

    // S55 — MANIFEST ROW COUNTS + STRING BOUNDS (ext.): write-side
    // stats now fold TASK-SIDE in one distributed agg (no per-file
    // driver footer loop — `TaskStatsSpec` pins bit-equality with the
    // parquet footers), and the manifest carries per-file row counts
    // and string min/max. The payoff, proven the s33 way by DELETING
    // files first: (a) a date-RANGE scan prunes from string bounds
    // alone — the files that cannot overlap the range are deleted
    // before the read and the answer still gates; (b) COUNT(*) BY
    // partition is answered from the manifest with EVERY data file
    // deleted — zero files opened, the Iceberg/Delta metadata-only
    // count. At 100 TB these are the queries that should never touch
    // storage at all.
    Q("s55_metadata_count",
      (s, d) => {
        val dir = s"${graft.Scratch.dirFor("s55_metacount", d)}/t"
        graft.Scratch.clear(dir)
        import graft.operators.{SnapshotLog, SnapshotMerge}
        val base = Tables.lineitem(s, d).select(
          col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").cast("decimal(18,2)").cast("int").as("qty"),
          col("l_shipdate").as("sd"),
          month(to_date(col("l_shipdate"))).as("m"))
        val v1 = SnapshotMerge.writeInitial(s, base, dir, "m",
          statsCols = Seq("l_orderkey", "sd"))
        val es = SnapshotLog.entries(dir, v1)
        val lo = "1995-03-01"; val hi = "1995-06-30"
        // (a) delete every file whose string bounds cannot overlap the
        // date range, then answer the range query from the survivors
        es.filter(e => !e.overlapsStr("sd", lo, hi)).foreach(e =>
          java.nio.file.Files.delete(java.nio.file.Paths.get(e.path)))
        val pruned = SnapshotLog.prunedReadStr(s, dir, v1, "sd", lo, hi)
          .filter(col("sd").between(lo, hi))
          .agg(count(lit(1)).as("n_rows"),
            sum(col("qty")).cast("long").as("sum_qty"))
          .select(lit("date_pruned").as("face"),
            lit(-1).as("m"), col("n_rows"), col("sum_qty"))
          .localCheckpoint(true) // materialize BEFORE the counts face
        // (b) now delete EVERY remaining data file: the per-partition
        // count must come from the manifest alone
        SnapshotLog.entries(dir, v1).foreach(e =>
          java.nio.file.Files.deleteIfExists(
            java.nio.file.Paths.get(e.path)))
        val counts = SnapshotLog.metaCount(s, dir, v1)
          .select(lit("meta_count").as("face"),
            regexp_replace(col("partition"), "^m=", "").cast("int").as("m"),
            col("n_rows"), lit(null).cast("long").as("sum_qty"))
        pruned.unionByName(counts)
      },
      Some("""WITH base AS (
                SELECT CAST(l_quantity AS INT) AS qty, l_shipdate AS sd,
                       month(CAST(l_shipdate AS DATE)) AS m
                FROM lineitem)
              SELECT 'date_pruned' AS face, -1 AS m,
                     count(*) AS n_rows,
                     CAST(sum(qty) AS BIGINT) AS sum_qty
              FROM base WHERE sd BETWEEN '1995-03-01' AND '1995-06-30'
              UNION ALL
              SELECT 'meta_count', CAST(m AS INT), count(*),
                     CAST(NULL AS BIGINT)
              FROM base GROUP BY 2""")),

    // S56b — SQL TIME TRAVEL SYNTAX (ext.): `VERSION AS OF` /
    // `TIMESTAMP AS OF` as literal SQL clauses on a catalog table —
    // the catalog's time-travel `loadTable` overloads resolve a raw
    // snapshot id, a TAG name, or a commit timestamp (millis stamps,
    // micros from Spark, floor-converted), and the pin rides into the
    // scan options so the plan is exactly the pinned manifest's files.
    // Four faces, one table built through the plain DataFrame writer:
    // by id, by tag, between the stamps (strict monotonicity made
    // visible from SQL), and the unpinned head.
    Q("s56_sql_time_travel",
      (s, d) => {
        graft.GraftExtensions.ensure(s)
        val dir = s"${graft.Scratch.dirFor("s56_sqltt", d)}/t"
        graft.Scratch.clear(dir)
        import graft.operators.{SnapshotLog, SnapshotRefs}
        val base = Tables.lineitem(s, d).select(
          col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").cast("decimal(18,2)").cast("int").as("qty"),
          month(to_date(col("l_shipdate"))).as("m"))
        base.filter(col("m") <= 6).write.format("graft-snapshot")
          .option("path", dir).mode("append").save()
        base.filter(col("m") > 6).write.format("graft-snapshot")
          .option("path", dir).mode("append").save()
        SnapshotRefs.tag(dir, "rel-1", 1)
        val t2 = SnapshotLog.tsOf(dir, 2).get
        val beforeT2 = java.time.Instant.ofEpochMilli(t2 - 1)
          .toString.replace("T", " ").stripSuffix("Z")
        val tbl = s"graft_lake.`$dir`"
        def face(name: String, sql: String) =
          s.sql(s"""SELECT '$name' AS face, count(*) AS n_rows,
                           CAST(sum(qty) AS BIGINT) AS sum_qty
                    FROM $sql""")
        face("by_id", s"$tbl VERSION AS OF 1")
          .unionByName(face("by_tag", s"$tbl VERSION AS OF 'rel-1'"))
          .unionByName(face("between",
            s"$tbl TIMESTAMP AS OF '$beforeT2'"))
          .unionByName(face("head", tbl))
      },
      Some("""WITH base AS (
                SELECT CAST(l_quantity AS INT) AS qty,
                       month(CAST(l_shipdate AS DATE)) AS m
                FROM lineitem),
              h AS (SELECT count(*) AS n, CAST(sum(qty) AS BIGINT) AS sq
                    FROM base WHERE m <= 6),
              f AS (SELECT count(*) AS n, CAST(sum(qty) AS BIGINT) AS sq
                    FROM base)
              SELECT 'by_id' AS face, n AS n_rows, sq AS sum_qty FROM h
              UNION ALL SELECT 'by_tag', n, sq FROM h
              UNION ALL SELECT 'between', n, sq FROM h
              UNION ALL SELECT 'head', n, sq FROM f""")),

    // S57 — MERGE-ON-READ through the SQL door (ext.): a snapshot
    // carrying live EQUALITY-delete vectors now reads correctly from
    // plain SQL — the round-11 scan refused it ("compact first"),
    // which made every streaming-MOR-upserted table SQL-dark until a
    // maintenance job ran. The scan resolves each vector's seq scope
    // at PLAN time (a vector applies only to files committed strictly
    // before it — the Iceberg sequence-number rule, so re-inserted
    // keys are served) and each file's reader probes the churn-sized
    // key sets as a per-task hash filter: readMor's broadcast
    // anti-join semantics with zero extra Spark operators, and the
    // key columns widen only the parquet projection, never the
    // output, so `count(*)` stays all-pruned. The fixture stacks
    // vector → re-insert → vector and gates the SQL aggregate
    // against the relational oracle (`SnapshotSourceSpec` pins
    // scan == readMor row-for-row).
    Q("s57_sql_mor_read",
      (s, d) => {
        graft.GraftExtensions.ensure(s)
        val dir = s"${graft.Scratch.dirFor("s57_sqlmor", d)}/t"
        graft.Scratch.clear(dir)
        import graft.operators.{DeleteVectors, SnapshotLog}
        val v1 = SnapshotLog.clone(lakeBaseDir(s, d), dir)
        val base = SnapshotLog.read(s, dir, v1)
        // vector 1: delete every %19 key across the table
        DeleteVectors.appendDeletes(s, dir,
          base.filter(col("l_orderkey") % 19 === 0)
            .select(col("l_orderkey"), col("l_linenumber"), col("m")))
        // re-insert a slice of the DELETED keys in a later commit —
        // the older vector must not suppress them (seq scoping)
        base.filter(col("l_orderkey") % 19 === 0 && col("m") <= 3)
          .withColumn("qty", (col("l_orderkey") % 37).cast("int"))
          .write.format("graft-snapshot").option("path", dir)
          .mode("append").save()
        // vector 2 on top: applies to base files AND the re-inserts
        DeleteVectors.appendDeletes(s, dir,
          base.filter(col("l_orderkey") % 23 === 0)
            .select(col("l_orderkey"), col("l_linenumber"), col("m")))
        s.sql(s"""SELECT m, count(*) AS n_rows,
                         CAST(sum(qty) AS BIGINT) AS sum_qty
                  FROM graft_lake.`$dir` GROUP BY m""")
      },
      Some("""WITH base AS (
                SELECT l_orderkey AS ok, l_linenumber AS ln,
                       CAST(l_quantity AS INT) AS qty,
                       month(CAST(l_shipdate AS DATE)) AS m
                FROM lineitem),
              afterv1 AS (SELECT * FROM base WHERE ok % 19 <> 0),
              reins AS (
                SELECT ok, ln, CAST(ok % 37 AS INT) AS qty, m
                FROM base WHERE ok % 19 = 0 AND m <= 3),
              allrows AS (
                SELECT * FROM afterv1 UNION ALL SELECT * FROM reins),
              final_t AS (SELECT * FROM allrows WHERE ok % 23 <> 0)
              SELECT CAST(m AS INT) AS m, count(*) AS n_rows,
                     CAST(sum(qty) AS BIGINT) AS sum_qty
              FROM final_t GROUP BY 1""")),

    // S58 — SQL STORED PROCEDURES (ext.): the kernel's maintenance
    // surface through Spark 4's DSv2 ProcedureCatalog — `CALL
    // graft_lake.system.<proc>(...)` as literal SQL text, the Iceberg
    // system-procedure shape. The fixture runs a whole maintenance
    // lifecycle from SQL alone: two fragmenting appends → CALL
    // optimize (bin-pack, content-preserving) → CALL create_tag →
    // SQL DELETE (one position vector, zero rewrites) → CALL compact
    // (the vector folds away) — then reads BOTH faces back through
    // the SQL door: the head (deletes applied, vectors folded) and
    // the tag (pre-delete state, served by time travel). Every CALL
    // delegates to the operator that owns the semantics (OCC publish,
    // own-root vacuum, orphan age guard); `ProcedureSpec` pins each
    // procedure's effect individually.
    Q("s58_sql_procedures",
      (s, d) => {
        graft.GraftExtensions.ensure(s)
        val dir = s"${graft.Scratch.dirFor("s58_sqlproc", d)}/t"
        graft.Scratch.clear(dir)
        import graft.operators.{SnapshotLog, SnapshotMerge}
        val v1 = SnapshotLog.clone(lakeBaseDir(s, d), dir)
        val base = SnapshotLog.read(s, dir, v1)
        // two fragmenting appends (every partition gains small files)
        SnapshotMerge.appendPartitioned(s,
          base.filter(col("l_orderkey") % 31 === 0)
            .withColumn("qty", (col("l_orderkey") % 11).cast("int")),
          dir, "m")
        SnapshotMerge.appendPartitioned(s,
          base.filter(col("l_orderkey") % 37 === 0)
            .withColumn("qty", (col("l_orderkey") % 13).cast("int")),
          dir, "m")
        val tbl = s"graft_lake.`$dir`"
        s.sql(s"CALL graft_lake.system.optimize('$dir', 'm', 134217728)")
        s.sql(s"CALL graft_lake.system.create_tag('$dir', 'pre-delete')")
        s.sql(s"DELETE FROM $tbl WHERE m IN (2, 3) AND l_orderkey % 19 = 0")
        s.sql(s"CALL graft_lake.system.compact('$dir', 'm')")
        s.sql(s"""SELECT 'head' AS face, m, count(*) AS n_rows,
                         CAST(sum(qty) AS BIGINT) AS sum_qty
                  FROM $tbl GROUP BY m
                  UNION ALL
                  SELECT 'tagged', m, count(*),
                         CAST(sum(qty) AS BIGINT)
                  FROM $tbl VERSION AS OF 'pre-delete' GROUP BY m""")
      },
      Some("""WITH base AS (
                SELECT l_orderkey AS ok, l_linenumber AS ln,
                       CAST(l_quantity AS INT) AS qty,
                       month(CAST(l_shipdate AS DATE)) AS m
                FROM lineitem),
              a AS (SELECT ok, ln, CAST(ok % 11 AS INT) AS qty, m
                    FROM base WHERE ok % 31 = 0),
              b AS (SELECT ok, ln, CAST(ok % 13 AS INT) AS qty, m
                    FROM base WHERE ok % 37 = 0),
              tagged AS (SELECT * FROM base UNION ALL
                         SELECT * FROM a UNION ALL SELECT * FROM b),
              head AS (SELECT * FROM tagged
                       WHERE NOT (m IN (2, 3) AND ok % 19 = 0))
              SELECT 'head' AS face, CAST(m AS INT) AS m,
                     count(*) AS n_rows,
                     CAST(sum(qty) AS BIGINT) AS sum_qty
              FROM head GROUP BY 2
              UNION ALL
              SELECT 'tagged', CAST(m AS INT), count(*),
                     CAST(sum(qty) AS BIGINT)
              FROM tagged GROUP BY 2""")),

    // S59 — RUNTIME PARTITION PRUNING on lake tables (ext.): the
    // snapshot scan implements SupportsRuntimeV2Filtering, so a join
    // whose dimension side resolves at RUNTIME hands the scan its
    // join-key value set (Spark's dynamic-partition-pruning broadcast)
    // and manifest entries whose partition label or stats exclude
    // every value are dropped BEFORE input partitions are planned —
    // the dim-filtered fact scan of a 100 TB lake table reads only
    // the partitions the dim selects, deciding from metadata alone.
    // Labels veto exactly, INT64/string stats veto by range overlap,
    // everything else keeps conservatively (pruning is an
    // optimization, never a bet — Spark re-applies the join).
    // `RuntimePruneSpec` pins exact label pruning, stats soundness,
    // and the e2e partition-count drop under real DPP.
    Q("s59_lake_dpp",
      (s, d) => {
        graft.GraftExtensions.ensure(s)
        val dimPath = s"${graft.Scratch.dirFor("s59_dpp", d)}/dim"
        graft.Scratch.clear(dimPath)
        val dir = lakeBaseDir(s, d)
        // the dim MUST be a scanned source: a driver-local frame
        // constant-folds its filter and DPP never fires
        Tables.lineitem(s, d)
          .select(month(to_date(col("l_shipdate"))).as("m")).distinct()
          .withColumn("flag",
            when(col("m").isin(3, 8), 1).otherwise(0))
          .write.mode("overwrite").parquet(dimPath)
        val fact = s.read.format("graft-snapshot")
          .option("path", dir).load()
        val dim = s.read.parquet(dimPath).filter(col("flag") === 1)
        fact.join(dim.select("m"), Seq("m"))
          .groupBy(col("m"))
          .agg(count(lit(1)).as("n_rows"),
            sum(col("qty")).cast("long").as("sum_qty"))
      },
      Some("""WITH base AS (
                SELECT CAST(l_quantity AS INT) AS qty,
                       month(CAST(l_shipdate AS DATE)) AS m
                FROM lineitem)
              SELECT CAST(m AS INT) AS m, count(*) AS n_rows,
                     CAST(sum(qty) AS BIGINT) AS sum_qty
              FROM base WHERE m IN (3, 8) GROUP BY 1""")),

    // S61 — AGGREGATE PUSHDOWN TO THE MANIFEST (ext.):
    // `SupportsPushDownAggregates` on the snapshot scan — SQL
    // `COUNT(*)` / `MIN` / `MAX` (grouped by the partition column,
    // under an exactly-label-decided WHERE) are answered from manifest
    // row counts and stats through the STANDARD plan, the most common
    // query a 100 TB user runs first. Proven the s33/s55 way: every
    // data file is DELETED before the SQL runs. Position-deleted
    // tables count EXACTLY (distinct live addresses subtracted from
    // churn-sized delete metadata); MIN/MAX under deletes and
    // equality vectors REFUSE into a real scan (never a wrong answer
    // — `MetaAggPushSpec` pins the refusals hash-equal to the scan).
    Q("s60_agg_pushdown",
      (s, d) => {
        graft.GraftExtensions.ensure(s)
        val dir = s"${graft.Scratch.dirFor("s60_aggpush", d)}/t"
        graft.Scratch.clear(dir)
        import graft.operators.{SnapshotLog, SnapshotMerge}
        val base = Tables.lineitem(s, d).select(
          col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").cast("decimal(18,2)").cast("int").as("qty"),
          // ISO STRING date: string bounds are what the manifest
          // carries (timestamps record no stats → MIN/MAX would refuse)
          date_format(col("l_shipdate"), "yyyy-MM-dd").as("sd"),
          month(to_date(col("l_shipdate"))).as("m"))
        SnapshotMerge.writeInitial(s, base, dir, "m",
          statsCols = Seq("l_orderkey", "sd"))
        // schema into the manifest (S40): resolution stays metadata
        SnapshotLog.commitSchemaChange(dir,
          SnapshotLog.read(s, dir, 1).schema)
        val tbl = s"graft_lake.`$dir`"
        // SQL DELETE → position-delete METADATA; COUNT stays exact
        s.sql(s"DELETE FROM $tbl WHERE l_orderkey % 11 = 0")
        // the proof: every data file is gone before the aggregates run
        SnapshotLog.entries(dir, SnapshotLog.latest(dir))
          .filter(_.kind == "D").foreach(e =>
            java.nio.file.Files.deleteIfExists(
              java.nio.file.Paths.get(e.path)))
        // the SQL text is PURE aggregation (a literal inside the
        // aggregate's SELECT blocks Spark's pushdown match); the face
        // labels ride in a Project ABOVE the aggregate
        // v2 (pre-DML) carries no deletes: MIN/MAX serve from stats
        val minmax = s.sql(
          s"""SELECT min(l_orderkey) AS lo, max(l_orderkey) AS hi,
                     min(sd) AS sd_lo, max(sd) AS sd_hi
              FROM $tbl VERSION AS OF 2""")
          .select(lit("minmax_v2").as("face"), lit(-1).as("m"),
            lit(null).cast("long").as("n_rows"),
            col("lo"), col("hi"), col("sd_lo"), col("sd_hi"))
        // latest: grouped COUNT with the position deletes subtracted
        val grouped = s.sql(
          s"SELECT m, count(*) AS n_rows FROM $tbl GROUP BY m")
          .select(lit("grouped").as("face"), col("m"), col("n_rows"),
            lit(null).cast("long").as("lo"),
            lit(null).cast("long").as("hi"),
            lit(null).cast("string").as("sd_lo"),
            lit(null).cast("string").as("sd_hi"))
        // exact partition WHERE: filter fully pushed, agg still metadata
        val whereM3 = s.sql(
          s"SELECT count(*) AS n_rows FROM $tbl WHERE m = 3")
          .select(lit("where_m3").as("face"), lit(3).as("m"),
            col("n_rows"),
            lit(null).cast("long").as("lo"),
            lit(null).cast("long").as("hi"),
            lit(null).cast("string").as("sd_lo"),
            lit(null).cast("string").as("sd_hi"))
        // COUNT(col) and SUM(col) from the manifest's null counts and
        // exact per-file sums (v2: no deletes) — the files are still
        // gone, so only the metadata can answer
        val countSum = s.sql(
          s"""SELECT count(l_orderkey) AS n_rows,
                     sum(l_orderkey) AS lo FROM $tbl VERSION AS OF 2""")
          .select(lit("countsum_v2").as("face"), lit(-1).as("m"),
            col("n_rows"), col("lo"),
            lit(null).cast("long").as("hi"),
            lit(null).cast("string").as("sd_lo"),
            lit(null).cast("string").as("sd_hi"))
        minmax.unionByName(grouped).unionByName(whereM3)
          .unionByName(countSum)
      },
      Some("""WITH base AS (
                SELECT l_orderkey AS ok,
                       CAST(CAST(l_shipdate AS DATE) AS VARCHAR) AS sd,
                       month(CAST(l_shipdate AS DATE)) AS m
                FROM lineitem),
              afterdel AS (SELECT * FROM base WHERE ok % 11 <> 0)
              SELECT 'minmax_v2' AS face, CAST(-1 AS INT) AS m,
                     CAST(NULL AS BIGINT) AS n_rows,
                     min(ok) AS lo, max(ok) AS hi,
                     min(sd) AS sd_lo, max(sd) AS sd_hi
              FROM base
              UNION ALL
              SELECT 'grouped', CAST(m AS INT), count(*),
                     CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
                     CAST(NULL AS STRING), CAST(NULL AS STRING)
              FROM afterdel GROUP BY 2
              UNION ALL
              SELECT 'where_m3', CAST(3 AS INT), count(*),
                     CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
                     CAST(NULL AS STRING), CAST(NULL AS STRING)
              FROM afterdel WHERE m = 3
              UNION ALL
              SELECT 'countsum_v2', CAST(-1 AS INT), count(ok),
                     CAST(sum(ok) AS BIGINT), CAST(NULL AS BIGINT),
                     CAST(NULL AS STRING), CAST(NULL AS STRING)
              FROM base""")),

    // S62 — SQL DDL ON THE KERNEL (ext.): `CREATE TABLE … PARTITIONED
    // BY` commits an empty schema-carrying snapshot; `INSERT INTO`
    // labels every produced file by the spec column task-side (rows,
    // bytes, label — partition pruning and metadata COUNT work from
    // birth); `ALTER TABLE RENAME COLUMN / ADD COLUMN` are the S40
    // pure-metadata evolution — zero bytes rewritten, old files serve
    // the new schema through the rename/null-fill reader, and time
    // travel reads the pre-evolution version under its OWN schema
    // (`SqlDdlSpec` pins mtime-equality and the loud refusals: DROP
    // COLUMN, narrowing casts, renaming the spec column).
    Q("s61_sql_ddl",
      (s, d) => {
        graft.GraftExtensions.ensure(s)
        val dir = s"${graft.Scratch.dirFor("s61_ddl", d)}/t"
        graft.Scratch.clear(dir)
        import graft.operators.SnapshotLog
        val tbl = s"graft_lake.`$dir`"
        s.sql(s"CREATE TABLE $tbl (ok BIGINT, ln BIGINT, qty INT, " +
          "m INT) PARTITIONED BY (m)")
        Tables.lineitem(s, d).select(
          col("l_orderkey").as("ok"), col("l_linenumber").as("ln"),
          col("l_quantity").cast("decimal(18,2)").cast("int").as("qty"),
          month(to_date(col("l_shipdate"))).cast("int").as("m"))
          .createOrReplaceTempView("s61_src")
        s.sql(s"INSERT INTO $tbl SELECT ok, ln, qty, m FROM s61_src")
        val vIns = SnapshotLog.latest(dir)
        s.sql(s"ALTER TABLE $tbl RENAME COLUMN qty TO quantity")
        s.sql(s"ALTER TABLE $tbl ADD COLUMN note STRING")
        s.sql(s"INSERT INTO $tbl VALUES (9999999, 1, 5, 3, 'tagged')")
        def shape(face: String, df: org.apache.spark.sql.DataFrame) =
          df.select(lit(face).as("face"), col("n_rows"), col("sum_qty"),
            col("n_notes"))
        val evolved = shape("evolved", s.sql(
          s"""SELECT count(*) AS n_rows,
                     CAST(sum(quantity) AS BIGINT) AS sum_qty,
                     count(note) AS n_notes FROM $tbl"""))
        // pre-evolution version: its OWN schema (qty, no note)
        val old = shape("old_schema", s.sql(
          s"""SELECT count(*) AS n_rows,
                     CAST(sum(qty) AS BIGINT) AS sum_qty,
                     CAST(0 AS BIGINT) AS n_notes
              FROM $tbl VERSION AS OF $vIns"""))
        // partition pruning on the DDL-created table's labels
        val pruned = shape("pruned_m3", s.sql(
          s"""SELECT count(*) AS n_rows,
                     CAST(sum(quantity) AS BIGINT) AS sum_qty,
                     count(note) AS n_notes FROM $tbl WHERE m = 3"""))
        evolved.unionByName(old).unionByName(pruned)
      },
      Some("""WITH src AS (
                SELECT l_orderkey AS ok, CAST(l_quantity AS INT) AS qty,
                       month(CAST(l_shipdate AS DATE)) AS m
                FROM lineitem)
              SELECT 'evolved' AS face, count(*) + 1 AS n_rows,
                     CAST(sum(qty) + 5 AS BIGINT) AS sum_qty,
                     CAST(1 AS BIGINT) AS n_notes
              FROM src
              UNION ALL
              SELECT 'old_schema', count(*),
                     CAST(sum(qty) AS BIGINT), CAST(0 AS BIGINT)
              FROM src
              UNION ALL
              SELECT 'pruned_m3', count(*) + 1,
                     CAST(sum(qty) + 5 AS BIGINT), CAST(1 AS BIGINT)
              FROM src WHERE m = 3""")),

    // S65 — METADATA-ONLY SQL DELETE (ext.): a value-set WHERE on one
    // column commits an EQUALITY-DELETE VECTOR through SupportsDeleteV2
    // — zero data files opened, proven by HIDING every data file while
    // the DELETE runs (a row-level plan would crash). The MOR read
    // then serves the delete exactly; ranges and multi-column
    // predicates fall back to the position-delta path
    // (`DeleteWhereSpec` pins the fallbacks).
    Q("s62_meta_delete",
      (s, d) => {
        graft.GraftExtensions.ensure(s)
        val dir = s"${graft.Scratch.dirFor("s62_metadel", d)}/t"
        graft.Scratch.clear(dir)
        import graft.operators.{SnapshotLog, SnapshotMerge}
        val base = Tables.lineitem(s, d).select(
          col("l_orderkey").as("ok"),
          col("l_quantity").cast("decimal(18,2)").cast("long").as("qty"),
          month(to_date(col("l_shipdate"))).as("m"))
        SnapshotMerge.writeInitial(s, base, dir, "m")
        SnapshotLog.commitSchemaChange(dir,
          SnapshotLog.read(s, dir, 1).schema)
        val tbl = s"graft_lake.`$dir`"
        // the doomed keys: the 20 smallest orderkeys (deterministic,
        // oracle-expressible) — collected BEFORE the files hide
        val doomed = base.select(col("ok")).distinct()
          .orderBy(col("ok")).limit(20).collect().map(_.getLong(0))
        val files = SnapshotLog.files(dir, SnapshotLog.latest(dir))
        // HIDE every data file: only a metadata-only DELETE survives
        files.foreach(f => java.nio.file.Files.move(
          java.nio.file.Paths.get(f),
          java.nio.file.Paths.get(f + ".h")))
        try s.sql(s"DELETE FROM $tbl WHERE ok IN " +
          doomed.mkString("(", ", ", ")"))
        finally files.foreach(f => java.nio.file.Files.move(
          java.nio.file.Paths.get(f + ".h"),
          java.nio.file.Paths.get(f)))
        s.sql(s"""SELECT m, count(*) AS n_rows,
                         CAST(sum(qty) AS BIGINT) AS sum_qty
                  FROM $tbl GROUP BY m""")
      },
      Some("""WITH base AS (
                SELECT l_orderkey AS ok,
                       CAST(CAST(l_quantity AS INT) AS BIGINT) AS qty,
                       month(CAST(l_shipdate AS DATE)) AS m
                FROM lineitem),
              doomed AS (
                SELECT DISTINCT ok FROM base ORDER BY ok LIMIT 20)
              SELECT CAST(m AS INT) AS m, count(*) AS n_rows,
                     CAST(sum(qty) AS BIGINT) AS sum_qty
              FROM base WHERE ok NOT IN (SELECT ok FROM doomed)
              GROUP BY 1""")),

    // S66 — ATOMIC CTAS / RTAS (ext.): `CREATE TABLE … AS SELECT`
    // stages the whole write and publishes ONE labeled,
    // stats-carrying snapshot at commit (a crashed CTAS leaves no
    // committed table — `CtasSpec` injects the failure); `REPLACE
    // TABLE … AS SELECT` swaps content AND schema as one snapshot
    // with every prior version still time-travelable.
    Q("s63_ctas_rtas",
      (s, d) => {
        graft.GraftExtensions.ensure(s)
        val dir = s"${graft.Scratch.dirFor("s63_ctas", d)}/t"
        graft.Scratch.clear(dir)
        val tbl = s"graft_lake.`$dir`"
        Tables.lineitem(s, d).select(
          col("l_orderkey").as("ok"),
          col("l_quantity").cast("decimal(18,2)").cast("long").as("qty"),
          month(to_date(col("l_shipdate"))).as("m"))
          .createOrReplaceTempView("s63_src")
        s.sql(s"CREATE TABLE $tbl PARTITIONED BY (m) AS " +
          "SELECT * FROM s63_src")
        // pinned to v1 explicitly: the union below executes AFTER the
        // REPLACE, and an unpinned read would (correctly) resolve the
        // replaced table
        val created = s.sql(
          s"""SELECT m, count(*) AS n_rows,
                     CAST(sum(qty) AS BIGINT) AS sum_qty
              FROM $tbl VERSION AS OF 1 GROUP BY m""")
          .select(lit("ctas").as("face"), col("m"), col("n_rows"),
            col("sum_qty"))
        s.sql(s"REPLACE TABLE $tbl AS " +
          "SELECT ok % 7 AS g, qty FROM s63_src WHERE m <= 6")
        val replaced = s.sql(
          s"""SELECT g, count(*) AS n_rows,
                     CAST(sum(qty) AS BIGINT) AS sum_qty
              FROM $tbl GROUP BY g""")
          .select(lit("rtas").as("face"), col("g").as("m"),
            col("n_rows"), col("sum_qty"))
        // the pre-replace version stays readable under its own schema
        val old = s.sql(
          s"""SELECT count(*) AS n_rows,
                     CAST(sum(qty) AS BIGINT) AS sum_qty
              FROM $tbl VERSION AS OF 1""")
          .select(lit("old_v1").as("face"), lit(-1L).as("m"),
            col("n_rows"), col("sum_qty"))
        created.unionByName(replaced).unionByName(old)
      },
      Some("""WITH src AS (
                SELECT l_orderkey AS ok,
                       CAST(CAST(l_quantity AS INT) AS BIGINT) AS qty,
                       month(CAST(l_shipdate AS DATE)) AS m
                FROM lineitem)
              SELECT 'ctas' AS face, CAST(m AS BIGINT) AS m,
                     count(*) AS n_rows, CAST(sum(qty) AS BIGINT) AS sum_qty
              FROM src GROUP BY 2
              UNION ALL
              SELECT 'rtas', ok % 7, count(*), CAST(sum(qty) AS BIGINT)
              FROM src WHERE m <= 6 GROUP BY 2
              UNION ALL
              SELECT 'old_v1', -1, count(*), CAST(sum(qty) AS BIGINT)
              FROM src""")),

    // S67 — STORAGE-PARTITIONED JOIN (ext.): two lake tables
    // partitioned on the same column join with ZERO shuffle exchanges
    // on either side — the scans report KeyGroupedPartitioning from
    // their manifests' own labels, every task knows its key, and the
    // downstream GROUP BY on the partition column rides the same
    // layout (PLANS.md pins the 0-exchange plan; `SpjSpec` pins it
    // against plain-frame oracles). At 100 TB this is the difference
    // between shuffling two fact tables and shuffling nothing.
    Q("s64_spj_join",
      (s0, d) => {
        // DEDICATED SESSION: SPJ task-grouping is an opt-in planner
        // conf consulted at PHYSICAL planning (i.e. when the returned
        // frame executes, after this body returned — a try/finally
        // restore would un-set it before it's read). A child session
        // shares the SparkContext but owns its conf, so this query
        // plans under bucketing=on while the registry session — and
        // every other query's plan — is untouched, whatever the
        // execution order.
        val s = s0.newSession()
        graft.GraftExtensions.ensure(s)
        s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
        s.conf.set(
          "spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
        // v3 in the tag: the fixture persists across runs like
        // `s65_scan_v3` — this row exists to time the SPJ READ (the
        // exchange-free join), not the two-table build it used to pay
        // every invocation (4.8 s of write for a sub-second join —
        // VERDICT r15 "what's wrong #2"). Bump the tag if the build
        // ever changes. A warm hit is attributed via memo_warm.
        val root = graft.Scratch.dirFor("s64_spj_v3", d)
        import graft.operators.{SnapshotLog, SnapshotMerge}
        val dirA = s"$root/a"
        val dirB = s"$root/b"
        if (SnapshotLog.latest(dirA) == 0 || SnapshotLog.latest(dirB) == 0) {
          graft.Scratch.clear(root)
          val li = Tables.lineitem(s, d).select(
            col("l_orderkey").as("ok"),
            col("l_quantity").cast("decimal(18,2)").cast("long").as("qty"),
            month(to_date(col("l_shipdate"))).as("m"))
          SnapshotMerge.writeInitial(s, li, dirA, "m")
          SnapshotMerge.writeInitial(s,
            li.groupBy(col("m")).agg(
              countDistinct(col("ok")).as("n_orders")), dirB, "m")
        } else graft.Caches.markMemoHit()
        val fa = s.read.format("graft-snapshot").option("path", dirA)
          .load()
        val fb = s.read.format("graft-snapshot").option("path", dirB)
          .load()
        // merge hint: the exchange-free sort-merge join (a broadcast
        // would also avoid the shuffle but wouldn't witness SPJ)
        fa.hint("merge").join(fb, "m")
          .groupBy(col("m"))
          .agg(count(lit(1)).as("n_rows"),
            sum(col("qty")).cast("long").as("sum_qty"),
            max(col("n_orders")).as("n_orders"))
      },
      Some("""WITH li AS (
                SELECT l_orderkey AS ok,
                       CAST(CAST(l_quantity AS INT) AS BIGINT) AS qty,
                       month(CAST(l_shipdate AS DATE)) AS m
                FROM lineitem),
              dim AS (
                SELECT m, count(DISTINCT ok) AS n_orders
                FROM li GROUP BY m)
              SELECT CAST(li.m AS INT) AS m, count(*) AS n_rows,
                     CAST(sum(li.qty) AS BIGINT) AS sum_qty,
                     CAST(max(dim.n_orders) AS BIGINT) AS n_orders
              FROM li JOIN dim ON li.m = dim.m
              GROUP BY 1""")),

    // S65 face, scan-bound: a FULL columnar scan of a snapshot table
    // through SQL — the aggregate mixes columns (qty * (ok % 7)), so
    // no metadata pushdown can serve it and the measured cost IS the
    // vectorized read path (ColumnarBatch decode straight into
    // whole-stage codegen). The ×10 probe row records the columnar
    // scan's throughput slope; the s33/s55 deletion trick is
    // deliberately NOT used here — this row exists to time real reads.
    Q("s65_lake_scan",
      (s0, d) => {
        // this row times the COLUMNAR DECODE with the split/coalesce
        // task layout — pin SPJ task-grouping off (in a DEDICATED
        // child session, so the pin itself leaks nowhere) so no other
        // query's planner confs can reshape it to one-task-per-label
        val s = s0.newSession()
        graft.GraftExtensions.ensure(s)
        s.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
        // v3 in the tag: the fixture persists across runs (this row
        // times reads, not the build) — bump it when the build changes
        val dir = s"${graft.Scratch.dirFor("s65_scan_v3", d)}/t"
        if (graft.operators.SnapshotLog.latest(dir) == 0) {
          graft.Scratch.clear(dir)
          val base = Tables.lineitem(s, d).select(
            col("l_orderkey").as("ok"),
            col("l_partkey").as("pk"),
            col("l_quantity").cast("decimal(18,2)").cast("long")
              .as("qty"),
            (col("l_extendedprice").cast("decimal(18,2)") * 100)
              .cast("long").as("cents"),
            date_format(col("l_shipdate"), "yyyy-MM-dd").as("sd"),
            month(to_date(col("l_shipdate"))).as("m"))
          graft.operators.SnapshotMerge.writeInitial(s, base, dir, "m")
        }
        val tbl = s"graft_lake.`$dir`"
        s.sql(
          s"""SELECT m, count(*) AS n_rows,
                     CAST(sum(qty * (ok % 7)) AS BIGINT) AS mix,
                     CAST(sum(cents) AS BIGINT) AS cents,
                     min(sd) AS sd_lo, max(sd) AS sd_hi
              FROM $tbl GROUP BY m""")
      },
      Some("""WITH base AS (
                SELECT l_orderkey AS ok,
                       CAST(CAST(l_quantity AS INT) AS BIGINT) AS qty,
                       CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                            AS BIGINT) AS cents,
                       CAST(CAST(l_shipdate AS DATE) AS VARCHAR) AS sd,
                       month(CAST(l_shipdate AS DATE)) AS m
                FROM lineitem)
              SELECT CAST(m AS INT) AS m, count(*) AS n_rows,
                     CAST(sum(qty * (ok % 7)) AS BIGINT) AS mix,
                     CAST(sum(cents) AS BIGINT) AS cents,
                     min(sd) AS sd_lo, max(sd) AS sd_hi
              FROM base GROUP BY 1""")),

    // S71 — PARQUET-LEVEL PREDICATE PUSHDOWN (ext.): a SELECTIVE
    // WHERE over a snapshot table pushes into the parquet read itself
    // — the scan's predicates re-translate per file into FilterApi
    // predicates, and row groups whose statistics exclude every match
    // are never decoded (the fixture records NO manifest stats, so
    // every file survives manifest pruning and all skipping below is
    // parquet's own). `ParquetFilterSpec` pins the skip with the
    // rawRows counter (column-index filtering stays off); this row
    // proves the end-to-end answer exact. Shares s65's fixture —
    // the same table serves the full-scan and selective-scan faces.
    Q("s66_selective_scan",
      (s0, d) => {
        // same layout pin as s65 (dedicated session, SPJ grouping off):
        // this row times a selective read over the split/coalesce
        // layout, not whatever a prior query's planner confs left
        val s = s0.newSession()
        graft.GraftExtensions.ensure(s)
        s.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
        val dir = s"${graft.Scratch.dirFor("s65_scan_v3", d)}/t"
        if (graft.operators.SnapshotLog.latest(dir) == 0) {
          graft.Scratch.clear(dir)
          val base = Tables.lineitem(s, d).select(
            col("l_orderkey").as("ok"),
            col("l_partkey").as("pk"),
            col("l_quantity").cast("decimal(18,2)").cast("long")
              .as("qty"),
            (col("l_extendedprice").cast("decimal(18,2)") * 100)
              .cast("long").as("cents"),
            date_format(col("l_shipdate"), "yyyy-MM-dd").as("sd"),
            month(to_date(col("l_shipdate"))).as("m"))
          graft.operators.SnapshotMerge.writeInitial(s, base, dir, "m")
        }
        val tbl = s"graft_lake.`$dir`"
        // a fixed narrow orderkey band: selectivity GROWS with sf, so
        // the ×10/×100 probes time exactly what pushdown buys — the
        // skipped row groups' decode
        s.sql(
          s"""SELECT m, count(*) AS n_rows,
                     CAST(sum(qty) AS BIGINT) AS sum_qty,
                     CAST(sum(cents) AS BIGINT) AS cents,
                     min(sd) AS sd_lo
              FROM $tbl WHERE ok BETWEEN 100 AND 2000 GROUP BY m""")
      },
      Some("""WITH base AS (
                SELECT l_orderkey AS ok,
                       CAST(CAST(l_quantity AS INT) AS BIGINT) AS qty,
                       CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                            AS BIGINT) AS cents,
                       CAST(CAST(l_shipdate AS DATE) AS VARCHAR) AS sd,
                       month(CAST(l_shipdate AS DATE)) AS m
                FROM lineitem)
              SELECT CAST(m AS INT) AS m, count(*) AS n_rows,
                     CAST(sum(qty) AS BIGINT) AS sum_qty,
                     CAST(sum(cents) AS BIGINT) AS cents,
                     min(sd) AS sd_lo
              FROM base WHERE ok BETWEEN 100 AND 2000 GROUP BY 1""")),

    // S72 — MULTI-COLUMN STORAGE-PARTITIONED JOIN (ext.): two lake
    // tables written under the same TWO-column spec (ordered
    // `m=…/g=…` labels in the manifest) report multi-key
    // KeyGroupedPartitioning and join on the full tuple with ZERO
    // exchanges on either side; the grouped aggregate on the same
    // tuple rides the layout too (PLANS.md pins 0 shuffles, 0
    // broadcasts — the `merge` hint exists so a broadcast can't fake
    // the win). Partial-key joins and mixed eras refuse into ordinary
    // exchanges (`SpjSpec`).
    Q("s67_spj_multi",
      (s0, d) => {
        val s = s0.newSession()
        graft.GraftExtensions.ensure(s)
        s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
        s.conf.set(
          "spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
        // persistent versioned fixture, same rationale as s64_spj_v3:
        // the two 48-partition multi-label tables build ONCE per sf
        // dir; the bench row then times the multi-key SPJ read itself
        // (the fixture rebuild was 4.3 s of the 4.8 s row).
        val root = graft.Scratch.dirFor("s67_spjm_v3", d)
        import graft.operators.{SnapshotLog, SnapshotMerge}
        val dirA = s"$root/a"
        val dirB = s"$root/b"
        if (SnapshotLog.latest(dirA) == 0 || SnapshotLog.latest(dirB) == 0) {
          graft.Scratch.clear(root)
          val li = Tables.lineitem(s, d).select(
            col("l_orderkey").as("ok"),
            col("l_quantity").cast("decimal(18,2)").cast("long").as("qty"),
            month(to_date(col("l_shipdate"))).as("m"),
            (col("l_orderkey") % 4).as("g"))
          SnapshotMerge.writeInitialMulti(s, li, dirA, Seq("m", "g"))
          SnapshotMerge.writeInitialMulti(s,
            li.groupBy(col("m"), col("g"))
              .agg(sum(col("qty")).cast("long").as("tot")),
            dirB, Seq("m", "g"))
        } else graft.Caches.markMemoHit()
        val fa = s.read.format("graft-snapshot").option("path", dirA)
          .load()
        val fb = s.read.format("graft-snapshot").option("path", dirB)
          .load()
        fa.hint("merge").join(fb, Seq("m", "g"))
          .groupBy(col("m"), col("g"))
          .agg(count(lit(1)).as("n_rows"),
            sum(col("qty")).cast("long").as("sum_qty"),
            max(col("tot")).as("tot"))
      },
      Some("""WITH li AS (
                SELECT l_orderkey AS ok,
                       CAST(CAST(l_quantity AS INT) AS BIGINT) AS qty,
                       month(CAST(l_shipdate AS DATE)) AS m,
                       l_orderkey % 4 AS g
                FROM lineitem),
              dim AS (
                SELECT m, g, CAST(sum(qty) AS BIGINT) AS tot
                FROM li GROUP BY 1, 2)
              SELECT CAST(li.m AS INT) AS m, CAST(li.g AS BIGINT) AS g,
                     count(*) AS n_rows,
                     CAST(sum(li.qty) AS BIGINT) AS sum_qty,
                     CAST(max(dim.tot) AS BIGINT) AS tot
              FROM li JOIN dim ON li.m = dim.m AND li.g = dim.g
              GROUP BY 1, 2"""))
  )

  /** The manifest-driven snapshot diff shared by `s37_change_feed`,
    * `s38_cdf_mor` and `ChangeFeedSpec`: read ONLY the data entries
    * whose EFFECTIVE state differs between the snapshots
    * ([[graft.operators.SnapshotLog.changedEntries]] — path plus the
    * seq-scoped delete-vector set covering it, so a merge-on-read
    * delete commit marks the files its vector can touch as changed
    * even though every path is shared), apply each side's vectors to
    * its own read (the `morFrame` semantics — rows already deleted on
    * a side can never surface as that side's state), reduce both sides
    * to key-level signatures (count + qty sum), full-outer join,
    * classify D/U/I. Returns one row per changed key. Under pure
    * copy-on-write this degenerates to the old exclusive-path diff;
    * under a pure `appendDeletes` transition it recovers exactly the
    * vector's visible keys as D ops — the round-10 gap where the feed
    * came back empty while rows were logically deleted.
    */
  /** The shared m-partitioned lake BASE TABLE — (l_orderkey,
    * l_linenumber, qty, m) over lineitem — built ONCE per (sf dir) and
    * SHALLOW-CLONED (S50) by every lake fixture that starts from this
    * initial state: each query's v1 is a manifest referencing the
    * shared files, zero bytes copied, and the clones diverge freely
    * (COW rewrites and vectors land under each clone's own root;
    * `expire`'s own-root rule keeps the shared files safe). This is
    * the dev/test-clone workflow a 100 TB table runs daily, exercised
    * by the harness itself — Bench attributes warm reuse explicitly
    * (`memo_warm`), so no query silently banks the build.
    * `s35_snapshot_expire` deliberately does NOT clone: its vacuum
    * must physically delete its own dead files.
    */
  private[queries] def lakeBaseDir(s: org.apache.spark.sql.SparkSession,
      d: String): String = synchronized {
    import graft.operators.{SnapshotLog, SnapshotMerge}
    val dir = s"${graft.Scratch.dirFor("lake_base_v2", d)}/t"
    if (SnapshotLog.latest(dir) >= 1) { graft.Caches.markMemoHit(); dir }
    else {
      graft.Scratch.clear(dir)
      val base = Tables.lineitem(s, d).select(
        col("l_orderkey"), col("l_linenumber"),
        col("l_quantity").cast("decimal(18,2)").cast("int").as("qty"),
        month(to_date(col("l_shipdate"))).as("m"))
      SnapshotMerge.writeInitial(s, base, dir, "m")
      dir
    }
  }

  private[queries] def changeFeed(
      s: org.apache.spark.sql.SparkSession, tableDir: String,
      vOld: Int, vNew: Int): org.apache.spark.sql.DataFrame = {
    import graft.operators.SnapshotLog
    val (oldCh, newCh) = SnapshotLog.changedEntries(tableDir, vOld, vNew)
    val keys = Seq("l_orderkey", "l_linenumber", "m")
    def sig(v: Int, changed: Seq[SnapshotLog.FileEntry],
        n: String, sq: String) = {
      val dels = SnapshotLog.entries(tableDir, v).filter(_.kind != "D")
      (if (changed.isEmpty)
        SnapshotLog.read(s, tableDir, vNew).filter(lit(false))
      else SnapshotLog.morFrame(s, tableDir, v, changed ++ dels))
        .groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as(n), sum(col("qty")).cast("long").as(sq))
    }
    val oldg = sig(vOld, oldCh, "n_old", "sq_old")
    val newg = sig(vNew, newCh, "n_new", "sq_new")
    oldg.join(newg, keys, "full_outer")
      .withColumn("op",
        when(col("n_new").isNull, "D")
          .when(col("n_old").isNull, "I")
          .when(col("n_old") =!= col("n_new") ||
            col("sq_old") =!= col("sq_new"), "U"))
      .filter(col("op").isNotNull)
      .select(col("l_orderkey"), col("l_linenumber"), col("m"), col("op"))
  }

  /** Zone-map planning step shared by `s18_zonemap_prune` and
    * `ZoneMapSpec`: consult the REAL parquet FOOTER statistics (row-group
    * min/max for `keyCol`, an INT64 column) of every file under `path`
    * and return only the paths whose zone overlaps [lo, hi] — a pure
    * METADATA read (footers, never data pages), exactly what a table
    * format's planner does from its manifest. A file with missing or
    * unusable stats is conservatively KEPT (skipping may only ever be an
    * optimization, never a correctness bet).
    */
  private[queries] def zoneMapSurvivors(
      s: org.apache.spark.sql.SparkSession, path: String,
      lo: Long, hi: Long, keyCol: String = "l_orderkey"): Seq[String] =
    zoneMapSurvivorsBox(s, path, Seq((keyCol, lo, hi)))

  /** Multi-column generalization (the s21 composition): a file survives a
    * BOX predicate iff some row group's footer stats overlap the range on
    * EVERY constrained column — a row group that misses any one range can
    * hold no matching row (conjunctive semantics, same as every table
    * format's planner). Unusable stats on a column count as overlap
    * (conservative keep).
    */
  private[graft] def zoneMapSurvivorsBox(
      s: org.apache.spark.sql.SparkSession, path: String,
      boxes: Seq[(String, Long, Long)]): Seq[String] = {
    val conf = s.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(conf)
    val files = fs.listStatus(root)
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
    val survivors = files.filter { f =>
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile
          .fromStatus(f, conf))
      try {
        import scala.jdk.CollectionConverters._
        reader.getFooter.getBlocks.asScala.exists { block =>
          boxes.forall { case (keyCol, lo, hi) =>
            block.getColumns.asScala
              .find(_.getPath.toDotString == keyCol)
              .map(_.getStatistics) match {
              case Some(st) if st != null && st.hasNonNullValue =>
                (st.genericGetMin, st.genericGetMax) match {
                  case (mn: java.lang.Long, mx: java.lang.Long) =>
                    mx >= lo && mn <= hi
                  case _ => true // non-INT64 stats: keep conservatively
                }
              case _ => true // stats absent: keep conservatively
            }
          }
        }
      } finally reader.close()
    }.map(_.getPath.toString).toSeq
    // A predicate missing every zone still needs a readable (empty)
    // frame — fall back to the full path so the scan yields 0 rows
    // rather than an analysis error on an empty source list.
    if (survivors.nonEmpty) survivors else Seq(path)
  }

  /** Deterministic "next corpus snapshot" derived from v1 — shared by
    * `s14_snapshot_diff` and [[QText]]'s incremental-curation chain so
    * the two can never disagree about what changed: %7 ids dropped,
    * %11 ids edited in place (upper-cased), %13 ids cloned under brand-
    * new ids.
    */
  private[queries] def snapshotV2(
      v1: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    v1.filter(pmod(col("doc_id"), lit(7)) =!= 0)
      .withColumn("text",
        when(pmod(col("doc_id"), lit(11)) === 0, upper(col("text")))
          .otherwise(col("text")))
      .unionByName(
        v1.filter(pmod(col("doc_id"), lit(13)) === 0)
          .withColumn("doc_id", col("doc_id") + lit(10000000L)))

  /** The same construction as a DuckDB CTE (`v2(doc_id, text, source)`). */
  private[queries] val snapshotV2Sql: String =
    """v2 AS (
        SELECT doc_id,
               CASE WHEN doc_id % 11 = 0 THEN upper(text)
                    ELSE text END AS text,
               source
        FROM documents WHERE doc_id % 7 <> 0
        UNION ALL
        SELECT doc_id + 10000000, text, source
        FROM documents WHERE doc_id % 13 = 0)"""
}
