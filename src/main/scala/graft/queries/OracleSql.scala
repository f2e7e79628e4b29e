package graft.queries

/** DuckDB oracle SQL for the BI, cleaning and fiscal-calendar queries in
  * `SparkEntry.registry`.
  *
  * Dialect traps handled here (FIXTURES.md §4):
  *  - DuckDB `dayofweek` is Sunday=0 (Spark's is Sunday=1) — the last-
  *    Friday/Saturday offsets differ by one between the two dialects;
  *  - `DATE + INTERVAL` yields TIMESTAMP in DuckDB → explicit CAST to DATE;
  *  - integer SUMs are cast to BIGINT (DuckDB sums int to HUGEINT);
  *  - double aggregates rounded identically on both sides;
  *  - top-k carries the same deterministic tiebreaker as the Spark plan.
  */
object OracleSql {

  /** The merged star join (FIXTURES.md §2) + the cleaned/enriched frame:
    * event_date, fiscal calendar, derived metrics, quality flags — the
    * SQL twin of [[Merged.cleaned]].
    */
  val EnrichedCte: String = """WITH merged AS (
  SELECT o.o_orderkey AS doc_number, c.c_custkey AS customer_number,
         c.c_name AS cust_desc, p.p_partkey AS product_code,
         p.p_name AS product_desc, p.p_brand AS brand_desc,
         r.r_regionkey AS region_code, r.r_name AS region_desc,
         l.l_quantity AS quantity, l.l_extendedprice AS total_line_price,
         l.l_extendedprice * (1 - l.l_discount) AS last_cost,
         l.l_shipdate AS trans_date, o.o_orderdate AS deposit_date,
         c.c_acctbal AS total_due,
         CAST(l.l_linenumber AS DOUBLE) AS transtype_code,
         l.l_returnflag AS transtype_desc, o.o_totalprice AS tot_payment
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  JOIN part p ON l.l_partkey = p.p_partkey
), fc0 AS (
  SELECT *, trans_date AS event_date, CAST(trans_date AS DATE) AS _d FROM merged
), fc1 AS (
  SELECT *, last_day(_d) AS _ld FROM fc0
), fc2 AS (
  SELECT *, CASE WHEN _d <= _ld - CAST((dayofweek(_ld) + 2) % 7 AS INTEGER)
                 THEN date_trunc('month', _d)
                 ELSE CAST(date_trunc('month', _d) + INTERVAL 1 MONTH AS DATE)
            END AS _fm
  FROM fc1
), fc3 AS (
  SELECT *, last_day(CAST(_fm - INTERVAL 1 MONTH AS DATE)) AS _pld,
            last_day(_fm) AS _fld
  FROM fc2
), enriched AS (
  SELECT *,
    COALESCE(strftime(_fm, '%Y-%m'), 'None') AS fin_month_label,
    _pld - CAST((dayofweek(_pld) + 1) % 7 AS INTEGER) AS fin_month_start,
    _fld - CAST((dayofweek(_fld) + 2) % 7 AS INTEGER) AS fin_month_end,
    year(_fm) AS fin_year,
    month(_fm) AS fin_month_num,
    CASE WHEN _fm IS NOT NULL THEN 'FY' || CAST(year(_fm) AS VARCHAR)
         || ' Q' || CAST(quarter(_fm) AS VARCHAR) END AS fin_quarter,
    CASE WHEN _fm IS NOT NULL THEN strftime(_fm, '%Y-%m') || '-W'
         || CAST(CAST(floor((_d - (_pld - CAST((dayofweek(_pld) + 1) % 7 AS INTEGER))) / 7.0)
                 AS INT) + 1 AS VARCHAR) END AS fin_week_label,
    CASE WHEN COALESCE(quantity, 0) <> 0
         THEN total_line_price / quantity END AS asp,
    last_cost * quantity AS cogs,
    total_line_price - last_cost * quantity AS gross_margin,
    CASE WHEN abs(total_line_price) > 1e-9
         THEN (total_line_price - last_cost * quantity) / total_line_price
         END AS gm_pct,
    COALESCE(quantity < 0, false) AS flag_negative_qty,
    COALESCE(total_line_price < 0, false) AS flag_negative_price,
    (COALESCE(quantity, 0) <> 0 AND COALESCE(total_line_price, 0) = 0)
      AS flag_zero_price_nonzero_qty
  FROM fc3
)"""

  val q1RevenueByMonth: String = EnrichedCte + """
SELECT fin_month_label,
       ROUND(SUM(total_line_price), 2) AS revenue,
       ROUND(SUM(gross_margin), 2) AS gross_margin,
       ROUND(CASE WHEN abs(SUM(total_line_price)) > 1e-9
                  THEN SUM(gross_margin) / SUM(total_line_price) END, 6) AS gm_pct
FROM enriched GROUP BY 1"""

  /** Q1b's join form produces identical values to q1. */
  val q1bGmJoin: String = q1RevenueByMonth

  val q2TopProducts: String = EnrichedCte + """
SELECT product_desc, ROUND(_rev, 2) AS revenue,
       substr(product_desc, 1, 30) || '...' AS product_short
FROM (SELECT product_desc, SUM(total_line_price) AS _rev
      FROM enriched GROUP BY 1
      ORDER BY ROUND(_rev, 2) DESC, product_desc ASC LIMIT 15)"""

  val q3SalesByRegionBrand: String = EnrichedCte + """
SELECT fin_month_label, region_desc, brand_desc,
       ROUND(SUM(total_line_price), 2) AS revenue,
       ROUND(SUM(quantity), 2) AS units
FROM enriched GROUP BY 1, 2, 3"""

  val q4ArByRegion: String = EnrichedCte + """
SELECT fin_month_label, region_desc,
       ROUND(SUM(total_due), 2) AS ar_total
FROM enriched GROUP BY 1, 2"""

  val q5Summary: String = EnrichedCte + """
SELECT COUNT(*) AS total_rows,
       MIN(event_date) AS date_min,
       MAX(event_date) AS date_max,
       ROUND(SUM(total_line_price), 2) AS total_revenue,
       COUNT(DISTINCT fin_month_label) AS fin_months,
       CAST(SUM(CASE WHEN flag_negative_qty THEN 1 ELSE 0 END) AS BIGINT) AS neg_qty_rows,
       CAST(SUM(CASE WHEN flag_negative_price THEN 1 ELSE 0 END) AS BIGINT) AS neg_price_rows,
       CAST(SUM(CASE WHEN flag_zero_price_nonzero_qty THEN 1 ELSE 0 END) AS BIGINT) AS zero_price_rows
FROM enriched"""

  val p3NullNormalize: String = """
SELECT p_partkey,
       CASE WHEN TRIM(normalized) IN ('nan', 'None', 'null') THEN NULL
            ELSE TRIM(normalized) END AS normalized
FROM (SELECT p_partkey,
             CASE CAST(p_partkey % 5 AS INT)
               WHEN 0 THEN '  ' || p_name || '  '
               WHEN 1 THEN 'None'
               WHEN 2 THEN 'nan'
               WHEN 3 THEN 'null'
               ELSE p_name END AS normalized
      FROM part)"""

  val p4CastCoerce: String = """
SELECT l_orderkey, l_linenumber, raw, TRY_CAST(raw AS DOUBLE) AS parsed
FROM (SELECT l_orderkey, l_linenumber,
             CASE WHEN l_linenumber = 3 THEN 'abc'
                  WHEN l_linenumber = 4 THEN ''
                  WHEN l_linenumber = 5 THEN NULL
                  WHEN l_linenumber = 2 THEN ' ' || CAST(l_quantity AS VARCHAR) || ' '
                  ELSE CAST(l_quantity AS VARCHAR) END AS raw
      FROM lineitem)"""

  val p5DateParse: String = """
SELECT o_orderkey, raw, TRY_CAST(raw AS TIMESTAMP) AS parsed
FROM (SELECT o_orderkey,
             CASE WHEN o_orderkey % 4 = 0 THEN strftime(o_orderdate, '%Y-%m-%d %H:%M:%S')
                  WHEN o_orderkey % 4 = 1 THEN strftime(o_orderdate, '%Y-%m-%d')
                  WHEN o_orderkey % 4 = 2 THEN 'not a date'
                  ELSE NULL END AS raw
      FROM orders)"""

  /** P6: event_date mirrors trans_date wholesale — null stays null even
    * when deposit_date is present (column-level fallback, not coalesce).
    */
  val p6EventDate: String = """
SELECT l_orderkey, l_linenumber, trans_date, deposit_date,
       trans_date AS event_date
FROM (SELECT l_orderkey, l_linenumber,
             CASE WHEN l_linenumber = 1 THEN NULL ELSE l_shipdate END AS trans_date,
             o_orderdate AS deposit_date
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey)"""

  /** Anomaly-injected lineitem shared by p11/p12. */
  private val AnomalyCte: String = """WITH anomalies AS (
  SELECT l_orderkey, l_linenumber,
         CASE WHEN l_linenumber = 4 THEN -l_quantity
              WHEN l_linenumber = 5 THEN NULL
              ELSE l_quantity END AS quantity,
         CASE WHEN l_linenumber = 6 THEN 0.0
              WHEN l_linenumber = 7 THEN -l_extendedprice
              ELSE l_extendedprice END AS total_line_price,
         l_extendedprice * (1 - l_discount) AS last_cost
  FROM lineitem
), flagged AS (
  SELECT *,
    CASE WHEN COALESCE(quantity, 0) <> 0
         THEN total_line_price / quantity END AS asp,
    last_cost * quantity AS cogs,
    total_line_price - last_cost * quantity AS gross_margin,
    CASE WHEN abs(total_line_price) > 1e-9
         THEN (total_line_price - last_cost * quantity) / total_line_price
         END AS gm_pct,
    COALESCE(quantity < 0, false) AS flag_negative_qty,
    COALESCE(total_line_price < 0, false) AS flag_negative_price,
    (COALESCE(quantity, 0) <> 0 AND COALESCE(total_line_price, 0) = 0)
      AS flag_zero_price_nonzero_qty
  FROM anomalies
)"""

  val p11QualityFlags: String = AnomalyCte + """
SELECT l_orderkey, l_linenumber, quantity, total_line_price, asp, cogs,
       gross_margin, gm_pct, flag_negative_qty, flag_negative_price,
       flag_zero_price_nonzero_qty
FROM flagged"""

  val p12QualityFilter: String = AnomalyCte + """
SELECT flag_negative_qty, flag_negative_price, flag_zero_price_nonzero_qty,
       COUNT(*) AS n_rows, ROUND(SUM(total_line_price), 2) AS sum_price
FROM flagged
WHERE flag_negative_qty OR flag_negative_price OR flag_zero_price_nonzero_qty
GROUP BY 1, 2, 3"""

  val p13DisplayName: String = """
SELECT p_partkey,
       substr(p_name, 1, 30) || '...' AS product_short,
       substr(p_name, 1, 25) || '...' AS chart_label
FROM part"""

  /** P14 collection projections over the enriched frame. */
  val p14SalesLines: String = EnrichedCte + """
SELECT doc_number, customer_number, product_code, product_desc, brand_desc,
       region_code, region_desc, quantity, total_line_price, last_cost,
       asp, cogs, gross_margin, gm_pct, transtype_code, transtype_desc,
       event_date, fin_week_label, fin_month_label, fin_month_start,
       fin_month_end, fin_quarter
FROM enriched"""

  val p14Receivables: String = EnrichedCte + """
SELECT customer_number, cust_desc, total_due, fin_month_label,
       fin_month_start, fin_month_end, region_desc
FROM enriched"""

  val p14Payments: String = EnrichedCte + """
SELECT doc_number, customer_number, tot_payment, deposit_date, event_date,
       fin_week_label, fin_month_label, fin_quarter, region_desc
FROM enriched"""

  /** Shared fiscal CTE chain from a `... AS d` date source to `d4`
    * (with `_fm` fin-month, `_fld` its last day, `_fms` the start
    * bound). ONE definition feeds c4 and c8 — two hand-maintained
    * copies of the week rule would silently drift apart.
    */
  private def fiscalChain(srcSelect: String): String = s"""WITH d0 AS (
  $srcSelect
), d1 AS (
  SELECT d, last_day(d) AS _ld FROM d0
), d2 AS (
  SELECT *, CASE WHEN d <= _ld - CAST((dayofweek(_ld) + 2) % 7 AS INTEGER)
                 THEN date_trunc('month', d)
                 ELSE CAST(date_trunc('month', d) + INTERVAL 1 MONTH AS DATE)
            END AS _fm
  FROM d1
), d3 AS (
  SELECT *, last_day(CAST(_fm - INTERVAL 1 MONTH AS DATE)) AS _pld,
            last_day(_fm) AS _fld
  FROM d2
), d4 AS (
  SELECT *, _pld - CAST((dayofweek(_pld) + 1) % 7 AS INTEGER) AS _fms FROM d3
)"""

  private val FinWeekLabelExpr: String =
    """strftime(_fm, '%Y-%m') || '-W'
         || CAST(CAST(floor((d - _fms) / 7.0) AS INT) + 1 AS VARCHAR)"""

  val c4FincalColumns: String = fiscalChain(
    "SELECT DISTINCT CAST(l_shipdate AS DATE) AS d FROM lineitem") + s"""
SELECT d AS event_date,
       COALESCE(strftime(_fm, '%Y-%m'), 'None') AS fin_month_label,
       _fms AS fin_month_start,
       _fld - CAST((dayofweek(_fld) + 2) % 7 AS INTEGER) AS fin_month_end,
       year(_fm) AS fin_year,
       month(_fm) AS fin_month_num,
       'FY' || CAST(year(_fm) AS VARCHAR) || ' Q'
         || CAST(quarter(_fm) AS VARCHAR) AS fin_quarter,
       $FinWeekLabelExpr AS fin_week_label
FROM d4"""

  val c8FinWeekRollup: String = fiscalChain(
    "SELECT CAST(l_shipdate AS DATE) AS d FROM lineitem") + s"""
SELECT $FinWeekLabelExpr AS fin_week_label,
       COUNT(*) AS n_rows
FROM d4 GROUP BY 1"""

  val c7FincalNullLabels: String = """WITH d0 AS (
  SELECT CASE WHEN l_linenumber = 5 THEN NULL
              ELSE CAST(l_shipdate AS DATE) END AS d
  FROM lineitem
), d1 AS (
  SELECT d, last_day(d) AS _ld FROM d0
), d2 AS (
  SELECT *, CASE WHEN d <= _ld - CAST((dayofweek(_ld) + 2) % 7 AS INTEGER)
                 THEN date_trunc('month', d)
                 ELSE CAST(date_trunc('month', d) + INTERVAL 1 MONTH AS DATE)
            END AS _fm
  FROM d1
)
SELECT COALESCE(strftime(_fm, '%Y-%m'), 'None') AS fin_month_label,
       COUNT(*) AS n_rows
FROM d2 GROUP BY 1"""
}
