package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.clean.Clean
import graft.fincal.FiscalCalendar
import graft.metrics.Metrics
import graft.sources.Tables

/** Per-operator demonstration queries for SURVEY §2.2–§2.4 semantics the
  * corpus alone can't exercise (no dirty strings, no bad numerics, no null
  * dates in the testdata). Each constructs a deterministic "dirty" input
  * from a clean table, applies the operator, and is mirrored 1:1 by a
  * DuckDB oracle in [[OracleSql]].
  */
object OperatorQueries {

  /** P3 — trim + null-literal normalization over constructed dirt. */
  def nullNormalizeDemo(spark: SparkSession, sfDir: String): DataFrame = {
    val dirty = Tables.part(spark, sfDir).select(
      col("p_partkey"),
      when(col("p_partkey") % 5 === 0, concat(lit("  "), col("p_name"), lit("  ")))
        .when(col("p_partkey") % 5 === 1, lit("None"))
        .when(col("p_partkey") % 5 === 2, lit("nan"))
        .when(col("p_partkey") % 5 === 3, lit("null"))
        .otherwise(col("p_name")).as("normalized"))
    Clean.normalizeStrings(dirty)
  }

  /** P4 — coercing numeric cast (non-ANSI cast ≡ `to_numeric(coerce)`). */
  def castCoerceDemo(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.lineitem(spark, sfDir).select(
      col("l_orderkey"), col("l_linenumber"),
      when(col("l_linenumber") === 3, lit("abc"))
        .when(col("l_linenumber") === 4, lit(""))
        .when(col("l_linenumber") === 5, lit(null))
        .when(col("l_linenumber") === 2,
          concat(lit(" "), col("l_quantity").cast("string"), lit(" ")))
        .otherwise(col("l_quantity").cast("string")).as("raw"))
      .withColumn("parsed", col("raw").cast(DoubleType))
  }

  /** P5 — coercing timestamp parse. */
  def dateParseDemo(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.orders(spark, sfDir).select(
      col("o_orderkey"),
      when(col("o_orderkey") % 4 === 0,
          date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss"))
        .when(col("o_orderkey") % 4 === 1,
          date_format(col("o_orderdate"), "yyyy-MM-dd"))
        .when(col("o_orderkey") % 4 === 2, lit("not a date"))
        .otherwise(lit(null)).as("raw"))
      .withColumn("parsed", to_timestamp(col("raw")))
  }

  /** P6 — `event_date` COLUMN-level fallback: rows with null `trans_date`
    * but present `deposit_date` still get null (not a per-row coalesce).
    */
  def eventDateDemo(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    val ord = Tables.orders(spark, sfDir)
    val base = li.join(ord, col("l_orderkey") === col("o_orderkey")).select(
      col("l_orderkey"), col("l_linenumber"),
      when(col("l_linenumber") === 1, lit(null))
        .otherwise(col("l_shipdate")).as("trans_date"),
      col("o_orderdate").as("deposit_date"))
    Clean.withEventDate(Clean.parseDates(base))
  }

  /** Deterministic anomaly injection so P8/P10/P11/P12 have non-trivial
    * rows (testdata has no negatives/nulls): linenumber 4 → negative qty,
    * 5 → null qty, 6 → zero price, 7 → negative price.
    */
  def syntheticAnomalies(li: DataFrame): DataFrame = li.select(
    col("l_orderkey"), col("l_linenumber"),
    when(col("l_linenumber") === 4, -col("l_quantity"))
      .when(col("l_linenumber") === 5, lit(null))
      .otherwise(col("l_quantity")).as("quantity"),
    when(col("l_linenumber") === 6, lit(0.0))
      .when(col("l_linenumber") === 7, -col("l_extendedprice"))
      .otherwise(col("l_extendedprice")).as("total_line_price"),
    (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("last_cost"))

  /** P8–P11 — row-level derived metrics + non-null boolean flags over the
    * anomaly-injected frame. Row-level IEEE arithmetic is bit-identical
    * across engines, so no rounding is needed here.
    */
  def qualityFlagsDemo(spark: SparkSession, sfDir: String): DataFrame = {
    Metrics.withAll(syntheticAnomalies(Tables.lineitem(spark, sfDir)))
      .select(col("l_orderkey"), col("l_linenumber"), col("quantity"),
        col("total_line_price"), col("asp"), col("cogs"),
        col("gross_margin"), col("gm_pct"), col("flag_negative_qty"),
        col("flag_negative_price"), col("flag_zero_price_nonzero_qty"))
  }

  /** P12 — quality filter + aggregate over the anomaly frame. */
  def qualityFilterDemo(spark: SparkSession, sfDir: String): DataFrame = {
    BiQueries.qualityIssueCounts(
      Metrics.withAll(syntheticAnomalies(Tables.lineitem(spark, sfDir))))
  }

  /** P13 — substring + concat display names (`Project.py:202,254`). */
  def displayNameDemo(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.part(spark, sfDir).select(
      col("p_partkey"),
      concat(substring(col("p_name"), 1, 30), lit("...")).as("product_short"),
      concat(substring(col("p_name"), 1, 25), lit("...")).as("chart_label"))
  }

  /** C1–C6 — the full fiscal-calendar column set over every distinct ship
    * date: the critical cross-dialect parity query (SURVEY §7.4 "hard #1").
    */
  def fincalColumns(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.lineitem(spark, sfDir)
      .select(to_date(col("l_shipdate")).as("event_date")).distinct()
    val fm = FiscalCalendar.finMonthDate(col("event_date"))
    d.select(
      col("event_date"),
      FiscalCalendar.finMonthLabelStr(fm).as("fin_month_label"),
      FiscalCalendar.finMonthStart(fm).as("fin_month_start"),
      FiscalCalendar.finMonthEnd(fm).as("fin_month_end"),
      FiscalCalendar.finYear(fm).as("fin_year"),
      FiscalCalendar.finMonthNum(fm).as("fin_month_num"),
      FiscalCalendar.finQuarter(fm).as("fin_quarter"),
      FiscalCalendar.finWeekLabel(col("event_date")).as("fin_week_label"))
  }

  /** C8 — the fiscal WEEK grain as an aggregation key over every
    * lineitem row (c4 proves the label per distinct date; this proves
    * the week partitions the full fact table consistently in both
    * dialects — the grain a weekly dashboard groups on).
    */
  def finWeekRollup(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.lineitem(spark, sfDir)
      .select(FiscalCalendar.finWeekLabel(to_date(col("l_shipdate")))
        .as("fin_week_label"))
      .groupBy(col("fin_week_label"))
      .agg(count(lit(1)).as("n_rows"))
  }

  /** C7 parity trap — dateless rows form a literal `"None"` group
    * (`Project.py:124`; SURVEY §2.4).
    */
  def fincalNullLabels(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.lineitem(spark, sfDir).select(
      when(col("l_linenumber") === 5, lit(null))
        .otherwise(to_date(col("l_shipdate"))).as("d"))
    d.select(FiscalCalendar.finMonthLabelStr(
        FiscalCalendar.finMonthDate(col("d"))).as("fin_month_label"))
      .groupBy(col("fin_month_label"))
      .agg(count(lit(1)).as("n_rows"))
  }
}
