package graft.sinks

import java.util.concurrent.{CompletionException, Executors}

import org.apache.spark.sql.{classic, DataFrame}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions.col

/** Sinks + collection projections (SURVEY §2.1 S2–S6, §2.2 P14;
  * `/root/reference/Project.py:331-395`).
  *
  * The reference's Mongo/Excel consumption layer is out of process; the
  * engine contract is the projected frames and line-delimited JSON / CSV /
  * parquet sinks. `df.write.json` IS JSONL (one object per line, nulls
  * dropped-vs-kept configurable, timestamps ISO-8601) — the reference's
  * 21-line row-loop serializer (`Project.py:341-361`) is the built-in sink.
  */
object Sinks {

  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("header", "true").csv(path)

  /** S3 — line-delimited JSON with null preservation (the reference emits
    * explicit `null`s, `Project.py:349`; Spark drops null fields by default,
    * so `ignoreNullFields=false`).
    */
  def writeJsonl(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("ignoreNullFields", "false").json(path)

  def writeParquet(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  /** Lake layout for the enriched frame: parquet partitioned by the
    * fiscal-month label, so month-scoped queries (the dominant BI access
    * pattern here) prune to one directory instead of scanning the fact
    * table. At 100 TB this is the difference between reading ~1/84th of
    * the data and all of it.
    */
  def writePartitionedByMonth(df: DataFrame, path: String,
                              partCol: String = "fin_month_label"): Unit =
    df.write.mode("overwrite").partitionBy(partCol).parquet(path)

  /** P14 — the reference's per-collection column lists
    * (`Project.py:367-395`); projection takes the intersection with the
    * actual schema, exactly like `[c for c in cols if c in df.columns]`.
    */
  val SalesLinesColumns: Seq[String] = Seq(
    "doc_number", "customer_number", "product_code", "product_desc",
    "brand_desc", "region_code", "region_desc", "quantity",
    "total_line_price", "last_cost", "asp", "cogs", "gross_margin",
    "gm_pct", "transtype_code", "transtype_desc", "inventory_code",
    "rep_code", "event_date", "fin_week_label", "fin_month_label",
    "fin_month_start", "fin_month_end", "fin_quarter")

  val ReceivablesColumns: Seq[String] = Seq(
    "customer_number", "cust_desc", "total_due", "amt_current",
    "amt_30_days", "amt_60_days", "amt_90_days", "amt_120_days",
    "amt_150_days", "amt_180_days", "amt_210_days", "amt_240_days",
    "fin_month_label", "fin_month_start", "fin_month_end", "region_desc")

  val PaymentsColumns: Seq[String] = Seq(
    "doc_number", "customer_number", "tot_payment", "bank_amt",
    "deposit_date", "event_date", "fin_week_label", "fin_month_label",
    "fin_quarter", "region_desc")

  def projectCollection(df: DataFrame, wanted: Seq[String]): DataFrame =
    df.select(wanted.filter(df.columns.contains).map(col): _*)

  /** S4's 31-char sheet-name sanitization (`Project.py:303`) as a filename
    * sanitizer: `replace('_',' ').title()[:31]`. Python `str.title()`
    * capitalizes a letter after ANY non-letter (digits included:
    * `"ab2cd"` → `"Ab2Cd"`), not just after spaces — reproduced exactly.
    */
  def sanitizeSheetName(name: String): String = {
    val sb = new StringBuilder
    var prevLetter = false
    name.replace('_', ' ').foreach { c =>
      sb.append(if (prevLetter) c.toLower else c.toUpper)
      prevLetter = c.isLetter
    }
    sb.result().take(31)
  }

  /** S4 parallel contract (SURVEY §2.1): the reference's multi-sheet
    * Excel workbook (`Project.py:273-324`) as one directory of CSV
    * "sheets", names sanitized the same way. Same information,
    * oracle-checkable, and writable in parallel (a workbook writer is a
    * single-threaded driver-side bottleneck the engine shouldn't force
    * on fact-scale data). For the real binary workbook — report-sized
    * frames, opens in Excel — use [[Xlsx.writeXlsx]].
    */
  def writeWorkbook(sheets: Seq[(String, DataFrame)], dir: String): Unit =
    sheets.foreach { case (name, df) =>
      writeCsv(df, s"$dir/${sanitizeSheetName(name).replace(' ', '_')}")
    }

  /** S5 data contract (SURVEY §2.1): the chart *inputs* (the reference
    * renders matplotlib PNGs of Q1/Q2, `Project.py:226-267`) as
    * chart-ready CSV — one ordered frame per chart. For the rendered
    * PNGs themselves use [[Charts.writeCharts]].
    */
  def writeChartData(revenueByMonth: DataFrame, topProducts: DataFrame,
                     dir: String): Unit = {
    writeCsv(revenueByMonth.orderBy(col("fin_month_label")),
      s"$dir/revenue_by_month_chart")
    writeCsv(topProducts.orderBy(col("revenue").desc, col("product_desc")),
      s"$dir/top_products_chart")
  }

  /** S6 end-to-end (`Project.py:367-423`): project + serialize all three
    * MongoDB collections as JSONL directories, the exact mongoimport
    * input contract.
    *
    * The three writes are independent jobs over the same frame, so they
    * are submitted concurrently, on a pool of 3 that is shut down before
    * the call returns. Each is submitted through Spark's own capture
    * primitive (`SQLExecution.withThreadLocalCaptured`, the one
    * broadcast exchanges use), so its jobs carry the caller's local
    * properties (job group, description, job tags) and active session.
    * The call returns only after all three writes have finished; if any
    * failed it then throws the first failure (in collection order), with
    * the others attached as suppressed. No write creates a pin.
    */
  def exportCollections(cleaned: DataFrame, dir: String): Unit = {
    val collections = Seq(
      "sales_lines" -> SalesLinesColumns,
      "receivables" -> ReceivablesColumns,
      "payments" -> PaymentsColumns)
    val pool = Executors.newFixedThreadPool(collections.size)
    try {
      val writes = collections.map { case (name, cols) =>
        SQLExecution.withThreadLocalCaptured(
          cleaned.sparkSession.asInstanceOf[classic.SparkSession], pool) {
          writeJsonl(projectCollection(cleaned, cols), s"$dir/$name")
        }
      }
      val failures = writes.flatMap { w =>
        try { w.join(); None }
        catch {
          case e: CompletionException => Some(Option(e.getCause).getOrElse(e))
        }
      }
      failures.headOption.foreach { first =>
        failures.tail.foreach(first.addSuppressed)
        throw first
      }
    } finally pool.shutdown()
  }
}
