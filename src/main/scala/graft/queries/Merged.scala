package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.clean.Clean
import graft.fincal.FiscalCalendar
import graft.metrics.Metrics
import graft.sources.Tables
import graft.std.SchemaOps

/** The reference's input is ONE pre-joined denormalized frame
  * (`/root/reference/Project.py:9,16` — literally `merged.csv`). The join
  * that produced it happened upstream of the reference; here it is a real
  * operator (SURVEY §7.2): `lineitem ⋈ orders ⋈ customer ⋈ nation ⋈ region
  * ⋈ part`, renamed to the reference's column vocabulary per FIXTURES.md §2.
  *
  * Scale notes (100 TB design): `nation`/`region` are fixed-size → explicit
  * broadcast. `customer`/`part`/`orders` scale with the data → left to
  * Catalyst/AQE, which broadcasts them while they fit and falls back to
  * shuffled hash/sort-merge join beyond the threshold; the lineitem fact
  * side is never broadcast. No `.cache()` — each query re-derives from the
  * scan so Parquet column pruning stays effective per query.
  */
object Merged {

  def merged(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.tune(spark)
    val li = Tables.lineitem(spark, sfDir)
    val ord = Tables.orders(spark, sfDir)
    val cust = Tables.customer(spark, sfDir)
    val nat = broadcast(Tables.nation(spark, sfDir))
    val reg = broadcast(Tables.region(spark, sfDir))
    val prt = Tables.part(spark, sfDir)
    li
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(nat, col("c_nationkey") === col("n_nationkey"))
      .join(reg, col("n_regionkey") === col("r_regionkey"))
      .join(prt, col("l_partkey") === col("p_partkey"))
      .select(
        col("o_orderkey").as("doc_number"),
        col("c_custkey").as("customer_number"),
        col("c_name").as("cust_desc"),
        col("p_partkey").as("product_code"),
        col("p_name").as("product_desc"),
        col("p_brand").as("brand_desc"),
        col("r_regionkey").as("region_code"),
        col("r_name").as("region_desc"),
        col("l_quantity").as("quantity"),
        col("l_extendedprice").as("total_line_price"),
        // FIXTURES.md §2: cost proxy for the reference's `last_cost`
        (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("last_cost"),
        col("l_shipdate").as("trans_date"),
        col("o_orderdate").as("deposit_date"),
        col("c_acctbal").as("total_due"),
        col("l_linenumber").cast(DoubleType).as("transtype_code"),
        col("l_returnflag").as("transtype_desc"),
        col("o_totalprice").as("tot_payment"))
  }

  /** Path A end-to-end (SURVEY §3A): schema repair → string cleanup →
    * coercing casts → event_date → fiscal calendar → metrics → flags.
    * One narrow `WholeStageCodegen` stage after the joins; no shuffle until
    * an aggregate is asked for.
    */
  def clearvuePipeline(df: DataFrame): DataFrame = {
    val d0 = SchemaOps.dropArtifacts(SchemaOps.snakeCaseColumns(df))
    val d1 = Clean.normalizeStrings(d0)
    val d2 = Clean.castNumerics(d1)
    val d3 = Clean.parseDates(d2)
    val d4 = Clean.withEventDate(d3)
    val d5 = FiscalCalendar.withFinCalendar(d4)
    Metrics.withAll(d5)
  }

  /** The cleaned, enriched frame every BI query (Q1–Q5, P12) runs over.
    * Declarative (re-derives from the scan) — plan-shape tests and
    * single-query consumers that want full scan pruning use this form.
    */
  def cleaned(spark: SparkSession, sfDir: String): DataFrame =
    clearvuePipeline(merged(spark, sfDir))

  /** Session-scoped memo of [[cleaned]], keyed (session, sfDir). A full
    * query session (q1–q5, q1b, p12/p13, p14 ×3, x1/x4–x8) consumes the
    * same cleaned star join ~12 times; re-deriving it from parquet per
    * query was ~10 redundant 6-table joins per bench run. The memo'd
    * frame is already the union column set every consumer projects
    * from, so per-consumer pruning loses nothing downstream of the pin;
    * [[graft.std.SessionMemo]] pins it outside the per-query release
    * and frees it at [[releaseShared]] / session teardown.
    *
    * 100-TB note: this is a single-session working-set optimization —
    * `disk` materialize mode keeps it lineage-recoverable on a real
    * cluster, and a one-shot query on a cluster simply calls
    * [[cleaned]] and keeps full scan pruning.
    *
    * SNAPSHOT SEMANTICS: returns the data as of the first call per
    * (session, sfDir) — the pin fixes it, so later changes to the
    * parquet under `sfDir` are invisible until [[releaseShared]] or
    * session stop. Callers needing re-read-per-query semantics use
    * [[cleaned]].
    */
  def cleanedShared(spark: SparkSession, sfDir: String): DataFrame =
    graft.std.SessionMemo.getOrBuild(spark, s"cleaned|$sfDir")(
      cleaned(spark, sfDir))

  /** Drop a session's memoized cleaned frames (test/benchmark hygiene;
    * [[graft.std.SessionMemo.releaseSession]] without a tag filter, which
    * Bench/Verify call at teardown, frees them too).
    */
  def releaseShared(spark: SparkSession): Unit =
    graft.std.SessionMemo.releaseSession(spark, _.startsWith("cleaned|"))
}
