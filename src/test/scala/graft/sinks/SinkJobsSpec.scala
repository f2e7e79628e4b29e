package graft.sinks

import java.io.File
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, udf}
import org.scalatest.funsuite.AnyFunSuite

import graft.{JobCounter, SparkTestSession}

/** Job counts of the report and export sinks: the report is written
  * from driver rows without a Spark job, and the three collection writes
  * run concurrently with the caller's job properties and the
  * wait-for-all failure contract of [[Sinks.exportCollections]].
  */
class SinkJobsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** A driver-local copy of `df`, as a caller that already collected it
    * holds it.
    */
  private def local(df: DataFrame): DataFrame =
    spark.createDataFrame(df.collect().toList.asJava, df.schema)

  private def zipEntry(path: String, entry: String): Array[Byte] = {
    val zf = new java.util.zip.ZipFile(path)
    try zf.getInputStream(zf.getEntry(entry)).readAllBytes()
    finally zf.close()
  }

  private def months = Seq(("2001-02", 5.0), ("2001-01", 7.5),
    ("2000-12", -1.0)).toDF("fin_month_label", "revenue")
  private def products = Seq(("widget", 9.0), ("gadget", 9.0),
    ("bolt", 1.5)).toDF("product_desc", "revenue")

  test("writeXlsx over local frames launches 0 jobs and writes the " +
       "same sheet as the streamed distributed frame") {
    val dist = spark.range(0, 40, 1, 4)
      .selectExpr("id", "cast(id AS string) AS s", "id / 3.0 AS x")
    val loc = local(dist)
    assert(loc.isLocal && !dist.isLocal)
    val dir = tmp("xlsx_jobs")
    val jobs = JobCounter.count(spark)(
      Xlsx.writeXlsx(Seq("a" -> loc, "b" -> local(months)), s"$dir/l.xlsx"))
    assert(jobs == 0, s"local sheets launched $jobs jobs")
    assert(JobCounter.count(spark)(
      Xlsx.writeXlsx(Seq("a" -> dist), s"$dir/d.xlsx")) > 0)
    assert(zipEntry(s"$dir/l.xlsx", "xl/worksheets/sheet1.xml") sameElements
      zipEntry(s"$dir/d.xlsx", "xl/worksheets/sheet1.xml"))
  }

  test("the sheet row cap fails loudly on local and distributed frames") {
    val dir = tmp("xlsx_cap")
    val dist = spark.range(0, 3, 1, 2).toDF("id")
    Seq(dist, local(dist)).zipWithIndex.foreach { case (df, i) =>
      val e = intercept[IllegalArgumentException](
        Xlsx.writeXlsx(Seq("a" -> df), s"$dir/$i.xlsx", maxRowsPerSheet = 2))
      assert(e.getMessage.contains("exceeds 2 rows"))
    }
  }

  test("writeReportXlsx over local frames launches 0 jobs and embeds " +
       "the rendered PNGs without re-reading them") {
    val dir = tmp("report_jobs")
    val path = s"$dir/report.xlsx"
    val jobs = JobCounter.count(spark)(Charts.writeReportXlsx(
      Seq("q1" -> local(months), "q2" -> local(products)),
      local(months), local(products), path))
    assert(jobs == 0, s"local report launched $jobs jobs")
    // the embedded images are the chart files byte for byte, sized as
    // the decoded files are
    Seq("revenue_by_month.png" -> 1, "top_products.png" -> 2).foreach {
      case (png, j) =>
        val onDisk = Xlsx.imageFromPng(s"$path.charts/$png")
        assert(zipEntry(path, s"xl/media/image$j.png") sameElements onDisk.png)
        val drawing = new String(
          zipEntry(path, s"xl/drawings/drawing$j.xml"), "UTF-8")
        val cx = math.round(onDisk.widthPx * 0.8 * 9525.0)
        val cy = math.round(onDisk.heightPx * 0.8 * 9525.0)
        assert(drawing.contains(s"""cx="$cx" cy="$cy""""))
    }
  }

  test("writeCharts returns the PNG bytes it wrote with their pixel size") {
    val dir = tmp("charts_bytes")
    val (rev, top) = Charts.writeCharts(months, products, dir)
    Seq(rev -> "revenue_by_month.png", top -> "top_products.png").foreach {
      case (img, f) =>
        val onDisk = Xlsx.imageFromPng(s"$dir/$f")
        assert(img.png sameElements onDisk.png)
        assert((img.widthPx, img.heightPx, img.scale) ==
          ((onDisk.widthPx, onDisk.heightPx, 1.0)))
    }
  }

  /** A frame carrying one column of each collection, so each P14
    * projection is a one-job write of its own column set.
    */
  private def collectionsFrame: DataFrame =
    spark.range(0, 50, 1, 2).selectExpr(
      "id AS customer_number", "id * 2 AS doc_number",
      "id * 1.5 AS total_due", "id * 0.5 AS tot_payment",
      "concat('p', id) AS product_code")

  private def complete(dir: String): Boolean =
    new File(s"$dir/_SUCCESS").isFile

  test("exportCollections writes three complete directories in three " +
       "jobs that carry the caller's job group and description") {
    val dir = tmp("export_jobs")
    val sc = spark.sparkContext
    val pins = graft.std.Materialize.pinCount
    sc.setJobGroup("export-spec-group", "export spec description")
    val (r, jobs) = try JobCounter(spark)(
      Sinks.exportCollections(collectionsFrame, dir))
      finally sc.clearJobGroup()
    r.get
    assert(jobs.size == 3, s"expected one job per collection: ${jobs.size}")
    jobs.foreach { j =>
      assert(j.properties.getProperty("spark.jobGroup.id") ==
        "export-spec-group")
      assert(j.properties.getProperty("spark.job.description") ==
        "export spec description")
    }
    val want = Map(
      "sales_lines" -> Seq("customer_number", "doc_number", "product_code"),
      "receivables" -> Seq("customer_number", "total_due"),
      "payments" -> Seq("customer_number", "doc_number", "tot_payment"))
    want.foreach { case (c, cols) =>
      assert(complete(s"$dir/$c"), s"$c has no _SUCCESS")
      val back = spark.read.json(s"$dir/$c")
      assert(back.count() == 50)
      assert(back.columns.toSet == cols.toSet, c)
    }
    assert(graft.std.Materialize.pinCount == pins, "export created a pin")
  }

  /** A UDF that throws `msg` on every row. */
  private def boom(msg: String) = udf { (x: Long) =>
    if (x >= 0) throw new IllegalStateException(msg); x
  }

  /** A UDF that takes 200 ms per row, so a write outlives a failing one. */
  private val slow = udf { (x: Long) => Thread.sleep(200); x }

  private def mentions(e: Throwable, msg: String): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .exists(t => Option(t.getMessage).exists(_.contains(msg)))

  test("a failing collection write throws only after the other two " +
       "directories are complete") {
    val dir = tmp("export_fail")
    // sales_lines, the first collection, fails at once; the other two
    // take ≥ 1 s (5 rows per partition × 200 ms) and must still be
    // complete when the call throws
    val df = spark.range(0, 10, 1, 2).selectExpr("id AS customer_number")
      .withColumn("product_code", boom("sales-boom")(col("customer_number")))
      .withColumn("total_due", slow(col("customer_number")))
      .withColumn("tot_payment", slow(col("customer_number")))
    val e = intercept[Throwable](Sinks.exportCollections(df, dir))
    assert(mentions(e, "sales-boom"))
    assert(complete(s"$dir/receivables") && complete(s"$dir/payments"))
    assert(!complete(s"$dir/sales_lines"))
  }

  test("several failing writes: the first is thrown, the rest suppressed") {
    val dir = tmp("export_fail2")
    val df = spark.range(0, 10, 1, 2).selectExpr("id AS customer_number")
      .withColumn("total_due", boom("receivables-boom")(col("customer_number")))
      .withColumn("tot_payment", boom("payments-boom")(col("customer_number")))
    val e = intercept[Throwable](Sinks.exportCollections(df, dir))
    assert(mentions(e, "receivables-boom") && !mentions(e, "payments-boom"))
    // Spark attaches its own caller-stack record as a suppressed too
    assert(e.getSuppressed.count(mentions(_, "payments-boom")) == 1)
    assert(complete(s"$dir/sales_lines"))
  }
}
