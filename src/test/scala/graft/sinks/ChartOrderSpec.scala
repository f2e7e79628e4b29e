package graft.sinks

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** [[Charts.writeCharts]] sorts each chart's collected rows on the
  * driver; the order must be Spark's `orderBy(...).collect()` order,
  * including ties, nulls, NaN, −0.0 and labels whose UTF-8 byte order
  * differs from Java's UTF-16 `String` order.
  */
class ChartOrderSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val Fullwidth = "Ａ"          // UTF-8 EF BC A1
  private val Emoji = "😀"        // U+1F600, UTF-8 F0 9F 98 80

  /** A (label, revenue) frame spread over 3 partitions. */
  private def frame(label: String, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3),
      StructType(Seq(StructField(label, StringType),
        StructField("revenue", DoubleType))))

  private val products: Seq[Row] = Seq(
    Row("b", 10.0), Row("a", 10.0), Row(null, 10.0), Row("c", Double.NaN),
    Row("d", null), Row(null, null), Row("e", -0.0), Row("f", 0.0),
    Row("g", -0.0), Row("é", 5.0), Row(Fullwidth, 5.0), Row(Emoji, 5.0),
    Row("été", 5.0), Row("z", -1.0), Row("y", Double.NegativeInfinity),
    Row("x", Double.PositiveInfinity))

  private val months: Seq[Row] = Seq(
    "2001-02", "2000-12", null, "2001-01", "é", Fullwidth, Emoji, "Z", "a")
    .zipWithIndex.map { case (l, i) => Row(l, i.toDouble) }

  private def shown(rows: Array[Row]): Seq[String] = rows.map(_.toString).toSeq

  test("the label order is Spark's UTF-8 byte order, nulls first") {
    // the case that tells the two string orders apart
    assert(Fullwidth.compareTo(Emoji) > 0)
    val df = frame("fin_month_label", months)
    val bySpark = df.orderBy(col("fin_month_label")).collect()
    assert(shown(df.collect().sorted(Charts.byLabel)) == shown(bySpark))
    assert(bySpark.head.isNullAt(0) && bySpark.last.getString(0) == Emoji)
  }

  test("the top-products order is Spark's revenue DESC, label ASC: NaN " +
       "first, null revenue last, −0.0 ties 0.0") {
    val df = frame("product_desc", products)
    val bySpark =
      df.orderBy(col("revenue").desc, col("product_desc")).collect()
    assert(shown(df.collect().sorted(Charts.byValueDescThenLabel)) ==
      shown(bySpark))
    assert(bySpark.head.getString(0) == "c")
    assert(bySpark.last.getString(0) == "d")
  }

  private def tmp(): String = Files.createTempDirectory("chart_order").toString

  test("writeCharts renders the rows in Spark's order") {
    val dir = tmp()
    // the renderers draw no null labels or values
    def plain(rows: Seq[Row]) = rows.filter(r => !r.anyNull)
    val m = frame("fin_month_label", plain(months))
    val p = frame("product_desc", plain(products))
    Charts.writeCharts(m, p, dir)
    def sortedBySpark(df: DataFrame, order: Column*) =
      df.orderBy(order: _*).collect().toSeq
        .map(r => (r.getString(0), r.getDouble(1)))
    val rev = sortedBySpark(m, col("fin_month_label"))
    val top = sortedBySpark(p, col("revenue").desc, col("product_desc"))
    val want = Seq(
      Charts.writeLineChartPng(rev.map(_._1), rev.map(_._2),
        "Revenue by financial month", s"$dir/want_rev.png"),
      Charts.writeBarChartPng(top.map(_._1), top.map(_._2),
        "Top products by revenue", s"$dir/want_top.png"))
    val got = Seq("revenue_by_month.png", "top_products.png")
      .map(f => Files.readAllBytes(new File(s"$dir/$f").toPath))
    got.zip(want).foreach { case (g, w) => assert(g sameElements w) }
  }

  test("a chart over the bar cap fails before any sort or render") {
    val dir = tmp()
    val e = intercept[IllegalArgumentException](Charts.writeCharts(
      frame("fin_month_label", months.take(4)),
      frame("product_desc", products.take(3)), dir, maxBars = 3))
    assert(e.getMessage.contains("more than 3 bars"))
    assert(Option(new File(dir).list()).forall(_.isEmpty))
  }
}
