package graft.sinks

import java.awt.{BasicStroke, Color, Font, Graphics2D, RenderingHints}
import java.awt.image.BufferedImage
import java.io.{ByteArrayOutputStream, File}
import java.nio.file.Files

import javax.imageio.ImageIO

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.functions.col
import org.apache.spark.unsafe.types.UTF8String

/** PNG chart rendering (SURVEY §2.1 S5 — the reference renders
  * matplotlib charts of Q1 revenue-by-month and Q2 top-products,
  * `/root/reference/Project.py:226-267`). Pure-JDK headless rendering
  * (`java.awt.image` + `javax.imageio`): no plotting dependency, works
  * in a server JRE.
  *
  * Driver-side BY NATURE like [[Xlsx]]: a chart consumes an aggregated
  * report frame (≤ a few hundred bars), never fact data — enforced with
  * a loud row cap, not a silent truncation.
  */
object Charts {

  private val Bg = Color.WHITE
  private val BarFill = new Color(31, 119, 180)  // matplotlib C0
  private val AxisCol = Color.DARK_GRAY
  private val Width = 900
  private val Height = 540

  /** Shared chart scaffolding — background, axes + zero line, min/0/max
    * y ticks, rotated thinned x labels, title; only the MARKS differ
    * between the bar and line renderers, so they inject them.
    * `drawMarks(g, yOf, left, step)` runs with the fill color set;
    * mark i's horizontal slot is `[left + i·step, left + (i+1)·step)`.
    * Returns the PNG bytes it wrote to `path`.
    */
  private def renderChartPng(labels: Seq[String], values: Seq[Double],
                             title: String, path: String,
                             width: Int, height: Int,
                             maxMarks: Int, kind: String)(
      drawMarks: (Graphics2D, Double => Int, Int, Double) => Unit)
      : Array[Byte] = {
    require(labels.nonEmpty && labels.size == values.size,
      s"$kind: ${labels.size} labels vs ${values.size} values")
    require(labels.size <= maxMarks,
      s"$kind: ${labels.size} marks — charts render REPORT " +
        "aggregates; reduce before plotting")
    System.setProperty("java.awt.headless", "true")
    val img = new BufferedImage(width, height, BufferedImage.TYPE_INT_RGB)
    val g = img.createGraphics().asInstanceOf[Graphics2D]
    try {
      g.setRenderingHint(RenderingHints.KEY_ANTIALIASING,
        RenderingHints.VALUE_ANTIALIAS_ON)
      g.setColor(Bg); g.fillRect(0, 0, width, height)
      val (l, r, top, bot) = (70, 20, 50, 90)
      val plotW = width - l - r
      val plotH = height - top - bot
      val maxV = math.max(values.max, 0.0)
      val minV = math.min(values.min, 0.0)
      val span = if (maxV - minV == 0) 1.0 else maxV - minV
      def y(v: Double): Int = top + ((maxV - v) / span * plotH).toInt
      // axes + zero line
      g.setColor(AxisCol)
      g.setStroke(new BasicStroke(1.5f))
      g.drawLine(l, top, l, top + plotH)
      g.drawLine(l, y(0), l + plotW, y(0))
      // y tick labels (min / 0 / max)
      g.setFont(new Font(Font.SANS_SERIF, Font.PLAIN, 11))
      Seq(minV, 0.0, maxV).distinct.foreach { v =>
        g.drawString(f"$v%,.0f", 4, y(v) + 4)
      }
      val n = values.size
      val step = plotW.toDouble / n
      g.setColor(BarFill)
      drawMarks(g, y, l, step)
      // x labels: rotated when crowded, every k-th so they stay legible
      g.setColor(AxisCol)
      val every = math.max(1, n / 24)
      val oldTx = g.getTransform
      labels.zipWithIndex.foreach { case (lab, i) =>
        if (i % every == 0) {
          val x = l + (i * step + step / 2).toInt
          g.rotate(-Math.PI / 4, x.toDouble, (top + plotH + 12).toDouble)
          g.drawString(lab.take(16), x - 30, top + plotH + 14)
          g.setTransform(oldTx)
        }
      }
      // title
      g.setFont(new Font(Font.SANS_SERIF, Font.BOLD, 16))
      g.drawString(title, l, 30)
    } finally g.dispose()
    val out = new ByteArrayOutputStream()
    val ok = ImageIO.write(img, "png", out)
    require(ok, s"$kind: no PNG writer available")
    val png = out.toByteArray
    Files.write(new File(path).toPath, png)
    png
  }

  /** Render a vertical bar chart to `path` (a `.png` FILE path); returns
    * the PNG bytes.
    */
  def writeBarChartPng(labels: Seq[String], values: Seq[Double],
                       title: String, path: String,
                       width: Int = Width, height: Int = Height,
                       maxBars: Int = 500): Array[Byte] =
    renderChartPng(labels, values, title, path, width, height,
      maxBars, "writeBarChartPng") { (g, y, l, step) =>
      val barW = math.max(1, (step * 0.8).toInt)
      values.zipWithIndex.foreach { case (v, i) =>
        val x = l + (i * step + step * 0.1).toInt
        val (yTop, h) =
          if (v >= 0) (y(v), y(0) - y(v)) else (y(0), y(v) - y(0))
        g.fillRect(x, yTop, barW, math.max(1, h))
      }
    }

  /** Render a line chart with circular markers to `path` (a `.png`
    * FILE path) — the reference's revenue-trend mark type
    * (`/root/reference/Project.py:232-233`: `plt.plot(..., marker='o',
    * linewidth=2)`), distinct from [[writeBarChartPng]]'s bars. Returns
    * the PNG bytes.
    */
  def writeLineChartPng(labels: Seq[String], values: Seq[Double],
                        title: String, path: String,
                        width: Int = Width, height: Int = Height,
                        maxPoints: Int = 500): Array[Byte] =
    renderChartPng(labels, values, title, path, width, height,
      maxPoints, "writeLineChartPng") { (g, y, l, step) =>
      // polyline through point centers, then markers on top — a
      // single point degenerates to its marker (no segment to draw)
      def x(i: Int): Int = l + (i * step + step / 2).toInt
      g.setStroke(new BasicStroke(2f, BasicStroke.CAP_ROUND,
        BasicStroke.JOIN_ROUND))
      values.indices.sliding(2).foreach {
        case Seq(a, b) =>
          g.drawLine(x(a), y(values(a)), x(b), y(values(b)))
        case _ => ()
      }
      val mr = 4
      values.zipWithIndex.foreach { case (v, i) =>
        g.fillOval(x(i) - mr, y(v) - mr, 2 * mr, 2 * mr)
      }
    }

  /** ORDER BY column `i` ascending, nulls first, comparing non-null
    * values with `cmp`; `.reverse` is the descending, nulls-last order.
    */
  private def ascNullsFirst(i: Int)(cmp: (Row, Row) => Int): Ordering[Row] =
    (a, b) => (a.isNullAt(i), b.isNullAt(i)) match {
      case (true, true)   => 0
      case (true, false)  => -1
      case (false, true)  => 1
      case (false, false) => cmp(a, b)
    }

  /** Spark's ORDER BY of a chart's `(label string, value double)` rows,
    * run on the driver: strings in UTF-8 byte order
    * (`UTF8String.compareTo`, not `String.compareTo`'s UTF-16 order),
    * doubles by `SQLOrderingUtil.compareDoubles` (NaN largest,
    * −0.0 = 0.0).
    */
  private[sinks] val byLabel: Ordering[Row] = ascNullsFirst(0)((a, b) =>
    UTF8String.fromString(a.getString(0))
      .compareTo(UTF8String.fromString(b.getString(0))))
  /** `ORDER BY value DESC, label` — see [[byLabel]]. */
  private[sinks] val byValueDescThenLabel: Ordering[Row] =
    ascNullsFirst(1)((a, b) =>
      SQLOrderingUtil.compareDoubles(a.getDouble(1), b.getDouble(1)))
      .reverse.orElse(byLabel)

  /** The reference's two report charts (`Project.py:226-267`) from their
    * query frames: revenue per fiscal month as a LINE chart
    * (`Project.py:232`) and top-product revenue as bars
    * (`Project.py:255`). Ordering matches [[Sinks.writeChartData]]'s
    * chart-input contract. Each chart's rows are collected once, capped,
    * and sorted on the driver with Spark's ordering semantics (a chart
    * holds at most `maxBars` rows, so a distributed sort is a job for
    * nothing). Returns the two rendered charts (revenue, products) at
    * scale 1.
    */
  def writeCharts(revenueByMonth: DataFrame, topProducts: DataFrame,
                  dir: String, maxBars: Int = 500)
      : (Xlsx.XlsxImage, Xlsx.XlsxImage) = {
    new File(dir).mkdirs()
    def sorted(df: DataFrame, label: String,
               order: Ordering[Row]): Array[Row] = {
      // cast up front: a caller whose revenue is DecimalType (sum over
      // decimals) must not hit a ClassCastException at getDouble; the
      // double is both the plotted value and the sort key.
      // limit BEFORE collect: the bar cap must fire as a loud plan-side
      // guard, not after a million-row collect has already OOMed the
      // driver (limit maxBars+1 keeps the over-cap case detectable),
      // and before the driver-side sort
      val rows = df.select(col(label), col("revenue").cast("double"))
        .limit(maxBars + 1).collect()
      require(rows.length <= maxBars,
        s"writeCharts: more than $maxBars bars — charts render REPORT " +
          "aggregates; reduce before plotting")
      rows.sorted(order)
    }
    def image(png: Array[Byte]) = Xlsx.XlsxImage(png, Width, Height)
    val rev = sorted(revenueByMonth, "fin_month_label", byLabel)
    val revPng = writeLineChartPng(
      rev.map(_.getString(0)).toSeq,
      rev.map(r => r.getDouble(1)).toSeq,
      "Revenue by financial month", s"$dir/revenue_by_month.png",
      maxPoints = maxBars)
    val top = sorted(topProducts, "product_desc", byValueDescThenLabel)
    val topPng = writeBarChartPng(
      top.map(_.getString(0)).toSeq,
      top.map(r => r.getDouble(1)).toSeq,
      "Top products by revenue", s"$dir/top_products.png",
      maxBars = maxBars)
    (image(revPng), image(topPng))
  }

  /** The reference's complete Excel deliverable
    * (`/root/reference/Project.py:273-324`): the report sheets PLUS two
    * dedicated chart sheets (`Revenue_Chart`, `Top_Products_Chart`) with
    * the rendered PNGs embedded at A1, 0.8 scale — the images live
    * inside the workbook, not beside it. Charts render to
    * `<path>.charts/` first (kept: they double as the standalone S5
    * deliverable), then embed via the OOXML drawing parts, from the
    * rendered bytes (no read-back of the files).
    */
  def writeReportXlsx(sheets: Seq[(String, DataFrame)],
                      revenueByMonth: DataFrame, topProducts: DataFrame,
                      path: String, maxBars: Int = 500): Unit = {
    val (rev, top) =
      writeCharts(revenueByMonth, topProducts, s"$path.charts", maxBars)
    Xlsx.writeXlsx(sheets, path, imageSheets = Seq(
      "Revenue_Chart" -> rev.copy(scale = 0.8),
      "Top_Products_Chart" -> top.copy(scale = 0.8)))
  }
}
