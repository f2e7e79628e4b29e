package graft.sinks

import java.io.FileOutputStream
import java.util.zip.{ZipEntry, ZipOutputStream}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame

/** A real binary `.xlsx` workbook sink (SURVEY §2.1 S4 — the reference
  * writes a multi-sheet Excel report, `/root/reference/Project.py:273-324`).
  * Closes the one functional gap of the CSV-per-sheet replacement
  * contract: the output opens in Excel.
  *
  * Built on the public OOXML package layout only (ECMA-376): an `.xlsx`
  * file is a zip of XML parts — `[Content_Types].xml`, the package
  * rels, `xl/workbook.xml` + its rels, and one
  * `xl/worksheets/sheetN.xml` per sheet. Cells use inline strings
  * (`t="inlineStr"`), which keeps the writer single-pass: no shared-
  * strings table to accumulate. No third-party library involved —
  * `java.util.zip` is the JDK.
  *
  * Scale note (deliberate): a workbook is a single zip stream, so this
  * sink is driver-side BY NATURE — it exists for REPORT artifacts
  * (aggregated frames: revenue by month, top-15 products), never for
  * fact data. A local frame (`df.isLocal`: rows already in driver
  * memory, e.g. a collected report) is iterated with `collect()`, which
  * runs no Spark job; a distributed frame streams through
  * `toLocalIterator` (one partition in driver memory at a time, one job
  * per partition). Either way the sink fails loudly past
  * `maxRowsPerSheet` instead of silently producing a file Excel cannot
  * open (the format's own row ceiling is 1 048 576).
  */
object Xlsx {

  private val MainNs =
    "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
  private val RelNs =
    "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
  private val PkgRelNs =
    "http://schemas.openxmlformats.org/package/2006/relationships"
  private val XdrNs =
    "http://schemas.openxmlformats.org/drawingml/2006/spreadsheetDrawing"
  private val DrawNs =
    "http://schemas.openxmlformats.org/drawingml/2006/main"

  /** A PNG to anchor at A1 of a dedicated chart sheet — the reference's
    * `worksheet.insert_image("A1", png, x_scale/y_scale)`
    * (`/root/reference/Project.py:311-318`). EMU sizing: OOXML drawings
    * measure in English Metric Units, 9 525 EMU per 96-dpi pixel.
    */
  final case class XlsxImage(png: Array[Byte], widthPx: Int, heightPx: Int,
                             scale: Double = 1.0) {
    require(widthPx > 0 && heightPx > 0 && scale > 0,
      s"XlsxImage: non-positive dimensions ${widthPx}x$heightPx @ $scale")
    private[sinks] def cx: Long = math.round(widthPx * scale * 9525.0)
    private[sinks] def cy: Long = math.round(heightPx * scale * 9525.0)
  }

  /** Read an external PNG file into an [[XlsxImage]], taking pixel
    * dimensions from the decoded image. ([[Charts.writeCharts]] returns
    * its renders as images directly, with no read-back.)
    */
  def imageFromPng(path: String, scale: Double = 1.0): XlsxImage = {
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    require(img != null, s"imageFromPng: $path is not a decodable image")
    XlsxImage(bytes, img.getWidth, img.getHeight, scale)
  }

  private def xmlEscape(s: String): String = s.flatMap {
    case '&' => "&amp;"
    case '<' => "&lt;"
    case '>' => "&gt;"
    case '"' => "&quot;"
    // literal control chars are invalid in XML 1.0; strip rather than
    // emit a workbook Excel refuses to open
    case c if c < ' ' && c != '\t' && c != '\n' && c != '\r' => ""
    case c => c.toString
  }

  /** 0-based column index → A1-style letters (0→A, 25→Z, 26→AA). */
  private[sinks] def colRef(i: Int): String = {
    var n = i
    val sb = new StringBuilder
    while (n >= 0) { sb.insert(0, ('A' + n % 26).toChar); n = n / 26 - 1 }
    sb.result()
  }

  private def cellXml(ref: String, v: Any): String = v match {
    case null => ""
    case b: Boolean =>
      s"""<c r="$ref" t="b"><v>${if (b) 1 else 0}</v></c>"""
    case n: Byte    => s"""<c r="$ref"><v>$n</v></c>"""
    case n: Short   => s"""<c r="$ref"><v>$n</v></c>"""
    case n: Int     => s"""<c r="$ref"><v>$n</v></c>"""
    case n: Long    => s"""<c r="$ref"><v>$n</v></c>"""
    // NaN/Infinity are not valid numeric cell content (Excel declares
    // the workbook corrupt) — fall through to an inline string
    case n: Float if java.lang.Float.isFinite(n) =>
      s"""<c r="$ref"><v>$n</v></c>"""
    case n: Double if java.lang.Double.isFinite(n) =>
      s"""<c r="$ref"><v>$n</v></c>"""
    case n: java.math.BigDecimal => s"""<c r="$ref"><v>${n.toPlainString}</v></c>"""
    // dates/timestamps as their ISO-ish toString — no style table needed
    case other =>
      s"""<c r="$ref" t="inlineStr"><is><t>${xmlEscape(other.toString)}</t></is></c>"""
  }

  /** Stream one worksheet's XML straight into the zip: rows go from
    * the frame to the compressed stream, so driver memory holds the rows
    * the frame already keeps there (local) or one partition of them
    * (distributed, `toLocalIterator`) + one row's XML — never the
    * sheet's XML (a near-cap sheet would be multi-GB as a single
    * string).
    */
  private def writeSheetEntry(zip: ZipOutputStream, df: DataFrame,
                              maxRows: Long): Unit = {
    val w = new java.io.BufferedWriter(
      new java.io.OutputStreamWriter(zip, "UTF-8"))
    w.write(s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<worksheet xmlns="$MainNs"><sheetData>""")
    val cols = df.columns
    w.write("<row r=\"1\">")
    cols.zipWithIndex.foreach { case (c, i) =>
      w.write(cellXml(s"${colRef(i)}1", c))
    }
    w.write("</row>")
    var r = 1L
    val it =
      if (df.isLocal) df.collect().iterator
      else df.toLocalIterator().asScala
    while (it.hasNext) {
      val row = it.next()
      r += 1
      require(r <= maxRows + 1,
        s"writeXlsx: sheet exceeds $maxRows rows — a workbook is a " +
          "driver-side REPORT sink; write fact-scale data as parquet/CSV")
      w.write(s"""<row r="$r">""")
      cols.indices.foreach { i =>
        w.write(cellXml(s"${colRef(i)}$r", row.get(i)))
      }
      w.write("</row>")
    }
    w.write("</sheetData></worksheet>")
    // flush through to the zip WITHOUT closing it (closing the writer
    // would close the whole stream)
    w.flush()
  }

  /** One-picture drawing part: the image stretched over a oneCellAnchor
    * at A1 sized cx×cy EMU — the minimal `xdr:wsDr` Excel accepts.
    */
  private def drawingXml(img: XlsxImage, name: String): String =
    s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<xdr:wsDr xmlns:xdr="$XdrNs" xmlns:a="$DrawNs" xmlns:r="$RelNs">
<xdr:oneCellAnchor>
<xdr:from><xdr:col>0</xdr:col><xdr:colOff>0</xdr:colOff><xdr:row>0</xdr:row><xdr:rowOff>0</xdr:rowOff></xdr:from>
<xdr:ext cx="${img.cx}" cy="${img.cy}"/>
<xdr:pic>
<xdr:nvPicPr><xdr:cNvPr id="1" name="${xmlEscape(name)}"/><xdr:cNvPicPr/></xdr:nvPicPr>
<xdr:blipFill><a:blip r:embed="rId1"/><a:stretch><a:fillRect/></a:stretch></xdr:blipFill>
<xdr:spPr><a:xfrm><a:off x="0" y="0"/><a:ext cx="${img.cx}" cy="${img.cy}"/></a:xfrm><a:prstGeom prst="rect"><a:avLst/></a:prstGeom></xdr:spPr>
</xdr:pic>
<xdr:clientData/>
</xdr:oneCellAnchor>
</xdr:wsDr>"""

  /** Write `sheets` as one `.xlsx` file at `path` (a FILE path, not a
    * directory). Sheet names pass the reference's 31-char sanitizer and
    * are de-duplicated with a numeric suffix (Excel rejects duplicate
    * names).
    *
    * `imageSheets` appends dedicated chart sheets after the data sheets,
    * each holding one picture anchored at A1 — the reference's
    * `add_worksheet` + `insert_image` deliverable
    * (`/root/reference/Project.py:311-318`): the rendered PNG lives
    * INSIDE the workbook (`xl/media/` + a drawing part + relationships),
    * not beside it.
    */
  def writeXlsx(sheets: Seq[(String, DataFrame)], path: String,
                maxRowsPerSheet: Long = 1048575L,
                imageSheets: Seq[(String, XlsxImage)] = Nil): Unit = {
    require(sheets.nonEmpty, "writeXlsx: no sheets")
    val seen = scala.collection.mutable.Set.empty[String]
    def dedupName(raw: String): String = {
      val base = Sinks.sanitizeSheetName(raw)
      var name = base
      var k = 2
      while (!seen.add(name)) {
        // truncate base so base+suffix never exceeds Excel's 31-char
        // sheet-name limit, whatever width the counter reaches
        val suffix = s"_$k"
        name = base.take(31 - suffix.length) + suffix
        k += 1
      }
      name
    }
    val named = sheets.map { case (raw, df) => (dedupName(raw), df) }
    val namedImgs = imageSheets.map { case (raw, img) => (dedupName(raw), img) }
    val allNames = named.map(_._1) ++ namedImgs.map(_._1)
    val zip = new ZipOutputStream(new FileOutputStream(path))
    def part(name: String, content: String): Unit = {
      zip.putNextEntry(new ZipEntry(name))
      zip.write(content.getBytes("UTF-8"))
      zip.closeEntry()
    }
    try {
      val n = named.size
      val m = namedImgs.size
      part("[Content_Types].xml",
        s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>
<Default Extension="xml" ContentType="application/xml"/>
""" + (if (m > 0) "<Default Extension=\"png\" ContentType=\"image/png\"/>\n"
       else "") +
        """<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>
""" + (1 to n + m).map(i =>
          s"""<Override PartName="/xl/worksheets/sheet$i.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>"""
        ).mkString("\n") +
        (1 to m).map(j => "\n" +
          s"""<Override PartName="/xl/drawings/drawing$j.xml" ContentType="application/vnd.openxmlformats-officedocument.drawing+xml"/>"""
        ).mkString + "\n</Types>")
      part("_rels/.rels",
        s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Relationships xmlns="$PkgRelNs">
<Relationship Id="rId1" Type="$RelNs/officeDocument" Target="xl/workbook.xml"/>
</Relationships>""")
      part("xl/workbook.xml",
        s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<workbook xmlns="$MainNs" xmlns:r="$RelNs"><sheets>""" +
          allNames.zipWithIndex.map { case (name, i) =>
            s"""<sheet name="${xmlEscape(name)}" sheetId="${i + 1}" r:id="rId${i + 1}"/>"""
          }.mkString + "</sheets></workbook>")
      part("xl/_rels/workbook.xml.rels",
        s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Relationships xmlns="$PkgRelNs">""" +
          (1 to n + m).map(i =>
            s"""<Relationship Id="rId$i" Type="$RelNs/worksheet" Target="worksheets/sheet$i.xml"/>"""
          ).mkString + "</Relationships>")
      named.zipWithIndex.foreach { case ((_, df), i) =>
        zip.putNextEntry(new ZipEntry(s"xl/worksheets/sheet${i + 1}.xml"))
        writeSheetEntry(zip, df, maxRowsPerSheet)
        zip.closeEntry()
      }
      namedImgs.zipWithIndex.foreach { case ((name, img), j0) =>
        val j = j0 + 1      // 1-based drawing/media index
        val si = n + j      // overall sheet index
        part(s"xl/worksheets/sheet$si.xml",
          s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<worksheet xmlns="$MainNs" xmlns:r="$RelNs"><sheetData/><drawing r:id="rId1"/></worksheet>""")
        part(s"xl/worksheets/_rels/sheet$si.xml.rels",
          s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Relationships xmlns="$PkgRelNs">
<Relationship Id="rId1" Type="$RelNs/drawing" Target="../drawings/drawing$j.xml"/>
</Relationships>""")
        part(s"xl/drawings/drawing$j.xml", drawingXml(img, name))
        part(s"xl/drawings/_rels/drawing$j.xml.rels",
          s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Relationships xmlns="$PkgRelNs">
<Relationship Id="rId1" Type="$RelNs/image" Target="../media/image$j.png"/>
</Relationships>""")
        zip.putNextEntry(new ZipEntry(s"xl/media/image$j.png"))
        zip.write(img.png)
        zip.closeEntry()
      }
    } finally zip.close()
  }
}
