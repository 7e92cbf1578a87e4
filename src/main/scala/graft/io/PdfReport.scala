package graft.io

import org.apache.spark.sql.{DataFrame, Row}

/** S9 — the reference's PDF report (`visualization/pdf_export.py:84-415`)
  * as an engine sink, dependency-free. The reference assembles a
  * reportlab document of titled sections, each a small table of
  * already-computed analytics (ETL summary, risk classification,
  * detected patterns, algorithm inventory); this sink renders the same
  * shape — title page header + numbered sections of tabular frames —
  * as a hand-emitted PDF 1.4 (text objects over base-14 fonts, correct
  * xref byte offsets, no compression), so no PDF library is needed.
  *
  * Like [[ApiJson]], the render is bounded driver-side BY DESIGN:
  * report tables are k-row summaries (`maxRows` caps each section —
  * the cap is stated in the section header when it truncates, never
  * silent), while the analytics producing them stay distributed.
  * Charts are out of scope (they need a raster/vector graphics stack);
  * the reference's numeric content is all here.
  */
object PdfReport {

  /** One report section: numbered heading + a table rendered fixed
    * width (Courier, so column alignment is exact). Rows past `maxRows`
    * are cut, and the heading says so. */
  case class Section(title: String, columns: Seq[String], rows: Seq[Row], maxRows: Int)

  /** The default row cap of a section. */
  val MaxRows = 50

  object Section {
    /** A section over a frame: collects at most `maxRows + 1` rows, one
      * past the cap so the cut is known. */
    def apply(title: String, table: DataFrame, maxRows: Int = MaxRows): Section =
      Section(title, table.columns.toSeq, table.limit(maxRows + 1).collect().toSeq, maxRows)
  }

  private val PageW = 612 // US Letter, points
  private val PageH = 792
  private val Margin = 54
  private val Leading = 12
  private val LinesPerPage = (PageH - 2 * Margin) / Leading // 57

  private def esc(s: String): String =
    s.flatMap {
      case '(' => "\\("
      case ')' => "\\)"
      case '\\' => "\\\\"
      case c if c >= ' ' && c < 127 => c.toString
      case _ => "?" // base-14 WinAnsi subset; non-ASCII is out of report scope
    }

  /** (font, size, text) lines; font "B"=Helvetica-Bold, "C"=Courier,
    * "H"=Helvetica. */
  private def tableLines(s: Section): Seq[(String, Int, String)] = {
    val cols = s.columns
    val truncated = s.rows.length > s.maxRows
    val shown = s.rows.take(s.maxRows).map(r =>
      cols.indices.map(i => String.valueOf(r.get(i))).toSeq)
    val widths = cols.indices.map { i =>
      (cols(i).length +: shown.map(_(i).length)).max.min(28)
    }
    def fmt(cells: Seq[String]): String =
      cells.zip(widths).map { case (c, w) =>
        (if (c.length > w) c.take(w - 1) + "~" else c).padTo(w, ' ')
      }.mkString("  ")
    val header = s.title + (if (truncated) s" (first ${s.maxRows} rows)" else "")
    ("B", 12, header) +:
      ("C", 8, fmt(cols)) +:
      ("C", 8, fmt(widths.map("-" * _))) +:
      shown.map(r => ("C", 8, fmt(r))) :+ ("H", 10, "")
  }

  /** Render the report to PDF bytes. */
  def render(title: String, subtitle: String, sections: Seq[Section]): Array[Byte] = {
    val lines: Seq[(String, Int, String)] =
      Seq(("B", 18, title), ("H", 11, subtitle), ("H", 10, "")) ++
        sections.zipWithIndex.flatMap { case (s, i) =>
          tableLines(s.copy(title = s"${i + 1}. ${s.title}"))
        }
    val pages = lines.grouped(LinesPerPage).toSeq
    val fontIds = Map("H" -> "/F1", "B" -> "/F2", "C" -> "/F3")

    val out = new java.io.ByteArrayOutputStream()
    var offsets = Vector.empty[Int]
    def emit(s: String): Unit = out.write(s.getBytes("ISO-8859-1"))
    def obj(body: String): Int = { // returns object number
      offsets :+= out.size()
      val n = offsets.length
      emit(s"$n 0 obj\n$body\nendobj\n")
      n
    }

    emit("%PDF-1.4\n")
    // objects 1..3 fonts, then per page (content, page), then pages, catalog
    val fH = obj("<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    val fB = obj("<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica-Bold >>")
    val fC = obj("<< /Type /Font /Subtype /Type1 /BaseFont /Courier >>")
    require(fH == 1 && fB == 2 && fC == 3)
    val pagesObjNum = 4 + 2 * pages.length // reserved; pages reference it
    val pageObjNums = pages.map { pageLines =>
      val content = new StringBuilder("BT\n")
      var y = PageH - Margin
      pageLines.foreach { case (font, size, text) =>
        if (text.nonEmpty)
          content ++= s"${fontIds(font)} $size Tf 1 0 0 1 $Margin $y Tm (${esc(text)}) Tj\n"
        y -= Leading
      }
      content ++= "ET"
      val stream = content.result()
      val cObj = obj(s"<< /Length ${stream.length} >>\nstream\n$stream\nendstream")
      obj(s"<< /Type /Page /Parent $pagesObjNum 0 R /MediaBox [0 0 $PageW $PageH] " +
        s"/Resources << /Font << /F1 $fH 0 R /F2 $fB 0 R /F3 $fC 0 R >> >> " +
        s"/Contents $cObj 0 R >>")
    }
    val kids = pageObjNums.map(n => s"$n 0 R").mkString(" ")
    val pagesObj = obj(s"<< /Type /Pages /Kids [$kids] /Count ${pages.length} >>")
    require(pagesObj == pagesObjNum)
    val catalog = obj(s"<< /Type /Catalog /Pages $pagesObj 0 R >>")

    val xrefPos = out.size()
    emit(s"xref\n0 ${offsets.length + 1}\n0000000000 65535 f \n")
    offsets.foreach(o => emit(f"$o%010d 00000 n \n"))
    emit(s"trailer\n<< /Size ${offsets.length + 1} /Root $catalog 0 R >>\n" +
      s"startxref\n$xrefPos\n%%EOF\n")
    out.toByteArray
  }

  /** Write the rendered report to a local path (the reference's
    * `generate_pdf(output_path)` contract). */
  def write(path: String, title: String, subtitle: String,
      sections: Seq[Section]): Unit = {
    val bytes = render(title, subtitle, sections)
    java.nio.file.Files.write(java.nio.file.Paths.get(path), bytes)
  }
}
