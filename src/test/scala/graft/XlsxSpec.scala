package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ingest.Xlsx
import java.nio.file.{Files, Paths}
import java.util.zip.{ZipEntry, ZipOutputStream}

class XlsxSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def freshDir(): String =
    SparkTestSession.tmpDir("xlsx-test-").toString

  /** Hand-assembled xlsx, INDEPENDENT of Xlsx.writeXlsx — the reader must
    * parse third-party workbooks, not just its own sink's output. Uses
    * sharedStrings (t="s"), inline strings, sparse cell refs (gaps),
    * and a blank numeric cell.
    */
  private def handBuiltXlsx(path: String): Unit = {
    val shared =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="3" uniqueCount="3">""" +
        """<si><t>alpha</t></si><si><t>be</t><t>ta</t></si><si><t>a &amp; b &lt;c&gt;</t></si></sst>"""
    val sheet =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""" +
        // row 1: shared string, number, rich-text shared string
        """<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1"><v>42</v></c><c r="C1" t="s"><v>1</v></c></row>""" +
        // row 2: SPARSE — only C2 present (A2/B2 are gaps -> null)
        """<row r="2"><c r="C2"><v>2.5</v></c></row>""" +
        // row 3: inline string with escapes, blank numeric cell, shared escape string
        """<row r="3"><c r="A3" t="inlineStr"><is><t>x &amp; &lt;y&gt;</t></is></c><c r="B3"></c><c r="C3" t="s"><v>2</v></c></row>""" +
        """</sheetData></worksheet>"""
    val parts = Seq(
      "[Content_Types].xml" -> """<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types"/>""",
      "xl/sharedStrings.xml" -> shared,
      "xl/worksheets/sheet1.xml" -> sheet)
    val zout = new ZipOutputStream(Files.newOutputStream(Paths.get(path)))
    try parts.foreach { case (n, c) =>
      zout.putNextEntry(new ZipEntry(n)); zout.write(c.getBytes("UTF-8")); zout.closeEntry()
    } finally zout.close()
  }

  test("parse handles shared strings, rich-text runs, XML escapes, sparse refs, blank cells") {
    val dir = freshDir()
    handBuiltXlsx(s"$dir/hand.xlsx")
    val rows = Xlsx.parse(Files.readAllBytes(Paths.get(s"$dir/hand.xlsx")))
    assert(rows(0) == Vector("alpha", java.lang.Double.valueOf(42), "beta"))
    assert(rows(1) == Vector(null, null, java.lang.Double.valueOf(2.5)))
    assert(rows(2) == Vector("x & <y>", null, "a & b <c>"))
  }

  test("write -> read roundtrip is lossless (strings, longs, doubles, nulls)") {
    val dir = freshDir()
    val df = Seq(
      ("d1 & <esc>", Some(1L), Some(0.1)),
      ("d2", None, Some(-3.25e-7)),
      ("d3", Some(-9007199254740993L), None) // past 2^53: stored as double
    ).toDF("name", "n", "v")
      .select(col("name"), col("n").cast("double"), col("v"))
    Xlsx.writeXlsx(df, s"$dir/out.xlsx")
    val back = Xlsx.readSheet(spark, dir)
    assert(back.schema.map(f => (f.name, f.dataType.typeName)) ==
      Seq(("name", "string"), ("n", "double"), ("v", "double")))
    assert(back.orderBy("name").collect().toSeq ==
      df.orderBy("name").collect().toSeq)
  }

  test("multi-file read parses each workbook on an executor and unions rows") {
    val dir = freshDir()
    Xlsx.writeXlsx(Seq(("a", 1.0)).toDF("k", "v"), s"$dir/f1.xlsx")
    Xlsx.writeXlsx(Seq(("b", 2.0), ("c", 3.0)).toDF("k", "v"), s"$dir/f2.xlsx")
    val back = Xlsx.readSheet(spark, dir)
    assert(back.count() == 3)
    assert(back.as[(String, Double)].collect().toSet ==
      Set(("a", 1.0), ("b", 2.0), ("c", 3.0)))
    // genuinely distributed: the parse runs inside tasks, one per file
    assert(back.rdd.getNumPartitions >= 1)
  }

  test("EU time-series workbook: flattened multi-row header, blanks -> null") {
    val dir = freshDir()
    // hand-built workbook (reader independence): two header rows with a
    // blank level over the timestamp column, one GAP cell (no <c>) for
    // the null load value
    def str(ref: String, s: String) =
      s"""<c r="$ref" t="inlineStr"><is><t>$s</t></is></c>"""
    def num(ref: String, v: Double) = s"""<c r="$ref"><v>$v</v></c>"""
    val dataRows = (0 until 4).map { i =>
      val r = i + 3
      str(s"A$r", f"2024-01-01T0$i%01d:00:00Z") +
        (if (i == 2) "" else num(s"B$r", 1000.0 + i * 1.5)) +
        num(s"C$r", i * 0.25)
    }
    val sheet =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""" +
        s"""<row r="1">${str("A1", "timestamp")}${str("B1", "DE_load")}${str("C1", "DE_wind")}</row>""" +
        s"""<row r="2">${str("B2", "actual")}${str("C2", "actual")}</row>""" +
        dataRows.zipWithIndex.map { case (cells, i) =>
          s"""<row r="${i + 3}">$cells</row>""" }.mkString +
        """</sheetData></worksheet>"""
    val zout = new ZipOutputStream(Files.newOutputStream(Paths.get(s"$dir/eu.xlsx")))
    try {
      zout.putNextEntry(new ZipEntry("xl/worksheets/sheet1.xml"))
      zout.write(sheet.getBytes("UTF-8")); zout.closeEntry()
    } finally zout.close()
    val ts = Xlsx.readEuTimeSeries(spark, dir, headerRows = 2)
    assert(ts.columns.toSeq == Seq("ts", "DE_load_actual", "DE_wind_actual"))
    val got = ts.orderBy("ts")
      .select(unix_timestamp(col("ts")), col("DE_load_actual"), col("DE_wind_actual"))
      .collect().toSeq.map(r => (r.getLong(0),
        if (r.isNullAt(1)) null else r.getDouble(1): java.lang.Double,
        r.getDouble(2)))
    assert(got == Seq(
      (1704067200L, 1000.0: java.lang.Double, 0.0),
      (1704070800L, 1001.5: java.lang.Double, 0.25),
      (1704074400L, null, 0.5),
      (1704078000L, 1004.5: java.lang.Double, 0.75)))
  }

  test("omitted blank rows (row r= gaps) keep later rows aligned") {
    val dir = freshDir()
    // Excel omits <row> elements for blank rows entirely: row 2 is absent,
    // data resumes at r="4" — the parser must insert the empty rows so
    // header/data offsets (readSheet's drop(1), readEuTimeSeries'
    // drop(headerRows)) stay aligned
    val sheet =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""" +
        """<row r="1"><c r="A1" t="inlineStr"><is><t>k</t></is></c></row>""" +
        """<row r="4"><c r="A4"><v>7.5</v></c></row>""" +
        """</sheetData></worksheet>"""
    val zout = new ZipOutputStream(Files.newOutputStream(Paths.get(s"$dir/gap.xlsx")))
    try {
      zout.putNextEntry(new ZipEntry("xl/worksheets/sheet1.xml"))
      zout.write(sheet.getBytes("UTF-8")); zout.closeEntry()
    } finally zout.close()
    val rows = Xlsx.parse(Files.readAllBytes(Paths.get(s"$dir/gap.xlsx")))
    assert(rows.length == 4)
    assert(rows(0) == Vector("k"))
    assert(rows(1).isEmpty && rows(2).isEmpty)
    assert(rows(3) == Vector(java.lang.Double.valueOf(7.5)))
  }

  test("first sheet resolves by workbook order, not part-name lexical order") {
    val dir = freshDir()
    // workbook order says sheet10.xml is FIRST; lexically "sheet10.xml" >
    // "sheet2.xml" is false ("sheet10" < "sheet2"), so make the workbook
    // point at sheet2.xml while sheet10.xml sorts first — a lexical-min
    // reader picks the wrong sheet
    def oneCell(s: String) =
      """<?xml version="1.0"?><worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""" +
        s"""<row r="1"><c r="A1" t="inlineStr"><is><t>$s</t></is></c></row>""" +
        """</sheetData></worksheet>"""
    val workbook =
      """<?xml version="1.0"?><workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">""" +
        """<sheets><sheet name="first" sheetId="1" r:id="rId9"/><sheet name="second" sheetId="2" r:id="rId3"/></sheets></workbook>"""
    val rels =
      """<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
        """<Relationship Id="rId3" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet10.xml"/>""" +
        """<Relationship Id="rId9" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet2.xml"/>""" +
        """</Relationships>"""
    val parts = Seq(
      "xl/workbook.xml" -> workbook,
      "xl/_rels/workbook.xml.rels" -> rels,
      "xl/worksheets/sheet10.xml" -> oneCell("WRONG"),
      "xl/worksheets/sheet2.xml" -> oneCell("RIGHT"))
    val zout = new ZipOutputStream(Files.newOutputStream(Paths.get(s"$dir/order.xlsx")))
    try parts.foreach { case (n, c) =>
      zout.putNextEntry(new ZipEntry(n)); zout.write(c.getBytes("UTF-8")); zout.closeEntry()
    } finally zout.close()
    val rows = Xlsx.parse(Files.readAllBytes(Paths.get(s"$dir/order.xlsx")))
    assert(rows == Vector(Vector("RIGHT")))
  }

  test("sink enforces the Excel sheet row cap") {
    val dir = freshDir()
    val df = (1 to 10).map(i => (i, i * 1.0)).toDF("a", "b")
    val e = intercept[IllegalArgumentException] {
      Xlsx.writeXlsx(df, s"$dir/cap.xlsx", maxRows = 5)
    }
    assert(e.getMessage.contains("last-mile"))
  }
}
