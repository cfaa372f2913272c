package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ingest.CsvSource
import java.nio.file.Files

/** S2 parity tests: EU decimal-comma numbers, multi-row headers,
  * coerce-to-null, ISO timestamps (OPSD read.py parser semantics).
  */
class CsvSourceSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private lazy val csvPath = {
    val dir = SparkTestSession.tmpDir("csv-test-")
    val f = dir.resolve("tso.csv")
    Files.writeString(f,
      """timestamp;DE_load;DE_wind
        |;actual;actual
        |2024-01-01T00:00:00Z;1.234,5;56,25
        |2024-01-01T00:15:00Z;2.000,0;n/a
        |2024-01-01T00:30:00Z;-17,5;0,125
        |""".stripMargin)
    f.toString
  }

  test("decimal-comma numbers parse exactly; unparseable coerces to null") {
    val df = CsvSource.readEuTimeSeries(spark, csvPath, headerRows = 2)
    assert(df.columns.toSeq == Seq("ts", "DE_load_actual", "DE_wind_actual"))
    val rows = df.orderBy("ts")
      .select("DE_load_actual", "DE_wind_actual")
      .collect()
      .map(r => (Option(r.get(0)), Option(r.get(1))))
      .toSeq
    assert(rows == Seq(
      (Some(1234.5), Some(56.25)),
      (Some(2000.0), None), // n/a -> null (to_numeric errors='coerce')
      (Some(-17.5), Some(0.125))))
  }

  test("timestamps parse as UTC instants") {
    val df = CsvSource.readEuTimeSeries(spark, csvPath, headerRows = 2)
    val ts = df.select(org.apache.spark.sql.functions.unix_timestamp($"ts"))
      .as[Long].collect().sorted.toSeq
    assert(ts == Seq(1704067200L, 1704068100L, 1704069000L))
  }

  test("a data row textually equal to a header line survives (positional drop)") {
    val dir = SparkTestSession.tmpDir("csv-test-")
    val f = dir.resolve("evil.csv")
    // row 3's content equals the first header line byte-for-byte
    Files.writeString(f,
      """name;kind
        |a;x
        |name;kind
        |b;y
        |""".stripMargin)
    val df = CsvSource.readMultiHeader(spark, f.toString, headerRows = 1)
    val rows = df.collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(rows == Set(("a", "x"), ("name", "kind"), ("b", "y")),
      s"header-identical data row must survive, got $rows")
  }

  /** 2024-10-27 is the autumn DST transition in Europe/Berlin: wall times
    * 02:00–02:59 occur twice (CEST +2 then CET +1).
    */
  private lazy val dstCsvPath = {
    val dir = SparkTestSession.tmpDir("csv-dst-")
    val f = dir.resolve("local.csv")
    Files.writeString(f,
      """timestamp;DE_load
        |;actual
        |2024-10-27 01:30:00;1,0
        |2024-10-27 02:30:00;2,0
        |2024-10-27 03:30:00;3,0
        |""".stripMargin)
    f.toString
  }

  test("CET/CEST local parsing: ambiguous=earliest folds to the first occurrence") {
    val df = CsvSource.readEuTimeSeries(spark, dstCsvPath, headerRows = 2,
      sourceTz = "Europe/Berlin", ambiguous = "earliest")
    val ts = df.select(org.apache.spark.sql.functions.unix_timestamp($"ts"))
      .as[Long].collect().sorted.toSeq
    // 01:30 CEST = 23:30Z(-1d); 02:30 earliest = CEST = 00:30Z; 03:30 CET = 02:30Z
    assert(ts == Seq(1729985400L, 1729989000L, 1729996200L),
      s"got ${ts.map(java.time.Instant.ofEpochSecond(_))}")
  }

  /** Australia/Lord_Howe ends DST on 2024-04-07: 02:00 LHDT (+11:00) falls
    * back to 01:30 LHST (+10:30) — a THIRTY-minute fold. Wall times
    * 01:30–01:59 occur twice; the fold width must be derived from the
    * zone's rules, not hardcoded to an hour.
    */
  private lazy val lordHoweCsvPath = {
    val dir = SparkTestSession.tmpDir("csv-lh-")
    val f = dir.resolve("local.csv")
    Files.writeString(f,
      """timestamp;LH_load
        |;actual
        |2024-04-07 00:45:00;1,0
        |2024-04-07 01:45:00;2,0
        |2024-04-07 02:45:00;3,0
        |""".stripMargin)
    f.toString
  }

  test("half-hour-offset zone: the 30-minute fold is derived from ZoneRules, both policies") {
    val earliest = CsvSource.readEuTimeSeries(spark, lordHoweCsvPath,
        headerRows = 2, sourceTz = "Australia/Lord_Howe", ambiguous = "earliest")
      .select(org.apache.spark.sql.functions.unix_timestamp($"ts"))
      .as[Long].collect().sorted.toSeq
    // 00:45 +11 = 13:45Z; ambiguous 01:45 earliest (+11) = 14:45Z;
    // 02:45 +10:30 = 16:15Z
    assert(earliest == Seq(1712411100L, 1712414700L, 1712420100L),
      s"got ${earliest.map(java.time.Instant.ofEpochSecond(_))}")
    val latest = CsvSource.readEuTimeSeries(spark, lordHoweCsvPath,
        headerRows = 2, sourceTz = "Australia/Lord_Howe", ambiguous = "latest")
      .select(org.apache.spark.sql.functions.unix_timestamp($"ts"))
      .as[Long].collect().sorted.toSeq
    // ambiguous 01:45 latest (+10:30) = 15:15Z — exactly 1800 s later,
    // NOT 3600; unambiguous rows unchanged
    assert(latest == Seq(1712411100L, 1712416500L, 1712420100L),
      s"got ${latest.map(java.time.Instant.ofEpochSecond(_))}")
  }

  test("CET/CEST local parsing: ambiguous=latest folds to the second occurrence") {
    val df = CsvSource.readEuTimeSeries(spark, dstCsvPath, headerRows = 2,
      sourceTz = "Europe/Berlin", ambiguous = "latest")
    val ts = df.select(org.apache.spark.sql.functions.unix_timestamp($"ts"))
      .as[Long].collect().sorted.toSeq
    // ambiguous 02:30 -> CET = 01:30Z; unambiguous rows unchanged
    assert(ts == Seq(1729985400L, 1729992600L, 1729996200L),
      s"got ${ts.map(java.time.Instant.ofEpochSecond(_))}")
  }

  test("source registry config parses reader, params, tz policy, and column maps per source") {
    import graft.ingest.SourceRegistry
    val specs = SourceRegistry.parse(
      """# comment line
        |entso:
        |  format: csv
        |  path: /data/entso
        |  sep: ;
        |  header_rows: 3
        |  tz: Europe/Berlin
        |  ambiguous: latest
        |  columns:
        |    DE_load_actual_entso_MW: de_load
        |    DE_wind_actual_entso_MW: de_wind
        |tso:
        |  format: xlsx
        |  path: /data/tso
        |  header_rows: 2
        |  columns:
        |    AT_gen_actual: at_gen
        |""".stripMargin)
    assert(specs.map(_.name) == Seq("entso", "tso"))
    val e = specs.head
    assert(e.format == "csv" && e.path == "/data/entso" && e.sep == ";" &&
      e.headerRows == 3 && e.tz == "Europe/Berlin" && e.ambiguous == "latest")
    assert(e.columnMap == Map("DE_load_actual_entso_MW" -> "de_load",
      "DE_wind_actual_entso_MW" -> "de_wind"))
    val t = specs(1)
    assert(t.format == "xlsx" && t.tz == "" && t.headerRows == 2 &&
      t.columnMap == Map("AT_gen_actual" -> "at_gen"))
    // unknown keys and missing format fail loudly, not silently
    intercept[IllegalArgumentException] {
      SourceRegistry.parse("s:\n  formt: csv\n  path: /x\n")
    }
    intercept[IllegalArgumentException] {
      SourceRegistry.parse("s:\n  path: /x\n")
    }
  }
}
