package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.output.{Metadata, OutputShapes}
import java.nio.file.Files

class OutputSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private lazy val tier = Seq(
    ("a_load", 1704067200L, 10.5), // 2024-01-01 00:00 UTC -> CET +1
    ("a_load", 1719792000L, 11.0), // 2024-07-01 00:00 UTC -> CEST +2
    ("b_load", 1704067200L, 20.0)
  ).toDF("series_flat", "ts", "v")

  test("stacked export renders UTC Z and CET/CEST local times (DST-aware)") {
    val out = OutputShapes.stacked(tier, col("series_flat"), "ts", "v")
      .as[(String, String, String, Double)].collect().sortBy(r => (r._1, r._2))
    assert(out(0) == ("a_load", "2024-01-01T00:00:00Z", "2024-01-01T01:00:00", 10.5))
    assert(out(1) == ("a_load", "2024-07-01T00:00:00Z", "2024-07-01T02:00:00", 11.0))
  }

  test("singleindex export pivots to one column per series, ts-ordered columns first") {
    val wide = OutputShapes.singleIndex(tier, col("series_flat"), "ts", "v")
    assert(wide.columns.toSeq ==
      Seq("utc_timestamp", "cet_cest_timestamp", "a_load", "b_load"))
    val rows = wide.orderBy("utc_timestamp").collect()
    assert(rows.length == 2)
    assert(rows(0).getDouble(2) == 10.5 && rows(0).getDouble(3) == 20.0)
    assert(rows(1).getDouble(2) == 11.0 && rows(1).isNullAt(3))
  }

  test("singleindex refuses unbounded pivots") {
    val e = intercept[IllegalArgumentException] {
      OutputShapes.singleIndex(tier, col("series_flat"), "ts", "v", maxSeries = 1)
    }
    assert(e.getMessage.contains("last-mile"))
  }

  test("multiindex refuses unbounded pivots with the last-mile message") {
    val key = struct(
      split(col("series_flat"), "_").getItem(0).as("domain"),
      lit("load").as("metric"), lit("actual").as("attribute"),
      lit("test").as("source"), lit("https://x").as("web"), lit("MW").as("unit"))
    val e = intercept[IllegalArgumentException] {
      OutputShapes.multiIndex(tier, key, "ts", "v", maxSeries = 1)
    }
    assert(e.getMessage.contains("last-mile"))
  }

  test("multiindex export renders the level-header block and round-trips values byte-stably") {
    val key = struct(
      split(col("series_flat"), "_").getItem(0).as("domain"),
      lit("load").as("metric"), lit("actual").as("attribute"),
      lit("test").as("source"),
      // comma in the web URL exercises the header-cell CSV escaping
      concat(lit("https://example.org/docs?a=1,b="),
        split(col("series_flat"), "_").getItem(0)).as("web"),
      lit("MW").as("unit"))
    val (body, headers) = OutputShapes.multiIndex(tier, key, "ts", "v")
    assert(headers.length == 7)
    assert(headers(0) == "domain,,a,b")
    assert(headers(4) ==
      "web,,\"https://example.org/docs?a=1,b=a\",\"https://example.org/docs?a=1,b=b\"")
    assert(headers(5) == "unit,,MW,MW")
    assert(headers(6) ==
      "utc_timestamp,cet_cest_timestamp,a_load_actual_test_MW,b_load_actual_test_MW")
    val file = SparkTestSession.tmpDir("multiindex-").resolve("multiindex.csv").toString
    OutputShapes.writeMultiIndexCsv(body, headers, file)
    // golden checksum: the full file (header block + DST-aware body) is
    // byte-stable across runs and partitionings
    assert(Metadata.sha256OfFile(java.nio.file.Paths.get(file)) ==
      "8efb3081b9ffb8886db52e3f47a42adf78aa34ba9280c0bf8ecf38559f580baa")
    val back = OutputShapes.readMultiIndexCsv(spark, file)
      .select("series", "utc_timestamp", "value")
      .as[(String, String, String)].collect().toSet
    assert(back == Set(
      ("a_load_actual_test_MW", "2024-01-01T00:00:00Z", "10.5"),
      ("a_load_actual_test_MW", "2024-07-01T00:00:00Z", "11.0"),
      ("b_load_actual_test_MW", "2024-01-01T00:00:00Z", "20.0")))
  }

  test("datapackage descriptor pins file checksums that re-verify") {
    val dir = SparkTestSession.tmpDir("export-")
    OutputShapes.writeCsv(
      OutputShapes.stacked(tier, col("series_flat"), "ts", "v")
        .orderBy("series", "utc_timestamp").coalesce(1),
      s"$dir/stacked")
    val json = Metadata.dataPackage("test-export", dir.toString,
      Seq(("stacked", tier)))
    assert(json.contains("sha256"))
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.readTree(Files.readString(dir.resolve("datapackage.json")))
    val files = node.get("resources").get(0).get("files")
    assert(files.size() >= 1)
    (0 until files.size()).foreach { i =>
      val f = files.get(i)
      val p = dir.resolve("stacked").resolve(f.get("file").asText())
      assert(Metadata.sha256OfFile(p) == f.get("sha256").asText())
      assert(Files.size(p) == f.get("bytes").asLong())
    }
  }
}
