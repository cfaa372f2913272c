package graft.output

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Output shaping — the reference publishes each resolution in three CSV
  * shapes (singleindex wide / multiindex / stacked long) plus xlsx/sqlite
  * (SURVEY.md §2.1 S5–S7). The engine keeps data long internally and
  * renders shapes only at the export edge:
  *
  *  - stacked: one row per (series, ts, value) — scales to any series count;
  *  - singleindex: one column per flattened series name — inherently
  *    bounded (a CSV for humans), so it pivots with an explicit guard on
  *    the series count rather than pretending a 10^9-column frame exists;
  *  - multiindex/xlsx: out of scope (no offline xlsx writer); the column
  *    metadata that would populate the 6 header rows is emitted by
  *    Metadata.dataPackage instead.
  *
  * Timestamps render like the reference: `utc_timestamp` ISO-8601 Z plus
  * `cet_cest_timestamp` (Europe/Berlin local with offset, covering the DST
  * rendering the reference does with tz_convert).
  */
object OutputShapes {

  def utcIso(epochSec: Column): Column =
    date_format(timestamp_seconds(epochSec), "yyyy-MM-dd'T'HH:mm:ss'Z'")

  def cetCestIso(epochSec: Column): Column =
    date_format(
      from_utc_timestamp(timestamp_seconds(epochSec), "Europe/Berlin"),
      "yyyy-MM-dd'T'HH:mm:ss")

  /** Stacked long export: (series_flat, utc_timestamp, cet_cest_timestamp,
    * value, markers-rendered).
    */
  def stacked(
      tier: DataFrame,
      seriesFlat: Column,
      epochCol: String,
      valueCol: String
  ): DataFrame =
    tier.select(
      seriesFlat.as("series"),
      utcIso(col(epochCol)).as("utc_timestamp"),
      cetCestIso(col(epochCol)).as("cet_cest_timestamp"),
      col(valueCol).as("value"))

  /** Singleindex wide export: one row per timestamp, one column per series.
    * Guarded: refuses to pivot an unbounded series set (this shape exists
    * for human-scale publication, not for the raw corpus).
    */
  def singleIndex(
      tier: DataFrame,
      seriesFlat: Column,
      epochCol: String,
      valueCol: String,
      maxSeries: Int = 10000
  ): DataFrame = {
    val named = tier.select(col(epochCol).as("_ts"), seriesFlat.as("_series"),
      col(valueCol).as("_v"))
    // limit(maxSeries + 1) BOUNDS the driver fetch: pointed at a
    // 10^8-series table the guard fires after collecting maxSeries + 1
    // rows (TakeOrderedAndProject), never the full distinct set
    val series = named.select("_series").distinct()
      .orderBy("_series").limit(maxSeries + 1).collect().map(_.getString(0))
    require(series.length <= maxSeries,
      s"singleindex export over > $maxSeries series — this shape is a " +
        "last-mile artifact; use stacked (or parquet) for bulk output")
    named.groupBy(col("_ts"))
      .pivot("_series", series.toSeq)
      .agg(first(col("_v")))
      .withColumn("utc_timestamp", utcIso(col("_ts")))
      .withColumn("cet_cest_timestamp", cetCestIso(col("_ts")))
      .drop("_ts")
      .select((Seq(col("utc_timestamp"), col("cet_cest_timestamp")) ++
        series.map(col)): _*)
  }

  /** CSV sink (header, deterministic order via caller's sort). */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("header", "true").csv(path)

  /** Level names of the multiindex header block, in row order — the
    * reference's full 6-row region/variable/attribute/source/web/unit
    * header (`domain` plays `region`).
    */
  val MultiIndexLevels: Seq[String] =
    Seq("domain", "metric", "attribute", "source", "web", "unit")

  /** Levels participating in the flattened series name; `web` (the
    * source's documentation URL) labels columns in the header block but
    * never appears in flat names, matching the reference's singleindex
    * rendering.
    */
  val FlatNameLevels: Seq[String] =
    Seq("domain", "metric", "attribute", "source", "unit")

  /** CSV-escape one header cell (RFC 4180): null renders empty; cells
    * containing the separator, a quote, or a newline are quoted with
    * internal quotes doubled — so a `web` URL with commas cannot corrupt
    * the header block.
    */
  private[output] def csvCell(s: String): String =
    if (s == null) ""
    else if (s.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'))
      "\"" + s.replace("\"", "\"\"") + "\""
    else s

  /** CSV-aware split of one header line (inverse of [[csvCell]] joining). */
  private[output] def csvSplit(line: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var inQ = false
    var i = 0
    while (i < line.length) {
      val c = line.charAt(i)
      if (inQ) {
        if (c == '"') {
          if (i + 1 < line.length && line.charAt(i + 1) == '"') { cur += '"'; i += 1 }
          else inQ = false
        } else cur += c
      } else c match {
        case '"' => inQ = true
        case ',' => out += cur.result(); cur.clear()
        case _   => cur += c
      }
      i += 1
    }
    out += cur.result()
    out.toSeq
  }

  /** Multiindex export — the reference's signature publication shape: a
    * wide CSV whose header block carries one row per key level (the
    * reference's 6-row region/variable/attribute/source/web/unit header)
    * labelling every data column, then a column-name row, then data rows.
    *
    * `key` must be a struct with fields (domain, metric, attribute,
    * source, web, unit). Returns the pivoted body (utc/cet timestamp
    * columns first, series columns in sorted flat-name order) plus the
    * rendered header lines. Guarded like singleIndex: this shape exists
    * for human-scale publication, not the raw corpus.
    */
  def multiIndex(
      tier: DataFrame,
      key: Column,
      epochCol: String,
      valueCol: String,
      maxSeries: Int = 10000
  ): (DataFrame, Seq[String]) = {
    val flat = array_join(
      filter(array(FlatNameLevels.map(l => key.getField(l)): _*),
        x => x.isNotNull && x =!= ""), "_")
    val named = tier.select(col(epochCol).as("_ts"), flat.as("_series"),
      key.as("_k"), col(valueCol).as("_v"))
    // bounded fetch, same contract as singleIndex: the cap fires after
    // maxSeries + 1 driver rows, not after collecting the whole key set
    val keys = named
      .select(col("_series") +:
        MultiIndexLevels.map(l => col("_k").getField(l).as(l)): _*)
      .distinct().orderBy("_series").limit(maxSeries + 1).collect()
    require(keys.length <= maxSeries,
      s"multiindex export over > $maxSeries series — this shape is a " +
        "last-mile artifact; use stacked (or parquet) for bulk output")
    val flats = keys.map(_.getString(0)).toSeq
    // `web` labels columns but is excluded from flat names, so two keys
    // differing ONLY in web would collapse to one flat name — the pivot
    // would emit duplicate columns and the header block would go wider
    // than the body. Fail loudly instead of corrupting the export.
    require(flats.distinct.length == flats.length, {
      val dups = flats.groupBy(identity).collect { case (n, g) if g.length > 1 => n }
      s"duplicate flat series names (keys differing only in 'web'?): ${dups.mkString(", ")}"
    })
    val body = named.groupBy(col("_ts"))
      .pivot("_series", flats)
      .agg(first(col("_v")))
      .withColumn("utc_timestamp", utcIso(col("_ts")))
      .withColumn("cet_cest_timestamp", cetCestIso(col("_ts")))
      .drop("_ts")
      .select((Seq(col("utc_timestamp"), col("cet_cest_timestamp")) ++
        flats.map(col)): _*)
    val headers = MultiIndexLevels.zipWithIndex.map { case (lvl, i) =>
      (Seq(lvl, "") ++ keys.map(k => csvCell(k.getString(i + 1)))).mkString(",")
    } :+ (Seq("utc_timestamp", "cet_cest_timestamp") ++
      flats.map(csvCell)).mkString(",")
    (body, headers)
  }

  /** Assemble the single multiindex CSV file: header block + body rows
    * ordered by timestamp. The body is written by Spark (headerless,
    * single part — the shape is maxSeries-guarded human-scale) and the
    * bounded header block is prepended driver-side.
    */
  def writeMultiIndexCsv(body: DataFrame, headers: Seq[String], file: String): Unit = {
    import java.nio.file.{Files, Paths, StandardOpenOption}
    val tmp = file + ".body"
    body.orderBy("utc_timestamp").coalesce(1)
      .write.mode("overwrite").option("header", "false").csv(tmp)
    val bodyFile = {
      val s = Files.list(Paths.get(tmp))
      try s.filter(p => p.getFileName.toString.startsWith("part-"))
        .findFirst()
        .orElseThrow(() => new IllegalStateException(s"no part file under $tmp"))
      finally s.close()
    }
    Files.createDirectories(Paths.get(file).getParent)
    Files.write(Paths.get(file),
      (headers.mkString("", "\n", "\n")).getBytes("UTF-8"),
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    Files.write(Paths.get(file), Files.readAllBytes(bodyFile),
      StandardOpenOption.APPEND)
    // clean the temp body dir
    graft.table.ManifestTableLayer.deleteTree(Paths.get(tmp))
  }

  /** Parse a multiindex CSV back to the long shape (series, utc_timestamp,
    * cet_cest_timestamp, value-as-string). Header rows are dropped
    * STRUCTURALLY (data rows start with an ISO date, header rows with a
    * level name), so a data row can never be mistaken for a header.
    */
  def readMultiIndexCsv(
      spark: org.apache.spark.sql.SparkSession,
      file: String
  ): DataFrame = {
    // the column-name row sits right below the level rows; the header
    // block is bounded (levels + 1 lines), so this is a driver-side read
    // of a fixed prefix, not a data scan
    val nameRow = {
      val in = java.nio.file.Files.newBufferedReader(java.nio.file.Paths.get(file))
      try {
        (0 until MultiIndexLevels.length).foreach(_ => in.readLine())
        in.readLine()
      } finally in.close()
    }
    val names = csvSplit(nameRow)
    val raw = spark.read.option("header", "false").csv(file)
      .toDF(names: _*)
      .filter(col(names.head).rlike("^\\d{4}-\\d{2}-\\d{2}T"))
    val seriesCols = names.drop(2)
    val stacked = seriesCols.map { sc =>
      raw.select(lit(sc).as("series"),
        col(names.head).as("utc_timestamp"),
        col(names(1)).as("cet_cest_timestamp"),
        col(sc).as("value"))
    }.reduce(_ unionByName _)
    stacked.filter(col("value").isNotNull)
  }
}
