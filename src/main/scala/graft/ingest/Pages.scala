package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.table.NioLocalFileSystem

/** Synthesis + ingestion of the engine's canonical input: an Iceberg-shaped
  * table of Common-Crawl-style web pages
  * `pages(url, warc_ts, html, text, lang)` (BASELINE.json input_hint).
  *
  * The sandbox has no crawl, so pages are DERIVED deterministically from the
  * driver's `documents` fixture (doc_id, text, lang, n_chars) — seeded by
  * doc_id arithmetic only, so the identical derivation is expressible in
  * ANSI SQL and the DuckDB oracle can rebuild the exact same table inside a
  * CTE. Design properties:
  *
  *  - 7-day span on a 15-minute grid (periods p = 0..671), warc_ts =
  *    2024-01-01T00:00Z + p*900s.
  *  - revisit cadence per doc: every (1 + doc_id % 4) periods — series of
  *    different densities.
  *  - injected gaps: a visit is dropped when ((p + doc_id*7) % 53) <
  *    (doc_id % 13) — deterministic runs of 0..12 missing periods, some
  *    within the fill limit (must be filled), some beyond (must stay null).
  *  - hot-domain skew: docs with doc_id % 5 < 2 all land on domain d0
  *    (~40% of traffic) — makes the salted two-phase aggregation observable;
  *    the rest spread over d1..d96.
  *  - `text` is taken VERBATIM from documents.text — the byte-identity
  *    invariant anchor (sha2(text) must survive every stage).
  *  - numeric metrics are exact in float64: text_chars/bytes are integers,
  *    `score` is a dyadic rational k/256 with |k| <= 1024, so any sum/mean
  *    is order-independent and bitwise-reproducible across engines.
  */
object Pages {

  val T0Epoch: Long = 1704067200L // 2024-01-01T00:00:00Z
  val PeriodSec: Long = 900L

  /** The derivation, Spark side. Mirrors `oracleCte` exactly (at
    * `replicate = 1`; higher values repeat the corpus with shifted doc_ids
    * to scale BENCHMARK input — the oracle contract only covers 1).
    */
  /** `domainMod` widens domain cardinality for scale benchmarks (default 97
    * keeps oracle-CTE parity — every oracle query uses the default). The
    * zipf head stays: doc_id % 5 < 2 always lands on d0 (~40% of traffic).
    */
  def synthesize(spark: SparkSession, sfDir: String, replicate: Int = 1,
      days: Int = 7, domainMod: Int = 97): DataFrame = {
    val base = spark.read.parquet(s"$sfDir/documents.parquet")
    val docs =
      if (replicate <= 1) base
      else (0 until replicate).map(i =>
        base.withColumn("doc_id", col("doc_id") + lit(i * 1000000L)))
        .reduce(_ unionByName _)
    val domS = when(col("doc_id") % 5 < 2, lit(0))
      .otherwise(col("doc_id") % domainMod).cast("long").cast("string")
    docs
      .select(col("doc_id"), col("text"), col("lang"), col("n_chars"))
      .withColumn("p", explode(sequence(lit(0), lit(days * 96 - 1))))
      .where(col("p") % (col("doc_id") % 4 + 1) === 0)
      .where((col("p") + col("doc_id") * 7) % 53 >= col("doc_id") % 13)
      .select(
        concat(lit("https://d"), domS,
          lit(".example/p/"), col("doc_id").cast("string")).as("url"),
        timestamp_seconds(lit(T0Epoch) + col("p") * PeriodSec).as("warc_ts"),
        encode(concat(lit("<html><body>"), col("text"), lit("</body></html>")),
          "UTF-8").as("html"),
        col("text"),
        col("lang"),
        // carried through for exact metric derivation downstream
        col("doc_id"), col("p"), col("n_chars"),
        // metric-bearing columns pre-derived from the arithmetic seed, so
        // metric-only consumers (toPoints -> every tier/rollup query) never
        // reference url/html/text and Catalyst prunes the wide columns out
        // of the scan AND skips the concat/encode construction entirely —
        // same values the oracle CTE derives (domain, epoch_s from doc_id/p)
        concat(lit("d"), domS, lit(".example")).as("domain"),
        (lit(T0Epoch) + col("p") * PeriodSec).as("epoch_s")
      )
  }

  /** The same derivation as a SQL CTE body over table `documents`, for the
    * DuckDB oracle. Produces columns:
    * url, epoch_s, domain, doc_id, p, n_chars, text, lang, html_len, score.
    */
  // NB: kept single-line (mkString below) — this fragment is interpolated
  // into outer stripMargin strings, which would otherwise re-strip the `|`
  // of SQL `||` concatenation at line starts.
  val oracleCte: String =
    """SELECT
      |  'https://d' || CAST(CASE WHEN doc_id % 5 < 2 THEN 0 ELSE doc_id % 97 END AS VARCHAR)
      |    || '.example/p/' || CAST(doc_id AS VARCHAR) AS url,
      |  1704067200 + p * 900 AS epoch_s,
      |  'd' || CAST(CASE WHEN doc_id % 5 < 2 THEN 0 ELSE doc_id % 97 END AS VARCHAR) || '.example' AS domain,
      |  doc_id, p, n_chars, text, lang,
      |  n_chars + 26 AS html_len,
      |  CAST((doc_id * 31 + p) % 2048 - 1024 AS DOUBLE) / 256.0 AS score
      |FROM documents
      |CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(0, 671)) AS p) g
      |WHERE p % (doc_id % 4 + 1) = 0
      |  AND (p + doc_id * 7) % 53 >= doc_id % 13""".stripMargin
      .linesIterator.map(_.trim).mkString(" ")

  /** pages -> long-format points, one row per (page, metric).
    * Metrics (all exact in float64):
    *   text_chars — length of extracted text (chars)
    *   bytes      — length of html payload (bytes)
    *   score      — dyadic-rational synthetic quality score
    * Series key = (domain, metric, attribute="", source="crawl", unit).
    */
  def toPoints(pages: DataFrame): DataFrame = {
    // domain/epoch_s come pre-derived from synthesize (identical values to
    // the regex/unix_timestamp forms they replace), and bytes uses the
    // html_len = n_chars + 26 identity the oracle CTE states — so this
    // projection references NO wide column (url/html/text) and the whole
    // pages->points path runs off the (doc_id, p, n_chars) scan alone
    // (guide §2.3 "project before the exchange": ~KB of html per row was
    // being constructed and immediately reduced to its length)
    val base = pages.select(
      col("domain"),
      col("epoch_s"),
      col("n_chars").cast("double").as("text_chars"),
      (col("n_chars") + 26).cast("double").as("bytes"),
      ((col("doc_id") * 31 + col("p")) % 2048 - 1024).cast("double")
        .divide(lit(256.0)).as("score")
    )
    base.select(
      col("domain"), col("epoch_s"),
      explode(map(
        lit("text_chars"), col("text_chars"),
        lit("bytes"), col("bytes"),
        lit("score"), col("score")
      )).as(Seq("metric", "value"))
    )
  }

  /** Write the pages table the way the 100 TB layout would be organized:
    * partitioned by (bucket = url-hash % B, day) — bucket kills hot-domain
    * skew at the storage layer, day gives time-range partition pruning.
    * Written through [[NioLocalFileSystem]].
    */
  def writePartitioned(pages: DataFrame, outPath: String, buckets: Int): Unit = {
    NioLocalFileSystem.write(pages
      .withColumn("bucket", pmod(xxhash64(col("url")), lit(buckets)).cast("int"))
      .withColumn("day", to_date(col("warc_ts")))
      .repartition(col("bucket"), col("day")))
      .mode("overwrite")
      .partitionBy("bucket", "day")
      .parquet(outPath)
  }

  /** Per-row invariant (BASELINE.json input_hint): extracted text must be
    * byte-identical per url at every stage. Returns rows that VIOLATE the
    * invariant between two stage outputs carrying (url, text) — empty
    * DataFrame == invariant holds.
    */
  def textInvariantViolations(before: DataFrame, after: DataFrame): DataFrame = {
    val b = before.select(col("url"), sha2(col("text"), 256).as("h")).distinct()
    val a = after.select(col("url"), sha2(col("text"), 256).as("h")).distinct()
    a.join(b, Seq("url"), "inner")
      .where(a("h") =!= b("h"))
      .select(col("url"))
      .union(a.join(b, Seq("url"), "left_anti").select(col("url")))
  }
}
