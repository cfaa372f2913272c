package graft.pipeline

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import java.nio.file.{Files, Path}
import graft.ingest.Pages
import graft.rollup.TimeSeriesOps
import graft.chunk.ChunkWriter
import graft.table.{ManifestTableLayer, PartitionMeta}
import graft.checkpoint.Checkpoint
import graft.retention.Retention

/** The end-to-end engine pipeline over a canonical
  * `pages(url, warc_ts, html, text, lang)` table (SURVEY.md §3.4):
  *
  *   pages (partitioned bucket x day)
  *     -> points (domain-level metrics derived from the page row ONLY)
  *     -> 15min tier  (algebraic partials, per-day partitions)
  *     -> 30min, hourly, daily tiers (each chained from the stored tier
  *        before it)
  *     -> Gorilla chunk partitions + delta index per day
  *   computed per stage, committed per (tier, day) partition in a
  *   ManifestTableLayer; retention sweeps raw tiers, aggregates survive.
  *
  * Every stage is one query and one dynamic-partition write over all the
  * days it builds; the build ([[runRollup]]) and the refreshes
  * ([[applyDelta]], [[forgetUrls]]) run the same stages and differ only in
  * how they commit: one commit per (tier, day) partition for the resumable
  * build, one copy-on-write swap per stage for a refresh.
  *
  * Partition-independence invariant: every partition is a pure function of
  * one day of the stage before it (windows never span days: 900 | 3600 |
  * 86400 all divide a day), so a stage can build any subset of days in one
  * job and a crashed build resumes by recomputing only the uncommitted
  * days. Gap-fill is a query-time op over stored tiers (OPSD semantics,
  * cross-day windows) rather than part of the per-day build.
  */
object Pipeline {

  /** Retention tiers in chain order: each aggregates the PREVIOUS one
    * (continuous aggregates — raw pages are read once, by 15min only).
    * Carries all three OPSD native resolutions (15/30/60 min) plus daily.
    */
  val Tiers: Seq[(String, Long)] =
    Seq("15min" -> 900L, "30min" -> 1800L, "1h" -> 3600L, "1d" -> 86400L)

  /** Long-format points derived purely from canonical page columns. */
  def pointsFromPages(pages: DataFrame): DataFrame = {
    val base = pages.select(
      regexp_extract(col("url"), "https://([^/]+)/", 1).as("domain"),
      unix_timestamp(col("warc_ts")).as("epoch_s"),
      length(col("text")).cast("double").as("text_chars"),
      length(col("html")).cast("double").as("bytes"))
    base.select(col("domain"), col("epoch_s"),
      explode(map(
        lit("text_chars"), col("text_chars"),
        lit("bytes"), col("bytes"))).as(Seq("metric", "value")))
  }

  /** 15-min tier directly from pages in ONE aggregation pass: both metrics
    * are aggregated as columns of the same groupBy and only the 10^4x
    * smaller aggregated rows are exploded into long format. Bitwise-equal
    * to `tier(pointsFromPages(pages))` (PipelineSpec) but the shuffle and
    * the explode see |series x buckets| rows instead of 2x|pages| — at
    * crawl scale the difference between moving terabytes and megabytes.
    */
  def tier15FromPages(pages: DataFrame): DataFrame = {
    val periodSec = 900L
    pages
      .select(
        regexp_extract(col("url"), "https://([^/]+)/", 1).as("domain"),
        TimeSeriesOps.bucketStart(unix_timestamp(col("warc_ts")), periodSec)
          .as("bucket_ts"),
        length(col("text")).cast("double").as("text_chars"),
        length(col("html")).cast("double").as("bytes"))
      .groupBy(col("domain"), col("bucket_ts"))
      .agg(
        count(col("text_chars")).as("n_tc"), sum(col("text_chars")).as("s_tc"),
        count(col("bytes")).as("n_by"), sum(col("bytes")).as("s_by"))
      .select(col("domain"), col("bucket_ts"),
        explode(map(
          lit("text_chars"), struct(col("n_tc").as("n"), col("s_tc").as("sum_v")),
          lit("bytes"), struct(col("n_by").as("n"), col("s_by").as("sum_v"))))
          .as(Seq("metric", "agg")))
      .select(col("domain"), col("metric"), col("bucket_ts"),
        col("agg.n").as("n"), col("agg.sum_v").as("sum_v"),
        (col("agg.sum_v") / col("agg.n")).as("mean_v"))
  }

  private val seriesCols = Seq("domain", "metric")

  def tierKey(tier: String, day: String) = s"tier=$tier/day=$day"
  def chunkKey(tier: String, day: String) = s"chunks-$tier/day=$day"
  def indexKey(tier: String, day: String) = s"index-$tier/day=$day"

  /** Distinct days present in the pages table (partition column if the
    * table is partitioned, derived otherwise).
    */
  def listDays(spark: SparkSession, pagesPath: String): Seq[String] = {
    val pages = spark.read.parquet(pagesPath)
    val withDay =
      if (pages.columns.contains("day")) pages.select(col("day").cast("string"))
      else pages.select(to_date(col("warc_ts")).cast("string").as("day"))
    withDay.distinct().collect().map(_.getString(0)).sorted.toSeq
  }

  /** Build all tier + chunk partitions for the given days, resumable:
    * each stage writes every day missing from the current snapshot in one
    * job to its staging dir (`build-<stage>-r0`, which a resume's write
    * overwrites), then commits them one (tier, day) at a time. A crash
    * loses at most the uncommitted days of one stage. `failAfter >= 0`
    * crashes after that many commits (test hook). Returns the number of
    * newly committed partitions.
    */
  def runRollup(
      spark: SparkSession,
      pagesPath: String,
      table: ManifestTableLayer,
      days: Seq[String],
      chunkMaxPoints: Int = 1024,
      indexBuckets: Int = 16,
      failAfter: Int = -1
  ): Int = {
    val pages = spark.read.parquet(pagesPath)
    val pageDay =
      (if (pages.columns.contains("day")) col("day") else to_date(col("warc_ts")))
        .cast("string")
    val chain = stages(spark, table,
      ds => tier15FromPages(pages.filter(pageDay.isin(ds: _*))),
      chunkMaxPoints, indexBuckets)
    chain.foldLeft(0) { (n, stage) =>
      val done = table.currentPartitions().map(_.key).toSet
      val missing = days.filterNot(d => done.contains(stage.keyOf(d)))
      if (missing.isEmpty) n
      else {
        val staging = table.dataDir(s"build-${stage.name}-r0")
        Checkpoint.commitEach(table, staging,
          writeStage(stage, missing, staging, "build"), n, failAfter)
      }
    }
  }

  /** INCREMENTAL tier refresh (materialized-view maintenance): merge a
    * LATE batch of pages into the stored tier chain without rebuilding
    * unaffected days. Because tiers store ALGEBRAIC partials (sum, n), a
    * delta is pure addition — merged(n, sum) = stored + delta per
    * (series, bucket) — so ALL touched days of the 15-min tier merge in
    * ONE distributed aggregation over (stored partitions ∪ delta
    * partials), each higher tier re-chains from its freshly merged child
    * in one aggregation per TIER (work bounded by the touched days,
    * never the corpus — and the job count bounded by the TIER count,
    * never the day count: a year-long backfill is ~6 stage commits, not
    * ~1,800 driver-serialized jobs), and the touched days' Gorilla
    * chunks + index rebuild in one keyed job each (compressed sorted
    * blobs don't merge incrementally; day-bounded scope keeps it cheap).
    * A delta may introduce entirely new days — those build fresh.
    *
    * This is the batch/store-level form of the revision patching the
    * reference does with combine_first + full re-runs [pub: main.ipynb
    * version patching], and the batch twin of the streaming MERGE sink.
    * Returns the refreshed days.
    */
  def applyDelta(
      spark: SparkSession,
      deltaPages: DataFrame,
      table: ManifestTableLayer,
      chunkMaxPoints: Int = 1024,
      indexBuckets: Int = 16
  ): Seq[String] = {
    import spark.implicits._
    val withDay = deltaPages
      .withColumn("_day", to_date(col("warc_ts")).cast("string")).persist()
    try {
      val days = withDay.select("_day").distinct().as[String].collect().sorted.toSeq
      if (days.isEmpty) return days
      val current = table.currentPartitions().map(p => p.key -> p).toMap
      def touchedPaths(keyOf: String => String): Seq[String] =
        days.flatMap(d => current.get(keyOf(d)).map(_.path))

      // ---- 15-min: stored partials of ALL touched days ∪ delta partials,
      // summed in ONE distributed aggregation — exact algebra, regardless
      // of how many days the delta spans. (The previous shape looped the
      // days from the driver: ~5 serialized jobs per day; a year-long
      // backfill was ~1,800 driver-launched jobs.)
      val tierCols = Seq("domain", "metric", "bucket_ts", "n", "sum_v")
      val d15 = tier15FromPages(withDay.drop("_day")).select(tierCols.map(col): _*)
      val stored15 = touchedPaths(d => tierKey("15min", d))
      val base15 =
        if (stored15.isEmpty) d15
        else spark.read.parquet(stored15: _*).select(tierCols.map(col): _*)
          .unionByName(d15)
      val merged15 = base15
        .groupBy(col("domain"), col("metric"), col("bucket_ts"))
        .agg(sum(col("n")).as("n"), sum(col("sum_v")).as("sum_v"))
        .withColumn("mean_v", col("sum_v") / col("n"))
        .select("domain", "metric", "bucket_ts", "n", "sum_v", "mean_v")
      refreshChainFrom15(spark, table, merged15, days, "delta",
        chunkMaxPoints, indexBuckets)
      days
    } finally withDay.unpersist()
  }

  /** GDPR / right-to-be-forgotten delete, propagated through the store:
    * remove every row of the given urls from the raw pages store AND
    * rebuild exactly the tier/chunk/index partitions those rows
    * contributed to. Deletes are NOT algebraic over the stored (n, sum)
    * partials — subtracting would have to trust values that are being
    * erased — so the touched days RECOMPUTE their 15-min tier from the
    * PATCHED raw pages; the rest of the chain is the same
    * one-job-per-stage copy-on-write refresh as [[applyDelta]].
    *
    * Scale shape: a url lives in exactly ONE storage bucket
    * (bucket = url-hash), so the raw patch dynamic-partition-overwrites
    * only the (bucket, day) dirs that held the url — at 100 TB a
    * single-user erasure touches |days| files of one bucket, never the
    * corpus. Days whose pages are erased ENTIRELY are dropped from the
    * table (their partitions would otherwise go stale), not rebuilt.
    * Returns (refreshed days, dropped days).
    *
    * Crash semantics: the raw patch lands first, tier refreshes after,
    * each stage an atomic snapshot commit — a crash mid-way leaves raw
    * clean but some tiers stale (still carrying the urls' aggregates)
    * until the same call is retried to completion. Erasure is proven by
    * the snapshot diff (`q_erasure_proof`), not by the call returning.
    */
  def forgetUrls(
      spark: SparkSession,
      pagesPath: String,
      table: ManifestTableLayer,
      urls: Seq[String],
      buckets: Int = 16,
      chunkMaxPoints: Int = 1024,
      indexBuckets: Int = 16
  ): (Seq[String], Seq[String]) = {
    import spark.implicits._
    require(urls.nonEmpty, "forgetUrls needs at least one url")
    val pages = spark.read.parquet(pagesPath)
    val hit = pages.filter(col("url").isin(urls: _*))
      .select(col("bucket"), col("day").cast("string"))
      .distinct().as[(Int, String)].collect()
    if (hit.isEmpty) return (Seq.empty, Seq.empty)
    val touchedBuckets = hit.map(_._1).distinct.sorted.toSeq
    val days = hit.map(_._2).distinct.sorted.toSeq

    // ---- patch the raw store: rewrite ONLY the (bucket, day) partitions
    // that held a forgotten url, in one dynamic-partition overwrite
    val patched = pages
      .filter(col("bucket").isin(touchedBuckets: _*) &&
        col("day").cast("string").isin(days: _*))
      .filter(!col("url").isin(urls: _*))
      .localCheckpoint() // materialized BEFORE the overwrite deletes its own input files
    val prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try patched.write.mode("overwrite").partitionBy("bucket", "day")
      .parquet(pagesPath)
    finally spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    // a (bucket, day) partition the erasure emptied ENTIRELY gets no dir
    // from the dynamic overwrite — its stale pre-forget files must go
    // explicitly, or the deleted rows would silently stay live
    val aliveParts = patched
      .groupBy(col("bucket"), col("day").cast("string").as("day"))
      .count().collect().map(r => (r.getInt(0), r.getString(1))).toSet
    // stale-dir delete through the SAME Hadoop FS as the write: a
    // java.nio local delete silently no-ops on a non-local pagesPath and
    // erased rows would stay live — a quiet GDPR failure mode
    val fs = new org.apache.hadoop.fs.Path(pagesPath).getFileSystem(
      spark.sessionState.newHadoopConf())
    hit.filterNot(aliveParts.contains).foreach { case (b, d) =>
      val dir = new org.apache.hadoop.fs.Path(pagesPath, s"bucket=$b/day=$d")
      if (fs.exists(dir)) fs.delete(dir, true)
    }

    // ---- recompute the touched days' 15-min tier from patched raw; days
    // the erasure emptied entirely are DROPPED, not rebuilt
    val freshPages = spark.read.parquet(pagesPath)
      .filter(col("day").cast("string").isin(days: _*))
    val alive = freshPages.select(col("day").cast("string"))
      .distinct().as[String].collect().toSet
    val (rebuildDays, droppedDays) = days.partition(alive.contains)
    if (droppedDays.nonEmpty) {
      val gone = droppedDays.toSet
      table.dropPartitions { p =>
        gone.exists(d => p.key.endsWith(s"/day=$d"))
      }
    }
    if (rebuildDays.nonEmpty) {
      val fresh15 = tier15FromPages(
        freshPages.filter(col("day").cast("string").isin(rebuildDays: _*)))
        .select("domain", "metric", "bucket_ts", "n", "sum_v", "mean_v")
      refreshChainFrom15(spark, table, fresh15, rebuildDays, "forget",
        chunkMaxPoints, indexBuckets)
    }
    (rebuildDays, droppedDays)
  }

  /** Shared tail of [[applyDelta]] / [[forgetUrls]]: commit the given
    * 15-min tier content for the touched days, then re-chain every higher
    * tier and rebuild chunks + index — one job + one copy-on-write commit
    * PER STAGE (never per day). Each stage writes to a FRESH stage dir
    * (`<tag>-<stage>-r<n>`) — never the live dirs, which the merged plan
    * is lazily reading — and swaps all touched days in ONE snapshot; old
    * dirs stay for time travel until `expireSnapshots`. The store-level
    * twin of the streaming MergeSink's one-job MERGE.
    */
  private def refreshChainFrom15(
      spark: SparkSession,
      table: ManifestTableLayer,
      merged15: DataFrame,
      days: Seq[String],
      tag: String,
      chunkMaxPoints: Int,
      indexBuckets: Int
  ): Unit =
    for (stage <- stages(spark, table, _ => merged15, chunkMaxPoints, indexBuckets)) {
      val dir = Iterator.from(0)
        .map(i => table.dataDir(s"$tag-${stage.name}-r$i"))
        .find(p => !Files.exists(p)).get
      val metas = writeStage(stage, days, dir, tag)
      table.commit(metas, metas.map(_.key))
    }

  /** One stage of the tier chain: `name` tags its stage dir, `keyOf` gives
    * a day's partition key, and `frame(days)` is the stage's output for
    * those days with the routing column `_day`. A partition's lineage is
    * the caller's tag (build: from pages; delta: stored + late partials;
    * forget: patched pages) and the stage's input.
    */
  private case class Stage(
      name: String,
      keyOf: String => String,
      lineage: String,
      frame: Seq[String] => DataFrame)

  private val TierSchema = StructType.fromDDL(
    "domain STRING, metric STRING, bucket_ts BIGINT, n BIGINT, sum_v DOUBLE, mean_v DOUBLE")

  /** bucket start (epoch s) -> day, for routing rows into day partitions
    * (windows never span days, so this is exact)
    */
  private def dayOf(epochSec: String) =
    to_date(timestamp_seconds(col(epochSec))).cast("string")

  /** The tier chain that the build and both refreshes run: 15 min from
    * `tier15(days)` (pages, or stored + delta partials), then 30 min, 1 h
    * and 1 d each chained from the STORED partitions of the tier before
    * it (continuous aggregates: raw data is read once; 900|1800|3600|86400
    * each divide the next, so every step is an exact re-aggregation), then
    * the Gorilla chunks and the delta index of the stored 15-min tier.
    * Chunk runs restart at every (day, series) boundary, so each day's
    * chunks are bitwise those of a per-day build.
    *
    * Layout: each stage's output is hash-partitioned by (day, series key)
    * into `spark.sql.shuffle.partitions` tasks, so a day partition holds
    * that many files, each with a share of the series — the per-series
    * dictionary skipping the readers rely on.
    */
  private def stages(
      spark: SparkSession,
      table: ManifestTableLayer,
      tier15: Seq[String] => DataFrame,
      chunkMaxPoints: Int,
      indexBuckets: Int
  ): Seq[Stage] = {
    val files = spark.sessionState.conf.numShufflePartitions
    def laidOut(df: DataFrame, key: String) =
      df.repartition(files, col("_day"), col(key))
    // one snapshot read per stage (not per day); the explicit schema saves
    // the footer-inference job a schema-less read would run
    def stored(schema: StructType, keyOf: String => String, days: Seq[String]) = {
      val cur = table.currentPartitions().map(p => p.key -> p.path).toMap
      spark.read.schema(schema).parquet(days.map(d => cur(keyOf(d))): _*)
    }
    val t15 = Stage("15min", tierKey("15min", _), "15min", days =>
      laidOut(tier15(days).withColumn("_day", dayOf("bucket_ts")), "domain"))
    val chained = Tiers.sliding(2).map { case Seq((child, _), (tier, period)) =>
      Stage(tier, tierKey(tier, _), s"$tier<-$child", days => laidOut(
        TimeSeriesOps.chainTier(stored(TierSchema, tierKey(child, _), days),
          seriesCols, period).withColumn("_day", dayOf("bucket_ts")), "domain"))
    }.toSeq
    val chunks = Stage("chunks", chunkKey("15min", _), "chunks-15min<-15min", days => {
      val flat = stored(TierSchema, tierKey("15min", _), days).select(
        dayOf("bucket_ts").as("pkey"),
        concat_ws("_", col("domain"), col("metric")).as("series_flat"),
        col("bucket_ts").as("ts"), col("mean_v").as("value"))
      ChunkWriter.buildKeyed(flat, "15min", chunkMaxPoints, files).toDF()
        .withColumnRenamed("pkey", "_day")
    })
    val index = Stage("index", indexKey("15min", _), "index-15min<-chunks-15min", days => {
      val keyed = stored(Encoders.product[ChunkWriter.FlatChunk].schema,
        chunkKey("15min", _), days).withColumn("pkey", dayOf("t0"))
      laidOut(ChunkWriter.buildIndexKeyed(keyed, indexBuckets)
        .withColumnRenamed("pkey", "_day"), "part_id")
    })
    (t15 +: chained) :+ chunks :+ index
  }

  /** Write `stage` for `days` as ONE dynamic-partition job into `dir`
    * (overwritten) and return one meta per day at `dir/_day=<d>`, its rows
    * and bytes from the Parquet footers and file sizes (no Spark job).
    * Every day must come out: a day the stage emptied would leave its
    * STALE partition live after a refresh swap.
    */
  private def writeStage(
      stage: Stage,
      days: Seq[String],
      dir: Path,
      tag: String
  ): Seq[PartitionMeta] = {
    stage.frame(days).write.partitionBy("_day").mode("overwrite").parquet(dir.toString)
    days.map { d =>
      val part = dir.resolve(s"_day=$d")
      require(Files.isDirectory(part),
        s"${dir.getFileName} produced zero rows for day $d")
      val (rows, bytes) = ManifestTableLayer.dirStats(part)
      PartitionMeta(stage.keyOf(d), part.toString, rows, bytes,
        s"$tag:${stage.lineage} day=$d")
    }
  }

  /** Read one full tier back from the table (all live day partitions). */
  def readTier(spark: SparkSession, table: ManifestTableLayer, tier: String): DataFrame = {
    val prefix = s"tier=$tier/"
    val parts = table.currentPartitions().filter(_.key.startsWith(prefix))
    require(parts.nonEmpty, s"no live partitions for tier $tier")
    spark.read.parquet(parts.map(_.path): _*)
  }

  /** Retention: drop raw 15-min partitions (and their chunk/index
    * partitions) older than cutoffDay; aggregates (1h/1d) stay.
    */
  def sweepRaw(table: ManifestTableLayer, cutoffDay: String): Long = {
    Retention.sweep(table, "15min", cutoffDay)
    table.dropPartitions { p =>
      (p.key.startsWith("chunks-15min/day=") &&
        p.key.stripPrefix("chunks-15min/day=") < cutoffDay) ||
      (p.key.startsWith("index-15min/day=") &&
        p.key.stripPrefix("index-15min/day=") < cutoffDay)
    }
  }

  /** Per-row invariant check: every url's text hash in the pages table is
    * unique (one text per url) — returns violation count (0 == ok).
    */
  def textInvariantViolations(spark: SparkSession, pagesPath: String): Long = {
    spark.read.parquet(pagesPath)
      .groupBy(col("url"))
      .agg(countDistinct(sha2(col("text"), 256)).as("n_hashes"))
      .filter(col("n_hashes") > 1)
      .count()
  }
}
