package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.Path
import graft.ingest.Pages
import graft.rollup.TimeSeriesOps
import graft.chunk.ChunkWriter
import graft.table.{ManifestTableLayer, NioLocalFileSystem, PartitionMeta}
import graft.checkpoint.Checkpoint

/** The end-to-end engine pipeline over a canonical
  * `pages(url, warc_ts, html, text, lang)` table (SURVEY.md §3.4):
  *
  *   pages (partitioned bucket x day)
  *     -> points (domain-level metrics derived from the page row ONLY)
  *     -> 15min tier  (algebraic partials, per-day partitions)
  *     -> 30min, hourly, daily tiers (all three from the stored 15-min
  *        tier, in one aggregation)
  *     -> Gorilla chunk partitions + delta index per day
  *   computed per stage, committed per (tier, day) partition in a
  *   ManifestTableLayer; retention sweeps raw tiers, aggregates survive.
  *
  * Every stage is one query and one `ManifestTableLayer.writeStage` job
  * over all the days it builds, and every partition is committed where
  * it was written (`<stage dir>/_day=<d>`, or `<stage dir>/_tier=<t>/
  * _day=<d>` for the up-tiers stage). The build ([[runRollup]]) and the
  * refreshes ([[applyDelta]], [[forgetUrls]]) run the same four stages
  * and differ only in the stage dir and the commit: the resumable build
  * writes the fixed dir `<ns>/build` (`ns` the stage's dir namespace,
  * e.g. `tier=15min` or `tiers`) and commits one (tier, day) partition at
  * a time; a refresh writes a fresh `<ns>/<tag>[-r<n>]` dir and swaps all
  * its partitions in one copy-on-write commit per stage.
  *
  * Partition-independence invariant: every partition is a pure function of
  * one day of the stage before it (windows never span days: 900 | 3600 |
  * 86400 all divide a day), so a stage can build any subset of days in one
  * job and a crashed build resumes by recomputing only the uncommitted
  * days. Gap-fill is a query-time op over stored tiers (OPSD semantics,
  * cross-day windows) rather than part of the per-day build.
  */
object Pipeline {

  /** Retention tiers, finest first: 15min aggregates the pages, the
    * others the stored 15-min partials (continuous aggregates — raw pages
    * are read once, by 15min only). Carries all three OPSD native
    * resolutions (15/30/60 min) plus daily.
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

  /** Point cap of one 15-min Gorilla chunk. Chunk runs restart at every
    * (day, series), and a day holds at most 86400 / 900 = 96 points of a
    * series in the 15-min tier, so any cap >= 96 cuts no chunk: every
    * stored chunk is one (day, series) run whatever the value.
    */
  private val ChunkMaxPoints = 1024

  /** `part_id` buckets of the per-day delta index. */
  private val IndexBuckets = 16

  def tierKey(tier: String, day: String) = s"tier=$tier/day=$day"
  def chunkKey(tier: String, day: String) = s"chunks-$tier/day=$day"
  def indexKey(tier: String, day: String) = s"index-$tier/day=$day"

  /** The day of a pages row: the `day` partition column if the table is
    * partitioned, the day of `warc_ts` otherwise.
    */
  private def pageDay(pages: DataFrame) =
    (if (pages.columns.contains("day")) col("day") else to_date(col("warc_ts")))
      .cast("string")

  /** Distinct days present in the pages table, read with the footer schema
    * ([[ManifestTableLayer.readPartitions]]: no schema-inference job).
    */
  def listDays(spark: SparkSession, pagesPath: String): Seq[String] = {
    val pages = ManifestTableLayer.readPartitions(spark, Seq(pagesPath))
    pages.select(pageDay(pages)).distinct().collect().map(_.getString(0)).sorted.toSeq
  }

  /** Build all tier + chunk partitions for the given days, resumable:
    * each stage writes every (tier, day) partition missing from the
    * current snapshot in one job into its fixed stage dir (`<ns>/build`),
    * then commits those dirs where they were written, one (tier, day) per
    * commit: the 15-min days, then every 30-min day, every 1-h day and
    * every 1-d day, then the chunk and index days. A resume's write
    * replaces only the uncommitted partition dirs, never a committed one,
    * so a crash loses at most the uncommitted partitions of one stage and
    * leaves no orphan dir. `failAfter >= 0` crashes after that many
    * commits (test hook). Returns the number of newly committed
    * partitions.
    */
  def runRollup(
      spark: SparkSession,
      pagesPath: String,
      table: ManifestTableLayer,
      days: Seq[String],
      failAfter: Int = -1
  ): Int = {
    val pages = ManifestTableLayer.readPartitions(spark, Seq(pagesPath))
    val chain = stages(spark, table,
      ds => tier15FromPages(pages.filter(pageDay(pages).isin(ds: _*))))
    chain.foldLeft(0) { (n, stage) =>
      val done = table.currentPartitions().map(_.key).toSet
      val missing = stage.parts(days).filterNot(p => done.contains(p.key))
      if (missing.isEmpty) n
      else writeStage(table, stage, missing, table.dataDir(s"${stage.ns}/build"), "build")
        .foldLeft(n) { (n, meta) =>
          if (failAfter >= 0 && n >= failAfter) throw new Checkpoint.InjectedCrash(failAfter)
          table.commit(Seq(meta), Seq.empty)
          n + 1
        }
    }
  }

  /** INCREMENTAL tier refresh (materialized-view maintenance): merge a
    * LATE batch of pages into the stored tier chain without rebuilding
    * unaffected days. Because tiers store ALGEBRAIC partials (sum, n), a
    * delta is pure addition — merged(n, sum) = stored + delta per
    * (series, bucket) — so ALL touched days of the 15-min tier merge in
    * ONE distributed aggregation over (stored partitions ∪ delta
    * partials), the higher tiers re-aggregate the freshly merged 15-min
    * days in one aggregation (work bounded by the touched days, never the
    * corpus — and the job count bounded by the STAGE count, never the day
    * count: a year-long backfill is 4 stage commits, not ~1,800
    * driver-serialized jobs), and the touched days' Gorilla
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
      table: ManifestTableLayer
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
        else ManifestTableLayer.readPartitions(spark, stored15).select(tierCols.map(col): _*)
          .unionByName(d15)
      val merged15 = base15
        .groupBy(col("domain"), col("metric"), col("bucket_ts"))
        .agg(sum(col("n")).as("n"), sum(col("sum_v")).as("sum_v"))
        .withColumn("mean_v", col("sum_v") / col("n"))
        .select("domain", "metric", "bucket_ts", "n", "sum_v", "mean_v")
      refreshChainFrom15(spark, table, merged15, days, "delta")
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
      urls: Seq[String]
  ): (Seq[String], Seq[String]) = {
    import spark.implicits._
    require(urls.nonEmpty, "forgetUrls needs at least one url")
    val pages = ManifestTableLayer.readPartitions(spark, Seq(pagesPath))
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
    NioLocalFileSystem.write(patched).mode("overwrite").partitionBy("bucket", "day")
      .option("partitionOverwriteMode", "dynamic").parquet(pagesPath)
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
    val freshPages = ManifestTableLayer.readPartitions(spark, Seq(pagesPath))
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
      refreshChainFrom15(spark, table, fresh15, rebuildDays, "forget")
    }
    (rebuildDays, droppedDays)
  }

  /** Shared tail of [[applyDelta]] / [[forgetUrls]]: commit the given
    * 15-min tier content for the touched days, then rebuild the higher
    * tiers, chunks and index — one job + one copy-on-write commit PER
    * STAGE (never per day or tier). Each stage writes to a FRESH stage
    * dir (`<ns>/<tag>[-r<n>]`) — never the live dirs, which the merged
    * plan is lazily reading — and swaps all its touched partitions in ONE
    * snapshot; old dirs stay for time travel until `expireSnapshots`. The
    * store-level twin of the streaming MergeSink's one-job MERGE.
    */
  private def refreshChainFrom15(
      spark: SparkSession,
      table: ManifestTableLayer,
      merged15: DataFrame,
      days: Seq[String],
      tag: String
  ): Unit =
    for (stage <- stages(spark, table, _ => merged15)) {
      val metas =
        writeStage(table, stage, stage.parts(days), table.freshDir(s"${stage.ns}/$tag"), tag)
      table.commit(metas, metas.map(_.key))
    }

  /** One (tier, day) partition a stage writes: its table key, its value
    * for each of the stage's route columns, and what it is built from. A
    * committed partition's lineage is the caller's tag (build: from pages;
    * delta: stored + late partials; forget: patched pages), this
    * `lineage` and the day.
    */
  private case class Part(key: String, route: Seq[String], lineage: String)

  /** One stage of the tier chain: its stage dirs live under `data/<ns>/`,
    * its rows are routed by the `route` columns, `parts(days)` are its
    * partitions over those days in commit order, and `frame(parts)` is
    * its output for exactly those partitions, with the route columns.
    */
  private case class Stage(
      ns: String,
      route: Seq[String],
      parts: Seq[String] => Seq[Part],
      frame: Seq[Part] => DataFrame)

  /** A stage of one key namespace `ns` (a day's partition key is
    * `<ns>/day=<d>`), routed by `_day`.
    */
  private def dayStage(ns: String, lineage: String)(frame: Seq[String] => DataFrame) =
    Stage(ns, Seq("_day"), _.map(d => Part(s"$ns/day=$d", Seq(d), lineage)),
      parts => frame(parts.map(_.route.head)))

  /** bucket start (epoch s) -> day, for routing rows into day partitions
    * (windows never span days, so this is exact)
    */
  private def dayOf(epochSec: String) =
    to_date(timestamp_seconds(col(epochSec))).cast("string")

  /** The tier chain that the build and both refreshes run: 15 min from
    * `tier15(days)` (pages, or stored + delta partials); then 30 min, 1 h
    * and 1 d in ONE stage from the STORED 15-min partitions (continuous
    * aggregates: raw data is read once; 900 divides 1800, 3600 and 86400,
    * so each is an exact re-aggregation, equal to chaining each tier from
    * the one before it), routed by (`_tier`, `_day`) and built only for
    * the (tier, day) partitions asked for; then the Gorilla chunks and the
    * delta index of the stored 15-min tier. Chunk runs restart at every
    * (day, series) boundary, so each day's chunks are bitwise those of a
    * per-day build.
    *
    * Layout: each stage's output is hash-partitioned by (day, series key)
    * into `spark.sql.shuffle.partitions` tasks, so a day partition holds
    * that many files, each with a share of the series — the per-series
    * dictionary skipping the readers rely on. The up-tiers stage lays out
    * its 15-min input by the same (day, series key) before it aggregates,
    * so each of its day dirs holds the series a stage of that tier alone
    * would put in each file, with no shuffle between aggregation and write.
    */
  private def stages(
      spark: SparkSession,
      table: ManifestTableLayer,
      tier15: Seq[String] => DataFrame
  ): Seq[Stage] = {
    val files = spark.sessionState.conf.numShufflePartitions
    def laidOut(df: DataFrame, key: String) =
      df.repartition(files, col("_day"), col(key))
    // one snapshot read per stage (not per day), schema from the footers
    def stored(keyOf: String => String, days: Seq[String]) = {
      val cur = table.currentPartitions().map(p => p.key -> p.path).toMap
      ManifestTableLayer.readPartitions(spark, days.map(d => cur(keyOf(d))))
    }
    val t15 = dayStage("tier=15min", "15min")(days =>
      laidOut(tier15(days).withColumn("_day", dayOf("bucket_ts")), "domain"))
    val up = Tiers.tail
    val upTiers = Stage("tiers", Seq("_tier", "_day"),
      days => for ((t, _) <- up; d <- days) yield Part(tierKey(t, d), Seq(t, d), s"$t<-15min"),
      parts => {
        val days = parts.map(_.route(1)).distinct.sorted
        // every group falls in one (day, domain), so the layout can come
        // before the aggregation and the write needs no second shuffle
        val child = laidOut(
          stored(tierKey("15min", _), days).withColumn("_day", dayOf("bucket_ts")), "domain")
        // only the (tier, day) pairs asked for: a resume may ask for some
        // tiers of a day, and its write must not replace a committed dir
        val daysOf = parts.groupMap(_.route.head)(_.route(1))
        val asked = up.zipWithIndex.flatMap { case ((t, _), i) =>
          daysOf.get(t).map(ds => col("tier_idx") === i && col("_day").isin(ds: _*))
        }.reduce(_ || _)
        TimeSeriesOps.chainTiers(child, "_day" +: seriesCols, up.map(_._2)).filter(asked)
          .withColumn("_tier", element_at(typedLit(up.map(_._1)), col("tier_idx") + 1))
          .drop("tier_idx")
      })
    val chunks = dayStage("chunks-15min", "chunks-15min<-15min")(days => {
      val flat = stored(tierKey("15min", _), days).select(
        dayOf("bucket_ts").as("pkey"),
        concat_ws("_", col("domain"), col("metric")).as("series_flat"),
        col("bucket_ts").as("ts"), col("mean_v").as("value"))
      ChunkWriter.buildKeyed(flat, "15min", ChunkMaxPoints, files).toDF()
        .withColumnRenamed("pkey", "_day")
    })
    val index = dayStage("index-15min", "index-15min<-chunks-15min")(days => {
      val keyed = stored(chunkKey("15min", _), days).withColumn("pkey", dayOf("t0"))
      laidOut(ChunkWriter.buildIndexKeyed(keyed, IndexBuckets)
        .withColumnRenamed("pkey", "_day"), "part_id")
    })
    Seq(t15, upTiers, chunks, index)
  }

  /** Write `stage`'s `parts` into `dir` and return one meta per part, in
    * order. Every part must come out: a partition the stage emptied would
    * leave its STALE predecessor live after a refresh swap.
    */
  private def writeStage(
      table: ManifestTableLayer,
      stage: Stage,
      parts: Seq[Part],
      dir: Path,
      tag: String
  ): Seq[PartitionMeta] = {
    val byRoute = parts.map(p => p.route -> p).toMap
    val (metas, empty) = table.writeStage(stage.frame(parts), dir, stage.route,
      parts.map(_.route), byRoute(_).key, v => s"$tag:${byRoute(v).lineage} day=${v.last}")
    require(empty.isEmpty, s"${stage.ns} produced zero rows for " +
      empty.map(byRoute(_).key).mkString(","))
    metas
  }

  /** Read one full tier back from the table (all live day partitions),
    * through [[ManifestTableLayer.readPartitions]]: no Spark job runs
    * before the caller's action.
    */
  def readTier(spark: SparkSession, table: ManifestTableLayer, tier: String): DataFrame = {
    val prefix = s"tier=$tier/"
    val parts = table.currentPartitions().filter(_.key.startsWith(prefix))
    require(parts.nonEmpty, s"no live partitions for tier $tier")
    ManifestTableLayer.readPartitions(spark, parts.map(_.path))
  }

  /** Retention: drop the raw 15-min partitions and their chunk and index
    * partitions older than cutoffDay in ONE snapshot commit, a logical
    * drop (the data stays until [[graft.retention.Retention.expire]]); the
    * 30-min, 1-h and 1-d aggregates stay. Keys end in `day=<yyyy-MM-dd>`,
    * so the horizon is a lexicographic comparison. Returns the new
    * snapshot id.
    */
  def sweepRaw(table: ManifestTableLayer, cutoffDay: String): Long = {
    val prefixes = Seq(tierKey("15min", ""), chunkKey("15min", ""), indexKey("15min", ""))
    table.dropPartitions { p =>
      prefixes.exists(pre => p.key.startsWith(pre) && p.key.stripPrefix(pre) < cutoffDay)
    }
  }

  /** Per-row invariant check: every url's text hash in the pages table is
    * unique (one text per url) — returns violation count (0 == ok). The
    * pages are read with the footer schema
    * ([[ManifestTableLayer.readPartitions]]: no schema-inference job).
    */
  def textInvariantViolations(spark: SparkSession, pagesPath: String): Long = {
    ManifestTableLayer.readPartitions(spark, Seq(pagesPath))
      .groupBy(col("url"))
      .agg(countDistinct(sha2(col("text"), 256)).as("n_hashes"))
      .filter(col("n_hashes") > 1)
      .count()
  }
}
