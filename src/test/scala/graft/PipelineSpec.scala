package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ingest.Pages
import graft.pipeline.Pipeline
import graft.table.ManifestTableLayer
import graft.chunk.ChunkWriter
import graft.checkpoint.Checkpoint
import graft.retention.Retention
import java.nio.file.Files

/** End-to-end pipeline on sf0.001: rollup -> read back -> invariants,
  * chunk decode equivalence, retention semantics.
  */
class PipelineSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._
  import SparkTestSession.jobsOf

  private lazy val root = SparkTestSession.tmpDir("pipe-test-").toString
  private lazy val pagesPath = s"$root/pages"
  private lazy val table: ManifestTableLayer = {
    Pages.writePartitioned(
      Pages.synthesize(spark, SparkTestSession.sf0001)
        .select("url", "warc_ts", "html", "text", "lang"),
      pagesPath, buckets = 8)
    val t = new ManifestTableLayer(s"$root/table")
    val days = Pipeline.listDays(spark, pagesPath)
    assert(days.size == 7)
    Pipeline.runRollup(spark, pagesPath, table = t, days = days)
    t
  }

  /** Per partition key: row count and the sum of xxhash64 over every column
    * (equal digests = equal row multisets with bitwise-equal values).
    */
  private def digests(t: ManifestTableLayer): Map[String, (Long, java.math.BigDecimal)] =
    t.currentPartitions().map { p =>
      val d = spark.read.parquet(p.path)
      val r = d.agg(count(lit(1)),
        sum(xxhash64(d.columns.sorted.map(col): _*).cast("decimal(38,0)"))).head()
      p.key -> (r.getLong(0), r.getDecimal(1))
    }.toMap

  test("rollup commits tiers + chunks + index partitions for every day") {
    val keys = table.currentPartitions().map(_.key)
    assert(keys.count(_.startsWith("tier=15min/")) == 7)
    assert(keys.count(_.startsWith("tier=30min/")) == 7)
    assert(keys.count(_.startsWith("tier=1h/")) == 7)
    assert(keys.count(_.startsWith("tier=1d/")) == 7)
    assert(keys.count(_.startsWith("chunks-15min/")) == 7)
    assert(keys.count(_.startsWith("index-15min/")) == 7)
  }

  test("one-pass two-metric tier-0 equals the long-format tier, bitwise") {
    val pages = spark.read.parquet(pagesPath)
    val viaPoints = graft.rollup.TimeSeriesOps.tier(
      Pipeline.pointsFromPages(pages), Seq("domain", "metric"),
      "epoch_s", "value", 900)
    val onePass = Pipeline.tier15FromPages(pages)
    val cols = Seq("domain", "metric", "bucket_ts", "n", "sum_v", "mean_v")
    assert(onePass.select(cols.map(col): _*)
      .except(viaPoints.select(cols.map(col): _*)).isEmpty)
    assert(onePass.count() == viaPoints.count())
  }

  test("stored hourly tier equals direct aggregation from pages") {
    val points = Pipeline.pointsFromPages(spark.read.parquet(pagesPath))
    val direct = graft.rollup.TimeSeriesOps.tier(
      points, Seq("domain", "metric"), "epoch_s", "value", 3600)
    val stored = Pipeline.readTier(spark, table, "1h")
    assert(stored.select("domain", "metric", "bucket_ts", "n", "sum_v", "mean_v")
      .except(direct.select("domain", "metric", "bucket_ts", "n", "sum_v", "mean_v"))
      .isEmpty)
    assert(stored.count() == direct.count())
  }

  test("stored 30-min, 1-h and 1-d tiers equal the chain from each stored child, bitwise") {
    val cols = Seq("domain", "metric", "bucket_ts", "n", "sum_v", "mean_v").map(col)
    Pipeline.Tiers.sliding(2).foreach { case Seq((child, _), (tier, period)) =>
      val chained = graft.rollup.TimeSeriesOps.chainTier(
        Pipeline.readTier(spark, table, child), Seq("domain", "metric"), period).select(cols: _*)
      val stored = Pipeline.readTier(spark, table, tier).select(cols: _*)
      assert(stored.except(chained).isEmpty && chained.except(stored).isEmpty,
        s"stored $tier tier must equal the chain from the stored $child tier")
      assert(stored.count() == chained.count(), tier)
      // and every row sits in the partition of its own day
      val misrouted = table.currentPartitions().filter(_.key.startsWith(s"tier=$tier/"))
        .map(p => spark.read.parquet(p.path).select(col("bucket_ts"),
          lit(p.key.stripPrefix(s"tier=$tier/day=")).as("day")))
        .reduce(_ union _)
        .filter(to_date(timestamp_seconds(col("bucket_ts"))).cast("string") =!= col("day"))
      assert(misrouted.isEmpty, s"$tier rows outside their day partition")
    }
  }

  test("pages are read with the footer schema: no Spark job, partition columns discovered") {
    val (got, jobs) = jobsOf(ManifestTableLayer.readPartitions(spark, Seq(pagesPath)))
    assert(jobs == 0, s"reading the pages table ran $jobs Spark job(s) before any action")
    val ref = spark.read.parquet(pagesPath)
    assert(got.schema == ref.schema)
    assert(got.select("bucket", "day").distinct().count() == 8 * 7)
  }

  test("chunk partitions decode back to the stored 15-min tier, bitwise") {
    val chunkParts = table.currentPartitions()
      .filter(_.key.startsWith("chunks-15min/")).map(_.path)
    val chunks = spark.read.parquet(chunkParts: _*).as[ChunkWriter.FlatChunk]
    val decoded = ChunkWriter.decode(chunks)
      .select(col("series_flat"), col("ts"), col("value"))
    val tier = Pipeline.readTier(spark, table, "15min").select(
      concat_ws("_", col("domain"), col("metric")).as("series_flat"),
      col("bucket_ts").as("ts"), col("mean_v").as("value"))
    assert(decoded.except(tier).isEmpty && tier.except(decoded).isEmpty)
    assert(decoded.count() == tier.count())
  }

  test("each day's stored chunks and index equal a build over that day alone, bitwise") {
    val live = table.currentPartitions().map(p => p.key -> p.path).toMap
    def stored(key: String) = spark.read.parquet(live(key))
    def same(got: org.apache.spark.sql.DataFrame, want: org.apache.spark.sql.DataFrame,
        what: String): Unit = {
      assert(got.columns.sorted.toSeq == want.columns.sorted.toSeq, what)
      val w = want.select(got.columns.map(col): _*)
      assert(got.except(w).isEmpty && w.except(got).isEmpty, what)
      assert(got.count() == w.count(), what)
    }
    for (day <- Pipeline.listDays(spark, pagesPath)) {
      val points = stored(Pipeline.tierKey("15min", day)).select(
        concat_ws("_", col("domain"), col("metric")).as("series_flat"),
        col("bucket_ts").as("ts"), col("mean_v").as("value"))
      val chunks = stored(Pipeline.chunkKey("15min", day))
      same(chunks, ChunkWriter.build(points, "15min", maxPoints = 128).toDF(), s"chunks $day")
      same(stored(Pipeline.indexKey("15min", day)),
        ChunkWriter.buildIndex(chunks.as[ChunkWriter.FlatChunk], buckets = 16).toDF(),
        s"index $day")
    }
  }

  test("every stored 15-min chunk is one whole (day, series) run") {
    val chunks = spark.read.parquet(table.currentPartitions()
      .filter(_.key.startsWith("chunks-15min/")).map(_.path): _*)
    // a day holds at most 86400 / 900 points of a series, so no chunk
    // cap >= 96 can cut a run
    assert(chunks.filter(col("n") > 86400 / 900).isEmpty)
    val runs = chunks.select(to_date(timestamp_seconds(col("t0"))), col("series_flat"))
    assert(runs.distinct().count() == chunks.count(), "a (day, series) run was cut")
  }

  test("listDays reads the pages with the footer schema") {
    assert(table.currentPartitions().nonEmpty) // the shared build wrote the pages
    val (days, jobs) = jobsOf(Pipeline.listDays(spark, pagesPath))
    assert(days == (1 to 7).map(d => f"2024-01-0$d%d"))
    // the distinct's shuffle stage and the collect; a schema-less read
    // added an inference job
    assert(jobs <= 2, s"listDays ran $jobs Spark job(s)")
  }

  test("delta index agrees with chunk partitions (counts + time bounds)") {
    val idxParts = table.currentPartitions()
      .filter(_.key.startsWith("index-15min/")).map(_.path)
    val idx = spark.read.parquet(idxParts: _*)
    val chunkParts = table.currentPartitions()
      .filter(_.key.startsWith("chunks-15min/")).map(_.path)
    val chunks = spark.read.parquet(chunkParts: _*)
    assert(idx.agg(sum("n_chunks")).as[Long].head() == chunks.count())
    assert(idx.agg(min("t_min")).as[Long].head() ==
      chunks.agg(min("t0")).as[Long].head())
    assert(idx.agg(max("t_max")).as[Long].head() ==
      chunks.agg(max("t_max")).as[Long].head())
  }

  test("text invariant holds end-to-end on the partitioned pages table") {
    assert(table.currentPartitions().nonEmpty) // the shared build wrote the pages
    val (violations, jobs) = jobsOf(Pipeline.textInvariantViolations(spark, pagesPath))
    assert(violations == 0)
    // the shuffle stages of the two-level distinct aggregation and the
    // count; a schema-less read of the pages added an inference job
    assert(jobs <= 4, s"textInvariantViolations ran $jobs Spark job(s)")
    // and the hashes equal the source documents' hashes
    val src = spark.read.parquet(s"${SparkTestSession.sf0001}/documents.parquet")
      .select(sha2(col("text"), 256).as("h")).distinct()
    val rt = spark.read.parquet(pagesPath)
      .select(sha2(col("text"), 256).as("h")).distinct()
    assert(rt.except(src).isEmpty && src.except(rt).isEmpty)
  }

  test("applyDelta: incremental refresh equals full rebuild on every tier + chunk store") {
    val base = SparkTestSession.tmpDir("pipe-delta-").toString
    val all = Pages.synthesize(spark, SparkTestSession.sf0001)
      .select("url", "warc_ts", "html", "text", "lang")
    val late = org.apache.spark.sql.functions.regexp_extract(
      col("url"), "/p/(\\d+)$", 1).cast("long") % 5 === 4
    // incremental: 80% built, then the late 20% merged in
    Pages.writePartitioned(all.filter(!late), s"$base/pages80", buckets = 8)
    val tInc = new ManifestTableLayer(s"$base/inc")
    Pipeline.runRollup(spark, s"$base/pages80", tInc,
      Pipeline.listDays(spark, s"$base/pages80"))
    val built15 = tInc.currentPartitions()
      .filter(_.key.startsWith("tier=15min/")).map(p => p.key -> p.path).toMap
    val snap0 = tInc.currentSnapshotId()
    val refreshed = Pipeline.applyDelta(spark, all.filter(late), tInc)
    assert(refreshed.nonEmpty)
    // one copy-on-write commit per stage: 15 min, the up-tiers, chunks, index
    assert(tInc.currentSnapshotId() == snap0 + 4)
    // full: one build over everything
    Pages.writePartitioned(all, s"$base/pages100", buckets = 8)
    val tFull = new ManifestTableLayer(s"$base/full")
    Pipeline.runRollup(spark, s"$base/pages100", tFull,
      Pipeline.listDays(spark, s"$base/pages100"))
    for ((tier, _) <- Pipeline.Tiers) {
      val cols = Seq("domain", "metric", "bucket_ts", "n", "sum_v", "mean_v").map(col)
      val inc = Pipeline.readTier(spark, tInc, tier).select(cols: _*)
      val full = Pipeline.readTier(spark, tFull, tier).select(cols: _*)
      assert(inc.except(full).isEmpty && full.except(inc).isEmpty,
        s"incremental $tier tier must equal the full rebuild")
      assert(inc.count() == full.count())
    }
    // the refreshed chunk store decodes to the same points as full's
    def decoded(t: ManifestTableLayer) = {
      val parts = t.currentPartitions().filter(_.key.startsWith("chunks-15min/"))
      graft.chunk.ChunkWriter.decode(
          spark.read.parquet(parts.map(_.path): _*)
            .as[graft.chunk.ChunkWriter.FlatChunk])
        .select("series_flat", "ts", "value")
    }
    assert(decoded(tInc).except(decoded(tFull)).isEmpty &&
      decoded(tFull).except(decoded(tInc)).isEmpty)
    // copy-on-write: a refreshed day's tier partition lives in a FRESH
    // stage dir, the pre-delta dir survives for time travel
    val day0 = refreshed.head
    val key0 = Pipeline.tierKey("15min", day0)
    val pm = tInc.currentPartitions().find(_.key == key0).get
    assert(pm.path != built15(key0),
      s"refresh must not overwrite in place: ${pm.path}")
    assert(Files.exists(java.nio.file.Paths.get(built15(key0))))
    // a delta that introduces an entirely NEW day builds fresh partitions
    val shifted = all.filter(late).withColumn("warc_ts",
      org.apache.spark.sql.functions.expr("warc_ts + INTERVAL 30 DAYS"))
    val newDays = Pipeline.applyDelta(spark, shifted, tInc)
    assert(newDays.forall(d => tInc.currentPartitions()
      .exists(_.key == Pipeline.tierKey("1d", d))))
    assert(newDays.intersect(refreshed).isEmpty)
  }

  test("applyDelta job count is O(tiers), independent of how many days the delta spans") {
    val base = SparkTestSession.tmpDir("pipe-djobs-").toString
    // 14 days of pages: the 7-day fixture plus a +7d shifted copy
    val week = Pages.synthesize(spark, SparkTestSession.sf0001)
      .select("url", "warc_ts", "html", "text", "lang")
    val all = week.unionByName(
      week.withColumn("warc_ts", expr("warc_ts + INTERVAL 7 DAYS"))
        .withColumn("url", concat(col("url"), lit("?w=2"))))
    val late = regexp_extract(col("url"), "/p/(\\d+)", 1).cast("long") % 5 === 4
    Pages.writePartitioned(all.filter(!late), s"$base/pages", buckets = 8)
    val t = new ManifestTableLayer(s"$base/table")
    Pipeline.runRollup(spark, s"$base/pages", t,
      Pipeline.listDays(spark, s"$base/pages"))
    val delta = all.filter(late).persist()
    val twoDays = delta.filter(to_date(col("warc_ts")) < lit("2024-01-03"))
    val restDays = delta.filter(to_date(col("warc_ts")) >= lit("2024-01-03"))
    try {
      val (_, j2) = jobsOf(Pipeline.applyDelta(spark, twoDays, t))
      val (refreshed, j14) =
        jobsOf(Pipeline.applyDelta(spark, restDays, t))
      assert(refreshed.size == 12)
      // 7x the touched days must NOT mean more driver-launched jobs: each
      // stage is one dynamic-partition job regardless of day span (AQE
      // stage materialization adds a constant few per query)
      assert(j14 <= j2 + 4,
        s"14-day delta ran $j14 jobs vs $j2 for 2 days — per-day driver loop is back")
    } finally delta.unpersist()
    // and the result is still right: hourly tier equals a direct rebuild
    val direct = graft.rollup.TimeSeriesOps.tier(
      Pipeline.pointsFromPages(all), Seq("domain", "metric"),
      "epoch_s", "value", 3600)
    val stored = Pipeline.readTier(spark, t, "1h")
    val cols = Seq("domain", "metric", "bucket_ts", "n", "sum_v", "mean_v").map(col)
    assert(stored.select(cols: _*).except(direct.select(cols: _*)).isEmpty)
    assert(stored.count() == direct.count())
  }

  test("runRollup job count does not depend on the day span") {
    val base = Files.createTempDirectory(
      java.nio.file.Paths.get(root), "pipe-rjobs-").toString
    val week = Pages.synthesize(spark, SparkTestSession.sf0001)
      .select("url", "warc_ts", "html", "text", "lang")
    Pages.writePartitioned(week, s"$base/pages7", buckets = 8)
    Pages.writePartitioned(week.unionByName(
        week.withColumn("warc_ts", expr("warc_ts + INTERVAL 7 DAYS"))
          .withColumn("url", concat(col("url"), lit("?w=2")))),
      s"$base/pages14", buckets = 8)
    def build(n: Int): (Int, Int) = {
      val pages = s"$base/pages$n"
      val days = Pipeline.listDays(spark, pages)
      assert(days.size == n)
      jobsOf(Pipeline.runRollup(spark, pages,
        new ManifestTableLayer(s"$base/table$n"), days))
    }
    val (n7, j7) = build(7)
    val (n14, j14) = build(14)
    info(s"Spark jobs: $j7 for 7 days, $j14 for 14 days")
    assert(n7 == 6 * 7 && n14 == 6 * 14)
    // each stage is one query over all its days, committed per (tier, day):
    // twice the days must not mean more driver-launched jobs
    assert(j7 < n7, s"7-day build ran $j7 jobs for $n7 partitions — per-unit loop is back")
    // 18 while each up-tier was its own stage and the pages schema was
    // inferred by a job
    assert(j7 <= 18 - 6, s"7-day build ran $j7 jobs")
    assert(j14 <= j7 + 2, s"14-day build ran $j14 jobs vs $j7 for 7 days")
  }

  test("a fresh runRollup starts no child process") {
    assert(table.currentPartitions().nonEmpty) // the shared build wrote the pages
    val t = new ManifestTableLayer(SparkTestSession.tmpDir("pipe-proc-").toString)
    val (_, started) = SparkTestSession.processesOf(Pipeline.runRollup(spark, pagesPath, t,
      Pipeline.listDays(spark, pagesPath)))
    assert(started.isEmpty, s"runRollup started ${started.size} process(es), e.g. " +
      started.toSeq.sorted.take(3).mkString("; "))
  }

  test("crash + resume + expire: no orphan dirs, equals a fresh build") {
    val fresh = table // the uninterrupted build of the same pages
    val root2 = Files.createTempDirectory(
      java.nio.file.Paths.get(root), "pipe-resume-").toString
    val t = new ManifestTableLayer(s"$root2/table")
    val days = Pipeline.listDays(spark, pagesPath)
    // 7 days per stage: the crash lands inside the 30-min stage
    val k = 9
    intercept[Checkpoint.InjectedCrash] {
      Pipeline.runRollup(spark, pagesPath, t, days, failAfter = k)
    }
    assert(t.currentPartitions().map(_.key) ==
      days.map(Pipeline.tierKey("15min", _)) ++ days.take(2).map(Pipeline.tierKey("30min", _)))
    // only the remaining partitions run
    assert(Pipeline.runRollup(spark, pagesPath, t, days) == 6 * 7 - k)
    assert(t.currentPartitions().map(_.key).toSet == fresh.currentPartitions().map(_.key).toSet)
    // the crashed run's staging dirs are gone: expiry finds nothing to
    // delete, and every leaf dir under data/ is a live partition
    assert(Retention.expire(t, keepLast = 1) == 0)
    def leaves(p: java.nio.file.Path): Seq[String] = {
      import scala.jdk.CollectionConverters._
      val kids = Files.list(p).iterator().asScala.filter(Files.isDirectory(_)).toSeq
      if (kids.isEmpty) Seq(p.toString) else kids.flatMap(leaves)
    }
    assert(leaves(java.nio.file.Paths.get(s"$root2/table/data")).toSet ==
      t.currentPartitions().map(_.path).toSet)
    assert(digests(t) == digests(fresh))
  }

  test("crash inside the up-tiers' 1-h partitions resumes tier by tier, equals a fresh build") {
    import scala.jdk.CollectionConverters._
    val fresh = table
    val root2 = SparkTestSession.tmpDir("pipe-resume-tiers-").toString
    val t = new ManifestTableLayer(s"$root2/table")
    val days = Pipeline.listDays(spark, pagesPath)
    // 7 x 15 min + 7 x 30 min + 3 x 1 h: the up-tiers stage wrote all 21
    // of its partitions, 10 of them are committed
    val k = 17
    intercept[Checkpoint.InjectedCrash] {
      Pipeline.runRollup(spark, pagesPath, t, days, failAfter = k)
    }
    val committed = t.currentPartitions()
    assert(committed.map(_.key) == days.map(Pipeline.tierKey("15min", _)) ++
      days.map(Pipeline.tierKey("30min", _)) ++ days.take(3).map(Pipeline.tierKey("1h", _)))
    def files(dir: String): Seq[String] = {
      val s = Files.list(java.nio.file.Paths.get(dir))
      try s.iterator().asScala.map(_.getFileName.toString).toSeq.sorted finally s.close()
    }
    val before = committed.map(p => p.path -> files(p.path))
    assert(Pipeline.runRollup(spark, pagesPath, t, days) == 6 * 7 - k)
    // the resume rewrote no committed dir (file names carry the write's id)
    before.foreach { case (dir, fs) => assert(files(dir) == fs, s"$dir was rewritten") }
    // the commit order of the chained stages, in both builds: every day of
    // one tier before the next tier
    val order = Pipeline.Tiers.flatMap { case (tier, _) => days.map(Pipeline.tierKey(tier, _)) } ++
      days.map(Pipeline.chunkKey("15min", _)) ++ days.map(Pipeline.indexKey("15min", _))
    assert(fresh.currentPartitions().map(_.key) == order)
    assert(t.currentPartitions().map(_.key) == order)
    // every leaf dir live, the same rows
    def leaves(p: java.nio.file.Path): Seq[String] = {
      val kids = Files.list(p).iterator().asScala.filter(Files.isDirectory(_)).toSeq
      if (kids.isEmpty) Seq(p.toString) else kids.flatMap(leaves)
    }
    assert(leaves(java.nio.file.Paths.get(s"$root2/table/data")).toSet ==
      t.currentPartitions().map(_.path).toSet)
    assert(digests(t) == digests(fresh))
  }

  test("sweep drops raw + chunks + index below cutoff; aggregates intact") {
    // run on a copy-table (fresh manifest root, same data dirs would be
    // mutated) — rebuild quickly instead
    val root2 = SparkTestSession.tmpDir("pipe-sweep-").toString
    val t2 = new ManifestTableLayer(s"$root2/table")
    Pipeline.runRollup(spark, pagesPath, t2,
      Pipeline.listDays(spark, pagesPath))
    val daysBefore = Pipeline.readTier(spark, t2, "1d").count()
    val snap0 = t2.currentSnapshotId()
    Pipeline.sweepRaw(t2, "2024-01-04")
    // one logical drop, one commit: no snapshot has the 15-min days gone
    // but their chunk and index days live
    assert(t2.currentSnapshotId() == snap0 + 1)
    val keys = t2.currentPartitions().map(_.key)
    assert(keys.count(_.startsWith("tier=15min/")) == 4)
    assert(keys.count(_.startsWith("chunks-15min/")) == 4)
    assert(keys.count(_.startsWith("index-15min/")) == 4)
    assert(keys.count(_.startsWith("tier=1d/")) == 7)
    assert(Pipeline.readTier(spark, t2, "1d").count() == daysBefore)
    // expired files physically gone, survivors remain readable
    graft.retention.Retention.expire(t2, keepLast = 1)
    assert(Pipeline.readTier(spark, t2, "15min").count() > 0)
  }

  test("forgetUrls: erased everywhere, untouched buckets byte-stable, pinned snapshot time-travels") {
    val base = SparkTestSession.tmpDir("pipe-forget-").toString
    val all = Pages.synthesize(spark, SparkTestSession.sf0001)
      .select("url", "warc_ts", "html", "text", "lang")
    Pages.writePartitioned(all, s"$base/pages", buckets = 8)
    val t = new ManifestTableLayer(s"$base/table")
    Pipeline.runRollup(spark, s"$base/pages", t,
      Pipeline.listDays(spark, s"$base/pages"))
    // d7.example is contributed by doc 7 ALONE at sf0.001; d0 is the hot
    // domain with many other contributors
    val urls = Seq("https://d7.example/p/7", "https://d0.example/p/5")
    val touchedBuckets = spark.read.parquet(s"$base/pages")
      .filter(col("url").isin(urls: _*))
      .select("bucket").distinct().as[Int].collect().toSet
    val untouched = (0 until 8).filterNot(touchedBuckets).head
    def listing(b: Int): Seq[(String, Long, Long)] = {
      import scala.jdk.CollectionConverters._
      val walk = Files.walk(java.nio.file.Paths.get(s"$base/pages/bucket=$b"))
      try walk.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => (p.toString, Files.size(p),
          Files.getLastModifiedTime(p).toMillis))
        .toSeq.sortBy(_._1)
      finally walk.close()
    }
    val before = listing(untouched)
    val pinned = t.currentSnapshotId()
    val (rebuilt, dropped) = Pipeline.forgetUrls(spark, s"$base/pages", t, urls)
    assert(dropped.isEmpty && rebuilt.size == 7)
    // raw: the urls are gone, other buckets never rewritten
    assert(spark.read.parquet(s"$base/pages")
      .filter(col("url").isin(urls: _*)).count() == 0)
    assert(listing(untouched) == before,
      "untouched bucket partitions must not be rewritten")
    // every tier equals a from-scratch build that never saw the urls
    Pages.writePartitioned(all.filter(!col("url").isin(urls: _*)),
      s"$base/pagesClean", buckets = 8)
    val tClean = new ManifestTableLayer(s"$base/tableClean")
    Pipeline.runRollup(spark, s"$base/pagesClean", tClean,
      Pipeline.listDays(spark, s"$base/pagesClean"))
    val cols = Seq("domain", "metric", "bucket_ts", "n", "sum_v", "mean_v").map(col)
    for ((tier, _) <- Pipeline.Tiers) {
      val got = Pipeline.readTier(spark, t, tier).select(cols: _*)
      val want = Pipeline.readTier(spark, tClean, tier).select(cols: _*)
      assert(got.except(want).isEmpty && want.except(got).isEmpty,
        s"$tier tier must equal a build without the forgotten urls")
    }
    // the chunk store decodes to the clean build's points
    def decoded(tb: ManifestTableLayer) = {
      val parts = tb.currentPartitions().filter(_.key.startsWith("chunks-15min/"))
      ChunkWriter.decode(spark.read.parquet(parts.map(_.path): _*)
          .as[ChunkWriter.FlatChunk])
        .select("series_flat", "ts", "value")
    }
    assert(decoded(t).except(decoded(tClean)).isEmpty &&
      decoded(tClean).except(decoded(t)).isEmpty)
    // the pinned pre-forget snapshot still reads doc 7's observations on
    // d7.example (docs 104/298/492 keep the domain alive, so the LIVE
    // tier carries strictly fewer observations, not zero)
    def d7Obs(df: org.apache.spark.sql.DataFrame): Long =
      df.filter(col("domain") === "d7.example")
        .agg(sum(col("n"))).head().getLong(0)
    val old15 = t.readAt(spark, pinned, "tier=15min/")
    assert(d7Obs(old15) > d7Obs(Pipeline.readTier(spark, t, "15min")),
      "time travel must still see the pre-forget observations")
  }

  test("forgetUrls deletes fully-emptied raw partitions and drops emptied days") {
    import java.sql.Timestamp
    val base = SparkTestSession.tmpDir("pipe-forget2-").toString
    def row(url: String, day: Int): (String, Timestamp, Array[Byte], String, String) =
      (url, Timestamp.from(java.time.Instant.parse(f"2024-02-0$day%dT06:00:00Z")),
        "<html>x</html>".getBytes("UTF-8"), "x", "en")
    // urlA on days 1+2, urlB on days 2+3: forgetting A empties day 1
    val urlA = "https://a.example/p/1"
    val urlB = "https://b.example/p/2"
    val pages = Seq(row(urlA, 1), row(urlA, 2), row(urlB, 2), row(urlB, 3))
      .toDF("url", "warc_ts", "html", "text", "lang")
    Pages.writePartitioned(pages, s"$base/pages", buckets = 4)
    val t = new ManifestTableLayer(s"$base/table")
    Pipeline.runRollup(spark, s"$base/pages", t,
      Pipeline.listDays(spark, s"$base/pages"))
    val (rebuilt, droppedDays) = Pipeline.forgetUrls(spark, s"$base/pages", t, Seq(urlA))
    assert(droppedDays == Seq("2024-02-01") && rebuilt == Seq("2024-02-02"))
    // the emptied (bucket, day) partitions are physically gone from raw
    assert(spark.read.parquet(s"$base/pages")
      .filter(col("url") === urlA).count() == 0)
    // the emptied day's tier/chunk/index partitions are dropped, day 3 intact
    val keys = t.currentPartitions().map(_.key)
    assert(!keys.exists(_.endsWith("/day=2024-02-01")))
    assert(keys.exists(_.endsWith("/day=2024-02-03")))
    // day 2 recomputed: only urlB's contribution remains
    assert(Pipeline.readTier(spark, t, "15min")
      .filter(col("domain") === "a.example").count() == 0)
    // urlB: 2 surviving visits x 2 metrics (text_chars, bytes)
    assert(Pipeline.readTier(spark, t, "15min")
      .filter(col("domain") === "b.example").count() == 4)
  }
}
