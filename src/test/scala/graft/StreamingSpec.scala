package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.streaming.StreamingRollup
import java.nio.file.{Files, Paths}

/** Stateful streaming: flatMapGroupsWithState carries per-key state
  * ACROSS micro-batches and converges to the batch answer.
  */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("latest-event-per-user state survives micro-batch boundaries == batch dedupe") {
    // split the fixture into 4 files; maxFilesPerTrigger=1 forces 4
    // micro-batches so the running maximum must be carried in state
    val base = SparkTestSession.tmpDir("stream-test-").toString
    val dir = s"$base/src"
    spark.read.parquet(s"${SparkTestSession.sf0001}/events.parquet")
      .repartition(4)
      .write.mode("overwrite").parquet(dir)

    val streamed = StreamingRollup.latestEventPerUserMerged(
      spark, dir, "*.parquet", s"$base/table", s"$base/ckpt",
      maxFilesPerTrigger = 1, nBuckets = 4)

    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").cast("timestamp").desc, col("event_id").desc)
    val batch = spark.read.parquet(dir)
      .withColumn("_rk", row_number().over(w))
      .filter(col("_rk") === 1)
      .select(col("user_id").cast("long").as("user_id"),
        col("event_id").cast("long").as("event_id"),
        unix_timestamp(col("ts").cast("timestamp")).as("epoch_s"),
        col("event_type"),
        round(col("value") * 100).cast("long").as("cents"))

    val cols = Seq("user_id", "event_id", "epoch_s", "event_type", "cents").map(col)
    assert(streamed.select(cols: _*).except(batch.select(cols: _*)).isEmpty)
    assert(streamed.count() == batch.count())
  }

  test("upsert MERGE sink resumes across query restarts == batch dedupe (kill/resume)") {
    val base = SparkTestSession.tmpDir("stream-upsert-").toString
    val srcDir = s"$base/src"
    val events = spark.read.parquet(s"${SparkTestSession.sf0001}/events.parquet")

    // RANDOM split: run 2 delivers arbitrarily out-of-order (often older)
    // rows — no watermark on this path, so state + MERGE must simply
    // never regress the per-user (ts, id) maximum
    val h = pmod(xxhash64(col("event_id")), lit(2))
    events.filter(h === 0).repartition(2)
      .write.mode("overwrite").parquet(srcDir)
    val r1 = StreamingRollup.latestEventPerUserMerged(spark, srcDir, "*.parquet",
      s"$base/table", s"$base/ckpt", maxFilesPerTrigger = 1, nBuckets = 4)
    assert(r1.count() > 0)

    // "kill" = the first query fully stopped; run 2 restarts from the
    // SAME checkpoint + table after the rest of the data arrives
    events.filter(h === 1).repartition(2)
      .write.mode("append").parquet(srcDir)
    val r2 = StreamingRollup.latestEventPerUserMerged(spark, srcDir, "*.parquet",
      s"$base/table", s"$base/ckpt", maxFilesPerTrigger = 1, nBuckets = 4)

    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").cast("timestamp").desc, col("event_id").desc)
    val batch = events
      .withColumn("_rk", row_number().over(w))
      .filter(col("_rk") === 1)
      .select(col("user_id").cast("long").as("user_id"),
        col("event_id").cast("long").as("event_id"),
        unix_timestamp(col("ts").cast("timestamp")).as("epoch_s"),
        col("event_type"),
        round(col("value") * 100).cast("long").as("cents"))
    val cols = Seq("user_id", "event_id", "epoch_s", "event_type", "cents").map(col)
    assert(r2.select(cols: _*).except(batch.select(cols: _*)).isEmpty &&
      batch.select(cols: _*).except(r2.select(cols: _*)).isEmpty,
      "resumed upsert table must equal the batch dedupe over all files")
    assert(r2.count() == batch.count())
    // table is genuinely bucketed: multiple partitions, no driver funnel
    val layer = new graft.table.ManifestTableLayer(s"$base/table")
    assert(layer.currentPartitions().map(_.key).forall(_.startsWith("latest/bucket=")))
    assert(layer.currentPartitions().size > 1)
  }

  test("streaming dedup resumes across restarts == batch exact dedup (kill/resume)") {
    val base = SparkTestSession.tmpDir("stream-dedup-").toString
    val srcDir = s"$base/src"
    val docs = spark.read.parquet(s"${SparkTestSession.sf0001}/documents.parquet")
      .select("doc_id", "text")
    // inject exact dups ACROSS the two runs: run 1 gets the originals,
    // run 2 the copies — the cumulative per-hash state must bridge the
    // restart for n_copies to come out right
    docs.repartition(2).write.mode("overwrite").parquet(srcDir)
    val r1 = graft.streaming.StreamingDedup.dedupExactMerged(spark, srcDir,
      "*.parquet", s"$base/table", s"$base/ckpt", maxFilesPerTrigger = 1)
    assert(r1.count() > 0)
    docs.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 100000).as("doc_id"), col("text"))
      .repartition(2).write.mode("append").parquet(srcDir)
    val r2 = graft.streaming.StreamingDedup.dedupExactMerged(spark, srcDir,
      "*.parquet", s"$base/table", s"$base/ckpt", maxFilesPerTrigger = 1)

    val batch = graft.text.TextOps.exactDedupe(
      spark.read.parquet(srcDir), "doc_id", "text")
    val cols = Seq("h", "keeper", "n_copies").map(col)
    assert(r2.select(cols: _*).except(batch.select(cols: _*)).isEmpty &&
      batch.select(cols: _*).except(r2.select(cols: _*)).isEmpty,
      "resumed dedup table must equal the batch exact dedup")
    assert(r2.count() == batch.count())
    // dup rows really did land in run 2: their hashes show n_copies == 2
    assert(r2.filter(col("n_copies") === 2).count() ==
      docs.filter(col("doc_id") % 10 === 0).count())
  }

  test("stateful streams run on the RocksDB state store (state on disk, not heap)") {
    // the engine default (SparkTestSession/Verify/Bench all set it): at
    // crawl scale the flatMapGroupsWithState state is one row per url /
    // per distinct doc — the HDFS-backed store keeps all of it ON HEAP,
    // RocksDB spills to local disk. Every kill/resume test in this suite
    // already runs on it; this one pins the evidence.
    assert(spark.conf.get("spark.sql.streaming.stateStore.providerClass")
      .contains("RocksDBStateStoreProvider"))
    val base = SparkTestSession.tmpDir("stream-rocks-").toString
    val srcDir = s"$base/src"
    spark.read.parquet(s"${SparkTestSession.sf0001}/documents.parquet")
      .select("doc_id", "text")
      .repartition(2).write.mode("overwrite").parquet(srcDir)
    val r = graft.streaming.StreamingDedup.dedupExactMerged(spark, srcDir,
      "*.parquet", s"$base/table", s"$base/ckpt", maxFilesPerTrigger = 1)
    assert(r.count() > 0)
    // the checkpoint's state dir carries RocksDB artifacts (zip snapshots
    // / changelogs), and NONE of the HDFS provider's .delta files
    import scala.jdk.CollectionConverters._
    val stateFiles = {
      val s = Files.walk(Paths.get(s"$base/ckpt/state"))
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(_.getFileName.toString).toList
      finally s.close()
    }
    assert(stateFiles.exists(f => f.endsWith(".zip") || f.endsWith(".changelog")),
      s"no RocksDB state artifacts under ckpt/state: ${stateFiles.take(10)}")
    assert(!stateFiles.exists(_.endsWith(".delta")),
      "found HDFS-backed .delta state files — RocksDB provider not in effect")
  }

  test("streaming warc ingestion resumes across restarts == batch Warc.read (kill/resume)") {
    import spark.implicits._
    val base = SparkTestSession.tmpDir("stream-warc-").toString
    val srcDir = s"$base/src"
    def wave(tag: String, ids: Seq[Int]): Unit = {
      val df = ids.map(i => (s"https://w$i.example/$tag", 1704067200L + i * 60,
          s"<html>$tag $i</html>".getBytes("UTF-8")))
        .toDF("url", "e", "html")
        .select(col("url"), timestamp_seconds(col("e")).as("warc_ts"), col("html"))
      graft.ingest.Warc.write(df, s"$base/tmp_$tag", nFiles = 2, gzip = true)
      Files.createDirectories(Paths.get(srcDir))
      val st = Files.list(Paths.get(s"$base/tmp_$tag"))
      try st.forEach(p => Files.move(p,
        Paths.get(srcDir, s"${tag}_${p.getFileName}")))
      finally st.close()
    }
    wave("a", 0 until 40)
    val r1 = graft.streaming.StreamingWarc.ingestMerged(spark, srcDir,
      s"$base/table", s"$base/ckpt", maxFilesPerTrigger = 1)
    assert(r1.count() == 40)
    wave("b", 40 until 70) // lands AFTER the restart; checkpoint must
    val r2 = graft.streaming.StreamingWarc.ingestMerged(spark, srcDir,
      s"$base/table", s"$base/ckpt", maxFilesPerTrigger = 1)
    val batch = graft.ingest.Warc.read(spark, srcDir)
      .select(col("url"), unix_timestamp(col("warc_ts")).as("epoch_s"),
        md5(col("html")).as("html_md5"))
    val cols = Seq("url", "epoch_s", "html_md5").map(col)
    assert(r2.select(cols: _*).except(batch.select(cols: _*)).isEmpty &&
      batch.select(cols: _*).except(r2.select(cols: _*)).isEmpty,
      "resumed warc table must equal the batch read")
    assert(r2.count() == 70)
  }

  test("streaming crawl corpus: kill/resume, changed url moves md5 groups, late dup recounts == batch truth") {
    import graft.streaming.StreamingCrawlCorpus
    import spark.implicits._
    val base = SparkTestSession.tmpDir("stream-crawl-").toString
    val warcDir = s"$base/warc"
    Files.createDirectories(Paths.get(warcDir))
    def page(url: String, epoch: Long, text: String) =
      (url, epoch, s"<html><body>$text</body></html>".getBytes("UTF-8"))
    def writeWave(tag: String, pages: Seq[(String, Long, Array[Byte])]): Unit = {
      val tmp = s"$base/$tag"
      graft.ingest.Warc.write(
        pages.toDF("url", "epoch_s", "html")
          .select(col("url"), timestamp_seconds(col("epoch_s")).as("warc_ts"),
            col("html")),
        tmp, nFiles = 2, gzip = true)
      import scala.jdk.CollectionConverters._
      val s = Files.list(Paths.get(tmp))
      try s.iterator().asScala.filter(Files.isRegularFile(_)).foreach { p =>
        Files.copy(p, Paths.get(s"$warcDir/$tag-${p.getFileName}"))
      } finally s.close()
    }
    val wave1 = (0 until 10).map(i =>
      page(s"https://w.example/p/$i", 1000 + i, s"text number $i one two three")) :+
      page("https://w.example/short", 1500, "too short") // gated out (< 3 tokens? no: 2 tokens)
    writeWave("w1", wave1)
    val (l1, jobs1) = SparkTestSession.jobBatchesOf(StreamingCrawlCorpus.ingest(
      spark, warcDir, s"$base/table", s"$base/ckpt", maxFilesPerTrigger = 1))
    assert(StreamingCrawlCorpus.corpus(spark, l1, minTokens = 3).count() == 10)
    // wave 2 lands AFTER the restart: p/0 re-crawled with p/1's TEXT (its
    // old md5 group must be deleted — sole member gone — and p/1's group
    // must recount to 2 copies), plus a brand-new url
    val wave2 = Seq(
      page("https://w.example/p/0", 2000, "text number 1 one two three"),
      page("https://w.example/p/10", 2001, "text number 10 one two three"))
    writeWave("w2", wave2)
    val (l2, jobs2) = SparkTestSession.jobBatchesOf(StreamingCrawlCorpus.ingest(
      spark, warcDir, s"$base/table", s"$base/ckpt", maxFilesPerTrigger = 1))
    // Spark jobs per micro-batch: no more than measured
    val perBatch = (jobs1 ++ jobs2).flatten.groupBy(identity)
      .map { case (b, js) => b -> js.size }.toSeq.sorted
    info(s"jobs per micro-batch: ${perBatch.map { case (b, n) => s"$b=$n" }.mkString(" ")}")
    val before = Seq(0L -> 27, 1L -> 27, 2L -> 29, 3L -> 1)
    assert(perBatch.map(_._1) == before.map(_._1))
    perBatch.zip(before).foreach { case ((b, n), (_, max)) =>
      assert(n <= max, s"micro-batch $b ran $n Spark jobs, more than $max")
    }
    val got = StreamingCrawlCorpus.corpus(spark, l2, minTokens = 3)
      .select("url", "text_md5", "n_copies", "n_tokens")
    // batch truth over ALL records: latest per url -> md5 groups -> gate
    val all = (wave1 ++ wave2).toDF("url", "epoch_s", "html")
      .select(col("url"), col("epoch_s"),
        graft.web.Web.extractText(col("html").cast("string")).as("text"))
    val latest = all
      .withColumn("_rn", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("url"))
          .orderBy(col("epoch_s").desc)))
      .filter(col("_rn") === 1)
    val truth = latest
      .groupBy(md5(col("text").cast("binary")).as("text_md5"))
      .agg(min(col("url")).as("url"), count(lit(1)).as("n_copies"),
        max(size(split(trim(col("text")), "\\s+")).cast("long")).as("n_tokens"))
      .filter(col("n_tokens") >= 3)
      .select("url", "text_md5", "n_copies", "n_tokens")
    assert(got.except(truth).isEmpty && truth.except(got).isEmpty,
      "streamed corpus must equal the batch crawl-to-corpus truth")
    assert(got.count() == truth.count())
    // the dup really recounted: p/1's text now has 2 copies, min url p/0
    assert(got.filter(col("n_copies") === 2).count() == 1)
    assert(got.filter(col("n_copies") === 2).select("url").as[String].head()
      == "https://w.example/p/0")
    // p/0's ORIGINAL text group is deleted (0 members), not stale
    val origMd5 = all.filter(col("url") === "https://w.example/p/0" &&
        col("epoch_s") === 1000)
      .select(md5(col("text").cast("binary"))).as[String].head()
    assert(got.filter(col("text_md5") === origMd5).isEmpty,
      "changed url's old md5 group must vanish from the corpus")
    // the md5-bucketed companion member table (what lets the recount
    // prune its scan to affected buckets) must hold EXACTLY the pages
    // rows re-bucketed by md5 — including across the url that moved
    // between md5 groups and the kill/resume boundary
    val pagesRows = spark.read.parquet(l2.currentPartitions()
        .filter(_.key.startsWith("pages/bucket=")).map(_.path): _*)
      .select("url", "text_md5", "n_tokens")
    val compRows = spark.read.parquet(l2.currentPartitions()
        .filter(_.key.startsWith("pagesmd5/bucket=")).map(_.path): _*)
      .select("url", "text_md5", "n_tokens")
    assert(pagesRows.except(compRows).isEmpty &&
      compRows.except(pagesRows).isEmpty,
      "companion member table must mirror pages, re-bucketed by md5")
    // and it is genuinely spread over md5 buckets (pruning has teeth)
    assert(l2.currentPartitions()
      .count(_.key.startsWith("pagesmd5/bucket=")) > 1)
    // emptied md5 groups are DELETED, never tombstoned — the stored
    // corpus carries no n_copies = 0 rows to accumulate (r6 Missing #5)
    val storedCorpus = spark.read.parquet(l2.currentPartitions()
      .filter(_.key.startsWith("corpus/bucket=")).map(_.path): _*)
    assert(storedCorpus.filter(col("n_copies") === 0).isEmpty,
      "no tombstone rows may exist in the stored corpus")
    assert(storedCorpus.filter(col("text_md5") === origMd5).isEmpty,
      "the emptied group's row must be physically gone")
  }

  test("crawl corpus batch commits once: a crash at any write or commit leaves the store as it was, replays are exact") {
    import graft.streaming.StreamingCrawlCorpus.mergeCrawlBatch
    import graft.table.ManifestTableLayer
    import SparkTestSession.CrashingLayer
    import spark.implicits._
    // the two waves of the crawl test above: wave 2 gives p/0 p/1's text
    // (p/0's old md5 group empties) and adds a new url
    val wave1 = ((0 until 10).map(i => (s"https://w.example/p/$i", 1000L + i,
        s"text number $i one two three")) :+
      (("https://w.example/short", 1500L, "too short")))
      .toDF("url", "epoch_s", "text")
    val wave2 = Seq(
        ("https://w.example/p/0", 2000L, "text number 1 one two three"),
        ("https://w.example/p/10", 2001L, "text number 10 one two three"))
      .toDF("url", "epoch_s", "text")
    def batch2(layer: ManifestTableLayer): Unit =
      mergeCrawlBatch(spark, layer, wave2, 1L, nBuckets = 16)
    /** A store holding batch 1 only. */
    def afterWave1(): String = {
      val root = SparkTestSession.tmpDir("crawl-crash-").toString
      mergeCrawlBatch(spark, new ManifestTableLayer(root), wave1, 0L, nBuckets = 16)
      root
    }
    /** The sorted rows of the pages, pagesmd5 and corpus tables. */
    def rowsOf(root: String): Seq[Seq[String]] = {
      val live = new ManifestTableLayer(root).currentPartitions()
      Seq("pages/", "pagesmd5/", "corpus/").map { ns =>
        ManifestTableLayer.readPartitions(spark,
            live.filter(_.key.startsWith(ns)).map(_.path))
          .collect().map(_.toString).sorted.toSeq
      }
    }

    val clean = afterWave1()
    val counted = new CrashingLayer(clean)
    batch2(counted)
    assert(counted.commits == 1, s"batch 2 made ${counted.commits} commits")
    val want = rowsOf(clean)
    assert(want.forall(_.nonEmpty))
    // a crash after the commit, before Spark records the batch: the
    // replay rewrites identical rows
    batch2(new ManifestTableLayer(clean))
    assert(rowsOf(clean) == want, "replaying a committed batch must change no row")

    info(s"batch 2 makes ${counted.calls} writeStage/commit calls")
    (1 to counted.calls).foreach { k =>
      val root = afterWave1()
      val before = new ManifestTableLayer(root).currentPartitions()
      val e = intercept[IllegalStateException](batch2(new CrashingLayer(root, crashAt = k)))
      assert(e.getMessage.startsWith("injected crash"), e.getMessage)
      assert(new ManifestTableLayer(root).currentPartitions() == before,
        s"a crash at call $k must leave the store at its pre-batch snapshot")
      batch2(new ManifestTableLayer(root))
      assert(rowsOf(root) == want, s"the replay after a crash at call $k must equal a clean run")
    }
  }

  test("near-dup candidate batch with pairs and saturation marks commits once") {
    import spark.implicits._
    val layer = new SparkTestSession.CrashingLayer(
      SparkTestSession.tmpDir("neardup-commit-").toString)
    val batch = Seq((0, 1L, 2L), (0, 3L, 4L), (1, 2L, 77L)).toDF("kind", "a", "b")
    graft.streaming.StreamingNearDup.mergeCandidateBatch(spark, layer, batch, 0L,
      nBuckets = 4, expireEvery = 1)
    assert(layer.commits == 1, s"made ${layer.commits} commits")
    val keys = layer.currentPartitions().map(_.key)
    assert(keys.exists(_.startsWith("cand/")) && keys.exists(_.startsWith("satband/")))
  }

  test("streaming change detection resumes across restarts == batch revisitChanges (kill/resume)") {
    import spark.implicits._
    val base = SparkTestSession.tmpDir("stream-chg-").toString
    val srcDir = s"$base/src"
    // run 1: a unchanged twice, b once
    Seq(("https://a/", 100L, "v1"), ("https://a/", 200L, "v1"),
        ("https://b/", 100L, "x"))
      .toDF("url", "epoch_s", "text").coalesce(1)
      .write.mode("append").parquet(srcDir)
    val r1 = graft.streaming.StreamingChanges.changeRateMerged(spark, srcDir,
      "*.parquet", s"$base/table", s"$base/ckpt", maxFilesPerTrigger = 1)
    assert(r1.filter(col("url") === "https://a/")
      .select("n_visits", "n_changes").as[(Long, Long)].head() == ((2L, 0L)))
    // run 2 (after restart): a CHANGES, b repeats unchanged, c is new —
    // the per-url (last hash, counters) state must bridge the restart
    Seq(("https://a/", 300L, "v2"), ("https://b/", 200L, "x"),
        ("https://c/", 100L, "y"))
      .toDF("url", "epoch_s", "text").coalesce(1)
      .write.mode("append").parquet(srcDir)
    val r2 = graft.streaming.StreamingChanges.changeRateMerged(spark, srcDir,
      "*.parquet", s"$base/table", s"$base/ckpt", maxFilesPerTrigger = 1)
    val batch = graft.web.Web.revisitChanges(
      spark.read.parquet(srcDir)
        .select(col("url"), timestamp_seconds(col("epoch_s")).as("ts"),
          col("text")),
      "url", "ts", "text")
    val cols = Seq("url", "n_visits", "n_changes", "first_s", "last_s",
      "change_ppm").map(col)
    assert(r2.select(cols: _*).except(batch.select(cols: _*)).isEmpty &&
      batch.select(cols: _*).except(r2.select(cols: _*)).isEmpty,
      "resumed change table must equal batch revisitChanges")
    assert(r2.filter(col("url") === "https://a/")
      .select("n_changes").as[Long].head() == 1L)
  }

  test("streaming near-dup resumes across restarts == batch minhash LSH (kill/resume)") {
    val base = SparkTestSession.tmpDir("stream-neardup-").toString
    val srcDir = s"$base/src"
    val docs = spark.read.parquet(s"${SparkTestSession.sf0001}/documents.parquet")
      .select("doc_id", "text")
    // run 1: originals only — no near-dup partner has arrived yet
    docs.repartition(2).write.mode("overwrite").parquet(srcDir)
    val r1 = graft.streaming.StreamingNearDup.nearDupsMerged(spark, srcDir,
      "*.parquet", s"$base/table", s"$base/ckpt", maxFilesPerTrigger = 1)
    // run 2: the near-dup copies arrive AFTER the restart — every
    // (original, copy) pair requires the band state saved by run 1
    docs.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 200000).as("doc_id"),
        concat(col("text"), lit(" graft trailer token")).as("text"))
      .repartition(2).write.mode("append").parquet(srcDir)
    val r2 = graft.streaming.StreamingNearDup.nearDupsMerged(spark, srcDir,
      "*.parquet", s"$base/table", s"$base/ckpt", maxFilesPerTrigger = 1)

    val batch = graft.text.TextOps.minhashNearDups(
      spark.read.parquet(srcDir), "doc_id", "text",
      k = 16, bands = 4, threshold = 0.5)
    val cols = Seq("doc_a", "doc_b", "jaccard").map(col)
    assert(r2.select(cols: _*).except(batch.select(cols: _*)).isEmpty &&
      batch.select(cols: _*).except(r2.select(cols: _*)).isEmpty,
      "resumed near-dup pairs must equal the batch LSH answer")
    assert(r2.count() == batch.count() && r2.count() > 0)
    // the planted pairs really cross the restart boundary
    assert(r2.filter(col("doc_b") === col("doc_a") + 200000).count() > 0)
  }

  test("advanceBand caps per-bucket state and flags saturation") {
    import graft.streaming.StreamingNearDup.{BandState, advanceBand}
    // under cap: pairs emitted, ids grow sorted
    val (s1, p1, m1) = advanceBand(None, Seq(3L, 1L, 2L), cap = 8)
    assert(s1 == BandState(Seq(1L, 2L, 3L), saturated = false))
    assert(p1.toSet == Set((1L, 2L), (1L, 3L), (2L, 3L)) && !m1)
    // repeat ids are not fresh; new id pairs against all seen
    val (s2, p2, m2) = advanceBand(Some(s1), Seq(4L, 2L), cap = 8)
    assert(s2.ids == Seq(1L, 2L, 3L, 4L))
    assert(p2.toSet == Set((1L, 4L), (2L, 4L), (3L, 4L)) && !m2)
    // would exceed cap: ids dropped, flagged, NO pair flood
    val (s3, p3, m3) = advanceBand(Some(s2), Seq(10L, 11L, 12L, 13L, 14L), cap = 8)
    assert(s3 == BandState(Seq.empty, saturated = true) && p3.isEmpty && m3)
    // already saturated: stays flagged and empty forever
    val (s4, p4, m4) = advanceBand(Some(s3), Seq(20L, 21L), cap = 8)
    assert(s4 == BandState(Seq.empty, saturated = true) && p4.isEmpty && m4)
    // the invariant the scale contract rests on: ids never exceed cap
    assert(Seq(s1, s2, s3, s4).forall(_.ids.size <= 8))
  }

  test("degenerate band bucket saturates: bounded candidates, sweep preserves batch answer") {
    import spark.implicits._
    val base = SparkTestSession.tmpDir("stream-satband-").toString
    val srcDir = s"$base/src"
    // a boilerplate cluster — 60 IDENTICAL docs (one band bucket per band
    // holds all 60) — plus a normal near-dup pair and an unrelated doc
    val deg = (0 until 60).map(i =>
      (1000L + i, "parked domain placeholder page with no content to index"))
    val normal = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta iota"),
      (3L, "totally different content about streams and state machines"))
    (deg ++ normal).toDF("doc_id", "text")
      .repartition(4).write.mode("overwrite").parquet(srcDir)

    val r = graft.streaming.StreamingNearDup.nearDupsMerged(spark, srcDir,
      "*.parquet", s"$base/table", s"$base/ckpt",
      maxFilesPerTrigger = 1, bucketCap = 8)
    val batch = graft.text.TextOps.minhashNearDups(
      spark.read.parquet(srcDir), "doc_id", "text",
      k = 16, bands = 4, threshold = 0.5)
    val cols = Seq("doc_a", "doc_b", "jaccard").map(col)
    assert(r.select(cols: _*).except(batch.select(cols: _*)).isEmpty &&
      batch.select(cols: _*).except(r.select(cols: _*)).isEmpty,
      "capped streaming + sweep must still equal the batch LSH answer")
    // the degenerate cluster's 60*59/2 pairs ARE in the final answer...
    assert(r.filter(col("doc_a") >= 1000 && col("doc_b") >= 1000).count() == 60L * 59 / 2)
    // ...but the STREAMING candidate table never saw the quadratic flood
    val layer = new graft.table.ManifestTableLayer(s"$base/table")
    val candParts = layer.currentPartitions().filter(_.key.startsWith("cand/"))
    val candCount =
      if (candParts.isEmpty) 0L
      else spark.read.parquet(candParts.map(_.path): _*)
        .filter(col("doc_a") >= 1000 && col("doc_b") >= 1000).count()
    assert(candCount <= 8L * 7 / 2,
      s"streamed candidates for the degenerate cluster must stay cap-bounded, got $candCount")
    // and the saturation marker is durable in the table
    assert(layer.currentPartitions().exists(_.key.startsWith("satband/")))
  }

  test("MERGE sink runs a constant number of jobs per micro-batch, not per bucket") {
    import spark.implicits._
    val base = SparkTestSession.tmpDir("stream-jobs-").toString
    val layer = new graft.table.ManifestTableLayer(s"$base/table")
    // 64 users over 16 buckets — 15 of them touched
    def batchDf(epoch: Long) = (0 until 64).map(u =>
        (u.toLong, u.toLong * 10 + epoch, epoch, "t", 100L))
      .toDF("user_id", "event_id", "epoch_us", "event_type", "cents")
    // the merge is 2 queries (bucket discovery, partitioned write);
    // AQE materializes each shuffle stage as its own job, so "O(1)"
    // lands at 5 (measured) — the per-bucket loop it replaced ran 2 jobs
    // PER bucket (write + count re-read), >= 32 here
    val (_, fresh) = SparkTestSession.jobsOf(
      StreamingRollup.mergeLatestBatch(spark, layer, batchDf(1L), 0L, nBuckets = 16))
    val afterFresh = layer.currentPartitions()
    info(s"fresh-table merge: $fresh jobs")
    assert(fresh <= 5,
      s"fresh-table merge of 16 buckets must be O(1) jobs, ran $fresh")
    // second batch exercises the read-existing-partitions path
    val (_, upsert) = SparkTestSession.jobsOf(
      StreamingRollup.mergeLatestBatch(spark, layer, batchDf(2L), 1L, nBuckets = 16))
    val live = afterFresh ++ layer.currentPartitions()
    info(s"upsert merge: $upsert jobs")
    assert(upsert <= 5,
      s"upsert merge of 16 existing buckets must be O(1) jobs, ran $upsert")
    // and the merge itself is right: every user at epoch 2
    assert(layer.read(spark).count() == 64)
    assert(layer.read(spark).filter(col("epoch_us") === 2).count() == 64)
    // per-partition stats come from the written files, and match them
    assert(live.size == 2 * layer.currentPartitions().size)
    live.foreach { p =>
      assert(p.rows == spark.read.parquet(p.path).count(), s"rows of ${p.key}")
      val onDisk = {
        val s = Files.walk(Paths.get(p.path))
        try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
        finally s.close()
      }
      assert(p.bytes == onDisk, s"bytes of ${p.key}")
    }

    // foreachBatch is at-least-once: a crash between sink write and offset
    // commit REPLAYS the batch (same batchId, same data). The replay stages
    // to fresh dirs, never over the files its own merge reads, and leaves
    // the live keys and the table contents as they were
    val rowsBefore = layer.read(spark).orderBy("user_id").collect().toSeq
    val keysBefore = layer.currentPartitions().map(_.key).toSet
    StreamingRollup.mergeLatestBatch(spark, layer, batchDf(2L), 1L, nBuckets = 16)
    assert(layer.currentPartitions().map(_.key).toSet == keysBefore,
      "replay must leave the live key set unchanged")
    assert(layer.read(spark).orderBy("user_id").collect().toSeq == rowsBefore,
      "replay must be a no-op on table contents")
    // expiring all but the last 2 snapshots leaves the live rows readable
    layer.expireSnapshots(keepLast = 2)
    assert(layer.read(spark).orderBy("user_id").collect().toSeq == rowsBefore)
  }

  test("MERGE sink reads hundreds of touched buckets as ONE multi-path scan, not a union chain") {
    import spark.implicits._
    val base = SparkTestSession.tmpDir("stream-manybk-").toString
    val layer = new graft.table.ManifestTableLayer(s"$base/table")
    // 400 users over 200 buckets — every bucket touched, twice
    def batchDf(epoch: Long) = (0 until 400).map(u =>
        (u.toLong, u.toLong * 10 + epoch, epoch, "t", 100L))
      .toDF("user_id", "event_id", "epoch_us", "event_type", "cents")
    StreamingRollup.mergeLatestBatch(spark, layer, batchDf(1L), 0L, nBuckets = 200)
    StreamingRollup.mergeLatestBatch(spark, layer, batchDf(2L), 1L, nBuckets = 200)
    assert(layer.read(spark).filter(col("epoch_us") === 2).count() == 400)
    // the existing-side read is one relation: NO Union anywhere in its
    // analyzed plan (the union-chain shape grew linearly in buckets and
    // was analyzer-bound at a few hundred), and the bucket value recovers
    // from the directory name
    val parts = layer.currentPartitions().filter(_.key.startsWith("latest/"))
    assert(parts.size > 150, s"want >150 touched buckets, got ${parts.size}")
    val ex = graft.streaming.MergeSink.existingFor(spark,
      org.apache.spark.sql.types.StructType(
        batchDf(0L).schema.fields), parts.map(_.path)).get
    assert(ex.queryExecution.analyzed.collect {
      case u: org.apache.spark.sql.catalyst.plans.logical.Union => u
    }.isEmpty, "existing-buckets read must be a single multi-path scan")
    assert(ex.count() == 400)
    assert(ex.select(graft.streaming.MergeSink.BucketCol).distinct().count() ==
      parts.size)
  }

  test("streaming retention bounds staging dirs across batches and survives resume") {
    val base = SparkTestSession.tmpDir("stream-expire-").toString
    val srcDir = s"$base/src"
    val events = spark.read.parquet(s"${SparkTestSession.sf0001}/events.parquet")
    val h = pmod(xxhash64(col("event_id")), lit(2))
    // run 1: 6 micro-batches with aggressive expiry (every 2 batches)
    events.filter(h === 0).repartition(6)
      .write.mode("overwrite").parquet(srcDir)
    StreamingRollup.latestEventPerUserMerged(spark, srcDir, "*.parquet",
      s"$base/table", s"$base/ckpt", maxFilesPerTrigger = 1, nBuckets = 4,
      expireEvery = 2)
    // run 2: resume ACROSS an expire with 6 more batches
    events.filter(h === 1).repartition(6)
      .write.mode("append").parquet(srcDir)
    val r2 = StreamingRollup.latestEventPerUserMerged(spark, srcDir, "*.parquet",
      s"$base/table", s"$base/ckpt", maxFilesPerTrigger = 1, nBuckets = 4,
      expireEvery = 2)
    // disk is bounded: 12 batches would leave 12 staging dirs unexpired;
    // retention keeps only those still referenced by the last snapshots
    val stageDirs = {
      import scala.jdk.CollectionConverters._
      val s = Files.list(Paths.get(s"$base/table/data/latest"))
      try s.iterator().asScala.count(_.getFileName.toString.startsWith("b"))
      finally s.close()
    }
    assert(stageDirs <= 6,
      s"expiry must bound staging dirs (12 batches ran, $stageDirs dirs kept)")
    // correctness across kill/resume + expiry: still the batch dedupe
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").cast("timestamp").desc, col("event_id").desc)
    val batch = events
      .withColumn("_rk", row_number().over(w))
      .filter(col("_rk") === 1)
      .select(col("user_id").cast("long").as("user_id"),
        col("event_id").cast("long").as("event_id"),
        unix_timestamp(col("ts").cast("timestamp")).as("epoch_s"),
        col("event_type"),
        round(col("value") * 100).cast("long").as("cents"))
    val cols = Seq("user_id", "event_id", "epoch_s", "event_type", "cents").map(col)
    assert(r2.select(cols: _*).except(batch.select(cols: _*)).isEmpty)
    assert(r2.count() == batch.count())
  }

  test("foreachBatch MERGE sink resumes across query restarts == batch rollup") {
    import java.nio.file.{Files, Paths}
    val base = SparkTestSession.tmpDir("stream-merge-").toString
    val srcDir = s"$base/src"
    val events = spark.read.parquet(s"${SparkTestSession.sf0001}/events.parquet")

    // split by EVENT TIME (later files carry later data, the real arrival
    // order) — splitting randomly would make run 2 entirely "late" past
    // the checkpointed watermark, which correctly drops it
    val cutoff = events.selectExpr("percentile(unix_micros(cast(ts as timestamp)), 0.5)")
      .head().getDouble(0).toLong

    // run 1: only the first half of the timeline exists; the query drains
    // it and stops (a "kill" between the two runs), MERGE-committing
    events.filter(unix_micros(col("ts").cast("timestamp")) < cutoff)
      .repartition(2).write.mode("overwrite").parquet(srcDir)
    val r1 = StreamingRollup.hourlyRollupMerged(spark, srcDir, "*.parquet",
      s"$base/table", s"$base/ckpt", maxFilesPerTrigger = 1)
    assert(r1.count() > 0)

    // run 2: the rest of the timeline arrives; SAME checkpoint + table —
    // the restarted query restores aggregation state and upserts the table
    events.filter(unix_micros(col("ts").cast("timestamp")) >= cutoff)
      .repartition(2).write.mode("append").parquet(srcDir)
    val r2 = StreamingRollup.hourlyRollupMerged(spark, srcDir, "*.parquet",
      s"$base/table", s"$base/ckpt", maxFilesPerTrigger = 1)

    val batch = events.select(
        col("event_type"),
        (unix_timestamp(col("ts").cast("timestamp")) / 3600).cast("long") * 3600,
        round(col("value") * 100).cast("long"))
      .toDF("event_type", "bucket_ts", "cents")
      .groupBy("event_type", "bucket_ts")
      .agg(count(col("cents")).as("n"), sum(col("cents")).as("sum_cents"))
    val cols = Seq("event_type", "bucket_ts", "n", "sum_cents").map(col)
    assert(r2.select(cols: _*).except(batch.select(cols: _*)).isEmpty &&
      batch.select(cols: _*).except(r2.select(cols: _*)).isEmpty,
      "resumed MERGE table must equal the batch rollup over all files")
    assert(r2.count() == batch.count())
    // snapshot history exists (multiple commits across batches/runs)
    val layer = new graft.table.ManifestTableLayer(s"$base/table")
    assert(layer.currentPartitions().nonEmpty)
  }

  test("session_window sessions emit incrementally across micro-batches == single-batch run") {
    val base = SparkTestSession.tmpDir("stream-sess-").toString
    val ev = spark.read.parquet(s"${SparkTestSession.sf0001}/events.parquet")
      .select(col("user_id"), col("event_id"),
        col("ts").cast("timestamp").as("ts"),
        round(col("value") * 100).cast("long").as("cents"))
    val maxTs = ev.agg(max(unix_timestamp(col("ts")))).head.getLong(0)
    import spark.implicits._
    val sentinel = Seq((-1L, -1L, maxTs + 7200L, 0L))
      .toDF("user_id", "event_id", "es", "cents")
      .select(col("user_id"), col("event_id"),
        col("es").cast("timestamp").as("ts"), col("cents"))

    // chronological day files: day N+1's events are all newer than
    // day N's watermark (max - 1h), so multi-batch processing drops
    // nothing — the contract a replayable event-time source must meet
    Files.createDirectories(Paths.get(s"$base/src"))
    def addFile(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = s"$base/tmp_$name"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = Files.list(Paths.get(tmp)).filter(_.toString.endsWith(".parquet"))
        .findFirst().get()
      Files.move(part, Paths.get(s"$base/src/$name.parquet"))
      Thread.sleep(5) // distinct mtimes => deterministic file-source order
    }
    val days = ev.select(to_date(col("ts")).cast("string").as("d"))
      .distinct().as[String].collect().sorted
    for ((d, i) <- days.zipWithIndex)
      addFile(ev.filter(to_date(col("ts")) === to_date(lit(d))), f"d$i%03d")
    addFile(sentinel, f"d${days.length}%03d")

    val multi = StreamingRollup.sessionsStreamed(spark,
      s"$base/src", "*.parquet", s"$base/out_multi", s"$base/ckpt_multi",
      maxFilesPerTrigger = 1)
    ev.unionByName(sentinel).write.mode("overwrite").parquet(s"$base/one")
    val single = StreamingRollup.sessionsStreamed(spark,
      s"$base/one", "*.parquet", s"$base/out_one", s"$base/ckpt_one")

    val cols = Seq("user_id", "n_events", "t_start", "t_end", "cents_sum").map(col)
    assert(multi.select(cols: _*).except(single.select(cols: _*)).isEmpty &&
      single.select(cols: _*).except(multi.select(cols: _*)).isEmpty,
      "multi-batch session emission must equal the single-batch run")
    assert(multi.count() == single.count() && multi.count() > 0)
    // append-mode emitted each finalized session exactly once
    assert(multi.groupBy(cols: _*).count().filter(col("count") > 1).isEmpty)
  }

  test("a micro-batch that throws fails the drain, and no query is left running") {
    val root = SparkTestSession.tmpDir("stream-fail-").toString
    spark.range(4).select(col("id").as("vec_id"),
        array(lit(1.0f), lit(0.0f)).as("embedding"))
      .write.parquet(s"$root/landing")
    // no index at indexPath: the append in foreachBatch cannot read its
    // centroids
    val e = intercept[Exception](graft.streaming.StreamingAnn.appendVectorsStream(
      spark, s"$root/landing", s"$root/no-index", s"$root/ckpt",
      "vec_id", "embedding"))
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(chain.exists {
      case a: org.apache.spark.sql.AnalysisException =>
        a.getMessage.contains("no-index/centroids")
      case _ => false
    }, s"the micro-batch's error must be in the cause chain: ${chain.mkString(" <- ")}")
    assert(spark.streams.active.isEmpty, "the failed query must be stopped")
  }
}
