package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ingest.Warc
import graft.table.ManifestTableLayer
import graft.web.Web

/** The streaming crawl-to-corpus capstone: S9s -> T28 -> T21 as ONE
  * continuous query, not three separate drains. WARC files land in a
  * directory; each micro-batch record-streams them (`Warc.parseStream`,
  * O(record) task memory), extracts text in the same projection, and
  * MERGEs two snapshot tables through the shared one-job sink:
  *
  *  - `pages/bucket=<url-hash>`: latest row per url
  *    (url, epoch_s, text_md5, n_tokens) — the keepBest upsert;
  *  - `corpus/bucket=<md5-hash>`: the exact-dedup corpus view
  *    (text_md5, url = min member url, n_copies, n_tokens), maintained
  *    INCREMENTALLY: only md5 groups actually perturbed by the batch are
  *    recounted.
  *
  * Incremental view maintenance: a url whose text changes moves between
  * md5 groups, so the affected-group set of a batch is
  * {old md5 of every incoming url} ∪ {incoming md5s}. Old md5s come from
  * the pages table as of the last commit. The three merges below are
  * staged and then committed as ONE snapshot, so a crash leaves the
  * batch either wholly absent (the replay recomputes it from the same
  * state) or wholly live (the merges are idempotent over it, so the
  * replay rewrites identical rows).
  * Every per-batch read is BUCKET-PRUNED (the r6 verdict's streaming
  * scale-killer): the old-md5 lookup lists only the incoming urls'
  * url-hash buckets, and the recount runs against a companion member
  * table `pagesmd5/bucket=<md5-hash>` — the same latest-per-url rows as
  * `pages`, re-bucketed by md5 and maintained in the same batch protocol
  * — listing only the affected md5s' buckets. Urls/md5s/counts move,
  * never texts; groups left with no members are DELETED outright (the
  * corpus merge anti-joins the affected set, and a bucket the deletions
  * empty commits as a dropped partition), so no tombstone rows ever
  * accumulate. The release gate (n_copies > 0, n_tokens >= minTokens) is
  * a read-time filter over stored values, so the table converges to the
  * batch `q_crawl_corpus` answer for ANY file arrival order, restart
  * point, or batch slicing.
  */
object StreamingCrawlCorpus {

  /** One micro-batch: pages upsert + incremental corpus recount. */
  def mergeCrawlBatch(
      spark: SparkSession,
      layer: ManifestTableLayer,
      batch: DataFrame, // (url, epoch_s, text)
      batchId: Long,
      nBuckets: Int,
      expireEvery: Int = 0
  ): Unit = {
    import spark.implicits._
    val urlBucket = MergeSink.hashBucket(nBuckets, col("url"))
    val md5Bucket = MergeSink.hashBucket(nBuckets, col("text_md5"))
    val rows = batch.select(col("url"), col("epoch_s"),
        md5(col("text").cast("binary")).as("text_md5"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens"))
      .persist()
    try {
      if (rows.isEmpty) return
      // url-hash buckets the batch touches — computable batch-side, bounded
      val urlBuckets = rows.select(urlBucket.as("ub")).distinct()
        .as[String].collect().toSet
      // ---- (1) affected md5 groups; the old-md5 lookup lists ONLY the
      // incoming urls' live pages buckets (a url's row can live nowhere
      // else) — per-batch reads never scan the corpus (r6 verdict: the
      // full-table recount scan was the one streaming scale-killer left)
      val preParts = layer.currentPartitions()
        .filter(p => p.key.startsWith("pages/bucket=") &&
          urlBuckets.contains(p.key.stripPrefix("pages/bucket=")))
        .map(_.path)
      val oldMd5 =
        if (preParts.isEmpty) rows.select("text_md5").limit(0)
        else ManifestTableLayer.readPartitions(spark, preParts)
          .join(rows.select("url").distinct(), Seq("url"), "left_semi")
          .select("text_md5")
      val affected = oldMd5.unionByName(rows.select("text_md5")).distinct()
        .persist()
      try {
        // ---- (2) latest-per-url MERGE (url-hash buckets)
        val incPages = rows.withColumn(MergeSink.BucketCol, urlBucket)
        val pages = MergeSink.stage(spark, layer, incPages, batchId,
          keyPrefix = "pages/bucket=", lineageTag = "stream-crawl-pages",
          merge = MergeSink.keepBest(Seq("url"),
            Seq(col("epoch_s").desc, col("text_md5").asc)))
        // ---- (2b) companion member table `pagesmd5/bucket=<md5-hash>`:
        // the SAME latest-per-url rows as `pages`, re-bucketed by md5 so
        // the recount can prune its scan to affected md5 buckets. The
        // post-merge truth for each incoming url comes from the staged
        // pages buckets (the keepBest merge empties no bucket, so every
        // url bucket of the batch is among them); the merge drops the
        // incoming urls' OLD rows (their old-md5 buckets ride in as
        // extraBuckets — affected ⊇ {old md5s}) and inserts the fresh
        // rows. A bucket the deletions empty is dropped (allowEmptied).
        val urlTruth = ManifestTableLayer
          .readPartitions(spark, pages.added.map(_.path))
          .join(rows.select("url").distinct(), Seq("url"), "left_semi")
          .select(col("url"), col("text_md5"), col("n_tokens"))
          .withColumn(MergeSink.BucketCol, md5Bucket)
        val affectedBuckets = affected.select(md5Bucket.as("mb")).distinct()
          .as[String].collect().toSeq.sorted
        val members = MergeSink.stage(spark, layer, urlTruth, batchId,
          keyPrefix = "pagesmd5/bucket=", lineageTag = "stream-crawl-bymd5",
          merge = (existing, incoming) =>
            existing.join(incoming.select("url").distinct(),
                Seq("url"), "left_anti")
              .unionByName(incoming),
          extraBuckets = affectedBuckets, allowEmptied = true)
        // ---- (3) recount affected groups against the staged companion
        // buckets. Every post-merge md5 of an incoming url is an incoming
        // or an old md5, so the staged buckets are exactly the affected
        // ones, minus those the deletions emptied (never all of them: each
        // incoming url's row lands in one).
        val recounts = ManifestTableLayer
          .readPartitions(spark, members.added.map(_.path))
          .join(broadcast(affected), "text_md5")
          .groupBy(col("text_md5"))
          .agg(min(col("url")).as("url"), count(lit(1)).as("n_copies"),
            max(col("n_tokens")).as("n_tokens"))
        // no tombstones: the merge deletes by the (broadcast-sized)
        // AFFECTED set rather than by the incoming md5s, so a group the
        // batch emptied simply vanishes — its bucket rides in via
        // extraBuckets and, if emptied entirely, is dropped.
        val incCorpus = recounts
          .select("text_md5", "url", "n_copies", "n_tokens")
          .withColumn(MergeSink.BucketCol, md5Bucket)
        val corpus = MergeSink.stage(spark, layer, incCorpus, batchId,
          keyPrefix = "corpus/bucket=", lineageTag = "stream-crawl-corpus",
          merge = (existing, incoming) =>
            existing.join(broadcast(affected.select("text_md5")),
                Seq("text_md5"), "left_anti")
              .unionByName(incoming),
          extraBuckets = affectedBuckets, allowEmptied = true)
        MergeSink.commit(layer, batchId, expireEvery, pages, members, corpus)
      } finally affected.unpersist()
    } finally rows.unpersist()
  }

  /** The continuous query: stream `.warc(.gz)` files under `dir` through
    * parse -> extract -> the three MERGEs; drains with AvailableNow. Returns
    * the layer for reads; a later call with the same checkpoint resumes.
    */
  def ingest(
      spark: SparkSession,
      dir: String,
      tableRoot: String,
      checkpointDir: String,
      maxFilesPerTrigger: Int = 0,
      nBuckets: Int = 16,
      expireEvery: Int = 8
  ): ManifestTableLayer = {
    val layer = new ManifestTableLayer(tableRoot)
    val recs = Warc.records(FileStream.source(spark, dir, Warc.Glob,
        maxFilesPerTrigger, format = "binaryFile"))
      .select(col("url"), col("epoch_s"),
        Web.extractText(col("html").cast("string")).as("text"))
    FileStream.drain(recs.writeStream
      .outputMode("append")
      .foreachBatch((batch: DataFrame, id: Long) =>
        mergeCrawlBatch(spark, layer, batch, id, nBuckets, expireEvery)),
      checkpointDir)
    layer
  }

  /** The release-gated corpus: live md5 groups with enough tokens —
    * bitwise the batch `q_crawl_corpus` shape once the source drains.
    */
  def corpus(
      spark: SparkSession,
      layer: ManifestTableLayer,
      minTokens: Long
  ): DataFrame = {
    val parts = layer.currentPartitions()
      .filter(_.key.startsWith("corpus/bucket=")).map(_.path)
    require(parts.nonEmpty, "corpus table has no live partitions")
    ManifestTableLayer.readPartitions(spark, parts)
      .filter(col("n_copies") > 0 && col("n_tokens") >= minTokens)
      .select("url", "text_md5", "n_copies", "n_tokens")
  }
}
