package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
import graft.text.TextOps

/** Streaming MinHash+LSH near-dup detection — the crawl-time form of the
  * batch T2 pipeline: as documents arrive, each one's codegen'd MinHash
  * signature is banded (same `xxhash64(slice)` band keys as the batch
  * path, so identical inputs produce identical buckets), and per
  * (band_idx, band_hash) bucket the stateful operator carries the doc ids
  * seen so far ACROSS micro-batches, emitting every (new x seen) and
  * (new x new) candidate pair the moment the later document lands.
  *
  * State contract — BOUNDED: one row per OCCUPIED band bucket holding at
  * most `bucketCap` doc ids. Bucket occupancy is near-dup-cluster-sized
  * by LSH construction, so healthy state grows with distinct near-dup
  * groups, not the corpus — but a web crawl WILL produce degenerate
  * bands (boilerplate clusters: empty pages, parked domains — millions
  * of near-identical signatures landing in ONE bucket). Unbounded state
  * there means O(n) state and an O(n^2) streaming pair flood. Instead,
  * the moment a bucket would exceed `bucketCap` its ids are DROPPED, the
  * bucket is flagged saturated (a durable marker row in the table), and
  * every pair the bucket would ever produce comes from a batch-side
  * band-join SWEEP over just the flagged band keys after the drain —
  * semantics preserved, state bounded, quadratic work confined to the
  * batch engine where it belongs.
  *
  * Candidates and saturation markers drain through the shared
  * [[MergeSink]] (one distributed write per namespace and one snapshot
  * per micro-batch, replay-idempotent, checkpoint-resumable). The exact
  * shingle-Jaccard verification then runs BATCH over just the candidate
  * ids — the same candidates-then-verify contract as the batch pipeline,
  * so the final (doc_a, doc_b, jaccard >= threshold) table equals the
  * batch `minhashNearDups` answer once the source drains, for ANY
  * arrival order and ANY bucketCap >= 0.
  */
object StreamingNearDup {

  case class BandRow(band_idx: Int, band_hash: Long, doc: Long)

  /** Per-bucket state: ids seen (<= cap, enforced by [[advanceBand]]) or
    * the saturated flag with ids dropped.
    */
  case class BandState(ids: Seq[Long], saturated: Boolean)

  /** Pure per-bucket transition (unit-tested directly in StreamingSpec):
    * returns (next state, pairs to emit, emit-saturation-marker?). The
    * cap invariant — `next.ids.size <= cap`, and `next.ids.isEmpty` once
    * saturated — holds for every input by construction.
    */
  def advanceBand(
      st: Option[BandState],
      incoming: Seq[Long],
      cap: Int
  ): (BandState, Seq[(Long, Long)], Boolean) = {
    val s0 = st.getOrElse(BandState(Seq.empty, saturated = false))
    if (s0.saturated) (s0, Seq.empty, true)
    else {
      val seen = s0.ids
      val fresh = incoming.toSet.diff(seen.toSet).toSeq.sorted
      if (fresh.isEmpty) (s0, Seq.empty, false)
      else if (seen.size + fresh.size > cap) {
        // saturation: drop the ids (the sweep recomputes this bucket's
        // FULL pair set from the corpus, so nothing already emitted or
        // henceforth skipped is lost) and persist the flag
        (BandState(Seq.empty, saturated = true), Seq.empty, true)
      } else {
        // new x seen, plus new x new (ordered) — over all batches this
        // is exactly the bucket's unordered pair set
        val vsSeen = for (b <- fresh; a <- seen)
          yield (math.min(a, b), math.max(a, b))
        val vsFresh = for {
          i <- fresh.indices
          j <- (i + 1) until fresh.length
        } yield (fresh(i), fresh(j))
        (BandState(seen ++ fresh, saturated = false), vsSeen ++ vsFresh, false)
      }
    }
  }

  /** MERGE one micro-batch of stateful output — candidate pairs
    * (kind=0: a=doc_a, b=doc_b) and saturation markers (kind=1:
    * a=band_idx, b=band_hash) — into the two table namespaces, committed
    * as one snapshot. Both are pure distinct-set growth, so replays are
    * no-ops.
    */
  def mergeCandidateBatch(
      spark: SparkSession,
      layer: graft.table.ManifestTableLayer,
      batch: DataFrame,
      batchId: Long,
      nBuckets: Int,
      expireEvery: Int = 0
  ): Unit = {
    val b = batch.persist()
    try {
      val pairs = b.filter(col("kind") === 0)
        .select(col("a").as("doc_a"), col("b").as("doc_b"))
        .withColumn(MergeSink.BucketCol,
          MergeSink.hashBucket(nBuckets, col("doc_a"), col("doc_b")))
      val marks = b.filter(col("kind") === 1)
        .select(col("a").cast("int").as("band_idx"), col("b").as("band_hash"))
        .withColumn(MergeSink.BucketCol,
          pmod(col("band_hash"), lit(4L)).cast("string"))
      MergeSink.commit(layer, batchId, expireEvery,
        MergeSink.stage(spark, layer, pairs, batchId,
          keyPrefix = "cand/bucket=", lineageTag = "stream-neardup",
          merge = (ex, in) => ex.unionByName(in).distinct()),
        MergeSink.stage(spark, layer, marks, batchId,
          keyPrefix = "satband/bucket=", lineageTag = "stream-satband",
          merge = (ex, in) => ex.unionByName(in).distinct()))
    } finally b.unpersist()
  }

  private val pairSchema = StructType(Seq(
    StructField("doc_a", LongType), StructField("doc_b", LongType)))
  private val satSchema = StructType(Seq(
    StructField("band_idx", IntegerType), StructField("band_hash", LongType)))

  /** Read one key namespace of the table as a DataFrame — empty (not an
    * error) when the stream never committed that namespace: a clean
    * corpus with zero band collisions is a valid outcome.
    */
  private def readNamespace(
      spark: SparkSession,
      layer: graft.table.ManifestTableLayer,
      prefix: String,
      schema: StructType
  ): DataFrame = {
    val parts = layer.currentPartitions().filter(_.key.startsWith(prefix))
    if (parts.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    else spark.read.schema(schema).parquet(parts.map(_.path): _*)
  }

  /** The band-key derivation shared by the stateful stream and the
    * saturation sweep — identical to the batch path's
    * (`TextOps.minhashNearDupsFromSigs`), so identical inputs produce
    * identical buckets in all three places.
    */
  private def banded(docs: DataFrame, k: Int, bands: Int): DataFrame = {
    val rows = k / bands
    docs
      .select(col("doc_id").cast("long").as("doc"),
        TextOps.minhashSig(col("text"), k).as("sig"))
      .select(col("doc"),
        explode(array((0 until bands).map { b =>
          struct(lit(b).as("band_idx"),
            xxhash64(concat_ws(",", slice(col("sig"), b * rows + 1, rows)))
              .as("band_hash"))
        }: _*)).as("band"))
      .select(col("band.band_idx"), col("band.band_hash"), col("doc"))
  }

  /** Streaming near-dup over a documents directory. Returns
    * (doc_a, doc_b, jaccard) with doc_a < doc_b and jaccard >= threshold
    * — the batch `minhashNearDups` answer — after draining the source
    * through the capped stateful banding + MERGE candidate table,
    * sweeping any saturated bands batch-side, and running the
    * exact-Jaccard verify over the candidate ids.
    */
  def nearDupsMerged(
      spark: SparkSession,
      dir: String,
      glob: String,
      tableRoot: String,
      checkpointDir: String,
      k: Int = 16,
      bands: Int = 4,
      threshold: Double = 0.5,
      maxFilesPerTrigger: Int = 0,
      nBuckets: Int = 16,
      bucketCap: Int = 64,
      expireEvery: Int = 8
  ): DataFrame = {
    import spark.implicits._
    require(k % bands == 0, s"k=$k must be divisible by bands=$bands")
    val layer = new graft.table.ManifestTableLayer(tableRoot)
    val src = FileStream.source(spark, dir, glob, maxFilesPerTrigger)
    val bandRows = banded(src, k, bands).as[BandRow]
    val out = bandRows.groupByKey(r => (r.band_idx, r.band_hash))
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (key: (Int, Long), rows: Iterator[BandRow], st: GroupState[BandState]) =>
          val (next, pairs, sat) =
            advanceBand(st.getOption, rows.map(_.doc).toSeq, bucketCap)
          st.update(next)
          val pairRows = pairs.iterator.map { case (a, b) => (0, a, b) }
          val satRow =
            if (sat) Iterator((1, key._1.toLong, key._2)) else Iterator.empty
          pairRows ++ satRow
      }
      .toDF("kind", "a", "b")
    FileStream.drain(out.writeStream
      .outputMode("update")
      .foreachBatch((batch: DataFrame, id: Long) =>
        mergeCandidateBatch(spark, layer, batch, id, nBuckets, expireEvery)),
      checkpointDir)
    // saturated-band sweep: recompute the FULL pair set of just the
    // flagged band keys with the batch band-join — the flagged set is
    // tiny (degenerate buckets only), so it broadcasts
    val satBands = readNamespace(spark, layer, "satband/bucket=", satSchema)
    val corpus = spark.read.option("pathGlobFilter", glob).parquet(dir)
    val streamed = readNamespace(spark, layer, "cand/bucket=", pairSchema)
    val swept =
      if (layer.currentPartitions().exists(_.key.startsWith("satband/"))) {
        val flagged = banded(corpus, k, bands)
          .join(broadcast(satBands), Seq("band_idx", "band_hash"))
        flagged.select(col("band_idx"), col("band_hash"), col("doc").as("doc_a"))
          .join(flagged
              .select(col("band_idx"), col("band_hash"), col("doc").as("doc_b")),
            Seq("band_idx", "band_hash"))
          .filter(col("doc_a") < col("doc_b"))
          .select("doc_a", "doc_b")
      } else streamed.limit(0)
    val candidates = streamed.unionByName(swept).distinct()
    // exact verification batch-side, candidates-only (ids joined back to
    // the corpus — the shuffle carries ids, not documents)
    val docs = corpus
      .select(col("doc_id").cast("long").as("doc"),
        TextOps.shingleSet(col("text"), 3).as("shin"))
    candidates
      .join(docs.select(col("doc").as("doc_a"), col("shin").as("shin_a")), "doc_a")
      .join(docs.select(col("doc").as("doc_b"), col("shin").as("shin_b")), "doc_b")
      .withColumn("inter", size(array_intersect(col("shin_a"), col("shin_b"))))
      .withColumn("uni",
        size(array_distinct(concat(col("shin_a"), col("shin_b")))))
      .withColumn("jaccard", col("inter").cast("double") / col("uni"))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }
}
