package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.table.{ManifestTableLayer, PartitionMeta}

/** The shared `foreachBatch` copy-on-write MERGE sink used by every
  * streaming path (hourly rollup, latest-per-user upsert, exact dedup,
  * near-dup candidates, crawl corpus). A micro-batch is [[MergeSink.stage]]d
  * into each key namespace it touches, then [[MergeSink.commit]]ted as ONE
  * snapshot of the layer, however many namespaces it staged. Staging one
  * namespace runs two queries, regardless of how many buckets the batch
  * touches:
  *
  *   1. touched-bucket discovery (also materializes the incoming cache),
  *   2. ONE `ManifestTableLayer.writeStage` query writing the merged
  *      contents of ALL touched buckets (`partitionBy` over the routing
  *      column — the same all-partitions-in-one-job shape the build and
  *      the chunk-store compaction use). Per-bucket rows and bytes come
  *      from the written files' Parquet footers and sizes on the driver,
  *      not from a second job.
  *
  * AQE runs each shuffle stage of those queries as a Spark job of its
  * own, so a one-namespace batch starts a CONSTANT 5 jobs: measured both
  * into a fresh table and as an upsert over 16 existing buckets
  * (StreamingSpec `MERGE sink runs a constant number of jobs …`).
  *
  * One commit per batch makes the batch atomic across namespaces: a crash
  * before it leaves the store as it was (the staged dirs are referenced by
  * no snapshot, and a replay stages into fresh `-r<n>` dirs), a crash
  * after it leaves the whole batch live (every merge is idempotent, so the
  * replay rewrites identical rows).
  *
  * Retention: with `expireEvery > 0` the commit calls
  * `expireSnapshots(keepLast = 2)` every N batches, so a long-running stream
  * keeps a bounded number of `b<batchId>` stage dirs on disk instead of
  * one per touched bucket per batch forever. Expiry never touches live
  * data (every current partition is referenced by the latest snapshot)
  * and replaying a batch after a crash re-runs an idempotent expire.
  */
object MergeSink {

  /** Reserved routing column: callers attach it (as a STRING — a day like
    * "2024-01-03" or a rendered bucket number) to each incoming row; the
    * partition key is `keyPrefix + value`. Dropped from the stored files
    * by the `partitionBy` write, exactly like the per-bucket loops it
    * replaces dropped their `bucket` column.
    */
  val BucketCol = "mbk"

  /** The [[BucketCol]] value of a hash-bucketed table: `keys` hashed into
    * one of `nBuckets` buckets, rendered as a string.
    */
  def hashBucket(nBuckets: Int, keys: Column*): Column =
    pmod(xxhash64(keys: _*), lit(nBuckets.toLong)).cast("string")

  /** One namespace's part of a micro-batch, written but not committed:
    * the partitions to add and the keys to drop (re-written keys are
    * swapped, so they are in both).
    */
  case class Staged(added: Seq[PartitionMeta], dropped: Seq[String])

  /** Write the MERGE of one micro-batch into one key namespace of the
    * layer, without committing it.
    *
    * @param incoming  the batch, carrying [[BucketCol]]
    * @param keyPrefix partition key = keyPrefix + bucket value
    *                  (e.g. "dedup/bucket=", "tier=1h/day=")
    * @param merge     (existing, incoming) => merged rows, BucketCol
    *                  preserved. Merge keys must be bucket-local (each
    *                  key's rows land in exactly one bucket), which every
    *                  caller guarantees by construction — the bucket IS a
    *                  hash/date of the merge key — so a global window or
    *                  anti-join inside `merge` equals the per-bucket one.
    *                  `existing` is the namespace as of the last commit.
    * @param extraBuckets buckets to REWRITE even when no incoming row
    *                  lands in them — `merge(existing, ∅)` runs there.
    *                  Needed by merges that DELETE keys from buckets the
    *                  batch adds nothing to (a url moving between md5
    *                  groups must be removed from its OLD group's bucket).
    * @param allowEmptied a touched bucket whose merged content is empty
    *                  is staged as a DROPPED partition instead of failing
    *                  the batch (only deletion-capable merges opt in; the
    *                  default keeps the loud stale-partition guard)
    */
  def stage(
      spark: SparkSession,
      layer: ManifestTableLayer,
      incoming: DataFrame,
      batchId: Long,
      keyPrefix: String,
      lineageTag: String,
      merge: (DataFrame, DataFrame) => DataFrame,
      extraBuckets: Seq[String] = Nil,
      allowEmptied: Boolean = false
  ): Staged = {
    import spark.implicits._
    val inc = incoming.persist()
    try {
      val buckets = (inc.select(BucketCol).distinct().as[String].collect() ++
        extraBuckets).distinct.sorted
      if (buckets.isEmpty) return Staged(Nil, Nil)
      val current = layer.currentPartitions().map(p => p.key -> p).toMap
      // stored files carry the data columns only (BucketCol is in the dir
      // name); reading them back with the explicit schema skips footer
      // inference
      val dataSchema = org.apache.spark.sql.types.StructType(
        inc.schema.filterNot(_.name == BucketCol))
      val existingPaths = buckets.toSeq
        .flatMap(b => current.get(keyPrefix + b).map(_.path))
      val existing = existingFor(spark, dataSchema, existingPaths)
        .getOrElse(spark.createDataFrame(
          spark.sparkContext.emptyRDD[Row], inc.schema))
      val merged = merge(existing, inc)
      // one dynamic-partition job writes every touched bucket. The stage
      // dir must be FRESH: a replayed batch (foreachBatch is at-least-once)
      // would otherwise overwrite the very files its merge plan is lazily
      // reading as "existing". Orphaned attempts are unreferenced by any
      // snapshot and swept by expireSnapshots.
      val ns = keyPrefix.split("/").head
      val (added, vanished) = layer.writeStage(merged,
        layer.freshDir(s"$ns/b$batchId"), Seq(BucketCol), buckets.toSeq.map(Seq(_)),
        keyPrefix + _.head, _ => s"$lineageTag batch=$batchId")
      // merge-contract check: every TOUCHED bucket must re-appear in the
      // merged output (the default mergers only grow or keep per-key
      // rows). A merge that emptied a bucket writes no mbk= dir; without
      // an explicit drop the STALE old partition would silently stay
      // live — fail loudly, unless the caller declared a deletion-capable
      // merge (allowEmptied), in which case the emptied buckets' keys are
      // dropped by the commit.
      require(allowEmptied || vanished.isEmpty,
        s"merge produced zero rows for touched bucket(s) ${vanished.map(_.head).mkString(",")} " +
          "— a bucket-emptying merge needs an explicit empty-partition commit, " +
          "which no current sink's merge can produce")
      Staged(added, added.map(_.key) ++ vanished.map(keyPrefix + _.head))
    } finally inc.unpersist()
  }

  /** Commit every namespace a micro-batch staged as ONE snapshot, so a
    * crash leaves either all of the batch or none of it live. A batch
    * that staged nothing commits nothing. With `expireEvery > 0`,
    * `expireSnapshots(keepLast = 2)` runs after every N-th batch's
    * commit (0 = never; finite drains with AvailableNow keep full history
    * for the duration of the run anyway).
    */
  def commit(
      layer: ManifestTableLayer,
      batchId: Long,
      expireEvery: Int,
      staged: Staged*
  ): Unit = {
    val added = staged.flatMap(_.added)
    val dropped = staged.flatMap(_.dropped)
    if (added.isEmpty && dropped.isEmpty) return
    layer.commit(added, dropped)
    if (expireEvery > 0 && (batchId + 1) % expireEvery == 0)
      layer.expireSnapshots(keepLast = 2)
  }

  /** ONE multi-path read of all touched buckets' current partitions, the
    * bucket value recovered from the `mbk=<value>` directory segment each
    * stored file lives under. The previous shape — a per-bucket
    * `spark.read` chained through `unionByName.reduce` — grew the logical
    * plan LINEARLY in touched buckets: at hundreds of buckets per batch
    * the analyzer walk dominates and the plan tree eventually threatens
    * the stack. Bucket values must be partition-path-safe (days / rendered
    * numbers — every caller's, by construction), or the dir name would be
    * Hive-escaped and no longer match the incoming values.
    */
  private[graft] def existingFor(
      spark: SparkSession,
      dataSchema: org.apache.spark.sql.types.StructType,
      paths: Seq[String]
  ): Option[DataFrame] =
    if (paths.isEmpty) None
    else Some(
      spark.read.schema(dataSchema).parquet(paths: _*)
        .withColumn(BucketCol,
          regexp_extract(input_file_name(), s"/$BucketCol=([^/]+)/", 1)))

  /** Keep, per `keys` group, the single best row by `order` — the
    * window-dedupe merge every upsert-style sink uses (latest event,
    * cumulative dedup counts). Formulated once here so the upsert sinks
    * share it.
    */
  def keepBest(keys: Seq[String], order: Seq[Column])(
      existing: DataFrame, incoming: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    existing.unionByName(incoming)
      .withColumn("_rk", row_number().over(w))
      .filter(col("_rk") === 1).drop("_rk")
  }
}
