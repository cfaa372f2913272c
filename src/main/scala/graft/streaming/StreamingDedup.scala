package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming exact dedup — the crawl-time "have I seen this document
  * before" operator: content-hash keyed `flatMapGroupsWithState` carries
  * the per-hash (min doc_id, cumulative copy count) ACROSS micro-batches,
  * so the final table equals the batch exact-dedup (T1 / `q_dedup_exact`)
  * regardless of arrival order. The batch path dedupes a corpus after the
  * fact; this is the incremental form a continuously-ingesting pipeline
  * needs (state size = one row per DISTINCT document, not per document).
  *
  * Sink: the same `foreachBatch` copy-on-write MERGE shape as the other
  * streaming paths — hash-bucketed snapshot table, only touched buckets
  * rewritten, per-key best row kept (cumulative count is monotone, so
  * replays are idempotent), checkpoint-resumable. No driver-side funnel.
  */
object StreamingDedup {

  case class Doc(h: String, doc_id: Long)
  case class DupState(keeper: Long, n: Long)

  /** MERGE one micro-batch of (h, keeper, n_copies) updates: per hash the
    * row with the LARGEST cumulative count wins (ties: smallest keeper —
    * the state's own evolution order, making batch replay a no-op).
    */
  def mergeDedupBatch(
      spark: SparkSession,
      layer: graft.table.ManifestTableLayer,
      batch: DataFrame,
      batchId: Long,
      nBuckets: Int,
      expireEvery: Int = 0
  ): Unit = {
    val inc = batch.select("h", "keeper", "n_copies")
      .withColumn(MergeSink.BucketCol, MergeSink.hashBucket(nBuckets, col("h")))
    MergeSink.commit(layer, batchId, expireEvery,
      MergeSink.stage(spark, layer, inc, batchId,
        keyPrefix = "dedup/bucket=", lineageTag = "stream-dedup",
        merge = MergeSink.keepBest(Seq("h"),
          Seq(col("n_copies").desc, col("keeper").asc))))
  }

  /** Streaming exact dedup over a documents directory: md5(text) keys the
    * state; each update batch MERGE-upserts the hash-bucketed table.
    * Returns the table's current contents — (h, keeper, n_copies),
    * bitwise the batch `q_dedup_exact` answer once the source drains.
    */
  def dedupExactMerged(
      spark: SparkSession,
      dir: String,
      glob: String,
      tableRoot: String,
      checkpointDir: String,
      maxFilesPerTrigger: Int = 0,
      nBuckets: Int = 16,
      expireEvery: Int = 8
  ): DataFrame = {
    import spark.implicits._
    val layer = new graft.table.ManifestTableLayer(tableRoot)
    val docs = FileStream.source(spark, dir, glob, maxFilesPerTrigger)
      .select(md5(col("text").cast("binary")).as("h"),
        col("doc_id").cast("long").as("doc_id"))
      .as[Doc]
    val updates = docs.groupByKey(_.h)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (h: String, rows: Iterator[Doc], st: GroupState[DupState]) =>
          var cur = st.getOption.getOrElse(DupState(Long.MaxValue, 0L))
          rows.foreach { d =>
            cur = DupState(math.min(cur.keeper, d.doc_id), cur.n + 1)
          }
          st.update(cur)
          Iterator((h, cur.keeper, cur.n))
      }
      .toDF("h", "keeper", "n_copies")
    FileStream.drain(updates.writeStream
      .outputMode("update")
      .foreachBatch((batch: DataFrame, id: Long) =>
        mergeDedupBatch(spark, layer, batch, id, nBuckets, expireEvery)),
      checkpointDir)
    layer.read(spark).select("h", "keeper", "n_copies")
  }
}
