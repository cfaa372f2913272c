package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ingest.Warc

/** Streaming WARC ingestion (S9-streaming) — the shape a live crawl
  * actually has: warc files LAND in a directory as crawler segments
  * complete, and the pages table must absorb them incrementally. The
  * `binaryFile` file-stream source discovers new files per micro-batch
  * (checkpointed, so a restart never re-ingests a processed file), each
  * file is record-STREAMED off its path by `Warc.parseStream` (task
  * memory stays O(record) — same reader as the batch path), and the
  * extracted (url, epoch_s, html_md5) rows MERGE into the url-hash-
  * bucketed snapshot table through the shared one-job-per-batch sink.
  *
  * Replay idempotence: a replayed batch re-parses the same files into
  * the identical rows; `keepBest` on (url, epoch_s) with the md5 as the
  * order collapses them — the table converges to the batch `Warc.read`
  * answer for any file arrival order.
  */
object StreamingWarc {

  /** MERGE one micro-batch of parsed records. */
  def mergeWarcBatch(
      spark: SparkSession,
      layer: graft.table.ManifestTableLayer,
      batch: DataFrame,
      batchId: Long,
      nBuckets: Int,
      expireEvery: Int = 0
  ): Unit = {
    val inc = batch.select("url", "epoch_s", "html_md5")
      .withColumn(MergeSink.BucketCol, MergeSink.hashBucket(nBuckets, col("url")))
    MergeSink.commit(layer, batchId, expireEvery,
      MergeSink.stage(spark, layer, inc, batchId,
        keyPrefix = "warc/bucket=", lineageTag = "stream-warc",
        merge = MergeSink.keepBest(Seq("url", "epoch_s"),
          Seq(col("html_md5").asc))))
  }

  /** Ingest every `.warc` / `.warc.gz` under `dir` as a stream; returns
    * the drained table (url, epoch_s, html_md5).
    */
  def ingestMerged(
      spark: SparkSession,
      dir: String,
      tableRoot: String,
      checkpointDir: String,
      maxFilesPerTrigger: Int = 0,
      nBuckets: Int = 16,
      expireEvery: Int = 8
  ): DataFrame = {
    val layer = new graft.table.ManifestTableLayer(tableRoot)
    val recs = Warc.records(FileStream.source(spark, dir, Warc.Glob,
        maxFilesPerTrigger, format = "binaryFile"))
      .select(col("url"), col("epoch_s"), md5(col("html")).as("html_md5"))
    FileStream.drain(recs.writeStream
      .outputMode("append")
      .foreachBatch((batch: DataFrame, id: Long) =>
        mergeWarcBatch(spark, layer, batch, id, nBuckets, expireEvery)),
      checkpointDir)
    layer.read(spark).select("url", "epoch_s", "html_md5")
  }
}
