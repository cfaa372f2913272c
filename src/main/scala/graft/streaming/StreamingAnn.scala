package graft.streaming

import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.sim.Ann

/** T51s: CONTINUOUS vector ingestion into a materialized IVF index —
  * embedding parquet files land in a directory (the shape a production
  * embedder emits), the file stream discovers them via the checkpoint,
  * and each micro-batch assigns its vectors with the STORED centroids
  * (bit-identical to the batch append) and lands them in their cell
  * partitions REPLAY-SAFELY ([[Ann.appendToIvfIndex]] with the micro-batch
  * id: staged write + per-batch deterministic file moves — a redelivered
  * batch converges to one copy instead of duplicating rows the way a
  * plain `mode("append")` foreachBatch would). Probes see base + streamed
  * vectors transparently; centroids retrain on drift, never per batch.
  */
object StreamingAnn {

  /** Drain all currently-landed vector files into the index (AvailableNow);
    * resumable — a later call with the same checkpoint processes only
    * files that landed since.
    */
  def appendVectorsStream(
      spark: SparkSession,
      landingDir: String,
      indexPath: String,
      checkpoint: String,
      idCol: String,
      vecCol: String,
      maxFilesPerTrigger: Int = 0
  ): Unit = {
    // cold-start: an empty landing dir makes the batch-read schema probe
    // throw for an otherwise valid setup — fall back to the index's own
    // stored schema (id + vector columns match the append contract)
    val src = FileStream.source(spark, landingDir, glob = "", maxFilesPerTrigger,
      coldStart = { case _: AnalysisException =>
        val elemT = spark.read.parquet(s"$indexPath/centroids").schema("_cv").dataType
        StructType(Seq(StructField(idCol, LongType, nullable = false),
          StructField(vecCol, elemT, nullable = true)))
      })
    FileStream.drain(src.writeStream
      .foreachBatch { (b: DataFrame, batchId: Long) =>
        Ann.appendToIvfIndex(b, idCol, vecCol, indexPath, batchId)
      },
      checkpoint)
  }
}
