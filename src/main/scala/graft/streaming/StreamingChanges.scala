package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming revisit change detection — the incremental form of
  * `Web.revisitChanges` (T31): as crawl snapshots stream in, per-url
  * state carries (last content hash, visit/change counters, first/last
  * seen) across micro-batches, so the freshness statistics — and the
  * recrawl schedule derived from them — are ALWAYS current instead of
  * recomputed over the full history. State is O(1) per url (a hash and
  * four counters), never the history.
  *
  * Ordering contract: change counting is inherently sequence-sensitive,
  * so the source must deliver each url's visits in event-time order
  * ACROSS batches (the natural shape for crawl output: a snapshot batch
  * per day/segment; FileStreamSource's listing order preserves it for
  * day-sequenced files). WITHIN a batch the operator sorts the url's
  * rows by epoch itself. Under that contract the drained table equals
  * the batch `revisitChanges` answer (`q_change_rate` truth).
  *
  * Sink: the shared hash-bucketed `foreachBatch` copy-on-write MERGE —
  * n_visits is monotone per url, so per-url max(n_visits) makes batch
  * replay idempotent; checkpoint-resumable, kill/resume-tested in
  * StreamingSpec.
  */
object StreamingChanges {

  case class Visit(url: String, epoch_s: Long, h: String)
  case class ChangeState(lastH: String, nVisits: Long, nChanges: Long,
      firstS: Long, lastS: Long)

  /** MERGE one micro-batch of per-url stats: the row with the largest
    * n_visits wins (monotone ⇒ replays are no-ops).
    */
  def mergeChangesBatch(
      spark: SparkSession,
      layer: graft.table.ManifestTableLayer,
      batch: DataFrame,
      batchId: Long,
      nBuckets: Int,
      expireEvery: Int = 0
  ): Unit = {
    val inc = batch.select("url", "n_visits", "n_changes", "first_s",
      "last_s", "change_ppm")
      .withColumn(MergeSink.BucketCol, MergeSink.hashBucket(nBuckets, col("url")))
    MergeSink.commit(layer, batchId, expireEvery,
      MergeSink.stage(spark, layer, inc, batchId,
        keyPrefix = "changes/bucket=", lineageTag = "stream-changes",
        merge = MergeSink.keepBest(Seq("url"), Seq(col("n_visits").desc))))
  }

  /** Streaming change detection over a directory of visit files
    * (url STRING, epoch_s LONG, text STRING — hashed here). Returns the
    * drained table: (url, n_visits, n_changes, first_s, last_s,
    * change_ppm), equal to batch `revisitChanges` under the ordering
    * contract above.
    */
  def changeRateMerged(
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
    val visits = FileStream.source(spark, dir, glob, maxFilesPerTrigger)
      .select(col("url"), col("epoch_s").cast("long").as("epoch_s"),
        md5(col("text").cast("binary")).as("h"))
      .as[Visit]
    val updates = visits.groupByKey(_.url)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (url: String, rows: Iterator[Visit], st: GroupState[ChangeState]) =>
          var cur = st.getOption.getOrElse(
            ChangeState("", 0L, 0L, Long.MaxValue, Long.MinValue))
          rows.toSeq.sortBy(_.epoch_s).foreach { v =>
            val changed = cur.nVisits > 0 && v.h != cur.lastH
            cur = ChangeState(v.h, cur.nVisits + 1,
              cur.nChanges + (if (changed) 1L else 0L),
              math.min(cur.firstS, v.epoch_s), math.max(cur.lastS, v.epoch_s))
          }
          st.update(cur)
          val ppm =
            if (cur.nVisits > 1) cur.nChanges * 1000000L / (cur.nVisits - 1)
            else 0L
          Iterator((url, cur.nVisits, cur.nChanges, cur.firstS, cur.lastS, ppm))
      }
      .toDF("url", "n_visits", "n_changes", "first_s", "last_s", "change_ppm")
    FileStream.drain(updates.writeStream
      .outputMode("update")
      .foreachBatch((batch: DataFrame, id: Long) =>
        mergeChangesBatch(spark, layer, batch, id, nBuckets, expireEvery)),
      checkpointDir)
    layer.read(spark)
      .select("url", "n_visits", "n_changes", "first_s", "last_s", "change_ppm")
  }
}
