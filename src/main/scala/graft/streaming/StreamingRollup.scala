package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured-Streaming variant of the tier rollup: the incremental /
  * late-data path the batch reference lacks (OPSD handles revisions by
  * full re-runs; at crawl scale you want continuous aggregates instead).
  *
  * Shape: `readStream` over the events directory -> event-time watermark ->
  * tumbling-window aggregation -> `foreachBatch` copy-on-write MERGE into
  * a day-partitioned snapshot table. The fixture source is finite and
  * driven to completion synchronously; on a cluster the same plan runs
  * continuously against a file/Kafka source with the identical sink.
  */
object StreamingRollup {

  /** Copy-on-write MERGE of one micro-batch of hourly aggregates
    * (event_type, bucket_ts, n, sum_cents) into a day-partitioned
    * ManifestTableLayer: only the day partitions the batch touches are
    * rewritten (existing rows kept via anti-join, matching keys replaced
    * by the batch's new values). This is the cluster sink shape (Iceberg
    * MERGE INTO is the same copy-on-write move); nothing accumulates on
    * the driver. All touched days merge in ONE distributed job + ONE
    * snapshot commit per batch ([[MergeSink.commit]]) — the
    * affected-day count is bounded by the watermark horizon, but even a
    * wide-horizon batch costs a constant number of job launches.
    */
  def mergeHourlyBatch(
      spark: SparkSession,
      layer: graft.table.ManifestTableLayer,
      batch: DataFrame,
      batchId: Long,
      expireEvery: Int = 0
  ): Unit = {
    val inc = batch.select("event_type", "bucket_ts", "n", "sum_cents")
      .withColumn(MergeSink.BucketCol,
        date_format(timestamp_seconds(col("bucket_ts")), "yyyy-MM-dd"))
    MergeSink.commit(layer, batchId, expireEvery,
      MergeSink.stage(spark, layer, inc, batchId,
        keyPrefix = "tier=1h/day=", lineageTag = "stream-merge",
        merge = (existing, incoming) =>
          existing.join(incoming.select("event_type", "bucket_ts"),
              Seq("event_type", "bucket_ts"), "left_anti")
            .unionByName(incoming)))
  }

  /** Hourly streaming rollup through the PRODUCTION sink shape:
    * watermarked update-mode aggregation -> `foreachBatch` copy-on-write
    * MERGE into a snapshot table — resumable via `checkpointDir` across
    * query restarts (late/new files upsert the same table). Returns the
    * table's current contents.
    */
  def hourlyRollupMerged(
      spark: SparkSession,
      dir: String,
      glob: String,
      tableRoot: String,
      checkpointDir: String,
      maxFilesPerTrigger: Int = 0,
      expireEvery: Int = 8
  ): DataFrame = {
    val layer = new graft.table.ManifestTableLayer(tableRoot)
    val stream = FileStream.source(spark, dir, glob, maxFilesPerTrigger)
      .select(
        col("event_type"),
        col("ts").cast("timestamp").as("ts"),
        round(col("value") * 100).cast("long").as("cents"))
      .withWatermark("ts", "1 hour")
      .groupBy(col("event_type"), window(col("ts"), "1 hour"))
      .agg(count(col("cents")).as("n"), sum(col("cents")).as("sum_cents"))
      .select(col("event_type"),
        unix_timestamp(col("window.start")).as("bucket_ts"),
        col("n"), col("sum_cents"))
    FileStream.drain(stream.writeStream
      .outputMode("update")
      .foreachBatch((batch: DataFrame, id: Long) =>
        mergeHourlyBatch(spark, layer, batch, id, expireEvery)),
      checkpointDir)
    layer.read(spark).select("event_type", "bucket_ts", "n", "sum_cents")
  }

  case class Ev(event_id: Long, epoch_us: Long, user_id: Long,
      event_type: String, cents: Long)

  /** Copy-on-write MERGE of one micro-batch of per-user latest-event
    * updates into a user-hash-bucketed ManifestTableLayer: only the hash
    * buckets the batch touches are rewritten. Within a rewritten bucket
    * the merge keeps the per-user (epoch_us, event_id) MAXIMUM of
    * existing + incoming rows — idempotent under foreachBatch replay and
    * monotone under out-of-order arrivals, i.e. `MERGE WHEN MATCHED AND
    * source.ts > target.ts THEN UPDATE` semantics. Bucket count bounds
    * the per-batch job count; each bucket job is a distributed
    * union + window over one partition + the batch slice — nothing about
    * the state table ever reaches the driver (the round-3 memory-sink
    * version collected every user's row; at 10^9 users that is a driver
    * OOM, not a sink).
    */
  def mergeLatestBatch(
      spark: SparkSession,
      layer: graft.table.ManifestTableLayer,
      batch: DataFrame,
      batchId: Long,
      nBuckets: Int,
      expireEvery: Int = 0
  ): Unit = {
    // touched buckets are bounded by nBuckets, never by user count
    val inc = batch.select("user_id", "event_id", "epoch_us", "event_type", "cents")
      .withColumn(MergeSink.BucketCol,
        MergeSink.hashBucket(nBuckets, col("user_id")))
    MergeSink.commit(layer, batchId, expireEvery,
      MergeSink.stage(spark, layer, inc, batchId,
        keyPrefix = "latest/bucket=", lineageTag = "stream-upsert",
        merge = MergeSink.keepBest(Seq("user_id"),
          Seq(col("epoch_us").desc, col("event_id").desc))))
  }

  /** Stateful streaming upsert through the PRODUCTION sink shape: latest
    * event per user via `flatMapGroupsWithState` — per-key state carries
    * the running (epoch_us, event_id) maximum ACROSS micro-batches, the
    * streaming form of the engine's priority dedupe (P6) / revision
    * patching (J3). Late or out-of-order arrivals never regress the state
    * (strict (ts, id) ordering), which is exactly the late-page-revision
    * semantics the batch pipeline gets from union + window dedupe.
    *
    * Each micro-batch of updates is MERGE-upserted into a user-hash-
    * bucketed snapshot table via `foreachBatch` ([[mergeLatestBatch]]),
    * resumable via `checkpointDir` across query restarts. `eventsPath`
    * may be split over many files; with maxFilesPerTrigger=1 each file is
    * its own micro-batch, exercising cross-batch state (StreamingSpec).
    * Returns the table's current contents.
    */
  def latestEventPerUserMerged(
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
    val src = FileStream.source(spark, dir, glob, maxFilesPerTrigger)
    // state carries FULL-microsecond timestamps: the dedupe contract is
    // (ts, event_id) at source precision — second-truncated state would
    // silently diverge from the batch dedupe on sub-second ties
    val evs = src.select(
        col("event_id").cast("long").as("event_id"),
        unix_micros(col("ts").cast("timestamp")).as("epoch_us"),
        col("user_id").cast("long").as("user_id"),
        col("event_type"),
        round(col("value") * 100).cast("long").as("cents"))
      .as[Ev]
    val latest = evs.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[Ev], st: GroupState[Ev]) =>
          var cur = st.getOption.orNull
          rows.foreach { e =>
            if (cur == null || e.epoch_us > cur.epoch_us ||
                (e.epoch_us == cur.epoch_us && e.event_id > cur.event_id))
              cur = e
          }
          st.update(cur)
          Iterator((uid, cur.event_id, cur.epoch_us, cur.event_type, cur.cents))
      }
      .toDF("user_id", "event_id", "epoch_us", "event_type", "cents")
    FileStream.drain(latest.writeStream
      .outputMode("update")
      .foreachBatch((batch: DataFrame, id: Long) =>
        mergeLatestBatch(spark, layer, batch, id, nBuckets, expireEvery)),
      checkpointDir)
    layer.read(spark)
      .withColumn("epoch_s", expr("epoch_us div 1000000"))
      .select("user_id", "event_id", "epoch_s", "event_type", "cents")
  }

  /** Streaming gap-sessionization through the NATIVE `session_window`
    * aggregation: per-user sessions merge inside the state store and are
    * emitted in APPEND mode once the event-time watermark passes their
    * end, so state holds only OPEN sessions — bounded by concurrently
    * active users, not by history (the batch sessionize sorts all of it).
    * Events exactly `gapSec` apart merge (split on gap > gapSec, probed
    * against Spark 4.1 and matched by the oracle + batch sessionize).
    *
    * Draining a bounded backfill needs the watermark pushed past the last
    * real session's end: the caller plants a max-timestamp heartbeat row
    * (sentinel user_id -1) — the production pattern for watermark
    * advancement on quiet sources. The sentinel's own session stays open
    * in state and is never emitted; the final no-data micro-batch flushes
    * every real session.
    */
  def sessionsStreamed(
      spark: SparkSession,
      srcDir: String,
      glob: String,
      outDir: String,
      checkpointDir: String,
      gapSec: Long = 1800L,
      maxFilesPerTrigger: Int = 0
  ): DataFrame = {
    val sessions = FileStream.source(spark, srcDir, glob, maxFilesPerTrigger)
      .withWatermark("ts", "1 hour")
      .groupBy(col("user_id"), session_window(col("ts"), s"$gapSec seconds"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).as("ts_min"), max(col("ts")).as("ts_max"),
        sum(col("cents")).as("cents_sum"))
      .select(col("user_id"), col("n_events"),
        unix_timestamp(col("ts_min")).as("t_start"),
        unix_timestamp(col("ts_max")).as("t_end"),
        col("cents_sum"))
    FileStream.drain(sessions.writeStream
      .outputMode("append")
      .format("parquet")
      .option("path", outDir),
      checkpointDir)
    spark.read.parquet(outDir).filter(col("user_id") >= 0)
      .select("user_id", "n_events", "t_start", "t_end", "cents_sum")
  }
}
