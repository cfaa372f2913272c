package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ingest.Pages
import graft.pipeline.Pipeline
import graft.table.ManifestTableLayer
import graft.checkpoint.Checkpoint

/** Queries that drive the REAL storage machinery inside the correctness
  * gate: each builds a fresh ManifestTableLayer with the full pipeline
  * (tiers + chunks + index, per-day checkpointed), then exercises
  * retention / crash-resume and reads the result back. Oracles recompute
  * the expected state from `documents` directly.
  */
object RetentionQueries {

  private val P = s"(${Pages.oracleCte})"

  /** Pipeline points (canonical page columns only: no synthetic score),
    * parametrized by the pages source so subset variants (time travel,
    * forget) replay the same chain over a restricted corpus.
    */
  private def pts2Of(src: String) =
    s"SELECT domain, 'text_chars' AS metric, epoch_s, CAST(n_chars AS DOUBLE) AS value FROM $src p1 " +
      s"UNION ALL SELECT domain, 'bytes', epoch_s, CAST(n_chars + 26 AS DOUBLE) FROM $src p2"
  private def t15Of(src: String) =
    s"SELECT domain, metric, epoch_s//900*900 AS bucket_ts, count(value) AS n, " +
      s"sum(value) AS sum_v, sum(value)/count(value) AS mean_v FROM (${pts2Of(src)}) pts GROUP BY 1, 2, 3"
  private def t1hOf(src: String) =
    s"SELECT domain, metric, bucket_ts//3600*3600 AS bucket_ts, CAST(sum(n) AS BIGINT) AS n, " +
      s"sum(sum_v) AS sum_v, sum(sum_v)/sum(n) AS mean_v FROM (${t15Of(src)}) t15 GROUP BY 1, 2, 3"
  private val T15 = t15Of(P)
  private val T1H = t1hOf(P)
  private val T1D =
    s"SELECT domain, metric, bucket_ts//86400*86400 AS bucket_ts, CAST(sum(n) AS BIGINT) AS n, " +
      s"sum(sum_v) AS sum_v, sum(sum_v)/sum(n) AS mean_v FROM ($T1H) t1h GROUP BY 1, 2, 3"

  private val CutoffDay = "2024-01-04"
  private val CutoffEpoch = 1704326400L

  /** synth pages -> full rollup into a fresh table; returns the table. */
  private def buildTable(s: SparkSession, dir: String, root: String,
      failAfter: Int = -1): ManifestTableLayer = {
    val pagesPath = s"$root/pages"
    Pages.writePartitioned(
      Pages.synthesize(s, dir).select("url", "warc_ts", "html", "text", "lang"),
      pagesPath, buckets = 16)
    val table = new ManifestTableLayer(s"$root/table")
    val days = Pipeline.listDays(s, pagesPath)
    if (failAfter >= 0) {
      try Pipeline.runRollup(s, pagesPath, table, days, failAfter = failAfter)
      catch { case _: Checkpoint.InjectedCrash => () } // simulated kill
    }
    Pipeline.runRollup(s, pagesPath, table, days) // (re)run to completion
    table
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // sweep raw tier < cutoff; surviving 15-min partitions per day
    "q_retention_raw" -> ((s, dir) => {
      val table = buildTable(s, dir, Scratch.fresh("ret_raw"))
      Pipeline.sweepRaw(table, CutoffDay)
      Pipeline.readTier(s, table, "15min")
        .groupBy(graft.rollup.TimeSeriesOps.bucketStart(col("bucket_ts"), 86400)
          .as("day_ts"))
        .agg(count(lit(1)).as("n_points"), sum(col("n")).as("n_obs"))
    }),

    // aggregates must remain complete (all 7 days) AFTER the raw sweep
    "q_retention_aggs" -> ((s, dir) => {
      val table = buildTable(s, dir, Scratch.fresh("ret_aggs"))
      Pipeline.sweepRaw(table, CutoffDay)
      Pipeline.readTier(s, table, "1d")
        .select("domain", "metric", "bucket_ts", "n", "sum_v", "mean_v")
    }),

    // INCREMENTAL refresh == full rebuild: build the chain over 80% of
    // the pages, then applyDelta the late 20% (split by doc id parsed
    // from the url — SQL-mirrorable). The refreshed hourly tier must be
    // bitwise the tier a full build over ALL pages produces — the
    // algebraic-partials merge is exact, not approximate.
    "q_tier_refresh" -> ((s, dir) => {
      val root = Scratch.fresh("tier_refresh")
      val all = Pages.synthesize(s, dir)
        .select("url", "warc_ts", "html", "text", "lang")
      val late = regexp_extract(col("url"), "/p/(\\d+)$", 1)
        .cast("long") % 5 === 4
      val basePath = s"$root/pages"
      Pages.writePartitioned(all.filter(!late), basePath, buckets = 16)
      val table = new ManifestTableLayer(s"$root/table")
      Pipeline.runRollup(s, basePath, table, Pipeline.listDays(s, basePath))
      Pipeline.applyDelta(s, all.filter(late), table)
      Pipeline.readTier(s, table, "1h")
        .select("domain", "metric", "bucket_ts", "n", "sum_v", "mean_v")
    }),

    // crash after 5 committed partitions, resume, hourly tier must equal
    // the single-run result
    "q_checkpoint_resume" -> ((s, dir) => {
      val table = buildTable(s, dir, Scratch.fresh("resume"), failAfter = 5)
      Pipeline.readTier(s, table, "1h")
        .select("domain", "metric", "bucket_ts", "n", "sum_v", "mean_v")
    }),

    // TIME TRAVEL: pin the snapshot id after the 80% base build, merge
    // the late 20% with applyDelta, then read the hourly tier AS OF the
    // pinned snapshot — must equal the base-only build bitwise, even
    // though the live table has merged the delta (copy-on-write stage
    // dirs keep every retained snapshot's bytes immutable)
    "q_time_travel" -> ((s, dir) => {
      val root = Scratch.fresh("time_travel")
      val all = Pages.synthesize(s, dir)
        .select("url", "warc_ts", "html", "text", "lang")
      val late = regexp_extract(col("url"), "/p/(\\d+)$", 1)
        .cast("long") % 5 === 4
      val basePath = s"$root/pages"
      Pages.writePartitioned(all.filter(!late), basePath, buckets = 16)
      val table = new ManifestTableLayer(s"$root/table")
      Pipeline.runRollup(s, basePath, table, Pipeline.listDays(s, basePath))
      val pinned = table.currentSnapshotId()
      Pipeline.applyDelta(s, all.filter(late), table)
      table.readAt(s, pinned, "tier=1h/")
        .select("domain", "metric", "bucket_ts", "n", "sum_v", "mean_v")
    }),

    // SNAPSHOT DIFF / CDC read: the row-level changes between a pinned
    // snapshot and the live table — the audit/changelog read an
    // incrementally-maintained store owes its consumers (what did the
    // late batch actually change?). Distributed set difference both
    // ways over the hourly tier; at scale the two sides are partition-
    // pruned to the touched days before the except shuffles anything.
    "q_snapshot_diff" -> ((s, dir) => {
      val root = Scratch.fresh("snap_diff")
      val all = Pages.synthesize(s, dir)
        .select("url", "warc_ts", "html", "text", "lang")
      val late = regexp_extract(col("url"), "/p/(\\d+)$", 1)
        .cast("long") % 5 === 4
      val basePath = s"$root/pages"
      Pages.writePartitioned(all.filter(!late), basePath, buckets = 16)
      val table = new ManifestTableLayer(s"$root/table")
      Pipeline.runRollup(s, basePath, table, Pipeline.listDays(s, basePath))
      val pinned = table.currentSnapshotId()
      Pipeline.applyDelta(s, all.filter(late), table)
      val cols = Seq("domain", "metric", "bucket_ts", "n", "sum_v", "mean_v")
      val before = table.readAt(s, pinned, "tier=1h/").select(cols.map(col): _*)
      val after = Pipeline.readTier(s, table, "1h").select(cols.map(col): _*)
      after.except(before).withColumn("change", lit("added"))
        .unionByName(before.except(after).withColumn("change", lit("removed")))
    }),

    // GDPR forget: erase two urls (one on the hot domain d0) from the raw
    // store AND rebuild exactly the partitions they contributed to; the
    // live hourly tier must equal a from-scratch build without those urls
    "q_forget_url" -> ((s, dir) => {
      val root = Scratch.fresh("forget")
      val table = buildTable(s, dir, root)
      val urls = Seq(7L, 110L).map { id =>
        val dom = if (id % 5 < 2) 0L else id % 97
        s"https://d$dom.example/p/$id"
      }
      Pipeline.forgetUrls(s, s"$root/pages", table, urls)
      Pipeline.readTier(s, table, "1h")
        .select("domain", "metric", "bucket_ts", "n", "sum_v", "mean_v")
    }),

    // CAPSTONE erasure proof (T57+T58+T59 composed): pin a snapshot,
    // forget the urls, then DIFF pinned-vs-live — the changelog is
    // EXACTLY the erased urls' contribution (every hourly bucket they
    // touched changes or disappears, nothing else moves). This is the
    // compliance artifact a real erasure request ends with.
    "q_erasure_proof" -> ((s, dir) => {
      val root = Scratch.fresh("erasure")
      val table = buildTable(s, dir, root)
      val urls = Seq(7L, 110L).map { id =>
        val dom = if (id % 5 < 2) 0L else id % 97
        s"https://d$dom.example/p/$id"
      }
      val pinned = table.currentSnapshotId()
      Pipeline.forgetUrls(s, s"$root/pages", table, urls)
      val cols = Seq("domain", "metric", "bucket_ts", "n", "sum_v", "mean_v")
      val before = table.readAt(s, pinned, "tier=1h/").select(cols.map(col): _*)
      val after = Pipeline.readTier(s, table, "1h").select(cols.map(col): _*)
      before.except(after).withColumn("change", lit("removed"))
        .unionByName(after.except(before).withColumn("change", lit("added")))
    })
  )

  val oracleSql: Map[String, String] = Map(
    "q_retention_raw" ->
      s"""SELECT bucket_ts//86400*86400 AS day_ts, count(*) AS n_points,
         |  CAST(sum(n) AS BIGINT) AS n_obs
         |FROM ($T15) t WHERE bucket_ts >= $CutoffEpoch GROUP BY 1""".stripMargin,
    "q_retention_aggs" -> T1D,
    "q_checkpoint_resume" -> T1H,
    // the oracle is the FULL-corpus hourly tier — incremental must equal it
    "q_tier_refresh" -> T1H,
    // AS OF the pinned snapshot == the hourly tier of the 80% base corpus
    "q_time_travel" -> t1hOf(s"(SELECT * FROM $P pb WHERE doc_id % 5 <> 4)"),
    // the delta's row-level changelog: (full EXCEPT base) + (base EXCEPT full)
    "q_snapshot_diff" ->
      s"""WITH fullt AS (${t1hOf(P)}),
         |baset AS (${t1hOf(s"(SELECT * FROM $P pb WHERE doc_id % 5 <> 4)")})
         |SELECT *, 'added' AS change FROM (SELECT * FROM fullt EXCEPT SELECT * FROM baset) a
         |UNION ALL
         |SELECT *, 'removed' AS change FROM (SELECT * FROM baset EXCEPT SELECT * FROM fullt) r""".stripMargin,
    // after the forget, the live tier == a build that never saw the urls
    "q_forget_url" -> t1hOf(s"(SELECT * FROM $P pf WHERE doc_id NOT IN (7, 110))"),
    // the erasure changelog: full tier EXCEPT erased tier, both directions
    "q_erasure_proof" ->
      s"""WITH fullt AS (${t1hOf(P)}),
         |gone AS (${t1hOf(s"(SELECT * FROM $P pf WHERE doc_id NOT IN (7, 110))")})
         |SELECT *, 'removed' AS change FROM (SELECT * FROM fullt EXCEPT SELECT * FROM gone) r
         |UNION ALL
         |SELECT *, 'added' AS change FROM (SELECT * FROM gone EXCEPT SELECT * FROM fullt) a""".stripMargin
  )
}
