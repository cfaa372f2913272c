package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ingest.Pages
import graft.pipeline.Pipeline
import graft.rollup.TimeSeriesOps
import graft.gapfill.GapFill
import graft.chunk.ChunkWriter

/** Benchmark main (driver contract: ONE JSON line on stdout).
  *
  * Two parts:
  *  1. pipeline stages over the synthesized pages table at the target SF —
  *     rollup per retention tier, gap-fill, Gorilla encode/decode — timed
  *     individually with points/sec (the BASELINE.md metrics);
  *  2. headline queries from the SparkEntry surface, timed with a forced
  *     full materialization (noop write), after a JVM/session warm-up so
  *     the first query doesn't absorb session start-up.
  *
  * Scaling protocol (BASELINE.md): tools/scaling.sh runs this main at
  * SPARK_GRAFT_CPUS in {2, 8, 32} on the same input;
  * eff(a->b) = T_a / ((b/a) * T_b), graded against the machine's raw-CPU
  * ceiling (tools/cpu_ceiling.py).
  */
object Bench {

  private def force(df: DataFrame): Long = {
    df.write.format("noop").mode("overwrite").save()
    0L
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Sessions.local(cpus.toInt)

    // input scale: replicate the doc corpus to make stage work dominate
    // fixed overhead (needed for meaningful scaling-efficiency numbers)
    val repl = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPL", "4").toInt
    val days = sys.env.getOrElse("SPARK_GRAFT_BENCH_DAYS", "14").toInt
    // domain cardinality: default 97 (oracle-parity); scaling runs use a
    // larger prime so series count grows with data volume like a real crawl
    val domains = sys.env.getOrElse("SPARK_GRAFT_BENCH_DOMAINS", "9973").toInt
    val stagesOnly = sys.env.contains("SPARK_GRAFT_STAGES_ONLY")
    val sfName = sfDir.replaceAll(".*/", "")
    // under the working dir's target/, so a run from a copy writes into the copy
    val benchRoot = java.nio.file.Paths.get(System.getProperty("user.dir"), "target", "bench",
      s"${sfName}_r${repl}_d${days}_m$domains").toString
    val pagesPath = s"$benchRoot/pages"

    // ---- warm-up: session + codegen + fixture file listing --------------
    spark.read.parquet(s"$sfDir/events.parquet").count()
    spark.read.parquet(s"$sfDir/documents.parquet").count()

    // ---- one-time pages materialization (not a timed stage: ingest of
    // the fixture, shared by every run at this SF) -----------------------
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(pagesPath))) {
      Pages.writePartitioned(
        Pages.synthesize(spark, sfDir, repl, days, domains)
          .select("url", "warc_ts", "html", "text", "lang"),
        pagesPath, buckets = 16)
    }

    val times = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val detail = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // driver-JVM GC time attributed to each timed block: the small chained
    // stages (1h/1d) run 1.5-2.8 s at identical input/code, and the spread
    // tracks stop-the-world GC landing inside them — reporting it makes a
    // slow sample self-explaining instead of looking like a regression
    val gcBeans = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
    }
    def gcMsNow(): Long = gcBeans.map(_.getCollectionTime).sum
    val gcMs = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    // Each timed block ends with an fs sync, INSIDE the timing: a stage
    // that wrote N hundred MB pays its own writeback instead of leaking
    // it into whichever later stage the kernel flushes under (measured:
    // without this, stage_rollup_1h at identical input/code swings
    // 1.5-2.8 s run-to-run while a dedicated JVM holds 1.5 s steady;
    // the swing is the PREVIOUS stage's dirty pages). Honest attribution
    // + stable samples; disable with SPARK_GRAFT_NO_SYNC to compare.
    val syncStages = !sys.env.contains("SPARK_GRAFT_NO_SYNC")
    // Every sample of every timed block is kept; a block timed more than
    // once (the warmed pipeline stages) reports the MIN over post-first
    // samples — the steady-state estimator under one-sided JIT noise.
    // Root-caused this round: the chained-tier stages are BIMODAL per JVM
    // (some launches compile the hash-agg codegen ~1.8x worse and stay
    // there for the JVM's life — task CPU time doubles at identical
    // input/tasks/GC; see BENCH.md "JIT bimodality"). Min-of-iterations
    // inside one JVM cannot fully undo a stuck-slow launch, but it stops
    // reporting iteration-ordering noise, and the full per-iteration
    // series ships in detail.iters_* so a slow sample is self-explaining.
    val samples =
      scala.collection.mutable.LinkedHashMap.empty[String, List[Double]]
    // per-SAMPLE sync + GC: the reported time is a min over samples, so
    // its companions must come from the SAME sample — a last-sample GC
    // next to a min-sample time describes two different iterations
    // (round-4 advice), and splitting sync out lets rounds that timed
    // writeback in-window (r4+) decompose against rounds that didn't (r3)
    val syncSamples =
      scala.collection.mutable.LinkedHashMap.empty[String, List[Double]]
    val gcSamples =
      scala.collection.mutable.LinkedHashMap.empty[String, List[Long]]
    val syncMs = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    def timed[T](name: String)(f: => T): T = {
      val g0 = gcMsNow()
      val t0 = System.nanoTime()
      val r = f
      val sy0 = System.nanoTime()
      if (syncStages) new ProcessBuilder("sync").start().waitFor()
      val syncS = (System.nanoTime() - sy0) / 1e9
      val s = (System.nanoTime() - t0) / 1e9
      samples(name) = samples.getOrElse(name, Nil) :+ s
      syncSamples(name) = syncSamples.getOrElse(name, Nil) :+ syncS
      gcSamples(name) = gcSamples.getOrElse(name, Nil) :+ (gcMsNow() - g0)
      val all = samples(name)
      val post = all.drop(1)
      times(name) = if (post.nonEmpty) post.min else s
      // attribute GC/sync of the sample that PRODUCED the reported time
      val idx = if (post.nonEmpty) all.lastIndexOf(post.min) else 0
      gcMs(name) = gcSamples(name)(idx)
      syncMs(name) = (syncSamples(name)(idx) * 1000).round
      r
    }

    // ---- pipeline stages -------------------------------------------------
    // Run the whole stage sequence twice inside THIS JVM: iteration 0 warms
    // JIT/codegen/page-cache (a fresh JVM measures the interpreter, not the
    // engine — steady-state is what a long-running cluster job sees),
    // iteration 1 overwrites the recorded times.
    val pages = spark.read.parquet(pagesPath)
    val t15Path = s"$benchRoot/t15"
    val t1hPath = s"$benchRoot/t1h"
    val t1dPath = s"$benchRoot/t1d"
    val chunksPath = s"$benchRoot/chunks"
    var (nPoints, n15, n1h, n1d) = (0L, 0L, 0L, 0L)

    // task-duration capture for the skew report (BASELINE.md protocol):
    // all tasks completing inside the FINAL timed tier-0 stage
    val taskMs = scala.collection.mutable.ArrayBuffer.empty[Long]
    @volatile var captureTasks = false
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (captureTasks && t.taskInfo != null)
            taskMs.synchronized { taskMs += t.taskInfo.duration }
      })

    // 3 warm iterations: C2 compilation of the generated code needs more
    // than one pass to reach steady state at high thread counts (measured:
    // iter1 27s, iter2 6.7s, iter3+ 3.2s for tier-0 at local[32])
    val iters = 4
    for (iter <- 1 to iters) {
      nPoints = timed("stage_points_extract") {
        Pipeline.pointsFromPages(pages).count()
      }
      timed("stage_rollup_15min") {
        captureTasks = iter == iters
        taskMs.synchronized(taskMs.clear())
        Pipeline.tier15FromPages(pages) // one pass: both metrics as agg columns
          .write.mode("overwrite").parquet(t15Path)
      }
      captureTasks = false
      n15 = spark.read.parquet(t15Path).count()
      timed("stage_rollup_1h") {
        TimeSeriesOps.chainTier(spark.read.parquet(t15Path), Seq("domain", "metric"), 3600)
          .write.mode("overwrite").parquet(t1hPath)
      }
      n1h = spark.read.parquet(t1hPath).count()
      timed("stage_rollup_1d") {
        TimeSeriesOps.chainTier(spark.read.parquet(t1hPath), Seq("domain", "metric"), 86400)
          .write.mode("overwrite").parquet(t1dPath)
      }
      n1d = spark.read.parquet(t1dPath).count()

      val t15 = spark.read.parquet(t15Path)
      timed("stage_gapfill_interp") {
        force(GapFill.interpolate(
          GapFill.densify(
            t15.filter(col("metric") === "text_chars")
              .select(col("domain"), col("bucket_ts"), col("mean_v")),
            Seq("domain"), "bucket_ts", 900),
          Seq("domain"), "bucket_ts", "mean_v", 8,
          concat(col("domain"), lit("_interp")), denseGridPeriod = Some(900L)))
      }
      // same fill, fused plan (no densify join, one window sort)
      timed("stage_gapfill_fused") {
        force(GapFill.interpolateFused(
          t15.filter(col("metric") === "text_chars")
            .select(col("domain"), col("bucket_ts"), col("mean_v")),
          Seq("domain"), "bucket_ts", "mean_v", 8,
          concat(col("domain"), lit("_interp")), periodSec = 900L))
      }
      timed("stage_gorilla_encode") {
        ChunkWriter.build(
          t15.select(concat_ws("_", col("domain"), col("metric")).as("series_flat"),
            col("bucket_ts").as("ts"), col("mean_v").as("value")),
          "15min", maxPoints = 1024)
          .write.mode("overwrite").parquet(chunksPath)
      }
      timed("stage_gorilla_decode") {
        import spark.implicits._
        force(ChunkWriter.decode(
          spark.read.parquet(chunksPath).as[ChunkWriter.FlatChunk]))
      }
    }
    // Adaptive tail: stages whose 3-warm minimum is often STILL falling
    // (the chained tiers under the JIT bimodality — BENCH.md — plus
    // tier-0 and the generic gap-fill, whose r4 iteration series were
    // still descending at iteration 4). Each is re-sampled independently
    // until its min stops improving by >= 8%, max 4 extra rounds — a
    // stuck-slow JVM plateaus immediately (no wasted work); a
    // slow-converging one reaches its real steady state and its
    // iters_* series ends flat.
    val resample: Seq[(String, () => Unit)] = Seq(
      "stage_rollup_15min" -> (() => {
        timed("stage_rollup_15min") {
          Pipeline.tier15FromPages(pages)
            .write.mode("overwrite").parquet(t15Path)
        }; ()
      }),
      "stage_rollup_1h" -> (() => {
        timed("stage_rollup_1h") {
          TimeSeriesOps.chainTier(
              spark.read.parquet(t15Path), Seq("domain", "metric"), 3600)
            .write.mode("overwrite").parquet(t1hPath)
        }; ()
      }),
      "stage_rollup_1d" -> (() => {
        timed("stage_rollup_1d") {
          TimeSeriesOps.chainTier(
              spark.read.parquet(t1hPath), Seq("domain", "metric"), 86400)
            .write.mode("overwrite").parquet(t1dPath)
        }; ()
      }),
      "stage_gapfill_interp" -> (() => {
        val t15b = spark.read.parquet(t15Path)
        timed("stage_gapfill_interp") {
          force(GapFill.interpolate(
            GapFill.densify(
              t15b.filter(col("metric") === "text_chars")
                .select(col("domain"), col("bucket_ts"), col("mean_v")),
              Seq("domain"), "bucket_ts", 900),
            Seq("domain"), "bucket_ts", "mean_v", 8,
            concat(col("domain"), lit("_interp")),
            denseGridPeriod = Some(900L)))
        }; ()
      }))
    var pending = resample
    var extra = 0
    while (extra < 4 && pending.nonEmpty) {
      pending = pending.filter { case (name, run) =>
        val before = times(name)
        run()
        times(name) < before * 0.92
      }
      extra += 1
    }

    detail("input_points") = nPoints.toString

    val chunkStats = spark.read.parquet(chunksPath)
      .agg(sum(octet_length(col("blob"))).as("bytes"), sum(col("n")).as("pts"),
        count(lit(1)).as("chunks"))
      .collect()(0)
    detail("chunk_bytes") = chunkStats.getLong(0).toString
    detail("chunk_points") = chunkStats.getLong(1).toString
    detail("chunk_count") = chunkStats.getLong(2).toString
    detail("gorilla_bytes_per_point") =
      f"${chunkStats.getLong(0).toDouble / chunkStats.getLong(1)}%.2f"

    detail("tier_rows_15min") = n15.toString
    detail("tier_rows_1h") = n1h.toString
    detail("tier_rows_1d") = n1d.toString
    detail("pps_rollup_15min") = f"${nPoints / times("stage_rollup_15min")}%.0f"
    detail("pps_rollup_1h") = f"${n15 / times("stage_rollup_1h")}%.0f"
    detail("pps_rollup_1d") = f"${n1h / times("stage_rollup_1d")}%.0f"
    detail("pps_gorilla_encode") = f"${n15 / times("stage_gorilla_encode")}%.0f"

    // task-time skew over the zipf-headed tier-0 stage (salting/partial-agg
    // evidence: max/median should stay small even with d0 = 40% of traffic)
    val durs = taskMs.synchronized(taskMs.toArray.sorted)
    if (durs.nonEmpty) {
      val median = durs(durs.length / 2).max(1L)
      detail("tier0_tasks") = durs.length.toString
      detail("tier0_task_median_ms") = median.toString
      detail("tier0_task_max_ms") = durs.last.toString
      detail("tier0_task_skew") = f"${durs.last.toDouble / median}%.2f"
    }

    // ---- index/IVF store builds, timed SEPARATELY from their reads ------
    // (round-2 verdict: in-query builds dominated q_index_read /
    // q_ann_ivf_indexed and masked the read path the indexes accelerate)
    var readOnly = Map.empty[String, (SparkSession, String) => DataFrame]
    if (!stagesOnly) {
      import graft.queries.PageQueries
      import graft.sim.Ann
      val idxStore = s"$benchRoot/idx_store"
      val ivfStore = s"$benchRoot/ivf_store"
      timed("stage_index_build") {
        ChunkWriter.writeIndexedStore(
          PageQueries.buildScoreChunks(spark, sfDir), idxStore, buckets = 16)
      }
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      timed("stage_ivf_build") {
        Ann.writeIvfIndex(emb, "vec_id", "embedding", ivfStore, nCentroids = 20)
      }
      val qv0 = emb.filter(col("vec_id") === 0L).select("embedding")
        .head().getSeq[Float](0).toArray
      val from = graft.ingest.Pages.T0Epoch + 86400L
      val until = graft.ingest.Pages.T0Epoch + 4 * 86400L
      readOnly = Map(
        // the SparkEntry variant also dumps the signature table for the
        // DuckDB oracle; the bench times the pure pipeline
        "q_minhash_pairs" -> ((s, dir) => {
          val d0 = s.read.parquet(s"$dir/documents.parquet")
            .select("doc_id", "text")
          val d = d0.union(d0.filter(col("doc_id") % 7 === 0)
            .select((col("doc_id") + 200000).as("doc_id"),
              concat(col("text"), lit(" graft trailer token")).as("text")))
          graft.text.TextOps.minhashNearDups(d, "doc_id", "text",
            k = 16, bands = 4, threshold = 0.5)
        }),
        "q_index_read" -> ((s, _) =>
          ChunkWriter.indexedRead(s, idxStore,
              Seq("d7.example_score", "d42.example_score"), from, until)
            .select(col("series_flat"), col("ts"), col("value"))),
        "q_ann_ivf_indexed" -> ((s, _) =>
          Ann.ivfTopKIndexed(s, ivfStore, "vec_id", "embedding", qv0,
              excludeId = 0L, k = 10, nProbe = 4)
            .select(col("vec_id"), col("cos"),
              col("rk").cast("long").as("rk"))))
    }

    // ---- headline queries (forced materialization) ----------------------
    val headline = if (stagesOnly) Seq.empty[String] else Seq(
      "q_tier_1h", "q_interp", "q_owncalc", "q_dedupe_latest",
      "q_pages_tier15", "q_pages_1h", "q_pages_interp",
      "q_gorilla_roundtrip", "q1_pricing", "q_region_revenue",
      "q_dedup_exact", "q_minhash_pairs", "q_token_stats", "q_ann_brute",
      "q_ann_batch", "q_ann_ivf_indexed", "q_index_read", "q_dup_clusters",
      // round-5 web-pipeline ops (additive keys — earlier-round columns
      // stay comparable)
      "q_html_extract", "q_link_graph", "q_change_rate", "q_dup_windows",
      // round-6 additions (additive): the residual IVF+PQ funnel (timed
      // incl. its deterministic training) and the registry ingest;
      // q_stream_crawl_corpus is excluded — its checkpoint makes a second
      // in-JVM run a no-op, so a timed sample would not measure the work
      // (volume evidence for the dedup path: BENCH.md, q_dedup_corpus at 1.4 M docs)
      "q_ann_ivfpq_res", "q_source_registry",
      // late round-6 (additive): training-set layout (distributed-scan
      // shuffle-to-shards) and the Z-order zone-map box read (timed incl.
      // the layout write — the op a store pays once per compaction)
      "q_shuffle_shards", "q_zorder_prune")
    // per-query warm pass at the SMALLEST fixture: compiles THIS query's
    // codegen + C2 paths (stages get the same treatment above — a
    // single-shot number reports the JIT, not the engine) WITHOUT
    // populating Spark's plan-matched cache for the timed input (a warm
    // pass on the same data would let internally-persisted queries serve
    // the timed run from cache — clearCache() below makes that structural
    // even if warmDir coincides with sfDir, and also drops frames the
    // warm pass itself left persisted). The pre-built-store reads ignore
    // their dir argument, so warming them would just re-run the timed
    // query — skip (their pipelines are trivial scans).
    val warmDir = "/root/testdata/sf0.001"
    val warmSkip = Set("q_index_read", "q_ann_ivf_indexed")
    headline.foreach { name =>
      val fn = readOnly.getOrElse(name, SparkEntry.queries(name))
      if (!warmSkip(name) && warmDir != sfDir &&
        java.nio.file.Files.isDirectory(java.nio.file.Paths.get(warmDir))) {
        // a warm-pass failure must never eat the real measurement
        try force(fn(spark, warmDir))
        catch { case _: Throwable => () }
        spark.catalog.clearCache()
      }
      try timed(name) { force(fn(spark, sfDir)) }
      catch { case e: Throwable =>
        times(name) = -1.0
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
      }
    }

    // totals split so rounds stay comparable when the headline-query SET
    // grows: stage_total is the BASELINE.md end-to-end rollup metric and
    // EXCLUDES the one-time index builds (reported on their own line)
    // per-block driver GC / in-window sync, both taken from the SAME
    // sample that produced the reported min: "name:ms" pairs. sync_ms is
    // what decomposes a stage column into compute+sync when comparing
    // against rounds that ran SPARK_GRAFT_NO_SYNC (r3-era numbers)
    detail("gc_ms") = gcMs.filter(_._2 > 0)
      .map { case (k, v) => s"$k:$v" }.mkString(";")
    detail("sync_ms") = syncMs.filter(_._2 > 0)
      .map { case (k, v) => s"$k:$v" }.mkString(";")
    // full iteration series for multi-sampled stages (bimodality diag),
    // with the matching per-sample GC series
    samples.filter(_._2.length > 1).foreach { case (k, v) =>
      detail(s"iters_$k") = v.map(s => f"$s%.2f").mkString(",")
      detail(s"iters_gc_$k") = gcSamples(k).mkString(",")
    }
    detail("stage_total_s") =
      f"${times.filter(t => t._1.startsWith("stage") && !t._1.endsWith("_build")).values.sum}%.2f"
    detail("index_build_total_s") =
      f"${times.filter(t => t._1.startsWith("stage") && t._1.endsWith("_build")).values.sum}%.2f"
    detail("query_total_s") =
      f"${times.filter(t => !t._1.startsWith("stage") && t._2 >= 0).values.sum}%.2f"
    detail("n_headline_queries") = headline.length.toString

    val total = times.values.filter(_ >= 0).sum
    val qs = times.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    val ds = detail.map { case (k, v) => s""""$k":"$v"""" }.mkString("{", ",", "}")
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"detail":$ds,"cpus":$cpus,"sf":"$sfDir"}""")
    spark.stop()
  }
}
