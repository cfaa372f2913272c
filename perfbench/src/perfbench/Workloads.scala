package perfbench

import java.nio.file.Paths
import scala.collection.mutable.ArrayBuffer
import scala.util.Random
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.chunk.ChunkWriter
import graft.checkpoint.Checkpoint
import graft.gapfill.GapFill
import graft.ingest.Pages
import graft.pipeline.Pipeline
import graft.retention.Retention
import graft.table.ManifestTableLayer

/** The three workloads. Each runs operations back to back until `seconds`
  * have passed (at least one round), times each operation, and checks its
  * answer outside the timed region; a wrong answer or an exception counts
  * as a failed operation.
  */
object Workloads {
  val names = Seq("rollup_build", "late_delta", "tier_query")

  def run(c: Ctx): Outcome = c.args.workload match {
    case "rollup_build" => rollupBuild(c)
    case "late_delta" => lateDelta(c)
    case "tier_query" => tierQuery(c)
  }

  private def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  /** Run `op`, returning its result and wall ms. */
  private def timed[T](c: Ctx, span: String)(op: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = c.tracer.span(span)(op)
    val t = ms(t0)
    System.err.println(f"perfbench: $span took $t%.1f ms")
    (r, t)
  }

  private final class Tally {
    var attempted = 0
    var failed = 0
    val errors = ArrayBuffer.empty[String]
    /** Count one operation; `check` returns the problems found (empty = ok). */
    def check(what: String)(body: => Seq[String]): Unit = {
      attempted += 1
      val problems =
        try body
        catch { case e: Exception => Seq(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      if (problems.nonEmpty) {
        failed += 1
        errors ++= problems.take(3).map(p => s"$what: $p")
      }
    }
  }

  /** Run rounds back to back while one more round of the last round's
    * length still fits in `seconds` (at least one). Returns the count.
    */
  private def rounds(c: Ctx)(round: Int => Unit): Int = {
    val t0 = System.nanoTime()
    var i = 0
    var last = 0.0
    while (i == 0 || ms(t0) + last <= c.args.seconds * 1000) {
      val r0 = System.nanoTime()
      round(i)
      last = ms(r0)
      i += 1
    }
    i
  }

  private def isRaw(key: String) =
    key.startsWith("tier=15min/") || key.startsWith("chunks-15min/") ||
      key.startsWith("index-15min/")
  private def dayOf(key: String) = key.substring(key.indexOf("day=") + 4)

  /** One retention cycle: `sweepRaw` below `cutoff`, then `expire` keeping
    * the last `keep` snapshots. Returns (partition dirs deleted, ms).
    */
  private def retentionCycle(c: Ctx, t: ManifestTableLayer, cutoff: String,
      keep: Int): (Int, Double) =
    timed(c, "retention.cycle") {
      c.tracer.span("pipeline.sweepRaw")(Pipeline.sweepRaw(t, cutoff))
      val n = c.tracer.span("retention.expire")(Retention.expire(t, keep))
      c.tracer.count("retention.dirs_deleted", n)
      n
    }

  /** Raw-tier partitions a sweep below `cutoff` should have dropped. */
  private def stale(t: ManifestTableLayer, cutoff: String): Seq[String] =
    t.currentPartitions().map(_.key).filter(k => isRaw(k) && dayOf(k) < cutoff)

  // ---------------------------------------------------------------- rollup_build

  /** Fresh `runRollup` of every fixture day into an empty store; then a
    * second empty store built with a crash injected through `failAfter`
    * (seeded, below the day count: the crash lands in the 15-min stage),
    * resumed by a second `runRollup`, and given one retention cycle at a
    * seeded cutoff. The set-up's build covers only the first day: it is
    * the JIT warm-up, not a base store. The second timing is the resume's
    * wall time per unit it commits, so the seeded crash point does not
    * move it.
    */
  private def rollupBuild(c: Ctx): Outcome = {
    val spark = c.spark
    val (base, setupS) = Setup.run(c, withoutLate = false, warmUpOnly = true)
    val days = base.days
    val units = (Pipeline.Tiers.size + 2) * days.size
    val nPages = spark.read.parquet(base.pagesPath).count()
    val rnd = new Random(c.args.seed)
    val tally = new Tally
    val freshMs, resumeMs, resumeUnitMs, retentionMs = ArrayBuffer.empty[Double]
    var skipped, redo = 0L
    var lastFresh: Option[(ManifestTableLayer, String)] = None
    val n = rounds(c) { i =>
      val freshRoot = s"stores/fresh-$i"
      val fresh = c.table(freshRoot)
      var freshOk = false
      tally.check("runRollup") {
        val (n, t) = timed(c, "pipeline.runRollup") {
          Pipeline.runRollup(spark, base.pagesPath, fresh, days)
        }
        freshMs += t
        freshOk = n == units
        if (freshOk) Nil else Seq(s"committed $n units, want $units")
      }
      val crashRoot = s"stores/crash-$i"
      val crash = c.table(crashRoot)
      val k = 1 + rnd.nextInt(days.size - 1)
      tally.check("resume") {
        val crashed =
          try {
            c.tracer.span("pipeline.runRollup.crash") {
              Pipeline.runRollup(spark, base.pagesPath, crash, days, failAfter = k)
            }
            false
          } catch { case _: Checkpoint.InjectedCrash => true }
        val before = crash.currentPartitions().size
        val (n, t) = timed(c, "pipeline.runRollup.resume") {
          Pipeline.runRollup(spark, base.pagesPath, crash, days)
        }
        resumeMs += t
        resumeUnitMs += t / math.max(1, n)
        skipped += before
        redo += n - (units - before)
        val problems = ArrayBuffer.empty[String]
        if (!crashed) problems += s"failAfter=$k did not crash"
        if (before != k) problems += s"$before units survived the crash, want $k"
        if (n != units - before) problems += s"resume committed $n units, want ${units - before}"
        if (freshOk) problems ++= Gates.storeDiff(spark, crash.currentPartitions(),
          fresh.currentPartitions())
        problems.toSeq
      }
      val cutoff = days(1 + rnd.nextInt(days.size - 1))
      tally.check("retention") {
        val (deleted, t) = retentionCycle(c, crash, cutoff, keep = 1)
        retentionMs += t
        val swept = days.count(_ < cutoff)
        val (data, live, _) = StoreSize.of(crash, crashRoot, keep = 1)
        val aggregates = crash.currentPartitions().map(_.key).count(k => !isRaw(k))
        stale(crash, cutoff).map(k => s"swept partition still live: $k") ++
          (if (deleted == 3 * swept) Nil else Seq(s"expire deleted $deleted dirs, want ${3 * swept}")) ++
          (if (data == live) Nil else Seq(s"$data bytes on disk for $live live bytes")) ++
          (if (aggregates == 3 * days.size) Nil else Seq(s"$aggregates aggregate partitions live"))
      }
      Fixture.deleteTree(Paths.get(crashRoot))
      lastFresh.foreach { case (_, r) => Fixture.deleteTree(Paths.get(r)) }
      lastFresh = Some(fresh -> freshRoot)
    }
    val (t, root) = lastFresh.get
    val (dataBytes, liveBytes, snapBytes) = StoreSize.of(t, root, keep = 1)
    val opS = Stats.median(freshMs.toSeq) / 1000
    Outcome(
      setupS = setupS, opMs = freshMs.toSeq, auxMs = Stats.median(resumeUnitMs.toSeq),
      storeBytes = dataBytes + snapBytes,
      attempted = tally.attempted, failed = tally.failed, errors = tally.errors.toSeq,
      detail = Map(
        "pages" -> nPages, "units" -> units, "rounds" -> n,
        "rollup_pages_per_s" -> nPages / opS,
        "resume_s" -> Stats.median(resumeMs.toSeq) / 1000,
        "retention_s" -> Stats.median(retentionMs.toSeq) / 1000,
        "store_bytes" -> (dataBytes + snapBytes),
        "space_amp" -> dataBytes.toDouble / liveBytes,
        "error_rate" -> tally.failed.toDouble / tally.attempted),
      isOp = _ == "pipeline.runRollup",
      layer = Map(
        "checkpoint.units_skipped" -> skipped.toDouble / n,
        "checkpoint.redo_units" -> redo.toDouble / n,
        "chunk.bytes_per_point" -> StoreSize.bytesPerPoint(t)))
  }

  // ------------------------------------------------------------------ late_delta

  val Batches = 2
  val KeepSnapshots = 2

  /** Rounds of `Batches` disjoint late batches (TimeDelta's slice, split
    * by a seeded hash of the doc id), each merged with `applyDelta` and
    * followed by one retention cycle whose cutoff advances a day per batch
    * up to the first late day. Every round starts from the same base
    * store: a new table whose first snapshot lists the base store's
    * partitions (the base store itself is never written), so the round's
    * copy-on-write writes and expiry touch only the round's own directory.
    */
  private def lateDelta(c: Ctx): Outcome = {
    val spark = c.spark
    val s = c.args.scale
    val (base, setupS) = Setup.run(c, withoutLate = true, warmUpOnly = false)
    val days = base.days
    val prep0 = System.nanoTime()
    val all = Fixture.pages(spark, base.dir, s)
    val pool = all.filter(Fixture.isLate(s))
    val batchPaths = (0 until Batches).map { b =>
      val p = s"late/batch-$b"
      pool.filter(pmod(xxhash64(Fixture.docId, lit(c.args.seed)), lit(Batches)) === b)
        .write.parquet(p)
      p
    }
    val batchPages = batchPaths.map(p => spark.read.parquet(p).count())
    // the reference: one runRollup over base + every batch
    Pages.writePartitioned(all, "ref/pages", buckets = 8)
    val ref = new ManifestTableLayer("ref/store")
    Pipeline.runRollup(spark, "ref/pages", ref, Pipeline.listDays(spark, "ref/pages"))
    val refDigest = Gates.digest(spark, ref.currentPartitions())
    val baseParts = new ManifestTableLayer(base.storeRoot).currentPartitions()
    val prepS = (System.nanoTime() - prep0) / 1e9

    val lateDays = days.takeRight(Fixture.LateDays).toSet
    val lastCutoff = days.size - Fixture.LateDays
    val tally = new Tally
    val deltaMs, retentionMs = ArrayBuffer.empty[Double]
    var last: Option[(ManifestTableLayer, String)] = None
    val n = rounds(c) { r =>
      val root = s"stores/work-$r"
      val work = c.table(root)
      work.commit(baseParts, Nil)
      var cutoff = days.head
      for (b <- 0 until Batches) {
        tally.check(s"applyDelta batch $b") {
          val delta = spark.read.parquet(batchPaths(b))
          val (touched, t) = timed(c, "pipeline.applyDelta") {
            Pipeline.applyDelta(spark, delta, work)
          }
          deltaMs += t
          if (touched.nonEmpty && touched.forall(lateDays.contains)) Nil
          else Seq(s"touched days ${touched.mkString(",")}")
        }
        cutoff = days(math.min(b + 1, lastCutoff))
        tally.check(s"retention cycle $b") {
          val (_, t) = retentionCycle(c, work, cutoff, KeepSnapshots)
          retentionMs += t
          stale(work, cutoff).map(k => s"swept partition still live: $k")
        }
      }
      tally.check("tiers equal the reference") {
        val want = refDigest.filter { case (k, _) => !isRaw(k) || dayOf(k) >= cutoff }
        Gates.diff(Gates.digest(spark, work.currentPartitions()), want)
      }
      last.foreach { case (_, p) => Fixture.deleteTree(Paths.get(p)) }
      last = Some(work -> root)
    }
    val (t, root) = last.get
    val (dataBytes, liveBytes, snapBytes) = StoreSize.of(t, root, KeepSnapshots)
    Outcome(
      setupS = setupS, opMs = deltaMs.toSeq, auxMs = Stats.median(retentionMs.toSeq),
      storeBytes = dataBytes + snapBytes,
      attempted = tally.attempted, failed = tally.failed, errors = tally.errors.toSeq,
      detail = Map(
        "rounds" -> n, "batch_pages" -> batchPages, "prep_s" -> prepS,
        "delta_batch_s" -> Stats.median(deltaMs.toSeq) / 1000,
        "retention_s" -> Stats.median(retentionMs.toSeq) / 1000,
        "space_amp" -> dataBytes.toDouble / liveBytes,
        "error_rate" -> tally.failed.toDouble / tally.attempted),
      isOp = _ == "pipeline.applyDelta",
      layer = Map("chunk.bytes_per_point" -> StoreSize.bytesPerPoint(t)))
  }

  // ------------------------------------------------------------------ tier_query

  val MaxGapPeriods = 4
  val WarmUpPasses = 8

  /** One query of the mix: its kind, what it runs, and how the same
    * answer is computed by an independent path.
    */
  final case class Query(kind: String, hot: Boolean, label: String, run: () => Array[Row],
      reference: () => Array[Row])

  /** Read-only queries against the base store. The pool holds two queries
    * of each kind: one on the hot domain d0 over a one-day window, one on
    * a seeded cold domain over a window of 1 h to 7 d (capped at the
    * fixture's days); the seed picks the cold domains, window lengths and
    * positions, series and snapshots. Answers are precomputed by an
    * independent path and every query runs `WarmUpPasses` times untimed
    * (code generation and JIT of its plan are warm-up, not latency). The
    * timed sequence gives each kind the same share and the hot domain the
    * fixture's skew (2 in 5).
    */
  private def tierQuery(c: Ctx): Outcome = {
    val spark = c.spark
    val s = c.args.scale
    val (base, setupS) = Setup.run(c, withoutLate = false, warmUpOnly = false)
    val prep0 = System.nanoTime()
    val table = c.table(base.storeRoot)
    val rnd = new Random(c.args.seed)
    val domains = Fixture.domains(s)
    def domain(hot: Boolean): String =
      if (hot) "d0.example" else domains(1 + rnd.nextInt(domains.size - 1))
    val t0Epoch = Pages.T0Epoch
    val dayS = 86400L
    /** A window of `len` seconds aligned to `align` inside [lo, hi). */
    def window(lo: Long, hi: Long, align: Long, len0: Long): (Long, Long) = {
      val len = math.min(len0, hi - lo)
      val slots = (hi - lo - len) / align
      val from = lo + align * (if (slots > 0) rnd.nextLong(slots + 1) else 0L)
      (from, from + len)
    }
    def length(hot: Boolean): Long =
      if (hot) dayS else Seq(1L, 6L, 24L, 72L, 168L)(rnd.nextInt(5)) * 3600
    val end = t0Epoch + s.days * dayS
    lazy val pagePoints = Pipeline.pointsFromPages(spark.read.parquet(base.pagesPath))
    def fromPages(d: String, from: Long, until: Long): Array[Row] =
      pagePoints.filter(col("domain") === d && col("epoch_s") >= from && col("epoch_s") < until)
        .groupBy("metric").agg(count(col("value")), sum(col("value"))).collect()
    def aggTier(df: DataFrame, d: String, from: Long, until: Long): Array[Row] =
      df.filter(col("domain") === d && col("bucket_ts") >= from && col("bucket_ts") < until)
        .groupBy("metric").agg(sum(col("n")), sum(col("sum_v"))).collect()
    val seriesCols = Seq("domain", "metric")
    val outCols = Seq("domain", "metric", "bucket_ts", "mean_v", "value_filled", "markers")
    def chunkScan() = spark.read.parquet(table.currentPartitions()
      .filter(_.key.startsWith("chunks-15min/")).map(_.path): _*)
    // snapshots of the 1h stage: the 15-min and 30-min stages commit one
    // snapshot per day before it
    val nDays = base.days.size

    val pool = Seq(true, false).flatMap { hot =>
      val tier = if (hot) "1h" else "1d"
      val d1 = domain(hot)
      val (f1, u1) = window(t0Epoch, end, if (hot) 3600 else dayS,
        if (hot) length(hot) else math.max(dayS, length(hot) / dayS * dayS))
      val d2 = domain(hot)
      val (f2, u2) = window(t0Epoch, end, 3600, math.max(6 * 3600, length(hot)))
      def obs() = Pipeline.readTier(spark, table, "15min")
        .filter(col("domain") === d2 && col("bucket_ts") >= f2 && col("bucket_ts") < u2)
        .select("domain", "metric", "bucket_ts", "mean_v")
      val series = s"${domain(hot)}_${if (rnd.nextBoolean()) "text_chars" else "bytes"}"
      val (f3, u3) = window(t0Epoch, end, 3600, length(hot))
      val snap = 2L * nDays + rnd.nextInt(nDays)
      val covered = table.partitionsAt(snap).map(_.key).filter(_.startsWith("tier=1h/"))
        .map(_.stripPrefix("tier=1h/day=")).sorted
      val d4 = domain(hot)
      val (f4, u4) = window(java.time.LocalDate.parse(covered.head).toEpochDay * dayS,
        java.time.LocalDate.parse(covered.last).toEpochDay * dayS + dayS, 3600, length(hot))
      Seq(
        Query("tier_range", hot, s"$tier $d1 [$f1,$u1)",
          () => aggTier(Pipeline.readTier(spark, table, tier), d1, f1, u1),
          () => fromPages(d1, f1, u1)),
        Query("gapfill", hot, s"$d2 [$f2,$u2)",
          () => GapFill.interpolateFused(obs(), seriesCols, "bucket_ts", "mean_v",
            MaxGapPeriods, lit("interpolated"), 900).select(outCols.map(col): _*).collect(),
          () => GapFill.interpolate(GapFill.densify(obs(), seriesCols, "bucket_ts", 900),
            seriesCols, "bucket_ts", "mean_v", MaxGapPeriods, lit("interpolated"),
            denseGridPeriod = Some(900)).select(outCols.map(col): _*).collect()),
        Query("chunk_window", hot, s"$series [$f3,$u3)",
          () => ChunkWriter.decodeSql(chunkScan().filter(col("series_flat") === series))
            .filter(col("ts") >= f3 && col("ts") < u3)
            .select("series_flat", "ts", "value").collect(),
          () => {
            import spark.implicits._
            ChunkWriter.decode(chunkScan().as[ChunkWriter.FlatChunk])
              .filter(col("series_flat") === series && col("ts") >= f3 && col("ts") < u3)
              .select("series_flat", "ts", "value").collect()
          }),
        Query("time_travel", hot, s"snap $snap $d4 [$f4,$u4)",
          () => aggTier(table.readAt(spark, snap, "tier=1h/"), d4, f4, u4),
          () => fromPages(d4, f4, u4)))
    }
    val want = pool.map(q => Gates.canon(q.reference()))
    for (_ <- 1 to WarmUpPasses; q <- pool) q.run()
    val prepS = (System.nanoTime() - prep0) / 1e9
    // the sequence: cycles of every kind x (2 hot + 3 cold), shuffled by
    // the seed, so every seed runs the same mix
    val cycle = pool.indices.flatMap(i => Seq.fill(if (pool(i).hot) 2 else 3)(i))
    val sequence = Iterator.continually(rnd.shuffle(cycle)).flatten

    val tally = new Tally
    val lat = ArrayBuffer.empty[(String, Double)]
    rounds(c) { _ =>
      val qi = sequence.next()
      val q = pool(qi)
      tally.check(s"${q.kind} ${q.label}") {
        val (rows, t) = timed(c, s"query.${q.kind}") {
          val rows = q.run()
          c.tracer.count("query.rows", rows.length)
          rows
        }
        lat += q.kind -> t
        val got = Gates.canon(rows)
        if (got == want(qi)) Nil
        else Seq(s"${got.size} rows differ from the ${want(qi).size} reference rows")
      }
    }
    val all = lat.map(_._2).toSeq
    val p90 = Stats.quantile(all, 0.9)
    val p80 = Stats.quantile(all, 0.8)
    val (dataBytes, _, snapBytes) = StoreSize.of(table, base.storeRoot, keep = 1)
    val byKind = lat.groupBy(_._1).map { case (k, v) =>
      s"query.$k.p50_ms" -> Stats.median(v.map(_._2).toSeq) }
    Outcome(
      setupS = setupS, opMs = all, auxMs = p80, storeBytes = dataBytes + snapBytes,
      attempted = tally.attempted, failed = tally.failed, errors = tally.errors.toSeq,
      detail = Map(
        "prep_s" -> prepS, "queries" -> all.size,
        "pool" -> pool.map(q => s"${q.kind} ${q.label}"),
        "query_p50_ms" -> Stats.median(all), "query_p90_ms" -> p90,
        "samples_above_p90" -> all.count(_ > p90), "query_p80_ms" -> p80,
        "samples_above_p80" -> all.count(_ > p80),
        "error_rate" -> tally.failed.toDouble / tally.attempted) ++ byKind,
      isOp = _.startsWith("query."),
      layer = byKind ++ Map(
        "chunk.bytes_per_point" -> StoreSize.bytesPerPoint(table),
        "plans.chunk_rows_total" -> table.currentPartitions()
          .filter(_.key.startsWith("chunks-15min/")).map(_.rows).sum.toDouble))
  }
}
