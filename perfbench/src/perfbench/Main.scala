package perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import graft.ingest.Pages
import graft.pipeline.Pipeline
import graft.table.ManifestTableLayer

/** Benchmark main: one workload, closed loop, one client, in one JVM on
  * Spark local[4]. The JVM runs with its working directory at the
  * benchmark's scratch root, and every path below is relative to it, so
  * the paths the store records do not depend on where the checkout lives.
  *
  *   --workload rollup_build|late_delta|tier_query  --seed n  --seconds s
  *   --trace 0|1
  *
  * Prints a `perfbench detail {...}` line, then the result object as the
  * last line of stdout.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      scale: Scale)

  private def parse(argv: Array[String]): Args = {
    val kv = argv.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") =>
      k.stripPrefix("--") -> v }.toMap
    def get(k: String, d: String) = kv.getOrElse(k, d)
    val a = Args(kv("workload"), get("seed", "1").toLong, get("seconds", "10").toDouble,
      get("trace", "0") == "1", Fixture.BenchScale)
    require(Workloads.names.contains(a.workload), s"unknown workload ${a.workload}")
    require(a.seconds > 0)
    a
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(Paths.get("spark-local"))
    val spark = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", Paths.get("spark-local").toAbsolutePath.toString)
      .config("spark.sql.warehouse.dir", Paths.get("warehouse").toAbsolutePath.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    System.err.println(f"perfbench: spark session up after ${
      java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.2f s")
    try {
      val tracer = new Tracer(a.trace, s"${a.workload}-seed${a.seed}", spark.sparkContext)
      val recorder = if (a.trace) Some(new SparkRecorder) else None
      recorder.foreach(spark.sparkContext.addSparkListener)
      val ctx = new Ctx(spark, a, tracer)
      val out = Workloads.run(ctx)

      val metrics: Seq[(String, Double, String)] = recorder match {
        case None => Seq(
          ("setup_s", out.setupS, "s"),
          ("op_p50_ms", Stats.median(out.opMs), "ms"),
          ("aux_ms", out.auxMs, "ms"),
          ("store_bytes", out.storeBytes.toDouble, "bytes"))
        case Some(rec) =>
          rec.drain(spark.sparkContext)
          tracer.writeJsonLines(Paths.get("trace", s"spans-${tracer.runId}.jsonl"))
          Analysis.perLayer(a.workload, tracer, rec, out)
      }
      println("perfbench detail " + Json.obj(
        (Seq("workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
          "docs" -> a.scale.docs, "days" -> a.scale.days, "domains" -> a.scale.domainMod,
          "attempted" -> out.attempted, "failed" -> out.failed,
          "op_samples" -> out.opMs.size) ++
          out.detail.toSeq).sortBy(_._1)))
      out.errors.take(5).foreach(e => println(s"perfbench error $e"))
      val metricsJson = Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.Raw(Json.obj(Seq("value" -> v, "unit" -> u)))
      })
      println(Json.obj(Seq(
        "correct" -> (out.failed == 0),
        "attempted" -> out.attempted,
        "failed" -> out.failed,
        "metrics" -> Json.Raw(metricsJson))))
    } finally spark.stop()
  }
}

/** What a workload measured. Times in ms unless named otherwise. */
final case class Outcome(
    setupS: Double,
    opMs: Seq[Double],
    auxMs: Double,
    storeBytes: Long,
    attempted: Int,
    failed: Int,
    errors: Seq[String],
    detail: Map[String, Any],
    /** whether a span name is one of the workload's main operations */
    isOp: String => Boolean,
    /** per-layer numbers the workload measures itself */
    layer: Map[String, Double])

final class Ctx(val spark: SparkSession, val args: Main.Args, val tracer: Tracer) {
  def table(root: String): ManifestTableLayer =
    if (tracer.enabled) new TracedTable(root, tracer) else new ManifestTableLayer(root)
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (0 for an empty sample). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

/** Minimal JSON writer for the result lines. */
object Json {
  final case class Raw(s: String)
  def value(v: Any): String = v match {
    case Raw(s) => s
    case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case o => value(o.toString)
  }
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => value(k) + ":" + value(v) }.mkString("{", ",", "}")
}

/** Set-up shared by the workloads: the fixture pages, and a store built
  * from them with `runRollup` — over every day (a base store), or over the
  * first day only when the build is just the JIT warm-up. Its wall time,
  * JIT warm-up included, is `setup_s`.
  */
final case class Setup(dir: String, pagesPath: String, storeRoot: String, days: Seq[String])

object Setup {
  def run(c: Ctx, withoutLate: Boolean, warmUpOnly: Boolean): (Setup, Double) = {
    val t0 = System.nanoTime()
    val spark = c.spark
    val s = c.args.scale
    val dir = "fixture"
    Fixture.documents(spark, s.docs).write.parquet(s"$dir/documents.parquet")
    val all = Fixture.pages(spark, dir, s)
    Pages.writePartitioned(if (withoutLate) all.filter(!Fixture.isLate(s)) else all,
      s"$dir/pages", buckets = 8)
    val days = Pipeline.listDays(spark, s"$dir/pages")
    Pipeline.runRollup(spark, s"$dir/pages", new ManifestTableLayer(s"$dir/store"),
      if (warmUpOnly) days.take(1) else days)
    val secs = (System.nanoTime() - t0) / 1e9
    System.err.println(f"perfbench: set-up took $secs%.2f s")
    (Setup(dir, s"$dir/pages", s"$dir/store", days), secs)
  }
}

/** Store sizes: on-disk bytes and live-partition bytes. */
object StoreSize {
  import graft.table.PartitionMeta

  /** Bytes on disk of the partitions the last `keep` snapshots reference
    * plus everything under the store's own data dir, and the snapshot
    * files; partitions outside the store (a shared base) count once.
    */
  def of(t: ManifestTableLayer, root: String, keep: Int): (Long, Long, Long) = {
    val cur = t.currentSnapshotId()
    val retained: Seq[PartitionMeta] =
      (math.max(0L, cur - keep + 1) to cur).flatMap(t.partitionsAt)
    val own = Paths.get(root, "data")
    val outside = retained.map(_.path).distinct.filterNot(p => Paths.get(p).startsWith(own))
    val dataBytes = Fixture.bytesUnder(own) + outside.map(p => Fixture.bytesUnder(Paths.get(p))).sum
    val liveBytes = t.currentPartitions().map(p => Fixture.bytesUnder(Paths.get(p.path))).sum
    val snapBytes = Fixture.bytesUnder(Paths.get(root, "snapshots"))
    (dataBytes, liveBytes, snapBytes)
  }

  /** Chunk bytes per encoded point: chunk partition bytes over 15-min tier rows. */
  def bytesPerPoint(t: ManifestTableLayer): Double = {
    val parts = t.currentPartitions()
    val chunkBytes = parts.filter(_.key.startsWith("chunks-15min/")).map(_.bytes).sum
    val points = parts.filter(_.key.startsWith("tier=15min/")).map(_.rows).sum
    if (points == 0) 0.0 else chunkBytes.toDouble / points
  }
}
