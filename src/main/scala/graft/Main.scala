package graft

import graft.ingest.Pages
import graft.pipeline.Pipeline
import graft.table.ManifestTableLayer
import graft.retention.Retention

/** spark-submit entry point (SURVEY.md §3.4):
  *
  *   spark-submit --class graft.Main <jar> \
  *     --stage synth|rollup|sweep|expire|verify|all \
  *     --sf /root/testdata/sf0.01 \
  *     --pages <pages parquet root> \
  *     --table <manifest table root> \
  *     --cutoff 2024-01-04
  *
  * `synth` materializes the deterministic pages fixture; `rollup` builds
  * all tiers + chunks + indexes resumably; `sweep` drops raw partitions
  * older than the cutoff; `expire` physically deletes unreferenced data;
  * `verify` checks the per-row text invariant.
  */
object Main {

  private def arg(args: Array[String], name: String, default: String = null): String = {
    val i = args.indexOf(s"--$name")
    if (i >= 0 && i + 1 < args.length) args(i + 1)
    else Option(default).getOrElse(
      throw new IllegalArgumentException(s"missing --$name"))
  }

  def main(args: Array[String]): Unit = {
    val stage = arg(args, "stage", "all")
    val sf = arg(args, "sf", "/root/testdata/sf0.01")
    val pagesPath = arg(args, "pages", "target/pipeline/pages")
    val tableRoot = arg(args, "table", "target/pipeline/table")
    val cutoff = arg(args, "cutoff", "2024-01-04")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")

    val spark = Sessions.local(cpus.toInt, appName = "graft-pipeline")

    val table = new ManifestTableLayer(tableRoot)

    def synth(): Unit =
      Pages.writePartitioned(
        Pages.synthesize(spark, sf).select("url", "warc_ts", "html", "text", "lang"),
        pagesPath, buckets = 16)

    def rollup(): Unit = {
      val days = Pipeline.listDays(spark, pagesPath)
      val n = Pipeline.runRollup(spark, pagesPath, table, days)
      println(s"[graft] rollup committed $n new partitions " +
        s"(${table.currentPartitions().size} live)")
    }

    stage match {
      case "synth" => synth()
      case "rollup" => rollup()
      case "sweep" =>
        Pipeline.sweepRaw(table, cutoff)
        println(s"[graft] swept raw tier < $cutoff; live=" +
          table.currentPartitions().size)
      case "expire" =>
        val n = Retention.expire(table, keepLast = 1)
        println(s"[graft] expired $n partition dirs")
      case "verify" =>
        val v = Pipeline.textInvariantViolations(spark, pagesPath)
        println(s"[graft] text invariant violations: $v")
        require(v == 0, "text invariant violated")
      case "all" =>
        synth(); rollup()
        val v = Pipeline.textInvariantViolations(spark, pagesPath)
        require(v == 0, "text invariant violated")
        println("[graft] all stages complete")
      case other => throw new IllegalArgumentException(s"unknown stage $other")
    }
    spark.stop()
  }
}
