package graft.tools

/** Dump `.explain("formatted")` for named SparkEntry queries to files —
  * the optimization-round evidence artifacts (plans/rNN/<query>_{before,
  * after}.txt). Not part of the driver contract; measurement lives in
  * graft.Bench.
  *
  * Usage: PlanDump <outDir> <suffix> <query> [query...]
  *   SPARK_GRAFT_SF_DIR picks the fixture (default sf0.01),
  *   SPARK_GRAFT_CPUS the core count (default 8).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <outDir> <suffix> <query>...")
    val outDir = args(0)
    val suffix = args(1)
    val names = args.drop(2).toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = graft.Sessions.local(cpus.toInt)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"), plan)
      println(s"[plandump] wrote $outDir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
