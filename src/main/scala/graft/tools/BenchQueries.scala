package graft.tools

import org.apache.spark.sql.DataFrame

/** Time a SUBSET of SparkEntry headline queries with the same methodology
  * as graft.Bench (sf0.001 warm pass, noop-sink force, min over repeats) —
  * the fast iteration loop for optimization work. Bench.scala itself is
  * the frozen driver contract; this main only exists so a single query can
  * be re-measured in ~30 s instead of re-running the full 8-minute bench.
  *
  * Usage: BenchQueries <repeats> <query> [query...]
  */
object BenchQueries {
  private def force(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: BenchQueries <repeats> <query>...")
    val repeats = args(0).toInt
    val names = args.drop(1).toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Sessions.local(cpus.toInt)
    // session warm-up (mirrors Bench)
    spark.read.parquet(s"$sfDir/events.parquet").count()
    spark.read.parquet(s"$sfDir/documents.parquet").count()
    val warmDir = "/root/testdata/sf0.001"
    val out = scala.collection.mutable.LinkedHashMap.empty[String, List[Double]]
    names.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      spark.sparkContext.setJobDescription(s"warm:$name")
      try { force(fn(spark, warmDir)); spark.catalog.clearCache() }
      catch { case _: Throwable => () }
      val samples = (1 to repeats).map { i =>
        spark.sparkContext.setJobDescription(s"timed:$name#$i")
        val t0 = System.nanoTime()
        force(fn(spark, sfDir))
        (System.nanoTime() - t0) / 1e9
      }.toList
      out(name) = samples
      println(f"[benchq] $name%-24s min=${samples.min}%.3f  samples=${samples.map(s => f"$s%.3f").mkString(",")}")
    }
    println(out.map { case (k, v) => s""""$k":${v.min}""" }
      .mkString("{", ",", "}"))
    spark.stop()
  }
}
