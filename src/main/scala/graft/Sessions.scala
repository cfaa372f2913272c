package graft

import org.apache.spark.sql.SparkSession

/** The one place engine sessions are built: the mains, the dev tools and
  * the test suites all run on this config, and differ only in core count,
  * app name and log level. A `spark.master` system property (as
  * spark-submit sets it) replaces the local master. The catalog's
  * warehouse lives under `target/` of the working dir, next to the
  * scratch stores, so a session leaves nothing outside it.
  */
object Sessions {
  def local(cores: Int, appName: String = "graft", logLevel: String = "WARN"): SparkSession = {
    val spark = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master(sys.props.getOrElse("spark.master", s"local[$cores]"))
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", java.nio.file.Paths.get(
        System.getProperty("user.dir"), "target", "spark-warehouse").toString)
      // RocksDB state store: crawl-scale streaming state (one row per url
      // / per distinct doc) must spill to local disk, not live on the
      // executor heap — every stateful streaming query runs on it
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
