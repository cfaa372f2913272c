package graft

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** One SparkSession for the whole test run (suites share the JVM). */
object SparkTestSession {
  lazy val spark: SparkSession =
    Sessions.local(4, appName = "graft-test", logLevel = "ERROR")
  val sf0001 = "/root/testdata/sf0.001"

  /** This JVM's dir under `target/test_tmp` of the checkout the suite runs
    * from (its working dir), so a run from a copy writes into the copy. It
    * is deleted when the JVM exits, after Spark's own shutdown hooks have
    * stopped the context (Hadoop's hook manager runs hooks in priority
    * order, and Spark's run at priorities above 0).
    */
  private lazy val runRoot: Path = {
    val base = Paths.get(System.getProperty("user.dir"), "target", "test_tmp")
    val r = Files.createTempDirectory(Files.createDirectories(base), "run-")
    org.apache.hadoop.util.ShutdownHookManager.get().addShutdownHook(
      () => graft.table.ManifestTableLayer.deleteTree(r), 0)
    r
  }

  /** A new empty dir named `prefix<n>` under this JVM's [[runRoot]]. */
  def tmpDir(prefix: String): Path = Files.createTempDirectory(runRoot, prefix)

  /** Runs `body` and counts the Spark jobs it started. */
  def jobsOf[T](body: => T): (T, Int) = {
    val (r, jobs) = jobBatchesOf(body)
    (r, jobs.size)
  }

  /** Runs `body` and returns, for each Spark job it started, the streaming
    * micro-batch the job ran in (its `streaming.sql.batchId` property), or
    * None for a job outside any micro-batch.
    */
  def jobBatchesOf[T](body: => T): (T, Seq[Option[Long]]) = {
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Option[Long]]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.add(Option(js.properties)
          .flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
          .map(_.toLong))
    }
    // listener events arrive asynchronously: wait until the count settles
    def settled(): Seq[Option[Long]] = {
      var prev = -1; var cur = jobs.size
      while (cur != prev) { Thread.sleep(250); prev = cur; cur = jobs.size }
      jobs.asScala.toSeq
    }
    spark.sparkContext.addSparkListener(listener)
    try { val r = body; (r, settled()) }
    finally spark.sparkContext.removeSparkListener(listener)
  }

  /** Runs `body` and returns the command lines of the child processes this
    * JVM started meanwhile, seen by polling its descendants.
    */
  def processesOf[T](body: => T): (T, Set[String]) = {
    // Hadoop's Shell probes for setsid in a child process when its class
    // loads: load it before watching
    Class.forName("org.apache.hadoop.util.Shell")
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val running = new java.util.concurrent.atomic.AtomicBoolean(true)
    val watcher = new Thread(() => while (running.get())
      ProcessHandle.current().descendants().forEach { p =>
        seen.add(p.info().commandLine().orElse(s"pid ${p.pid}"))
      })
    watcher.start()
    val r = try body finally { running.set(false); watcher.join() }
    (r, seen.asScala.toSet)
  }

  /** A table layer that counts its commits and, with `crashAt = k > 0`,
    * fails the k-th of its `writeStage` and `commit` calls: a `writeStage`
    * after its files are written (their metas are lost), a `commit` before
    * anything is committed. The crash-injection seam for the stores'
    * atomicity tests; the engine itself carries no hook.
    */
  class CrashingLayer(root: String, crashAt: Int = 0)
      extends graft.table.ManifestTableLayer(root) {
    var commits = 0
    var calls = 0
    private def step(what: String): Unit = {
      calls += 1
      if (calls == crashAt) throw new IllegalStateException(s"injected crash at $what")
    }
    override def writeStage(
        df: org.apache.spark.sql.DataFrame,
        dir: Path,
        route: Seq[String],
        values: Seq[Seq[String]],
        keyOf: Seq[String] => String,
        lineageOf: Seq[String] => String
    ): (Seq[graft.table.PartitionMeta], Seq[Seq[String]]) = {
      val r = super.writeStage(df, dir, route, values, keyOf, lineageOf)
      step("writeStage")
      r
    }
    override def commit(
        added: Seq[graft.table.PartitionMeta], removedKeys: Seq[String]): Long = {
      step("commit")
      commits += 1
      super.commit(added, removedKeys)
    }
  }
}
