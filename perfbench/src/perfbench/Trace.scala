package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, GenerateExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.perfbench.ExecutionEnd
import graft.table.{ManifestTableLayer, PartitionMeta}

/** One timed call into a layer. Times are both monotonic (ns, for
  * durations) and wall-clock (ms, to intersect with Spark's job events).
  */
final case class Span(id: Long, parent: Long, name: String,
    startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans around every public call the benchmark makes. Kept in memory and
  * written as JSON lines at the end of the run. The driver thread is the
  * only caller, so a plain stack gives the parent. With tracing off a span
  * is just its body.
  */
final class Tracer(val enabled: Boolean, val runId: String, sc: SparkContext) {
  val spans = ArrayBuffer.empty[Span]
  /** (span id, counter name, value): counts taken inside a span. */
  val counts = ArrayBuffer.empty[(Long, String, Long)]
  private var stack: List[Long] = Nil
  private var nextId = 0L

  def count(name: String, value: Long): Unit =
    if (enabled) counts += ((stack.headOption.getOrElse(0L), name, value))

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      nextId += 1
      val id = nextId
      val parent = stack.headOption.getOrElse(0L)
      stack = id :: stack
      sc.setLocalProperty(Tracer.SpanProp, id.toString)
      val (n0, m0) = (System.nanoTime(), System.currentTimeMillis())
      try body
      finally {
        val (n1, m1) = (System.nanoTime(), System.currentTimeMillis())
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanProp, stack.headOption.map(_.toString).orNull)
        spans += Span(id, parent, name, n0, n1, m0, m1)
      }
    }

  def writeJsonLines(path: Path): Unit = {
    Files.createDirectories(path.getParent)
    val lines = spans.sortBy(_.id).map { s =>
      s"""{"run":"$runId","id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"start_ms":${s.startMs},"end_ms":${s.endMs}}"""
    }
    Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  val SpanProp = "perfbench.span"
}

/** What one Spark job did, attributed through the span local property. */
final class JobRec(val id: Int, val span: Long, val execId: Long, val startMs: Long,
    val stages: Seq[Int]) {
  var endMs: Long = startMs
  var tasks = 0
  var taskMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var inputBytes = 0L
  var inputRecords = 0L
}

/** One SQL execution, with what its executed plan reports. */
final class ExecRec(val id: Long, val startMs: Long) {
  var endMs: Long = startMs
  var durNs: Long = 0L
  var outPath: Option[String] = None
  var writeRows = 0L
  var writeBytes = 0L
  var writeFiles = 0L
  var decodedPoints = 0L // gorilla_explode output rows
  var chunkRowsKept = 0L // rows surviving the chunk-pruning filter
  var chunkRowsRead = 0L // rows out of the chunk-table scan
}

/** Spark listener of the traced run: jobs, task metrics per job, per-stage
  * task times (for skew) and SQL executions with their executed plans.
  */
final class SparkRecorder extends SparkListener with AdaptiveSparkPlanHelper {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val execs = mutable.LinkedHashMap.empty[Long, ExecRec]
  val stageTaskMs = mutable.HashMap.empty[Int, ArrayBuffer[Long]]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  @volatile private var latch = new CountDownLatch(1)
  @volatile private var markerJob = -1

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    if (prop("spark.job.description").contains(SparkRecorder.Marker)) markerJob = e.jobId
    val rec = new JobRec(e.jobId, prop(Tracer.SpanProp).map(_.toLong).getOrElse(0L),
      prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L), e.time, e.stageIds)
    jobs(e.jobId) = rec
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    synchronized { jobs.get(e.jobId).foreach(_.endMs = e.time) }
    if (e.jobId == markerJob) latch.countDown()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      stageTaskMs.getOrElseUpdate(e.stageId, ArrayBuffer.empty) += m.executorRunTime
      stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
        j.tasks += 1
        j.taskMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        j.inputBytes += m.inputMetrics.bytesRead
        j.inputRecords += m.inputMetrics.recordsRead
      }
    }
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      execs(s.executionId) = new ExecRec(s.executionId, s.time)
    }
    case e: SparkListenerSQLExecutionEnd => synchronized {
      execs.get(e.executionId).foreach { x =>
        x.endMs = e.time
        x.durNs = ExecutionEnd.durationNs(e)
        ExecutionEnd.queryExecution(e).foreach(qe => readPlan(x, qe.executedPlan))
      }
    }
    case _ =>
  }

  private def metric(p: SparkPlan, name: String): Long =
    p.metrics.get(name).map(_.value).getOrElse(0L)

  private def readPlan(x: ExecRec, plan: SparkPlan): Unit = {
    collect(plan) { case w: DataWritingCommandExec => w }.foreach { w =>
      w.cmd match {
        case i: InsertIntoHadoopFsRelationCommand => x.outPath = Some(i.outputPath.toString)
        case _ =>
      }
      x.writeRows += w.cmd.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      x.writeBytes += w.cmd.metrics.get("numOutputBytes").map(_.value).getOrElse(0L)
      x.writeFiles += w.cmd.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }
    collect(plan) { case g: GenerateExec
        if g.generator.getClass.getSimpleName == "GorillaExplode" => g }.foreach { g =>
      x.decodedPoints += metric(g, "numOutputRows")
      collectFirst(g.child) { case f: FilterExec => f }
        .foreach(f => x.chunkRowsKept += metric(f, "numOutputRows"))
      collect(g.child) { case s: FileSourceScanExec => s }
        .foreach(s => x.chunkRowsRead += metric(s, "numOutputRows"))
    }
  }

  /** Wait until every event posted before this call has been delivered: a
    * marker job's end is delivered after all of them.
    */
  def drain(sc: SparkContext): Unit = {
    latch = new CountDownLatch(1)
    sc.setLocalProperty(Tracer.SpanProp, null)
    sc.setJobDescription(SparkRecorder.Marker)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setJobDescription(null)
    if (!latch.await(60, TimeUnit.SECONDS))
      throw new IllegalStateException("listener bus did not drain")
  }
}

object SparkRecorder {
  val Marker = "perfbench: drain listener bus"
}

/** The benchmark's own table class for the traced run: times the public table calls and
  * counts the snapshot JSON each of them reads.
  */
final class TracedTable(rootDir: String, tracer: Tracer) extends ManifestTableLayer(rootDir) {
  private val snaps = Paths.get(rootDir).resolve("snapshots")

  private def readSnapshot(id: Long): Unit = {
    val p = snaps.resolve(s"snap-$id.json")
    if (Files.exists(p)) tracer.count("table.snapshot_bytes", Files.size(p))
  }

  override def commit(added: Seq[PartitionMeta], removedKeys: Seq[String]): Long =
    tracer.span("table.commit") { readSnapshot(currentSnapshotId()); super.commit(added, removedKeys) }

  override def currentPartitions(): Seq[PartitionMeta] =
    tracer.span("table.currentPartitions") { readSnapshot(currentSnapshotId()); super.currentPartitions() }

  override def partitionsAt(snapId: Long): Seq[PartitionMeta] =
    tracer.span("table.partitionsAt") {
      readSnapshot(snapId)
      super.partitionsAt(snapId)
    }

  override def dropPartitions(pred: PartitionMeta => Boolean): Long =
    tracer.span("table.dropPartitions")(super.dropPartitions(pred))

  override def expireSnapshots(keepLast: Int): Int =
    tracer.span("table.expireSnapshots")(super.expireSnapshots(keepLast))
}
