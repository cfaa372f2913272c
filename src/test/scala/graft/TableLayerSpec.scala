package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.table.{ManifestTableLayer, PartitionMeta}
import graft.pipeline.Pipeline
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

class TableLayerSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def tableRoot(): String =
    SparkTestSession.tmpDir("mtl-test-").toString

  private def df(k: Int) = (1 to 10).map(i => (k, i)).toDF("k", "v")

  /** `df(k)` written as the one partition `key`, in a fresh stage dir. */
  private def write(t: ManifestTableLayer, k: Int, key: String): PartitionMeta = {
    val (metas, missing) = t.writeStage(df(k).withColumn("p", lit("v")),
      t.freshDir(key), Seq("p"), Seq(Seq("v")), _ => key, _ => "test")
    assert(missing.isEmpty && metas.map(_.key) == Seq(key))
    metas.head
  }

  test("commit + read: snapshot sees exactly the committed partitions") {
    val t = new ManifestTableLayer(tableRoot())
    val m1 = write(t, 1, "tier=x/day=d1")
    t.commit(Seq(m1), Seq.empty)
    val m2 = write(t, 2, "tier=x/day=d2")
    t.commit(Seq(m2), Seq.empty)
    assert(t.read(spark).count() == 20)
    assert(t.currentPartitions().map(_.key).sorted ==
      Seq("tier=x/day=d1", "tier=x/day=d2"))
    assert(t.currentPartitions().forall(p => p.rows == 10 && p.bytes > 0))
  }

  test("dropPartitions is a logical drop; data returns on no snapshot change") {
    val t = new ManifestTableLayer(tableRoot())
    val metas = Seq("d1", "d2", "d3").map { d =>
      val m = write(t, 1, s"tier=x/day=$d")
      t.commit(Seq(m), Seq.empty)
      m
    }
    t.dropPartitions(_.key.endsWith("d1"))
    assert(t.currentPartitions().map(_.key).sorted ==
      Seq("tier=x/day=d2", "tier=x/day=d3"))
    assert(t.read(spark).count() == 20)
    // physical file still on disk until expire (time travel window)
    assert(Files.exists(java.nio.file.Paths.get(metas.head.path)))
  }

  test("expireSnapshots physically deletes unreferenced partitions only") {
    val t = new ManifestTableLayer(tableRoot())
    val Seq(m1, m2) = Seq("d1", "d2").map { d =>
      val m = write(t, 1, s"tier=x/day=$d")
      t.commit(Seq(m), Seq.empty)
      m
    }
    t.dropPartitions(_.key.endsWith("d1"))
    val deleted = t.expireSnapshots(keepLast = 1)
    assert(deleted == 1)
    assert(!Files.exists(java.nio.file.Paths.get(m1.path)))
    assert(Files.exists(java.nio.file.Paths.get(m2.path)))
    assert(t.read(spark).count() == 10)
  }

  test("retention sweep drops only the raw tier below the cutoff") {
    val t = new ManifestTableLayer(tableRoot())
    for (tier <- Seq("15min", "1d"); d <- Seq("2024-01-01", "2024-01-05")) {
      val m = write(t, 1, s"tier=$tier/day=$d")
      t.commit(Seq(m), Seq.empty)
    }
    Pipeline.sweepRaw(t, "2024-01-04")
    assert(t.currentPartitions().map(_.key).sorted == Seq(
      "tier=15min/day=2024-01-05",
      "tier=1d/day=2024-01-01", "tier=1d/day=2024-01-05"))
  }

  /** 600 rows over three `_day` routes, in four round-robin tasks: each
    * day dir gets four data files, as a build stage's day dirs do.
    */
  private def stage(t: ManifestTableLayer, ns: String): Seq[PartitionMeta] = {
    val (metas, missing) = t.writeStage(stageFrame, t.dataDir(s"$ns/build"), Seq("_day"),
      stageDays.map(Seq(_)), d => s"$ns/day=${d.head}", _ => "test")
    assert(missing.isEmpty && metas.size == stageDays.size)
    metas
  }
  private val stageDays = Seq("2024-01-01", "2024-01-02", "2024-01-03")
  private def stageFrame = (0 until 600).map(i => (i, i.toLong * 7, s"s$i", stageDays(i % 3)))
    .toDF("k", "v", "s", "_day").repartition(4)

  /** `dir` and everything under it as (relative path with the write's
    * UUIDs masked, POSIX mode bits), sorted.
    */
  private def modes(dir: Path): Seq[(String, Int)] = {
    val s = Files.walk(dir)
    try s.iterator().asScala.map { p =>
      (dir.relativize(p).toString.replaceAll("[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}", "*"),
        Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff)
    }.toSeq.sorted finally s.close()
  }

  test("a 3-day writeStage starts no child process") {
    val t = new ManifestTableLayer(tableRoot())
    val (_, started) = SparkTestSession.processesOf(stage(t, "tier=15min"))
    assert(started.isEmpty, s"writeStage started ${started.size} process(es), e.g. " +
      started.toSeq.sorted.take(3).mkString("; "))
  }

  test("writeStage leaves every dir and file with the mode the default local FS gives") {
    val t = new ManifestTableLayer(tableRoot())
    stage(t, "tier=15min")
    // the same write (dynamic overwrite: the same layout, no root _SUCCESS)
    // through the session's own file: FS
    val plain = SparkTestSession.tmpDir("plain-").resolve("build")
    stageFrame.write.partitionBy("_day").mode("overwrite")
      .option("partitionOverwriteMode", "dynamic").parquet(plain.toString)
    val got = modes(t.dataDir("tier=15min/build"))
    assert(got.exists(_._1.endsWith(".parquet")) && got.exists(_._1.endsWith(".crc")))
    assert(got == modes(plain))
  }

  test("writeStage footer stats match every day dir of a multi-file stage") {
    val t = new ManifestTableLayer(tableRoot())
    stage(t, "tier=15min").foreach { m =>
      val files = {
        val s = Files.walk(java.nio.file.Paths.get(m.path))
        try s.iterator().asScala.filter(Files.isRegularFile(_)).toSeq finally s.close()
      }
      assert(files.count(_.getFileName.toString.endsWith(".parquet")) > 1,
        s"${m.key} should hold several data files")
      assert(m.rows == spark.read.parquet(m.path).count(), s"rows of ${m.key}")
      assert(m.bytes == files.map(Files.size).sum, s"bytes of ${m.key}")
    }
  }

  test("a store whose snapshots were written pretty-printed still reads, time-travels and commits") {
    import com.fasterxml.jackson.databind.ObjectMapper
    val root = tableRoot()
    val t = new ManifestTableLayer(root)
    t.commit(Seq(write(t, 1, "tier=x/day=d1")), Seq.empty)
    val pinned = t.currentSnapshotId()
    t.commit(Seq(write(t, 2, "tier=x/day=d2")), Seq.empty)
    val parts = t.currentPartitions()
    // rewrite every snapshot the way earlier stores wrote them: Jackson's
    // default pretty printer, one field per line
    val mapper = new ObjectMapper()
    val snaps = java.nio.file.Paths.get(root, "snapshots")
    def snapFiles = {
      val s = Files.list(snaps)
      try s.iterator().asScala.toSeq.sortBy(_.getFileName.toString) finally s.close()
    }
    snapFiles.foreach { p =>
      assert(!Files.readString(p).contains("\n"), s"$p is not compact")
      Files.writeString(p, mapper.writerWithDefaultPrettyPrinter()
        .writeValueAsString(mapper.readTree(Files.readString(p))))
    }
    val pretty = snapFiles.map(p => p -> Files.readString(p))
    assert(pretty.forall(_._2.count(_ == '\n') > 10))
    val reopened = new ManifestTableLayer(root)
    assert(reopened.currentPartitions() == parts)
    assert(reopened.read(spark).count() == 20)
    assert(reopened.readAt(spark, pinned).count() == 10)
    reopened.commit(Seq(write(reopened, 3, "tier=x/day=d3")), Seq("tier=x/day=d1"))
    assert(reopened.currentPartitions().map(_.key) == Seq("tier=x/day=d2", "tier=x/day=d3"))
    assert(reopened.read(spark).count() == 20)
    assert(reopened.readAt(spark, pinned).count() == 10)
    // the new snapshot is compact; the old ones are left as they were
    val now = snapFiles
    assert(now.size == pretty.size + 1 && !Files.readString(now.last).contains("\n"))
    pretty.foreach { case (p, text) => assert(Files.readString(p) == text) }
  }

  test("read, readAt and readTier take the footer schema: no Spark job before the action") {
    import SparkTestSession.jobsOf
    val t = new ManifestTableLayer(tableRoot())
    val m15 = stage(t, "tier=15min")
    t.commit(m15, Seq.empty)
    val snap = t.currentSnapshotId()
    t.commit(stage(t, "tier=1h"), Seq.empty)
    val cases = Seq(
      "read" -> (() => t.read(spark), t.currentPartitions().map(_.path)),
      "readAt" -> (() => t.readAt(spark, snap, "tier=15min/"), m15.map(_.path)),
      "readTier" -> (() => Pipeline.readTier(spark, t, "15min"), m15.map(_.path)))
    cases.foreach { case (name, (build, paths)) =>
      val (got, jobs) = jobsOf(build())
      assert(jobs == 0, s"$name ran $jobs Spark job(s) before any action")
      val ref = spark.read.parquet(paths: _*)
      assert(got.schema == ref.schema, s"$name schema")
      assert(got.collect().map(_.toString).sorted.toSeq ==
        ref.collect().map(_.toString).sorted.toSeq, s"$name rows")
    }
  }
}
