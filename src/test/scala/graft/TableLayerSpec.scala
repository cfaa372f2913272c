package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.table.{ManifestTableLayer, PartitionMeta}
import graft.retention.Retention
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

class TableLayerSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def freshRoot(): String =
    SparkTestSession.tmpDir("mtl-test-").toString

  private def df(k: Int) = (1 to 10).map(i => (k, i)).toDF("k", "v")

  /** `df(k)` written as the one partition `key`, in a fresh stage dir. */
  private def write(t: ManifestTableLayer, k: Int, key: String): PartitionMeta = {
    val (metas, missing) = t.writeStage(df(k).withColumn("p", lit("v")),
      t.freshDir(key), "p", Seq("v"), _ => key, _ => "test")
    assert(missing.isEmpty && metas.map(_.key) == Seq(key))
    metas.head
  }

  test("commit + read: snapshot sees exactly the committed partitions") {
    val t = new ManifestTableLayer(freshRoot())
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
    val t = new ManifestTableLayer(freshRoot())
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
    val t = new ManifestTableLayer(freshRoot())
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
    val t = new ManifestTableLayer(freshRoot())
    for (tier <- Seq("15min", "1d"); d <- Seq("2024-01-01", "2024-01-05")) {
      val m = write(t, 1, s"tier=$tier/day=$d")
      t.commit(Seq(m), Seq.empty)
    }
    Retention.sweep(t, "15min", "2024-01-04")
    assert(t.currentPartitions().map(_.key).sorted == Seq(
      "tier=15min/day=2024-01-05",
      "tier=1d/day=2024-01-01", "tier=1d/day=2024-01-05"))
  }

  /** 600 rows over three `_day` routes, in four round-robin tasks: each
    * day dir gets four data files, as a build stage's day dirs do.
    */
  private def stage(t: ManifestTableLayer, ns: String): Seq[PartitionMeta] = {
    val (metas, missing) = t.writeStage(stageFrame, t.dataDir(s"$ns/build"), "_day",
      stageDays, d => s"$ns/day=$d", _ => "test")
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
    val t = new ManifestTableLayer(freshRoot())
    val (_, started) = SparkTestSession.processesOf(stage(t, "tier=15min"))
    assert(started.isEmpty, s"writeStage started ${started.size} process(es), e.g. " +
      started.toSeq.sorted.take(3).mkString("; "))
  }

  test("writeStage leaves every dir and file with the mode the default local FS gives") {
    val t = new ManifestTableLayer(freshRoot())
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
    val t = new ManifestTableLayer(freshRoot())
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

  test("read, readAt and readTier take the footer schema: no Spark job before the action") {
    import graft.pipeline.Pipeline
    import SparkTestSession.jobsOf
    val t = new ManifestTableLayer(freshRoot())
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

  test("Iceberg contract: Pipeline drives the exact DELETE/overwrite/expire sequence") {
    import graft.table.IcebergTableLayer
    import graft.pipeline.Pipeline
    import scala.collection.mutable

    // a ManifestTableLayer that records, call-for-call, the statement
    // plan IcebergTableLayer would execute for the same TableLayer calls
    // (the live class consumes the SAME companion builders, so recorded
    // == executed by construction), while the manifest super provides the
    // behavior oracle
    val fq = "cat.db.graft_tier"
    class RecordingIcebergLayer(root: String) extends ManifestTableLayer(root) {
      val statements = mutable.Buffer.empty[String]
      var commits = 0
      private var inDrop = false
      override def commit(added: Seq[PartitionMeta], removedKeys: Seq[String]): Long = {
        // IcebergTableLayer.dropPartitions emits its own DELETEs and does
        // NOT route through commit; the manifest super does — skip the
        // inner record to mirror the Iceberg call graph
        if (!inDrop) {
          val plan = IcebergTableLayer.commitPlan(fq, added.map(_.path), removedKeys)
          assert(plan.size <= 1,
            s"one-snapshot commit invariant violated: $plan") // the docstring promise
          statements ++= plan
          commits += 1
        }
        super.commit(added, removedKeys)
      }
      override def dropPartitions(pred: PartitionMeta => Boolean): Long = {
        statements ++= IcebergTableLayer.dropPlan(
          fq, currentPartitions().filter(pred).map(_.key))
        inDrop = true
        try super.dropPartitions(pred) finally inDrop = false
      }
      override def expireSnapshots(keepLast: Int): Int = {
        statements ++= IcebergTableLayer.expirePlan("cat", "db.graft_tier", keepLast)
        super.expireSnapshots(keepLast)
      }
    }

    val root = freshRoot()
    val pagesPath = s"$root/pages"
    graft.ingest.Pages.writePartitioned(
      graft.ingest.Pages.synthesize(spark, SparkTestSession.sf0001)
        .select("url", "warc_ts", "html", "text", "lang"),
      pagesPath, buckets = 4)
    val t = new RecordingIcebergLayer(s"$root/table")
    val days = Pipeline.listDays(spark, pagesPath).take(2)
    val committed = Pipeline.runRollup(spark, pagesPath, t, days, chunkMaxPoints = 128)

    // stage 1 (rollup): every checkpointed unit commit is exactly ONE
    // append statement — REPLACE WHERE false (nothing removed), staging
    // the unit's parquet dir
    val inserts = t.statements.filter(_.startsWith("INSERT INTO"))
    assert(inserts.size == committed && committed == t.commits)
    assert(inserts.forall(_.startsWith(s"INSERT INTO $fq REPLACE WHERE false ")))
    assert(t.statements.take(inserts.size) == inserts, "rollup statements come first")

    // stage 2 (retention sweep): one metadata-aligned DELETE per dropped
    // raw partition — tier, chunks and index namespaces, aggregates never
    val cutoff = days.max // drops strictly-before partitions = days.min only
    Pipeline.sweepRaw(t, cutoff)
    val deletes = t.statements.filter(_.startsWith("DELETE FROM"))
    val d0 = days.min
    assert(deletes.toSet == Set(
      s"DELETE FROM $fq WHERE tier = '15min' AND day = '$d0'",
      s"DELETE FROM $fq WHERE tier = 'chunks-15min' AND day = '$d0'",
      s"DELETE FROM $fq WHERE tier = 'index-15min' AND day = '$d0'"))
    assert(!deletes.exists(_.contains("'1d'")), "aggregate tiers survive the sweep")

    // stage 3 (expiry): the stored-procedure call, last in the sequence
    graft.retention.Retention.expire(t, keepLast = 1)
    assert(t.statements.last ==
      "CALL cat.system.expire_snapshots(table => 'db.graft_tier', retain_last => 1)")
    assert(t.statements.size == inserts.size + deletes.size + 1)

    // replace-commit shape (the streaming MERGE path): added + removed on
    // the same key is ONE REPLACE WHERE statement covering exactly that key
    val m = write(t, 9, "tier=1h/day=x")
    t.commit(Seq(m), Seq("tier=1h/day=x"))
    assert(t.statements.last ==
      s"INSERT INTO $fq REPLACE WHERE (tier = '1h' AND day = 'x') " +
        s"SELECT * FROM parquet [${m.path}]")
    // deletes-only commit: one DELETE with the OR'd predicate
    assert(IcebergTableLayer.commitPlan(fq, Seq.empty,
      Seq("tier=1h/day=a", "tier=1h/day=b")) ==
      Seq(s"DELETE FROM $fq WHERE (tier = '1h' AND day = 'a') OR (tier = '1h' AND day = 'b')"))

    // behavior oracle: the manifest super saw identical calls, so the
    // table contents match the plain-ManifestTableLayer pipeline
    assert(Pipeline.readTier(spark, t, "1d").count() > 0)
    assert(t.currentPartitions().count(_.key.startsWith("tier=15min/")) == days.size - 1)
  }

  test("Iceberg contract: streaming MERGE upsert is one REPLACE WHERE per batch, replay-idempotent") {
    import graft.table.IcebergTableLayer
    import scala.collection.mutable

    // recorder for the STREAMING sink path: MergeSink commits one
    // (added, removed-same-keys) batch per micro-batch, which the live
    // IcebergTableLayer executes as exactly one REPLACE WHERE statement
    // (= one Iceberg snapshot); the manifest super is the behavior oracle
    val fq = "cat.db.graft_latest"
    class RecordingLayer(root: String) extends ManifestTableLayer(root) {
      val statements = mutable.Buffer.empty[String]
      override def commit(added: Seq[PartitionMeta], removedKeys: Seq[String]): Long = {
        val plan = IcebergTableLayer.commitPlan(fq, added.map(_.path), removedKeys)
        assert(plan.size <= 1, s"one-snapshot commit invariant violated: $plan")
        statements ++= plan
        super.commit(added, removedKeys)
      }
      override def expireSnapshots(keepLast: Int): Int = {
        statements ++= IcebergTableLayer.expirePlan("cat", "db.graft_latest", keepLast)
        super.expireSnapshots(keepLast)
      }
    }
    val t = new RecordingLayer(s"${freshRoot()}/table")
    def batch(epoch: Long) = (0 until 8).map(u =>
        (u.toLong, u * 10 + epoch, epoch, "t", 100L))
      .toDF("user_id", "event_id", "epoch_us", "event_type", "cents")

    graft.streaming.StreamingRollup.mergeLatestBatch(spark, t, batch(1L), 0L, nBuckets = 4)
    graft.streaming.StreamingRollup.mergeLatestBatch(spark, t, batch(2L), 1L, nBuckets = 4)
    // one statement per micro-batch, always the atomic REPLACE WHERE form
    assert(t.statements.size == 2)
    assert(t.statements.forall(_.startsWith(s"INSERT INTO $fq REPLACE WHERE ")))
    // the replace predicate covers exactly the touched bucket keys
    t.currentPartitions().map(_.key).foreach { k =>
      assert(t.statements.last.contains(s"(${IcebergTableLayer.partitionKeySql(k)})"))
    }
    val rowsBefore = t.read(spark).orderBy("user_id").collect().toSeq
    val stmtBefore = t.statements.last

    // foreachBatch is at-least-once: a crash between sink write and
    // offset commit REPLAYS the batch — same batchId, same data. The
    // replayed commit stages to a FRESH dir (never overwriting the files
    // its own merge is reading) but must carry the same REPLACE WHERE
    // predicate and leave the table contents unchanged.
    graft.streaming.StreamingRollup.mergeLatestBatch(spark, t, batch(2L), 1L, nBuckets = 4)
    def predicateOf(stmt: String): String =
      stmt.substring(0, stmt.indexOf(" SELECT * FROM parquet"))
    assert(t.statements.size == 3 &&
      predicateOf(t.statements.last) == predicateOf(stmtBefore),
      "replayed batch must re-execute the same REPLACE WHERE predicate")
    assert(t.read(spark).orderBy("user_id").collect().toSeq == rowsBefore,
      "replay must be a no-op on table contents")

    // streaming retention maps to the expire_snapshots procedure and
    // leaves the live contents readable
    t.expireSnapshots(keepLast = 2)
    assert(t.statements.last ==
      "CALL cat.system.expire_snapshots(table => 'db.graft_latest', retain_last => 2)")
    assert(t.read(spark).orderBy("user_id").collect().toSeq == rowsBefore)
  }

  test("Iceberg staging aligns rows with the partition-key predicate (incl. bare namespace keys)") {
    import graft.table.IcebergTableLayer
    // k=v segments: added only when the data doesn't already carry them
    val base = Seq((1, "15min")).toDF("v", "tier")
    val kv = IcebergTableLayer.stagePartition(
      Seq((1, 2)).toDF("a", "b"), "tier=1h/day=2024-01-03")
    assert(kv.columns.toSet == Set("a", "b", "tier", "day"))
    assert(kv.select("tier", "day").head() ==
      org.apache.spark.sql.Row("1h", "2024-01-03"))
    // data-side tier wins for a tier=... key (rows already match predicate)
    val keep = IcebergTableLayer.stagePartition(base, "tier=15min/day=d")
    assert(keep.select("tier").head().getString(0) == "15min")
    // BARE namespace segment: no MatchError, and tier is OVERWRITTEN so
    // `partitionKeySql("chunks-15min/day=d")` matches the staged rows —
    // chunk rows carry tier='15min' in data but live under the namespace
    val ns = IcebergTableLayer.stagePartition(base, "chunks-15min/day=d")
    assert(ns.select("tier").head().getString(0) == "chunks-15min")
    assert(ns.select("day").head().getString(0) == "d")
    assert(IcebergTableLayer.partitionKeySql("chunks-15min/day=d") ==
      "tier = 'chunks-15min' AND day = 'd'")
    // the staged frame satisfies its own key's predicate, row for row
    assert(ns.filter(org.apache.spark.sql.functions.expr(
      IcebergTableLayer.partitionKeySql("chunks-15min/day=d"))).count() == 1)
  }
}
