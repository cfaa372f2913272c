package graft.table

import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.parquet.ParquetReadOptions
import org.apache.parquet.conf.PlainParquetConfiguration
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.io.LocalInputFile
import org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport
import org.apache.spark.sql.types.{DataType, StructType}

/** One immutable partition: `key` like "tier=15min/day=2024-01-03",
  * `path` its directory, plus the lineage/metrics the north rule asks to
  * be emitted per partition.
  */
case class PartitionMeta(
    key: String,
    path: String,
    rows: Long,
    bytes: Long,
    lineage: String
)

/** The engine's table store: snapshot-isolated over plain Parquet
  * directories, after the log-structured-metadata pattern of Iceberg and
  * Delta (Armbrust et al., VLDB 2020 — PAPERS.md): immutable data files +
  * an append-only chain of snapshot manifests + an atomically-swapped
  * current-pointer. The build, retention and the streaming sinks all
  * commit through this one class.
  *
  * Layout:
  *   root/data/<partition>/...parquet      immutable partition directories
  *   root/snapshots/snap-<n>.json          snapshot = live partition list
  *   root/CURRENT                          file containing the live snap id
  *
  * Concurrency/atomicity: CURRENT is updated via write-temp + ATOMIC_MOVE;
  * a reader always sees a complete snapshot. Partition dirs are never
  * mutated after commit — drops only remove them from newer snapshots,
  * physical deletion happens in `expireSnapshots` (time-travel until then).
  */
class ManifestTableLayer(rootDir: String) {
  private val mapper = new ObjectMapper()
  private val root = Paths.get(rootDir)
  private val snapsDir = root.resolve("snapshots")
  private val currentPtr = root.resolve("CURRENT")
  Files.createDirectories(snapsDir)
  Files.createDirectories(root.resolve("data"))

  def dataDir(key: String): Path = root.resolve("data").resolve(key)

  /** The first of `name`, `name-r1`, `name-r2`, ... under `data/` that
    * does not exist yet: a stage dir no live partition and no earlier
    * attempt of the same write lives in.
    */
  def freshDir(name: String): Path =
    Iterator.from(0).map(i => dataDir(if (i == 0) name else s"$name-r$i"))
      .find(p => !Files.exists(p)).get

  /** Write `df` into `dir` in ONE `partitionBy(route: _*)` job and
    * describe the partitions it made: one meta per requested value tuple
    * `v` (one value per route column, in route order) whose
    * `dir/<route(0)>=<v(0)>/<route(1)>=<v(1)>/...` leaf dir came out (key
    * `keyOf(v)`, rows and bytes from [[ManifestTableLayer.dirStats]]),
    * plus the requested tuples that produced no dir. The overwrite is
    * dynamic for this write only: it replaces just the leaf dirs it
    * writes, so partitions already in `dir` — committed or not — stay as
    * they are. Values must be partition-path-safe (days, tier names,
    * rendered numbers). Local dirs and files are made through
    * [[NioLocalFileSystem]], with no `chmod` process.
    */
  def writeStage(
      df: DataFrame,
      dir: Path,
      route: Seq[String],
      values: Seq[Seq[String]],
      keyOf: Seq[String] => String,
      lineageOf: Seq[String] => String
  ): (Seq[PartitionMeta], Seq[Seq[String]]) = {
    NioLocalFileSystem.write(df).partitionBy(route: _*).mode("overwrite")
      .option("partitionOverwriteMode", "dynamic").parquet(dir.toString)
    def leaf(v: Seq[String]) =
      dir.resolve(route.zip(v).map { case (r, x) => s"$r=$x" }.mkString("/"))
    val (made, missing) = values.partition(v => Files.isDirectory(leaf(v)))
    (made.map { v =>
      val (rows, bytes) = ManifestTableLayer.dirStats(leaf(v))
      PartitionMeta(keyOf(v), leaf(v).toString, rows, bytes, lineageOf(v))
    }, missing)
  }

  private def currentSnapId(): Long =
    if (Files.exists(currentPtr)) Files.readString(currentPtr).trim.toLong else -1L

  private def snapPath(id: Long): Path = snapsDir.resolve(s"snap-$id.json")

  private def readSnap(id: Long): Seq[PartitionMeta] = {
    if (id < 0) return Seq.empty
    val node = mapper.readTree(Files.readString(snapPath(id)))
    node.get("partitions").elements().asScala.map { p =>
      PartitionMeta(
        p.get("key").asText(), p.get("path").asText(),
        p.get("rows").asLong(), p.get("bytes").asLong(),
        p.get("lineage").asText())
    }.toSeq
  }

  private def writeSnap(id: Long, parts: Seq[PartitionMeta], op: String): Unit = {
    val rootNode: ObjectNode = mapper.createObjectNode()
    rootNode.put("snapshot_id", id)
    rootNode.put("operation", op)
    rootNode.put("committed_at", java.time.Instant.now().toString)
    val arr: ArrayNode = rootNode.putArray("partitions")
    parts.foreach { p =>
      val n = arr.addObject()
      n.put("key", p.key); n.put("path", p.path)
      n.put("rows", p.rows); n.put("bytes", p.bytes)
      n.put("lineage", p.lineage)
    }
    Files.writeString(snapPath(id), mapper.writeValueAsString(rootNode))
    // atomic pointer swap — readers see old or new snapshot, never partial
    val tmp = root.resolve(s".CURRENT.tmp.$id")
    Files.writeString(tmp, id.toString)
    Files.move(tmp, currentPtr, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  def commit(added: Seq[PartitionMeta], removedKeys: Seq[String]): Long =
    this.synchronized {
      val cur = readSnap(currentSnapId())
      val removed = removedKeys.toSet
      val next = cur.filterNot(p => removed.contains(p.key)) ++ added
      val id = currentSnapId() + 1
      writeSnap(id, next, if (added.nonEmpty) "append" else "drop")
      id
    }

  def currentPartitions(): Seq[PartitionMeta] = readSnap(currentSnapId())

  /** The live snapshot id (-1 if nothing committed) — callers pin it
    * before a mutation to time-travel back across it later.
    */
  def currentSnapshotId(): Long = currentSnapId()

  /** TIME TRAVEL: the partition list AS OF snapshot `snapId`. Data dirs
    * are immutable and refreshes write copy-on-write stage dirs, so every
    * path in a retained snapshot still holds exactly its commit-time bytes
    * until `expireSnapshots` reclaims it — the Iceberg `VERSION AS OF`
    * read, over the same manifest chain.
    */
  def partitionsAt(snapId: Long): Seq[PartitionMeta] = {
    require(Files.exists(snapPath(snapId)),
      s"snapshot $snapId does not exist or was expired")
    readSnap(snapId)
  }

  /** Read the table AS OF snapshot `snapId` (optionally one key prefix),
    * through [[ManifestTableLayer.readPartitions]]: no Spark job runs
    * before the caller's action.
    */
  def readAt(spark: SparkSession, snapId: Long, keyPrefix: String = ""): DataFrame = {
    val parts = partitionsAt(snapId).filter(_.key.startsWith(keyPrefix))
    require(parts.nonEmpty,
      s"snapshot $snapId has no partitions with prefix '$keyPrefix'")
    ManifestTableLayer.readPartitions(spark, parts.map(_.path))
  }

  /** Read every live partition, through
    * [[ManifestTableLayer.readPartitions]]: no Spark job runs before the
    * caller's action.
    */
  def read(spark: SparkSession): DataFrame = {
    val parts = currentPartitions()
    require(parts.nonEmpty, s"table $rootDir has no live partitions")
    ManifestTableLayer.readPartitions(spark, parts.map(_.path))
  }

  def dropPartitions(pred: PartitionMeta => Boolean): Long = {
    val toDrop = currentPartitions().filter(pred).map(_.key)
    commit(Seq.empty, toDrop)
  }

  /** Physically delete data dirs referenced by no retained snapshot. */
  def expireSnapshots(keepLast: Int): Int = this.synchronized {
    val cur = currentSnapId()
    val keepIds = (math.max(0, cur - keepLast + 1) to cur)
    val live = keepIds.flatMap(readSnap).map(_.path).toSet
    val all = Files.list(root.resolve("data")).iterator().asScala.toSeq
    var deleted = 0
    // partition dirs may nest (tier=x/day=y): collect leaf dirs two deep
    def leaves(p: Path): Seq[Path] = {
      val children = Files.list(p).iterator().asScala.toSeq.filter(Files.isDirectory(_))
      if (children.isEmpty) Seq(p) else children.flatMap(leaves)
    }
    all.filter(Files.isDirectory(_)).flatMap(leaves).foreach { leaf =>
      if (!live.contains(leaf.toString)) { ManifestTableLayer.deleteTree(leaf); deleted += 1 }
    }
    // drop snapshot files older than the retained window
    Files.list(snapsDir).iterator().asScala.foreach { sp =>
      val id = sp.getFileName.toString.stripPrefix("snap-").stripSuffix(".json").toLong
      if (!keepIds.contains(id)) Files.delete(sp)
    }
    deleted
  }
}

object ManifestTableLayer {
  /** One set of Parquet read options for every footer this store opens,
    * over parquet's plain (non-Hadoop) configuration. An open without
    * options builds a fresh Hadoop `Configuration` and parses its XML
    * defaults, which costs an order of magnitude more than reading the
    * footer itself. Sharing is safe only because these readers never
    * read a page: every `close` releases the options' codec factory, which
    * then never holds a codec.
    */
  private val footerOptions =
    ParquetReadOptions.builder(new PlainParquetConfiguration()).build()

  private def isDataFile(f: Path): Boolean = f.getFileName.toString.endsWith(".parquet")

  private def footer[T](f: Path)(get: ParquetFileReader => T): T = {
    val r = ParquetFileReader.open(new LocalInputFile(f), footerOptions)
    try get(r) finally r.close()
  }

  /** Rows and bytes of a written partition dir, taken on the driver from
    * the Parquet footers (opened with the shared footer options) and the
    * file sizes — no Spark job re-reads what the write just produced (the
    * Delta log's per-file stats, PAPERS.md).
    */
  def dirStats(dir: Path): (Long, Long) = {
    val files = {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toSeq finally s.close()
    }
    val rows = files.filter(isDataFile).map(footer(_)(_.getRecordCount)).sum
    (rows, files.map(Files.size).sum)
  }

  /** Read Parquet dirs written by Spark as one frame, with the schema
    * Spark wrote into the footer of the first data file found under the
    * first path. A schema-less read would run a Spark job to infer that
    * same schema; this one runs no job until the caller's action. Spark
    * still discovers partition columns from `<col>=<v>` dirs below the
    * given paths: a stored partition's leaf dir has none, the pages
    * table root yields `bucket` and `day`.
    */
  def readPartitions(spark: SparkSession, paths: Seq[String]): DataFrame = {
    require(paths.nonEmpty, "no partitions to read")
    val first = {
      val s = Files.walk(Paths.get(paths.head))
      try s.iterator().asScala.find(f => isDataFile(f) && Files.isRegularFile(f))
        .getOrElse(sys.error(s"${paths.head} holds no Parquet file"))
      finally s.close()
    }
    val json = footer(first)(
      _.getFileMetaData.getKeyValueMetaData.get(ParquetReadSupport.SPARK_METADATA_KEY))
    require(json != null, s"$first carries no Spark schema")
    spark.read.schema(DataType.fromJson(json).asInstanceOf[StructType]).parquet(paths: _*)
  }

  /** Delete `p` and everything under it. */
  def deleteTree(p: Path): Unit = {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
    finally s.close()
  }
}
