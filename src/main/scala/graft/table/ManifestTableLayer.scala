package graft.table

import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.io.LocalInputFile

/** Snapshot-isolated table layout over plain Parquet directories — the
  * local stand-in for Iceberg (no Iceberg jar ships offline; on a real
  * cluster `IcebergTableLayer` would implement the same trait with
  * `expireSnapshots` / `DROP PARTITION`). Design follows the
  * log-structured-metadata pattern of Iceberg/Delta (Armbrust et al.,
  * VLDB 2020 — PAPERS.md): immutable data files + an append-only chain of
  * snapshot manifests + an atomically-swapped current-pointer.
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
trait TableLayer {
  def commit(added: Seq[PartitionMeta], removedKeys: Seq[String]): Long
  def currentPartitions(): Seq[PartitionMeta]
  def read(spark: SparkSession): DataFrame
  def dropPartitions(pred: PartitionMeta => Boolean): Long
  def expireSnapshots(keepLast: Int): Int
}

/** One immutable partition: `key` like "tier=15min/day=2024-01-03",
  * `path` its directory, plus the lineage/metrics the north rule asks to
  * be emitted per partition.
  */
case class PartitionMeta(
    key: String,
    path: String,
    rows: Long,
    bytes: Long,
    lineage: String,
    textShaOk: Boolean = true
)

class ManifestTableLayer(rootDir: String) extends TableLayer {
  private val mapper = new ObjectMapper()
  private val root = Paths.get(rootDir)
  private val snapsDir = root.resolve("snapshots")
  private val currentPtr = root.resolve("CURRENT")
  Files.createDirectories(snapsDir)
  Files.createDirectories(root.resolve("data"))

  def dataDir(key: String): Path = root.resolve("data").resolve(key)

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
        p.get("lineage").asText(), p.get("text_sha_ok").asBoolean())
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
      n.put("lineage", p.lineage); n.put("text_sha_ok", p.textShaOk)
    }
    Files.writeString(snapPath(id), mapper.writerWithDefaultPrettyPrinter()
      .writeValueAsString(rootNode))
    // atomic pointer swap — readers see old or new snapshot, never partial
    val tmp = root.resolve(s".CURRENT.tmp.$id")
    Files.writeString(tmp, id.toString)
    Files.move(tmp, currentPtr, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  override def commit(added: Seq[PartitionMeta], removedKeys: Seq[String]): Long =
    this.synchronized {
      val cur = readSnap(currentSnapId())
      val removed = removedKeys.toSet
      val next = cur.filterNot(p => removed.contains(p.key)) ++ added
      val id = currentSnapId() + 1
      writeSnap(id, next, if (added.nonEmpty) "append" else "drop")
      id
    }

  override def currentPartitions(): Seq[PartitionMeta] = readSnap(currentSnapId())

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

  /** Read the table AS OF snapshot `snapId` (optionally one key prefix). */
  def readAt(spark: SparkSession, snapId: Long, keyPrefix: String = ""): DataFrame = {
    val parts = partitionsAt(snapId).filter(_.key.startsWith(keyPrefix))
    require(parts.nonEmpty,
      s"snapshot $snapId has no partitions with prefix '$keyPrefix'")
    spark.read.parquet(parts.map(_.path): _*)
  }

  override def read(spark: SparkSession): DataFrame = {
    val parts = currentPartitions()
    require(parts.nonEmpty, s"table $rootDir has no live partitions")
    spark.read.parquet(parts.map(_.path): _*)
  }

  override def dropPartitions(pred: PartitionMeta => Boolean): Long = {
    val toDrop = currentPartitions().filter(pred).map(_.key)
    commit(Seq.empty, toDrop)
  }

  /** Physically delete data dirs referenced by no retained snapshot. */
  override def expireSnapshots(keepLast: Int): Int = this.synchronized {
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
  /** Write one partition of `df` as an immutable dir + return its meta.
    * `lineage` records what produced it (inputs + stage), per north rule.
    */
  def writePartition(
      table: ManifestTableLayer,
      df: DataFrame,
      key: String,
      lineage: String
  ): PartitionMeta = {
    val path = table.dataDir(key)
    df.write.mode("overwrite").parquet(path.toString)
    val (rows, bytes) = dirStats(path)
    PartitionMeta(key, path.toString, rows, bytes, lineage)
  }

  /** Rows and bytes of a written partition dir, taken on the driver from
    * the Parquet footers and the file sizes — no Spark job re-reads what
    * the write just produced (the Delta log's per-file stats, PAPERS.md).
    */
  def dirStats(dir: Path): (Long, Long) = {
    val files = {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toSeq finally s.close()
    }
    val rows = files.filter(_.getFileName.toString.endsWith(".parquet")).map { f =>
      val r = ParquetFileReader.open(new LocalInputFile(f))
      try r.getRecordCount finally r.close()
    }.sum
    (rows, files.map(Files.size).sum)
  }

  /** Delete `p` and everything under it. */
  def deleteTree(p: Path): Unit = {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
    finally s.close()
  }
}
