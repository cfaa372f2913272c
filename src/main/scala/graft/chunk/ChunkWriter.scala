package graft.chunk

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.mutable.ArrayBuffer
import graft.table.NioLocalFileSystem

/** Spark integration for the Gorilla codec: tier points -> chunk blobs and
  * back, plus the delta-encoded per-partition index the north rule asks for.
  *
  * Layout decision (scale): a chunk covers ONE series over a bounded run of
  * points (`maxPoints`). Both encoders take a routing key `pkey` (the day,
  * when a build writes many store partitions at once). [[buildKeyed]] is
  * one `repartition(pkey, series) -> sortWithinPartitions(pkey, series,
  * ts) -> mapPartitions` pass that streams the sorted points into chunk
  * runs: memory is O(maxPoints), never O(partition), however hot a series
  * is. [[buildIndexKeyed]] groups the chunks by (pkey, part_id, tier) into
  * one delta+varint directory each. [[build]] and [[buildIndex]] are the
  * same two passes over one constant key.
  */
object ChunkWriter {

  case class FlatChunk(
      series_flat: String,
      tier: String,
      t0: Long,
      t_max: Long,
      n: Int,
      blob: Array[Byte],
      crc: Int
  )

  case class FlatPoint(series_flat: String, ts: Long, value: Option[Double])

  /** Build chunks from a points table with columns
    * (series_flat string, ts long, value double-nullable): [[buildKeyed]]
    * over one constant routing key, in `spark.sql.shuffle.partitions` tasks.
    */
  def build(points: DataFrame, tier: String, maxPoints: Int = 1024): Dataset[FlatChunk] = {
    val spark = points.sparkSession
    import spark.implicits._
    buildKeyed(points.withColumn("pkey", lit("")), tier, maxPoints,
      spark.sessionState.conf.numShufflePartitions)
      .drop("pkey").as[FlatChunk]
  }

  /** Encoder-side point with its routing key (a day) in front; null is
    * folded to the codec's NaN sentinel BEFORE deserialization, so the hot
    * loop moves primitives (no Option[Double] allocation per point).
    */
  case class KeyedPoint(pkey: String, series_flat: String, ts: Long, value: Double)

  /** [[FlatChunk]] with its routing key — feeds a dynamic-partition write. */
  case class KeyedChunk(
      pkey: String,
      series_flat: String,
      tier: String,
      t0: Long,
      t_max: Long,
      n: Int,
      blob: Array[Byte],
      crc: Int
  )

  /** Multi-partition chunk build: the chunks of MANY store partitions
    * (routing column `pkey`, the day) build in ONE
    * repartition+sort+mapPartitions job instead of one driver-launched job
    * per day. Chunk runs restart at every (pkey, series) boundary, so each
    * pkey's chunks are bitwise identical to a per-pkey [[build]] — the
    * invariant the batched tier build and refresh rely on. The points are
    * hash-partitioned by (pkey, series) into `numPartitions` tasks.
    */
  def buildKeyed(
      points: DataFrame, // (pkey string, series_flat string, ts long, value double?)
      tier: String,
      maxPoints: Int,
      numPartitions: Int
  ): Dataset[KeyedChunk] = {
    val spark = points.sparkSession
    import spark.implicits._
    val pts = points
      .select(col("pkey"), col("series_flat"), col("ts").cast("long"),
        coalesce(col("value").cast("double"), lit(Double.NaN)).as("value"))
      .as[KeyedPoint]
    pts.repartition(numPartitions, col("pkey"), col("series_flat"))
      .sortWithinPartitions(col("pkey"), col("series_flat"), col("ts"))
      .mapPartitions { it =>
        new Iterator[KeyedChunk] {
          private var cur: KeyedPoint = if (it.hasNext) it.next() else null
          override def hasNext: Boolean = cur != null
          override def next(): KeyedChunk = {
            val ts = new ArrayBuffer[Long](64)
            val vs = new ArrayBuffer[Double](64)
            val pk = cur.pkey
            val key = cur.series_flat
            while (cur != null && cur.pkey == pk && cur.series_flat == key &&
                ts.length < maxPoints) {
              ts += cur.ts
              vs += cur.value
              cur = if (it.hasNext) it.next() else null
            }
            val blob = Gorilla.encode(ts.toArray, vs.toArray)
            KeyedChunk(pk, key, tier, ts.head, ts.last, ts.length, blob,
              Gorilla.crc32(blob))
          }
        }
      }
  }

  /** The storage partition of a chunk: a hash bucket of its series
    * (mirroring the table layout's bucket-by-url-hash). The index builders
    * and the part_id chunk store all derive it here, so the index's
    * verdicts map 1:1 onto storage partitions.
    */
  private def withPartId(chunks: DataFrame, buckets: Int): DataFrame =
    chunks.withColumn("part_id", pmod(xxhash64(col("series_flat")), lit(buckets)).cast("int"))

  /** Index the chunk partitions of many pkeys in one distributed pass: one
    * [[PartitionIndex]] row per (pkey, part_id, tier), with the pkey in
    * front. Per pkey the directory bytes are bitwise identical to a
    * per-pkey [[buildIndex]] (the group key just gains the pkey prefix).
    */
  def buildIndexKeyed(
      chunks: DataFrame, // KeyedChunk columns (blob unused beyond stats)
      buckets: Int
  ): DataFrame = {
    val spark = chunks.sparkSession
    import spark.implicits._
    withPartId(chunks, buckets)
      .select($"pkey", $"part_id", $"tier", $"series_flat", $"t0", $"t_max", $"n")
      .as[(String, Int, String, String, Long, Long, Int)]
      .groupByKey { case (pk, p, t, _, _, _, _) => (pk, p, t) }
      .mapGroups { (key: (String, Int, String),
          rows: Iterator[(String, Int, String, String, Long, Long, Int)]) =>
        val (pkey, partId, tier) = key
        val entries = rows.toArray.sortBy { case (_, _, _, s, t0, _, _) => (s, t0) }
        val dir = new ArrayBuffer[Byte](entries.length * 8)
        var prevHash = 0L
        var prevT0 = 0L
        val seriesSeen = scala.collection.mutable.HashSet.empty[String]
        entries.foreach { case (_, _, _, s, t0, tMax, n) =>
          seriesSeen += s
          val h = scala.util.hashing.MurmurHash3.stringHash(s).toLong
          writeVarLong(dir, h - prevHash); prevHash = h
          writeVarLong(dir, t0 - prevT0); prevT0 = t0
          writeVarLong(dir, tMax - t0)
          writeVarLong(dir, n.toLong)
        }
        (pkey, PartitionIndex(
          partId, tier, seriesSeen.size, entries.length.toLong,
          entries.iterator.map(_._5).min, entries.iterator.map(_._6).max,
          dir.toArray))
      }
      .select(col("_1").as("pkey"), col("_2.*"))
  }

  /** Build the per-partition index from the chunk table:
    * [[buildIndexKeyed]] over one constant routing key.
    */
  def buildIndex(chunks: Dataset[FlatChunk], buckets: Int): Dataset[PartitionIndex] = {
    val spark = chunks.sparkSession
    import spark.implicits._
    buildIndexKeyed(chunks.toDF().withColumn("pkey", lit("")), buckets)
      .drop("pkey").as[PartitionIndex]
  }

  /** Decode chunks back to points — the verification read path. Checks CRC;
    * a corrupt blob fails loudly rather than yielding silent wrong data.
    */
  def decode(chunks: Dataset[FlatChunk]): DataFrame = {
    val spark = chunks.sparkSession
    import spark.implicits._
    chunks
      .flatMap { c =>
        require(Gorilla.crc32(c.blob) == c.crc,
          s"CRC mismatch for ${c.series_flat}/${c.tier}@${c.t0}")
        val (ts, vs) = Gorilla.decode(c.blob, c.n)
        ts.indices.iterator.map { i =>
          FlatPoint(c.series_flat, ts(i),
            if (java.lang.Double.isNaN(vs(i))) None else Some(vs(i)))
        }
      }
      .toDF("series_flat", "ts", "value")
  }

  /** SQL-surface decode via the `gorilla_explode` Generator (registered by
    * `graft.plans.GraftExtensions`). Identical rows to `decode`, but the
    * Generate node lets the `PruneChunksByTime` optimizer rule rewrite
    * time predicates on the decoded `ts` into chunk-level (t0, t_max)
    * predicates pushed into the scan — index-aware reads with no manual
    * `pruneByTime` call.
    */
  def decodeSql(chunks: DataFrame): DataFrame =
    chunks.selectExpr("series_flat", "gorilla_explode(n, blob, crc)")

  /** Time-range chunk pruning: chunks whose [t0, t_max] intersects the
    * query range. On Parquet this predicate also prunes at row-group level
    * via column statistics — the explicit columns make the index usable by
    * Catalyst, not just by our code.
    */
  def pruneByTime(chunks: Dataset[FlatChunk], from: Long, until: Long): Dataset[FlatChunk] =
    chunks.filter(col("t_max") >= from && col("t0") < until)

  // ---------------------------------------------------------------------
  // Delta-encoded per-partition index (north rule): for each storage
  // partition, a compact binary directory of (series hash, first chunk t0,
  // last t_max, chunk count) with all longs delta- and varint-encoded.
  // Lets a reader skip whole partitions / series without touching blobs.
  // ---------------------------------------------------------------------

  case class PartitionIndex(
      part_id: Int,
      tier: String,
      n_series: Int,
      n_chunks: Long,
      t_min: Long,
      t_max: Long,
      directory: Array[Byte] // delta+varint encoded entries
  )

  private def writeVarLong(out: ArrayBuffer[Byte], vRaw: Long): Unit = {
    var v = (vRaw << 1) ^ (vRaw >> 63) // zigzag
    while ((v & ~0x7fL) != 0L) {
      out += ((v & 0x7f) | 0x80).toByte
      v >>>= 7
    }
    out += (v & 0x7f).toByte
  }

  def readVarLong(bytes: Array[Byte], pos: Int): (Long, Int) = {
    var v = 0L; var shift = 0; var p = pos
    var b = 0
    do {
      b = bytes(p) & 0xff
      v |= (b & 0x7fL) << shift
      shift += 7; p += 1
    } while ((b & 0x80) != 0)
    ((v >>> 1) ^ -(v & 1L), p) // un-zigzag
  }

  /** One decoded directory entry: a series' chunk-run inside a partition. */
  case class IndexEntry(seriesHash: Long, t0: Long, tMax: Long, n: Long)

  /** Stream-decode a delta+varint directory back to entries. */
  def decodeDirectory(dir: Array[Byte]): Iterator[IndexEntry] =
    new Iterator[IndexEntry] {
      private var pos = 0
      private var prevHash = 0L
      private var prevT0 = 0L
      override def hasNext: Boolean = pos < dir.length
      override def next(): IndexEntry = {
        val (dh, p1) = readVarLong(dir, pos)
        val (dt0, p2) = readVarLong(dir, p1)
        val (span, p3) = readVarLong(dir, p2)
        val (n, p4) = readVarLong(dir, p3)
        pos = p4
        prevHash += dh
        prevT0 += dt0
        IndexEntry(prevHash, prevT0, prevT0 + span, n)
      }
    }

  /** Materialize the chunk store partitioned by series bucket, plus its
    * delta-encoded partition index (`<path>/chunks/part_id=*` +
    * `<path>/index`), both through [[NioLocalFileSystem.write]].
    */
  def writeIndexedStore(chunks: Dataset[FlatChunk], path: String, buckets: Int): Unit = {
    // pinned across the two writes: the chunk lineage (often a whole
    // tier build) would otherwise execute once for the data files and
    // again for the index
    val pinned = chunks.persist()
    try {
      NioLocalFileSystem.write(withPartId(pinned.toDF(), buckets))
        .mode("overwrite").partitionBy("part_id").parquet(s"$path/chunks")
      NioLocalFileSystem.write(buildIndex(pinned, buckets).toDF())
        .mode("overwrite").parquet(s"$path/index")
    } finally pinned.unpersist(false)
  }

  /** Compact a chunk store in place — the maintenance op a long-lived
    * store needs: incremental/streaming writes (e.g. the foreachBatch
    * MERGE sink) leave many under-filled chunks per series, and small
    * chunks tax every read (more blobs, more CRCs, less delta locality).
    *
    * The decision is made from the INDEX alone: a partition is compacted
    * iff its average chunk holds fewer than `minAvgPoints` points — the
    * per-chunk point counts are already in the delta directory, so the
    * verdict is computed distributed over index rows and only the
    * affected part_ids (ints) reach the driver. Affected partitions are
    * decoded, rebuilt into up-to-`maxPoints` chunks (the same canonical
    * repartition+sort build as a fresh store — the result is identical to
    * rebuilding from the original tier), and rewritten COPY-ON-WRITE via
    * dynamic partition overwrite: untouched part_id directories are never
    * listed, read, or rewritten. The index rows of exactly those
    * partitions are then replaced (the kept rows are bounded by the
    * bucket count, so the swap is driver-side and atomic-enough for the
    * single-writer contract the store already assumes).
    *
    * Returns the compacted part_ids (empty = nothing to do).
    */
  def compactStore(
      spark: SparkSession,
      path: String,
      buckets: Int,
      maxPoints: Int,
      minAvgPoints: Int
  ): Seq[Int] = {
    import spark.implicits._
    val idx = spark.read.parquet(s"$path/index").as[PartitionIndex]
    val affected = idx.filter { pi =>
        var chunks = 0L
        var points = 0L
        decodeDirectory(pi.directory).foreach { e => chunks += 1; points += e.n }
        chunks > 0 && points / chunks < minAvgPoints
      }
      .map(_.part_id).collect().toSeq.sorted
    if (affected.isEmpty) return Seq.empty
    val scan = spark.read.parquet(s"$path/chunks")
      .filter(col("part_id").isin(affected: _*)) // partition pruning
    val tiers = scan.select("tier").distinct().as[String].collect()
    require(tiers.length == 1,
      s"compactStore expects a single-tier store, found: ${tiers.mkString(",")}")
    // eager localCheckpoint: materialized BEFORE the copy-on-write
    // overwrite below, with lineage TRUNCATED — a plain persist would, on
    // executor/block loss, recompute from the overwritten chunks
    // directory (original files deleted) and fail or rebuild the index
    // from post-overwrite state
    val rebuilt = build(
      decode(scan.drop("part_id").as[FlatChunk]), tiers.head, maxPoints)
      .localCheckpoint()
    try {
      NioLocalFileSystem.write(withPartId(rebuilt.toDF(), buckets))
        .mode("overwrite").partitionBy("part_id")
        .option("partitionOverwriteMode", "dynamic").parquet(s"$path/chunks")
      // swap the affected index rows; kept rows are bounded (<= buckets x
      // tiers), collected BEFORE the overwrite of the directory they come
      // from
      val keptRows = idx.toDF().filter(!col("part_id").isin(affected: _*))
        .collect()
      val keptDf = spark.createDataFrame(
        java.util.Arrays.asList(keptRows: _*), idx.toDF().schema)
      NioLocalFileSystem.write(keptDf.unionByName(buildIndex(rebuilt, buckets).toDF()))
        .mode("overwrite").parquet(s"$path/index")
    } finally rebuilt.unpersist(false)
    affected
  }

  /** Index-driven read: the compact index alone decides which storage
    * partitions can contain the requested (series, time-window) chunks —
    * the verdict is computed DISTRIBUTED over index rows and only the
    * surviving part_ids (ints) reach the driver, so the subsequent scan
    * prunes at the file listing without ever listing skipped partitions.
    * Series matching uses the directory's murmur hashes (false positives
    * possible, none missed); the exact series filter is re-applied on the
    * scanned rows.
    */
  def indexedRead(
      spark: SparkSession,
      path: String,
      series: Seq[String],
      from: Long,
      until: Long
  ): DataFrame = {
    import spark.implicits._
    val wanted = series
      .map(s => scala.util.hashing.MurmurHash3.stringHash(s).toLong).toSet
    val keep = spark.read.parquet(s"$path/index").as[PartitionIndex]
      .filter { pi =>
        pi.t_max >= from && pi.t_min < until &&
          decodeDirectory(pi.directory).exists(e =>
            (wanted.isEmpty || wanted(e.seriesHash)) &&
              e.tMax >= from && e.t0 < until)
      }
      .map(_.part_id).collect().toSeq
    val scan = spark.read.parquet(s"$path/chunks")
      .filter(col("part_id").isin(keep: _*)) // partition pruning
      .filter(col("t_max") >= from && col("t0") < until)
    val bySeries =
      if (series.isEmpty) scan
      else scan.filter(col("series_flat").isin(series: _*))
    decodeSql(bySeries)
      .filter(col("ts") >= from && col("ts") < until)
  }
}
