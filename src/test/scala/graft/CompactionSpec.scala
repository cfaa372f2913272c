package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.chunk.ChunkWriter

/** Chunk-store compaction: small-chunk partitions are rebuilt
  * copy-on-write, content survives bitwise, untouched partitions are
  * never rewritten, and the swapped index keeps serving reads.
  */
class CompactionSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def mkPoints(series: Seq[String]) =
    series.flatMap { s =>
      (0 until 400).map(i =>
        (s, i * 900L, Some(((i % 37) + s.length).toDouble / 8)))
    }.toDF("series_flat", "ts", "value")

  test("writeIndexedStore starts no child process") {
    val store = SparkTestSession.tmpDir("indexed-store-").toString
    val chunks = ChunkWriter.build(mkPoints(Seq("c0", "c1", "c2")), "15min", maxPoints = 96)
    val (_, started) =
      SparkTestSession.processesOf(ChunkWriter.writeIndexedStore(chunks, store, buckets = 8))
    assert(started.isEmpty, s"writeIndexedStore started ${started.size} process(es), e.g. " +
      started.toSeq.sorted.take(3).mkString("; "))
    assert(spark.read.parquet(s"$store/chunks").count() == chunks.count())
  }

  test("compactStore merges small chunks copy-on-write, content bitwise-stable") {
    val store = SparkTestSession.tmpDir("compact-store-").toString
    val buckets = 8
    // fragmented group (50 chunks/series) + healthy group (5 chunks/series)
    val frag = ChunkWriter.build(
      mkPoints(Seq("a0", "a1", "a2", "a3")), "15min", maxPoints = 8)
    val ok = ChunkWriter.build(
      mkPoints(Seq("b0", "b1", "b2", "b3", "b4", "b5", "b6", "b7")),
      "15min", maxPoints = 96)
    ChunkWriter.writeIndexedStore(frag.union(ok), store, buckets)

    def readChunks() = spark.read.parquet(s"$store/chunks")
    def decodeAll() = ChunkWriter.decode(
        readChunks().drop("part_id").as[ChunkWriter.FlatChunk])
      .as[(String, Long, Option[Double])].collect()
    val before = decodeAll()
    val chunksBefore = readChunks().count()
    // the rule, mirrored from the chunk table: avg points/chunk < 48
    val expected = readChunks().groupBy("part_id")
      .agg((sum("n") / count(lit(1))).as("avg"))
      .filter(col("avg") < 48).select("part_id")
      .as[Int].collect().toSeq.sorted
    assert(expected.nonEmpty, "fixture must fragment at least one partition")
    val untouched = (0 until buckets).filterNot(expected.contains)
    assert(untouched.nonEmpty, "fixture must leave at least one healthy partition")
    def dirState(p: Int): Seq[(String, Long, Long)] = {
      val d = new java.io.File(s"$store/chunks/part_id=$p")
      if (!d.exists()) Seq.empty
      else d.listFiles().filter(_.isFile)
        .map(f => (f.getName, f.length(), f.lastModified())).toSeq.sortBy(_._1)
    }
    val snap = untouched.map(p => p -> dirState(p)).toMap

    val affected =
      ChunkWriter.compactStore(spark, store, buckets, maxPoints = 96,
        minAvgPoints = 48)
    assert(affected == expected,
      s"index-driven decision must match the chunk-table rule: $affected vs $expected")

    // decoded content identical, strictly fewer chunks
    val after = decodeAll()
    assert(after.length == before.length && after.toSet == before.toSet)
    assert(readChunks().count() < chunksBefore)
    // copy-on-write: healthy partitions byte-stable (same files, sizes, mtimes)
    untouched.foreach(p =>
      assert(dirState(p) == snap(p), s"partition $p was rewritten"))
    // second pass is a no-op (everything now healthy)
    assert(ChunkWriter.compactStore(spark, store, buckets, 96, 48).isEmpty)
    // index still serves reads over the compacted store
    val got = ChunkWriter.indexedRead(spark, store, Seq("a1"), 0L, 360000L)
      .select("series_flat", "ts", "value")
      .as[(String, Long, Option[Double])].collect().toSet
    val direct = before.filter(r => r._1 == "a1" && r._2 < 360000L).toSet
    assert(got == direct && got.nonEmpty)
  }
}
