package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.table.Skipping
import java.nio.file.{Files, Paths}

/** Data-skipping sidecars: Morton z-value arithmetic, zone-map pruning on
  * a 2-D box query, and Bloom-sidecar point-lookup pruning (no false
  * negatives, bounded false positives).
  */
class SkippingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def tmp(tag: String): String = SparkTestSession.tmpDir(tag).toString

  test("zvalue interleaves the two bucketed dimensions bit by bit") {
    // lo=0, hi=15 makes bucket16 the identity, so the interleave is exact:
    // a=0101, b=1010 -> z = b3 a3 b2 a2 b1 a1 b0 a0 = 10011001 = 153
    val z = spark.range(1)
      .select(Skipping.zvalue(lit(5L), 0, 15, lit(10L), 0, 15).as("z"))
      .as[Long].head()
    assert(z == 153L)
    // corners: (0,0) -> 0, (15,15) -> 255
    val corners = spark.range(1).select(
      Skipping.zvalue(lit(0L), 0, 15, lit(0L), 0, 15),
      Skipping.zvalue(lit(15L), 0, 15, lit(15L), 0, 15))
      .as[(Long, Long)].head()
    assert(corners == ((0L, 255L)))
    // out-of-range values clamp instead of corrupting the interleave
    val clamped = spark.range(1).select(
      Skipping.zvalue(lit(99L), 0, 15, lit(-3L), 0, 15)).as[Long].head()
    assert(clamped == spark.range(1).select(
      Skipping.zvalue(lit(15L), 0, 15, lit(0L), 0, 15)).as[Long].head())
    // parameterized depth: at 2^16 levels/dim the full 32-bit interleave
    // is exact at the corners and strictly monotone refinements of the
    // default depth's cells
    val deep = spark.range(1).select(
      Skipping.zvalue(lit(65535L), 0, 65535, lit(65535L), 0, 65535,
        levels = 65536)).as[Long].head()
    assert(deep == 0xFFFFFFFFL)
  }

  test("z-order depth parameterized: >= 1024 file groups, box read exact at non-default depth") {
    val root = tmp("skip-zdeep-")
    // 32 x 32 grid, levels = 32 per dim -> z in [0, 1024); cellsPerPart 1
    // -> 1024 file groups (the 100 TB layout needs thousands; the fixed
    // 16-level depth capped the table at 64)
    val rows = spark.range(1024).select(
      (col("id") % 32).as("x"), (col("id") / 32).cast("long").as("y"),
      col("id").as("payload"))
    Skipping.writeZOrdered(rows, "x", 0, 31, "y", 0, 31, s"$root/store",
      cellsPerPart = 1, levels = 32)
    val zones = spark.read.parquet(s"$root/store/zones")
    assert(zones.count() == 1024, s"expected 1024 zones, got ${zones.count()}")
    // box query: exact answer, listing pruned to a small fraction
    val (got, kept) = Skipping.readZBox(spark, s"$root/store",
      "x", 3, 6, "y", 10, 13)
    val want = rows.filter(col("x").between(3, 6) && col("y").between(10, 13))
    assert(got.select("x", "y", "payload").except(want).isEmpty &&
      want.except(got.select("x", "y", "payload")).isEmpty)
    assert(got.count() == 16)
    assert(kept.size <= 64,
      s"deep z-order box should prune to a few groups, kept ${kept.size}")
  }

  test("z-ordered layout answers a 2-D box from a fraction of the file groups") {
    val root = tmp("skip-z-")
    // full 64x64 grid: every (a, b) combination once
    val grid = spark.range(64 * 64)
      .select((col("id") / 64).cast("long").as("a"),
        (col("id") % 64).cast("long").as("b"))
    Skipping.writeZOrdered(grid, "a", 0, 63, "b", 0, 63, root)
    val nParts = spark.read.parquet(s"$root/zones").count()
    assert(nParts == 64) // 256 cells / cellsPerPart=4
    val (rows, kept) = Skipping.readZBox(spark, root, "a", 16, 31, "b", 32, 47)
    // correctness: exactly the brute-force box
    val got = rows.select("a", "b").as[(Long, Long)].collect().toSet
    val want = (for (a <- 16L to 31L; b <- 32L to 47L) yield (a, b)).toSet
    assert(got == want)
    // skipping: the 4x4-bucket box touches z-cells that pack into few
    // file groups — most of the 64 groups are never listed
    assert(kept.size <= 8, s"expected <=8 of 64 file groups, got ${kept.size}")
    // a degenerate needle box prunes even harder
    val (needle, keptN) = Skipping.readZBox(spark, root, "a", 5, 5, "b", 60, 60)
    assert(needle.count() == 1 && keptN.size <= 2)
  }

  test("appendZOrdered: base files byte-stable, zones widened, straddling box correct") {
    import scala.jdk.CollectionConverters._
    val root = tmp("skip-zapp-")
    val grid = spark.range(64 * 64)
      .select((col("id") / 64).cast("long").as("a"),
        (col("id") % 64).cast("long").as("b"))
    Skipping.writeZOrdered(grid.filter(col("a") < 32), "a", 0, 63, "b", 0, 63, root)
    def files() = {
      val w = Files.walk(Paths.get(s"$root/data"))
      try w.iterator().asScala.filter(Files.isRegularFile(_))
        .filter(_.getFileName.toString.contains("part-"))
        .map(f => (f.toString, Files.size(f),
          Files.getLastModifiedTime(f).toMillis)).toSet
      finally w.close()
    }
    val before = files()
    Skipping.appendZOrdered(grid.filter(col("a") >= 32), "a", 0, 63, "b", 0, 63, root)
    assert(before.subsetOf(files()), "append must not rewrite base files")
    assert(files().size > before.size)
    // zone map covers both halves; row counts merged
    val zones = spark.read.parquet(s"$root/zones")
    assert(zones.agg(sum(col("rows"))).head().getLong(0) == 64L * 64)
    // a box straddling the append cut answers exactly
    val (rows, kept) = Skipping.readZBox(spark, root, "a", 24, 39, "b", 8, 23)
    val got = rows.select("a", "b").as[(Long, Long)].collect().toSet
    val want = (for (a <- 24L to 39L; b <- 8L to 23L) yield (a, b)).toSet
    assert(got == want)
    assert(kept.size < 64, s"still skipping after append, kept ${kept.size}")
  }

  test("bloom sidecar: no false negatives, bounded false positives, pruned lookup") {
    val df = spark.range(200)
      .select(col("id").cast("string").as("key"), (col("id") % 10).as("part"))
    val blooms = Skipping.bloomBuild(df, "key", "part", mBits = 1 << 12, nHashes = 7)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getInt(2), r.getInt(3), r.getAs[Array[Byte]](4))))
      .toMap
    assert(blooms.size == 10 && blooms.values.forall(_._1 == 20))
    // no false negatives: every key passes its true partition's filter
    (0L until 200L).foreach { id =>
      val (_, m, k, bits) = blooms(id % 10)
      assert(Skipping.bloomMightContain(bits, m, k, id.toString),
        s"false negative for $id")
    }
    // bounded false positives: absent keys rarely pass (12 bits ~ 20 keys)
    val (_, m0, k0, bits0) = blooms(0L)
    val fp = (100000 until 101000)
      .count(i => Skipping.bloomMightContain(bits0, m0, k0, i.toString))
    assert(fp <= 20, s"false-positive rate too high: $fp/1000")
    // lookup prunes the partition listing to the true parts (+ rare FPs)
    val root = tmp("skip-bloom-")
    Skipping.bloomBuild(df, "key", "part", mBits = 1 << 12, nHashes = 7)
      .write.parquet(s"$root/bloom")
    val parts = Skipping.bloomLookupParts(spark, s"$root/bloom",
      Seq("17", "42", "138"))
    assert(Set(7L, 2L, 8L).subsetOf(parts.toSet), "true parts must survive")
    assert(parts.size <= 5, s"lookup should prune to ~3 parts, got $parts")
  }
}
