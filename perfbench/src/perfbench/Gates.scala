package perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.table.PartitionMeta

/** Correctness checks, run outside the timed regions. */
object Gates {

  /** Partition families that share one schema. */
  private val Families = Seq(
    Seq("tier=15min/", "tier=30min/", "tier=1h/", "tier=1d/"),
    Seq("chunks-15min/"), Seq("index-15min/"))

  /** key -> (rows, sum of xxhash64 over every column): equal digests mean
    * equal row multisets with bitwise-equal values, per partition.
    */
  def digest(spark: SparkSession, parts: Seq[PartitionMeta]): Map[String, (Long, BigDecimal)] =
    Families.flatMap { prefixes =>
      val fam = parts.filter(p => prefixes.exists(p.key.startsWith)).sortBy(_.key)
      if (fam.isEmpty) Nil
      else {
        val df = fam.map { p =>
          val d = spark.read.parquet(p.path)
          d.select(lit(p.key).as("_k"), xxhash64(d.columns.sorted.map(col): _*).as("_h"))
        }.reduce(_ union _)
        df.groupBy("_k").agg(count(lit(1)), sum(col("_h").cast("decimal(38,0)")))
          .collect().map(r => r.getString(0) -> (r.getLong(1), BigDecimal(r.getDecimal(2))))
          .toSeq
      }
    }.toMap

  /** The data files of a partition dir, by name without the write's
    * unique id (part-00000-<uuid>-c000.snappy.parquet -> part-00000-c000...).
    */
  private def dataFiles(dir: String): Map[String, java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    val s = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
    try s.iterator().asScala
      .filter(p => p.getFileName.toString.startsWith("part-"))
      .map(p => p.getFileName.toString.replaceAll("-[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}", "") -> p)
      .toMap
    finally s.close()
  }

  /** Keys whose partitions differ between two stores with the same keys:
    * byte-identical data files settle a partition without Spark; the rest
    * are compared by row digest.
    */
  def storeDiff(spark: SparkSession, got: Seq[PartitionMeta], want: Seq[PartitionMeta]): Seq[String] = {
    val w = want.map(p => p.key -> p).toMap
    val g = got.map(_.key).toSet
    val missing = ((g -- w.keySet) ++ (w.keySet -- g)).toSeq.sorted.map(k => s"$k: only in one store")
    val unsettled = got.filter(p => w.get(p.key).exists { q =>
      val (a, b) = (dataFiles(p.path), dataFiles(q.path))
      a.keySet != b.keySet || a.exists { case (n, f) =>
        java.util.Arrays.mismatch(java.nio.file.Files.readAllBytes(f),
          java.nio.file.Files.readAllBytes(b(n))) >= 0 }
    })
    System.err.println(s"perfbench: ${got.size - unsettled.size} of ${got.size} partitions byte-identical")
    missing ++ (if (unsettled.isEmpty) Nil
      else diff(digest(spark, unsettled), digest(spark, unsettled.flatMap(p => w.get(p.key)))))
  }

  /** Differences between two digests, as readable lines (empty = equal). */
  def diff(got: Map[String, (Long, BigDecimal)], want: Map[String, (Long, BigDecimal)]): Seq[String] =
    (got.keySet ++ want.keySet).toSeq.sorted.flatMap { k =>
      (got.get(k), want.get(k)) match {
        case (Some(a), Some(b)) if a == b => None
        case (a, b) => Some(s"$k: got $a want $b")
      }
    }

  /** Rows in an order-free, bit-exact form (doubles by their bits). */
  def canon(rows: Array[Row]): Seq[String] =
    rows.toSeq.map(_.toSeq.map(render).mkString("|")).sorted

  private def render(v: Any): String = v match {
    case null => "null"
    case d: Double => java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(d))
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case o => o.toString
  }
}
