package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ingest.Pages

/** Size of the synthetic crawl: `docs` documents revisited over `days`
  * days on the 15-minute grid, spread over `domainMod` domains with the
  * fixture's zipf head (doc_id % 5 < 2 lands on d0, ~40% of traffic).
  */
final case class Scale(docs: Int, days: Int, domainMod: Int)

/** The fixture: a `documents` table made with a fixed seed (42, like the
  * engine's own test data, and independent of the workload seed), turned
  * into `pages` by the engine's `Pages.synthesize`. The late-page pool of
  * late_delta is TimeDelta's slice: the pages of the last two days whose
  * doc_id % 5 == 4.
  */
object Fixture {
  val FixtureSeed = 42L
  private val Vocab = ("the a fast slow key order sort table scan merge part window " +
    "small large join filter group query row data stream customer line time " +
    "series crawl page index chunk tier roll late store read write commit").split(' ')
  private val Langs = Array("en", "en", "en", "fr", "es", "zh", "de", "ja", "ru", "pt")
  val LateDays = 2

  /** The engine's sf0.001 document count over three days: the smallest
    * fixture whose late_delta has an untouched day before the late ones,
    * and small enough that a run, JVM start and cold set-up included,
    * stays near a minute on 4 cores.
    */
  val BenchScale = Scale(docs = 500, days = 3, domainMod = 97)

  def documents(spark: SparkSession, docs: Int): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(FixtureSeed)
    val rows = (0 until docs).map { id =>
      val nChars = 47 + rnd.nextInt(512)
      val sb = new StringBuilder
      while (sb.length < nChars) {
        if (sb.nonEmpty) sb += ' '
        sb ++= Vocab(rnd.nextInt(Vocab.length))
      }
      (id.toLong, sb.substring(0, nChars), Langs(rnd.nextInt(Langs.length)), "synthetic",
        nChars.toLong)
    }
    rows.toDF("doc_id", "text", "lang", "source", "n_chars").repartition(1)
  }

  /** All pages of the fixture (written documents under `dir`). */
  def pages(spark: SparkSession, dir: String, s: Scale): DataFrame =
    Pages.synthesize(spark, dir, days = s.days, domainMod = s.domainMod)
      .select("url", "warc_ts", "html", "text", "lang")

  def docId: org.apache.spark.sql.Column =
    regexp_extract(col("url"), "/p/(\\d+)$", 1).cast("long")

  def isLate(s: Scale): org.apache.spark.sql.Column =
    unix_timestamp(col("warc_ts")) >= Pages.T0Epoch + (s.days - LateDays).toLong * 86400 &&
      docId % 5 === 4

  /** Domains present in the fixture, without running a query. */
  def domains(s: Scale): IndexedSeq[String] =
    ("d0.example" +: (0 until s.docs).filter(_ % 5 >= 2).map(d => s"d${d % s.domainMod}.example"))
      .distinct.toIndexedSeq

  /** Bytes of every regular file under `dir` (0 when absent). */
  def bytesUnder(dir: java.nio.file.Path): Long = {
    import scala.jdk.CollectionConverters._
    if (!java.nio.file.Files.exists(dir)) 0L
    else {
      val s = java.nio.file.Files.walk(dir)
      try s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(java.nio.file.Files.size).sum
      finally s.close()
    }
  }

  def deleteTree(dir: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (java.nio.file.Files.exists(dir)) {
      val s = java.nio.file.Files.walk(dir)
      try s.sorted(java.util.Comparator.reverseOrder()).iterator().asScala
        .foreach(java.nio.file.Files.delete)
      finally s.close()
    }
  }
}
