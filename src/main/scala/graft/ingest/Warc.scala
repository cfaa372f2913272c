package graft.ingest

import java.io.{ByteArrayOutputStream, OutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.Instant
import java.util.zip.{GZIPInputStream, GZIPOutputStream}

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** WARC (Web ARChive, ISO 28500) source + sink — the container format
  * Common Crawl actually ships, so a pages engine that claims
  * crawl-native ingestion (BASELINE.json input_hint) has to read it.
  *
  * Layout per record (response records only, the kind that carries pages):
  *
  * {{{
  * WARC/1.0\r\n
  * WARC-Type: response\r\n
  * WARC-Target-URI: <url>\r\n
  * WARC-Date: <ISO-8601 UTC>\r\n
  * Content-Type: application/http; msgtype=response\r\n
  * Content-Length: <n = byte length of the HTTP block>\r\n
  * \r\n
  * HTTP/1.1 200 OK\r\n ... \r\n\r\n <body bytes>
  * \r\n\r\n
  * }}}
  *
  * Framing is LENGTH-BASED (Content-Length), never delimiter-based: bodies
  * may legally contain "\r\n\r\n" (WarcSpec plants one). `.warc.gz` files
  * follow the Common-Crawl convention of one gzip MEMBER per record,
  * concatenated — members are what make a 1 GB crawl file splittable by
  * record offset in production readers; here the JDK's GZIPInputStream
  * consumes the concatenation transparently.
  *
  * Scale shape: Common Crawl parallelism is PER-FILE (each ~1 GB warc is
  * one task; a crawl segment is tens of thousands of files), which is
  * exactly what `binaryFile` + flatMap gives — no shuffle, record parsing
  * streams within the task, and only the projected (url, ts, html) rows
  * survive. Reading a 100 TB crawl is then scan-bound, as it should be.
  */
object Warc {

  private val Magic = "WARC/1.0"

  /** Record-header version check: any WARC/1.x (ISO 28500 revisions 1.0
    * and 1.1 — wget already emits 1.1) — the record layout relied on here
    * is version-stable across the 1.x line. The sink keeps writing 1.0.
    */
  private def isWarcMagic(hdr: String): Boolean = hdr.startsWith("WARC/1.")

  /** Close-shield so per-record gzip members can be close()d (releasing
    * their native Deflater) without closing the shared file stream.
    */
  private class NoCloseStream(out: OutputStream)
      extends java.io.FilterOutputStream(out) {
    // delegate block writes (FilterOutputStream's default is per-byte)
    override def write(b: Array[Byte], off: Int, len: Int): Unit =
      out.write(b, off, len)
    override def close(): Unit = out.flush()
  }

  // ---------------------------------------------------------------- write

  /** Distributed sink: `df` must carry (url STRING, warc_ts TIMESTAMP,
    * html BINARY). Writes `nFiles` warc files (one per partition, from the
    * executors — on a cluster `outDir` would be shared storage).
    */
  def write(df: DataFrame, outDir: String, nFiles: Int, gzip: Boolean): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val ext = if (gzip) "warc.gz" else "warc"
    df.select(col("url"), unix_timestamp(col("warc_ts")).as("epoch_s"),
        col("html"))
      .repartition(nFiles)
      .foreachPartition { it: Iterator[Row] =>
        val pid = TaskContext.getPartitionId()
        val path = java.nio.file.Paths.get(f"$outDir/part-$pid%05d.$ext")
        val out = java.nio.file.Files.newOutputStream(path)
        try it.foreach { r =>
          writeRecord(out, r.getString(0), r.getLong(1), r.getAs[Array[Byte]](2), gzip)
        } finally out.close()
      }
  }

  /** One record; for gzip each record is its OWN gzip member (CC layout). */
  private def writeRecord(out: OutputStream, url: String, epochS: Long,
      body: Array[Byte], gzip: Boolean): Unit = {
    val http = new ByteArrayOutputStream()
    http.write(("HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=UTF-8\r\n" +
      s"Content-Length: ${body.length}\r\n\r\n").getBytes(UTF_8))
    http.write(body)
    val httpBytes = http.toByteArray
    val rec = new ByteArrayOutputStream()
    rec.write((s"$Magic\r\n" +
      "WARC-Type: response\r\n" +
      s"WARC-Target-URI: $url\r\n" +
      s"WARC-Date: ${Instant.ofEpochSecond(epochS)}\r\n" +
      "Content-Type: application/http; msgtype=response\r\n" +
      s"Content-Length: ${httpBytes.length}\r\n\r\n").getBytes(UTF_8))
    rec.write(httpBytes)
    rec.write("\r\n\r\n".getBytes(UTF_8))
    if (gzip) {
      // close() (not just finish()) so the member's native Deflater is
      // released immediately — finish() alone leaks ~256 KB of native
      // memory per record until finalization, which at millions of
      // records per file is a machine-killer. The shield keeps the
      // underlying file stream open across members.
      val gz = new GZIPOutputStream(new NoCloseStream(out))
      gz.write(rec.toByteArray)
      gz.close()
    } else out.write(rec.toByteArray)
  }

  // ----------------------------------------------------------------- read

  /** The file names a warc reader takes: `.warc` and `.warc.gz`. */
  val Glob = "*.warc*"

  /** Distributed source: every `.warc` / `.warc.gz` under `dir` becomes
    * one task; yields (url STRING, warc_ts TIMESTAMP, html BINARY).
    *
    * The task STREAMS the file from its path (Hadoop FS, so the same
    * code reads HDFS/S3 on a cluster): task memory is O(gzip buffer) +
    * O(one record), never O(file) — buffering whole crawl files as byte
    * arrays (the `binaryFile` content column) put ~3 concurrent copies
    * of each file on the heap and OOM'd a 4 GB / 64-file read at 16 GiB;
    * real CC files are ~1 GB, where whole-file buffering is simply not
    * an option.
    */
  def read(spark: SparkSession, dir: String): DataFrame =
    records(spark.read.format("binaryFile").option("pathGlobFilter", Glob)
        .load(dir))
      .select(col("url"), timestamp_seconds(col("epoch_s")).as("warc_ts"),
        col("html"))

  /** The records (url STRING, epoch_s LONG, html BINARY) of every warc
    * file named in the `path` column of `files` — a batch listing or a
    * file stream alike. Each file is [[parseStream]]ed off its path, one
    * record at a time.
    */
  def records(files: DataFrame): DataFrame = {
    val spark = files.sparkSession
    import spark.implicits._
    files.select(col("path")).as[String]
      .flatMap { p =>
        val uri = new java.net.URI(p)
        val fs = org.apache.hadoop.fs.FileSystem.get(uri,
          new org.apache.hadoop.conf.Configuration())
        parseStream(fs.open(new org.apache.hadoop.fs.Path(uri)),
          gz = p.endsWith(".gz"))
      }
      .toDF("url", "epoch_s", "html")
  }

  /** Parse a whole warc file eagerly (test/convenience surface). */
  def parseAll(raw: Array[Byte]): Seq[(String, Long, Array[Byte])] =
    parseIter(raw).toSeq

  /** In-memory convenience over [[parseStream]] (gzip sniffed by magic). */
  def parseIter(raw: Array[Byte]): Iterator[(String, Long, Array[Byte])] =
    parseStream(new java.io.ByteArrayInputStream(raw),
      gz = raw.length >= 2 && (raw(0) & 0xff) == 0x1f && (raw(1) & 0xff) == 0x8b)

  /** STREAMING record parser: reads one record at a time off the (plain
    * or multi-member-gzip) stream — task memory is the 64 KB buffers
    * plus ONE record, independent of file size; whole-file buffering
    * cannot survive ~1 GB crawl files × 32 concurrent tasks. Tolerance:
    * a record whose Content-Length outruns the stream, a truncated
    * header, or a corrupt gzip tail ends iteration cleanly (crawls
    * truncate); non-`response` records are skipped.
    */
  def parseStream(in0: java.io.InputStream,
      gz: Boolean): Iterator[(String, Long, Array[Byte])] = {
    // a corrupt gzip HEADER throws in the constructor, before any record
    // — treat it like any other truncation: empty, not a task failure
    val decoded =
      try { if (gz) new GZIPInputStream(in0, 65536) else in0 }
      catch { case _: java.io.IOException =>
        try in0.close() catch { case _: java.io.IOException => () }
        return Iterator.empty
      }
    val in = new java.io.BufferedInputStream(decoded, 65536)
    val sep = "\r\n\r\n".getBytes(UTF_8)
    new Iterator[(String, Long, Array[Byte])] {
      private var nextRec: (String, Long, Array[Byte]) = _
      private var done = false
      advance()

      // consume up to and including CRLFCRLF; null on EOF/truncation
      private def readHeaderBlock(): String = {
        val buf = new ByteArrayOutputStream(256)
        var matched = 0
        var c = in.read()
        while (c >= 0) {
          buf.write(c)
          matched =
            if (c == sep(matched)) matched + 1
            else if (c == '\r') 1
            else 0
          if (matched == 4)
            return new String(buf.toByteArray, 0, buf.size - 4, UTF_8)
          c = in.read()
        }
        null
      }

      private def advance(): Unit = {
        nextRec = null
        try {
          while (nextRec == null && !done) {
            val hdr = readHeaderBlock()
            if (hdr == null || !isWarcMagic(hdr)) { done = true; in.close() }
            else {
              val headers = hdr.split("\r\n").iterator
                .map(_.split(":", 2))
                .collect { case Array(k, v) => (k.trim, v.trim) }.toMap
              // toIntOption, not toInt: a corrupt length field must end
              // iteration cleanly (the documented contract), not throw
              // NumberFormatException through the task
              val len = headers.get("Content-Length").flatMap(_.toIntOption)
                .getOrElse(-1)
              if (len < 0) { done = true; in.close() }
              else {
                val http = in.readNBytes(len)
                if (http.length < len) { done = true; in.close() } // truncated
                else {
                  if (headers.get("WARC-Type").contains("response")) {
                    val split = findBytes(http, sep, 0)
                    // a malformed WARC-Date is a SKIPPED record, not a
                    // failed task: the body was already consumed, so the
                    // stream stays framed and iteration continues
                    val epoch = scala.util.Try(
                      Instant.parse(headers.getOrElse("WARC-Date",
                        "1970-01-01T00:00:00Z")).getEpochSecond).toOption
                    if (split >= 0 && epoch.isDefined)
                      nextRec = (
                        headers.getOrElse("WARC-Target-URI", ""),
                        epoch.get,
                        java.util.Arrays.copyOfRange(http, split + 4, http.length))
                  }
                  // skip the inter-record CR/LF run (peek via mark/reset)
                  var skipping = true
                  while (skipping) {
                    in.mark(1)
                    val c = in.read()
                    if (c != '\r' && c != '\n') {
                      if (c >= 0) in.reset()
                      skipping = false
                    }
                  }
                }
              }
            }
          }
        } catch {
          // NonFatal, not just IOException: any unchecked surprise from a
          // corrupt header/body (the wild-crawl reality) ends iteration
          // cleanly instead of failing the whole Spark task/stream
          case scala.util.control.NonFatal(_) =>
            done = true
            try in.close() catch { case _: java.io.IOException => () }
        }
      }
      def hasNext: Boolean = nextRec != null
      def next(): (String, Long, Array[Byte]) = {
        val r = nextRec; advance(); r
      }
    }
  }

  // NOT named `indexOf`: called from inside an anonymous Iterator subclass,
  // where that name resolves to Iterator.indexOf — auto-tupling makes a
  // 3-arg call COMPILE against it and silently search the iterator itself
  private def findBytes(hay: Array[Byte], needle: Array[Byte], from: Int): Int = {
    var i = from
    val last = hay.length - needle.length
    while (i <= last) {
      var j = 0
      while (j < needle.length && hay(i + j) == needle(j)) j += 1
      if (j == needle.length) return i
      i += 1
    }
    -1
  }
}
