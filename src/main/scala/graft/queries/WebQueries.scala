package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ingest.{Pages, Warc}
import graft.streaming.{StreamingChanges, StreamingWarc}
import graft.web.Web

/** Web-native pipeline queries: WARC ingestion (the container Common Crawl
  * ships), HTML text extraction (the step that PRODUCES the byte-identity
  * invariant text), outlink/domain link-graph statistics, and fixed-point
  * PageRank. Fixtures are deterministic arithmetic over `documents`, so
  * every construction and every extraction rule replays in the DuckDB
  * oracle.
  */
object WebQueries {

  private val P = s"(${Pages.oracleCte})"

  /** Rich, crawl-shaped HTML per document: title, a script and a style
    * block (contents must be DROPPED by extraction), a nav with absolute +
    * relative links (+ a third link for doc_id % 3 == 0 — variable
    * outdegree), the body text, an entity-bearing paragraph, and a footer
    * hub link. Mirrored verbatim by [[richHtmlSql]].
    */
  private[queries] def richHtml(id: Column, text: Column): Column = {
    val idS = id.cast("string")
    concat(
      lit("<html><head><title>Doc "), idS, lit("</title>"),
      lit("<script type=\"text/javascript\">var id="), idS,
      lit(";track(\"&amp;\");</script>"),
      lit("<style>p{margin:0}</style></head><body>"),
      lit("<nav><ul><li><a href=\"https://d"), ((id * 3 + 7) % 97).cast("string"),
      lit(".example/p/"), (id % 500).cast("string"), lit("\">next</a></li>"),
      lit("<li><a href=\"/local\">home</a></li>"),
      when(id % 3 === 0,
        concat(lit("<li><a href=\"https://d"), ((id * 5 + 11) % 97).cast("string"),
          lit(".example/t/"), idS, lit("\">more</a></li>"))).otherwise(lit("")),
      lit("</ul></nav>"),
      lit("<h1>Doc "), idS, lit("</h1><p>"), text, lit("</p>"),
      lit("<p>Tom &amp; Jerry &lt;3 &quot;q&quot; &#39;s&#39;&nbsp;end</p>"),
      lit("<footer><a href=\"https://d"), (id % 5).cast("string"),
      lit(".example/\">hub</a> 2024</footer></body></html>"))
  }

  /** DuckDB mirror of [[richHtml]] over columns doc_id, text. */
  private val richHtmlSql: String = Seq(
    "'<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) || '</title>'",
    """'<script type="text/javascript">var id=' || CAST(doc_id AS VARCHAR) || ';track("&amp;");</script>'""",
    "'<style>p{margin:0}</style></head><body>'",
    """'<nav><ul><li><a href="https://d' || CAST((doc_id*3+7)%97 AS VARCHAR) || '.example/p/' || CAST(doc_id%500 AS VARCHAR) || '">next</a></li>'""",
    """'<li><a href="/local">home</a></li>'""",
    """CASE WHEN doc_id % 3 = 0 THEN '<li><a href="https://d' || CAST((doc_id*5+11)%97 AS VARCHAR) || '.example/t/' || CAST(doc_id AS VARCHAR) || '">more</a></li>' ELSE '' END""",
    "'</ul></nav>'",
    "'<h1>Doc ' || CAST(doc_id AS VARCHAR) || '</h1><p>' || text || '</p>'",
    "'<p>Tom &amp; Jerry &lt;3 &quot;q&quot; &#39;s&#39;&nbsp;end</p>'",
    """'<footer><a href="https://d' || CAST(doc_id%5 AS VARCHAR) || '.example/">hub</a> 2024</footer></body></html>'"""
  ).mkString(" || ")

  /** documents dressed as crawl pages: (doc_id, url, html). Url follows
    * the Pages domain rule (hot d0 head), html is [[richHtml]].
    */
  private def webPages(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"),
        concat(lit("https://d"),
          when(col("doc_id") % 5 < 2, lit(0L)).otherwise(col("doc_id") % 97)
            .cast("string"),
          lit(".example/p/"), col("doc_id").cast("string")).as("url"),
        richHtml(col("doc_id"), col("text")).as("html"))

  private val WEB_PAGES_SQL =
    s"""SELECT doc_id,
       |  'https://d' || CAST(CASE WHEN doc_id % 5 < 2 THEN 0 ELSE doc_id % 97 END AS VARCHAR)
       |    || '.example/p/' || CAST(doc_id AS VARCHAR) AS url,
       |  $richHtmlSql AS html
       |FROM documents""".stripMargin.linesIterator.map(_.trim).mkString(" ")

  /** Hand-built WARC fixture, INDEPENDENT of Warc.write (so source and
    * sink don't verify each other): two files — plain records 0..49
    * (prefixed by a warcinfo record the reader must skip) and per-record
    * gzip members 50..99 (the Common-Crawl layout).
    */
  private def handWarc(outDir: String): Unit = {
    import java.nio.charset.StandardCharsets.UTF_8
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    def rec(i: Int): Array[Byte] = {
      val body = s"<html><body>w ${i.toLong * i}</body></html>".getBytes(UTF_8)
      val http = ("HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=UTF-8\r\n" +
        s"Content-Length: ${body.length}\r\n\r\n").getBytes(UTF_8) ++ body
      (s"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: https://w$i.example/p\r\n" +
        s"WARC-Date: ${java.time.Instant.ofEpochSecond(1704067200L + i * 60)}\r\n" +
        "Content-Type: application/http; msgtype=response\r\n" +
        s"Content-Length: ${http.length}\r\n\r\n").getBytes(UTF_8) ++
        http ++ "\r\n\r\n".getBytes(UTF_8)
    }
    val info = ("WARC/1.0\r\nWARC-Type: warcinfo\r\nContent-Type: application/warc-fields\r\n" +
      "Content-Length: 14\r\n\r\nrobots: obey\r\n\r\n\r\n").getBytes(UTF_8)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$outDir/part-00000.warc"),
      info ++ (0 until 50).map(rec).reduce(_ ++ _))
    val gz = java.nio.file.Files.newOutputStream(
      java.nio.file.Paths.get(s"$outDir/part-00001.warc.gz"))
    try (50 until 100).foreach { i =>
      val m = new java.util.zip.GZIPOutputStream(gz)
      m.write(rec(i)); m.finish()
    } finally gz.close()
  }

  /** Head-bearing html per document (charset, title, meta description,
    * canonical link — canonical points at doc_id % 250, so docs can share
    * one). All fields pure doc_id arithmetic: the oracle recomputes the
    * extraction TRUTH directly, so a broken regexp cannot hide.
    */
  private def metaPages(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val idS = id.cast("string")
    val domS = when(id % 5 < 2, 0L).otherwise(id % 97).cast("string")
    s.read.parquet(s"$dir/documents.parquet").select(id,
      concat(
        lit("<html><head><meta charset=\"UTF-8\"><title>Doc "), idS,
        lit(" - d"), domS, lit("</title>"),
        lit("<meta name=\"description\" content=\"synthetic page "), idS,
        lit("\"><link rel=\"canonical\" href=\"https://d"), domS,
        lit(".example/p/"), (id % 250).cast("string"),
        lit("\"></head><body><p>body "), idS, lit("</p></body></html>"))
        .as("html"))
  }

  /** Pages with deterministic content REVISIONS: the fixture's text is
    * constant per url, so a version counter is appended — it increments
    * every (doc_id % 3 + 2) visits (change rates 1/2, 1/3, 1/4), and
    * docs with doc_id % 7 == 0 never change (the cold bucket). Mirrored
    * by [[REV_SQL]].
    */
  private def revisionPages(s: SparkSession, dir: String): DataFrame =
    Pages.synthesize(s, dir)
      .withColumn("text_v", concat(col("text"), lit(" v"),
        when(col("doc_id") % 7 === 0, lit(0L))
          .otherwise(expr("p div ((doc_id % 3 + 2) * (doc_id % 4 + 1))"))
          .cast("string")))

  private val REV_SQL =
    "text || ' v' || CAST(CASE WHEN doc_id % 7 = 0 THEN 0 " +
      "ELSE p // ((doc_id % 3 + 2) * (doc_id % 4 + 1)) END AS VARCHAR)"

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // T28 html -> text extraction over crawl-shaped html: script/style
    // contents dropped, tags stripped, entities decoded once, whitespace
    // normalized
    "q_html_extract" -> ((s, dir) =>
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          Web.extractText(richHtml(col("doc_id"), col("text"))).as("txt"))),

    // T29 domain link graph: outlink extraction -> absolute-only ->
    // per-(src, dst) edge counts
    "q_link_graph" -> ((s, dir) =>
      Web.domainLinkGraph(webPages(s, dir), "url", "html")),

    // T30 fixed-point PageRank (3 iterations, integer arithmetic) over
    // the distinct domain edges of the link graph
    "q_pagerank" -> ((s, dir) => {
      val edges = Web.domainLinkGraph(webPages(s, dir), "url", "html")
        .select(col("src_domain").as("src"), col("dst_domain").as("dst"))
      Web.pagerankFixedPoint(edges, iters = 3)
        .select(col("node"), col("rank").as("rank_fp"))
    }),

    // T36 anchor-text aggregation: top-3 anchor strings per target domain
    "q_anchor_text" -> ((s, dir) =>
      Web.anchorTexts(webPages(s, dir), "html", k = 3)),

    // S10 sitemap parse + discovery gap: per-domain sitemaps list every
    // crawled url plus one phantom (/p/x{k}); parsed locs left-join the
    // crawl -> crawled=false rows are the frontier the crawler is missing
    "q_sitemap" -> ((s, dir) => {
      val id = col("doc_id")
      val kc = when(id % 5 < 2, 0L).otherwise(id % 97)
      val u = s.read.parquet(s"$dir/documents.parquet")
        .select(kc.as("k"),
          concat(lit("https://d"), kc.cast("string"), lit(".example/p/"),
            id.cast("string")).as("url"))
      val frags = u
        .select(col("k"),
          concat(lit("<url><loc>"), col("url"), lit("</loc></url>")).as("frag"))
        .union(u.select(col("k")).distinct()
          .select(col("k"),
            concat(lit("<url><loc>https://d"), col("k").cast("string"),
              lit(".example/p/x"), col("k").cast("string"),
              lit("</loc></url>")).as("frag")))
      val sitemaps = frags.groupBy(col("k"))
        .agg(concat(lit("<urlset>"),
          concat_ws("", array_sort(collect_list(col("frag")))),
          lit("</urlset>")).as("xml"))
        .select(concat(lit("d"), col("k").cast("string"), lit(".example"))
          .as("domain"), col("xml"))
      val locs = Web.parseSitemap(sitemaps, "domain", "xml")
      val crawled = u.select(col("url")).distinct()
      locs.join(crawled, locs("loc") === crawled("url"), "left")
        .select(col("domain"), col("loc"), col("url").isNotNull.as("crawled"))
    }),

    // T43 site clusters: connected components over the domain link graph
    // (numeric ids parsed from the domain names; min-label propagation)
    "q_domain_components" -> ((s, dir) => {
      def kOf(c: org.apache.spark.sql.Column) =
        regexp_extract(c, "d([0-9]+)\\.example", 1).cast("long")
      val lg = Web.domainLinkGraph(webPages(s, dir), "url", "html")
      val pairs = lg.select(kOf(col("src_domain")).as("ka"),
          kOf(col("dst_domain")).as("kb"))
        .where(col("ka") =!= col("kb")).distinct()
      val nodes = pairs.select(col("ka").as("k"))
        .union(pairs.select(col("kb").as("k"))).distinct()
      graft.text.TextOps.dupClusters(nodes, "k", pairs, "ka", "kb")
    }),

    // T37 html head metadata: title/description/charset/canonical from a
    // head-bearing fixture (canonical points at doc_id % 250 — a dedup
    // signal: two docs may share a canonical)
    "q_html_meta" -> ((s, dir) =>
      Web.htmlMeta(metaPages(s, dir), "html")
        .select("doc_id", "title", "meta_desc", "charset", "canonical")),

    // T38 robots.txt policy: per-domain Disallow rules parsed from
    // constructed robots files; pages are /p/ paths, so domains with
    // k % 3 == 0 deny them
    "q_robots" -> ((s, dir) => {
      val doms = s.read.parquet(s"$dir/documents.parquet")
        .select(when(col("doc_id") % 5 < 2, 0L).otherwise(col("doc_id") % 97)
          .as("k")).distinct()
      val robots = doms.select(
        concat(lit("d"), col("k").cast("string"), lit(".example")).as("domain"),
        concat(lit("User-agent: *\n"),
          when(col("k") % 3 === 0, lit("Disallow: /p/\n")).otherwise(lit("")),
          when(col("k") % 4 === 0, lit("Disallow: /t/\n")).otherwise(lit("")))
          .as("txt"))
      Web.robotsFilter(webPages(s, dir), "url",
        Web.robotsRules(robots, "domain", "txt"))
    }),

    // T39 redirect-chain resolution: doc_id % 5 == 0 urls redirect to the
    // (doc_id*7+3) % 500 url — chains and cycles resolve within 3 hops or
    // come back resolved=false
    "q_redirects" -> ((s, dir) => {
      val u = webPages(s, dir).select(col("doc_id"), col("url"))
      val e = u.as("a").join(u.as("b"),
          expr("b.doc_id = (a.doc_id * 7 + 3) % 500 AND a.doc_id % 5 = 0"))
        .select(col("a.url").as("src"), col("b.url").as("dst"))
      Web.resolveRedirects(u, "url", e, maxHops = 3)
    }),

    // T40 crawl-frontier scheduling: change stats -> next fetch time,
    // md5-hash politeness queue per domain, deterministic position
    "q_frontier" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val sched = Web.recrawlSchedule(
        Web.revisitChanges(revisionPages(s, dir), "url", "warc_ts", "text_v"))
      sched
        .select(col("url"),
          regexp_extract(col("url"), "https://([^/]+)", 1).as("domain"),
          (col("last_s") + col("recrawl_s")).as("next_fetch_s"))
        .withColumn("queue",
          conv(substring(md5(col("domain")), 1, 8), 16, 10).cast("long") % 16)
        .withColumn("pos", row_number().over(
          Window.partitionBy(col("queue"))
            .orderBy(col("next_fetch_s"), col("url"))))
    }),

    // T44 crawl-snapshot diff: day-0 vs day-1 latest content per url ->
    // added / gone / changed / same — the between-crawls audit table
    "q_crawl_diff" -> ((s, dir) => {
      // doc_id % 11 == 0 urls are ABSENT from day 0 ('added'),
      // % 13 == 0 absent from day 1 ('gone') — all four statuses occur
      val rp = revisionPages(s, dir).select(col("url"),
        unix_timestamp(col("warc_ts")).as("epoch_s"),
        md5(col("text_v")).as("h"), expr("p div 96").as("day"),
        col("doc_id"))
      def snap(d: Int, excl: Int, hc: String) = rp
        .filter(col("day") === d && col("doc_id") % excl =!= 0)
        .groupBy(col("url")).agg(expr("max_by(h, epoch_s)").as(hc))
      snap(0, 11, "h0").join(snap(1, 13, "h1"), Seq("url"), "full")
        .select(col("url"),
          when(col("h0").isNull, "added")
            .when(col("h1").isNull, "gone")
            .when(col("h0") =!= col("h1"), "changed")
            .otherwise("same").as("status"))
    }),

    // T31 revisit change detection: pages with deterministic content
    // revisions (version increments every (doc_id%3+2) visits; doc_id%7==0
    // never changes) -> per-url visit/change counts + fixed-point change
    // rate
    "q_change_rate" -> ((s, dir) =>
      Web.revisitChanges(revisionPages(s, dir), "url", "warc_ts", "text_v")),

    // T31b recrawl scheduling policy over the change stats
    "q_recrawl" -> ((s, dir) =>
      Web.recrawlSchedule(
        Web.revisitChanges(revisionPages(s, dir), "url", "warc_ts", "text_v"))
        .select(col("url"), col("change_ppm"), col("recrawl_s"))),

    // T31-streaming: the same revision fixture drained as 7 day-sequenced
    // visit files through the stateful change detector + MERGE sink; the
    // drained table must equal the batch q_change_rate truth
    "q_stream_changes" -> ((s, dir) => {
      val root = java.nio.file.Paths.get(Scratch.fresh("stream_changes"))
      val rp = revisionPages(s, dir).select(col("url"),
        unix_timestamp(col("warc_ts")).as("epoch_s"),
        col("text_v").as("text"), expr("p div 96").as("day"))
      val srcDir = root.resolve("src")
      java.nio.file.Files.createDirectories(srcDir)
      for (d <- 0 until 7) { // day-sequenced files = the ordering contract
        val tmp = root.resolve(s"tmp$d")
        rp.filter(col("day") === d).drop("day").coalesce(1)
          .write.mode("overwrite").parquet(tmp.toString)
        val part = java.nio.file.Files.list(tmp).filter(p =>
          p.getFileName.toString.endsWith(".parquet")).findFirst().get()
        java.nio.file.Files.move(part, srcDir.resolve(f"day-$d%02d.parquet"))
      }
      StreamingChanges.changeRateMerged(s, srcDir.toString, "*.parquet",
        s"$root/table", s"$root/ckpt", maxFilesPerTrigger = 1)
    }),

    // S9 WARC source against an independent hand-built fixture (plain +
    // per-record-gzip files, leading warcinfo record skipped)
    "q_warc_source" -> ((s, dir) => {
      val out = Scratch.dir("warc_src")
      handWarc(out)
      Warc.read(s, out)
        .select(col("url"), unix_timestamp(col("warc_ts")).as("epoch_s"),
          length(col("html")).cast("long").as("n_bytes"),
          md5(col("html")).as("html_md5"))
    }),

    // S9-streaming: the same day of warc files ingested as a FILE STREAM
    // (2 files per micro-batch) through the stateless parse + MERGE sink;
    // the drained table must equal the batch roundtrip truth
    "q_stream_warc" -> ((s, dir) => {
      val root = Scratch.fresh("stream_warc")
      Warc.write(
        Pages.synthesize(s, dir).where(col("p") < 96)
          .select(col("url"), col("warc_ts"), col("html")),
        s"$root/src", nFiles = 8, gzip = true)
      StreamingWarc.ingestMerged(s, s"$root/src", s"$root/table",
        s"$root/ckpt", maxFilesPerTrigger = 2)
    }),

    // T40b politeness scheduling: frontier + per-domain Crawl-delay
    // (declared by even-k domains, default 5 s elsewhere) -> earliest
    // compliant start per fetch
    "q_frontier_polite" -> ((s, dir) => {
      val frontier = Web.recrawlSchedule(
        Web.revisitChanges(revisionPages(s, dir), "url", "warc_ts", "text_v"))
        .select(col("url"),
          regexp_extract(col("url"), "https://([^/]+)", 1).as("domain"),
          (col("last_s") + col("recrawl_s")).as("next_fetch_s"))
      val doms = s.read.parquet(s"$dir/documents.parquet")
        .select(when(col("doc_id") % 5 < 2, 0L).otherwise(col("doc_id") % 97)
          .as("k")).distinct()
      val robots = doms.select(
        concat(lit("d"), col("k").cast("string"), lit(".example")).as("domain"),
        concat(lit("User-agent: *\n"),
          when(col("k") % 2 === 0,
            concat(lit("Crawl-delay: "), (col("k") % 7 + 1).cast("string"),
              lit("\n"))).otherwise(lit(""))).as("txt"))
      Web.politeSchedule(frontier,
        Web.robotsDelays(robots, "domain", "txt"), defaultDelayS = 5L)
        .select("url", "domain", "next_fetch_s", "delay_s", "sched_s")
    }),

    // CAPSTONE crawl-to-corpus: the whole ingest path in ONE plan — warc
    // container -> streaming record parse -> html->text extraction ->
    // latest snapshot per url -> cross-url exact dedup (min-url keeper)
    // -> length gate -> corpus rows. A reference user's end-to-end.
    "q_crawl_corpus" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val out = Scratch.dir("crawl_corpus")
      // content dups across urls: doc_id % 10 == 0 pages also crawled
      // under a mirror host ('d...' < 'mirror' so the original wins)
      val base = Pages.synthesize(s, dir).where(col("p") < 96)
      val mirror = base.filter(col("doc_id") % 10 === 0)
        .withColumn("url", concat(lit("https://mirror.example/p/"),
          col("doc_id").cast("string")))
      Warc.write(
        base.unionByName(mirror).select(col("url"), col("warc_ts"), col("html")),
        out, nFiles = 8, gzip = true)
      val txt = Warc.read(s, out)
        .select(col("url"), unix_timestamp(col("warc_ts")).as("epoch_s"),
          Web.extractText(col("html").cast("string")).as("text"))
      val latest = txt
        .withColumn("_rn", row_number().over(
          Window.partitionBy(col("url")).orderBy(col("epoch_s").desc)))
        .filter(col("_rn") === 1).drop("_rn")
      latest
        .groupBy(md5(col("text").cast("binary")).as("text_md5"))
        .agg(min(col("url")).as("url"), count(lit(1)).as("n_copies"),
          max(size(split(trim(col("text")), "\\s+"))).as("n_tokens"))
        .filter(col("n_tokens") >= 20)
        .select(col("url"), col("text_md5"), col("n_copies"),
          col("n_tokens").cast("long").as("n_tokens"))
    }),

    // T48s streaming crawl-to-corpus capstone: the SAME fixture and truth
    // as q_crawl_corpus, but ingested as ONE continuous query (warc files
    // land -> parseStream -> extractText -> latest-per-url MERGE ->
    // incrementally recounted dedup corpus). 3 files per micro-batch, so
    // the incremental view maintenance actually crosses batch boundaries.
    "q_stream_crawl_corpus" -> ((s, dir) => {
      import graft.streaming.StreamingCrawlCorpus
      val out = Scratch.dir("stream_crawl_warc")
      val base = Pages.synthesize(s, dir).where(col("p") < 96)
      val mirror = base.filter(col("doc_id") % 10 === 0)
        .withColumn("url", concat(lit("https://mirror.example/p/"),
          col("doc_id").cast("string")))
      Warc.write(
        base.unionByName(mirror).select(col("url"), col("warc_ts"), col("html")),
        out, nFiles = 8, gzip = true)
      val layer = StreamingCrawlCorpus.ingest(s, out,
        Scratch.dir("stream_crawl_table"), Scratch.dir("stream_crawl_ckpt"),
        maxFilesPerTrigger = 3)
      StreamingCrawlCorpus.corpus(s, layer, minTokens = 20)
    }),

    // S9 WARC sink+source roundtrip at volume: one day of pages through
    // the distributed writer (8 gzip files) and back; the oracle sees only
    // the pages derivation, so the check proves byte-exact WARC storage
    "q_warc_roundtrip" -> ((s, dir) => {
      val out = Scratch.dir("warc_rt")
      Warc.write(
        Pages.synthesize(s, dir).where(col("p") < 96)
          .select(col("url"), col("warc_ts"), col("html")),
        out, nFiles = 8, gzip = true)
      Warc.read(s, out)
        .select(col("url"), unix_timestamp(col("warc_ts")).as("epoch_s"),
          md5(col("html")).as("html_md5"))
    })
  )

  private def pagerankOracle: String = {
    val links =
      s"""SELECT regexp_extract(url, 'https://([^/]+)', 1) AS src,
         |  regexp_extract(href, 'https://([^/]+)', 1) AS dst
         |FROM (SELECT url, UNNEST(${Web.extractLinksSql("html")}) AS href
         |      FROM ($WEB_PAGES_SQL) wp) x
         |WHERE href LIKE 'https://%'""".stripMargin
    val iter = (prev: String) =>
      s"""SELECT n.node, CAST(150000 + COALESCE(m.in_mass, 0) AS BIGINT) AS rank_fp
         |FROM nodes n LEFT JOIN (
         |  SELECT e.dst AS node, SUM(r.rank_fp * 85 // (100 * o.od)) AS in_mass
         |  FROM e JOIN $prev r ON r.node = e.src JOIN outdeg o ON o.src = e.src
         |  GROUP BY e.dst) m USING (node)""".stripMargin
    s"""WITH links AS ($links),
       |e AS (SELECT DISTINCT src, dst FROM links),
       |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
       |outdeg AS (SELECT src, COUNT(*) AS od FROM e GROUP BY src),
       |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank_fp FROM nodes),
       |r1 AS (${iter("r0")}),
       |r2 AS (${iter("r1")}),
       |r3 AS (${iter("r2")})
       |SELECT node, rank_fp FROM r3""".stripMargin
  }

  private def changeRateCore: String =
    s"""WITH v AS (SELECT url, epoch_s, md5($REV_SQL) AS h FROM $P pg),
       |c AS (SELECT url, epoch_s,
       |  CASE WHEN lag(h) OVER (PARTITION BY url ORDER BY epoch_s) IS NULL THEN 0
       |       WHEN h <> lag(h) OVER (PARTITION BY url ORDER BY epoch_s) THEN 1
       |       ELSE 0 END AS changed FROM v),
       |cr AS (SELECT url, COUNT(*) AS n_visits,
       |  CAST(SUM(changed) AS BIGINT) AS n_changes,
       |  MIN(epoch_s) AS first_s, MAX(epoch_s) AS last_s,
       |  CASE WHEN COUNT(*) > 1
       |       THEN CAST(SUM(changed) AS BIGINT) * 1000000 // (COUNT(*) - 1)
       |       ELSE CAST(0 AS BIGINT) END AS change_ppm
       |FROM c GROUP BY url)""".stripMargin

  val oracleSql: Map[String, String] = Map(

    "q_change_rate" ->
      s"""$changeRateCore
         |SELECT url, n_visits, n_changes, first_s, last_s, change_ppm
         |FROM cr""".stripMargin,

    // latest-per-day content via arg_max, statuses from the full join
    "q_crawl_diff" ->
      s"""WITH rp AS (SELECT url, epoch_s, md5($REV_SQL) AS h, p // 96 AS day,
         |    doc_id
         |  FROM $P pg),
         |s0 AS (SELECT url, arg_max(h, epoch_s) AS h0 FROM rp
         |  WHERE day = 0 AND doc_id % 11 <> 0 GROUP BY url),
         |s1 AS (SELECT url, arg_max(h, epoch_s) AS h1 FROM rp
         |  WHERE day = 1 AND doc_id % 13 <> 0 GROUP BY url)
         |SELECT COALESCE(s0.url, s1.url) AS url,
         |  CASE WHEN h0 IS NULL THEN 'added'
         |       WHEN h1 IS NULL THEN 'gone'
         |       WHEN h0 <> h1 THEN 'changed'
         |       ELSE 'same' END AS status
         |FROM s0 FULL OUTER JOIN s1 ON s0.url = s1.url""".stripMargin,

    // same truth as q_change_rate: the streaming path must converge
    "q_stream_changes" ->
      s"""$changeRateCore
         |SELECT url, n_visits, n_changes, first_s, last_s, change_ppm
         |FROM cr""".stripMargin,

    "q_recrawl" ->
      s"""$changeRateCore
         |SELECT url, change_ppm,
         |  CAST(CASE WHEN change_ppm >= 500000 THEN 900
         |            WHEN change_ppm >= 100000 THEN 3600
         |            ELSE 86400 END AS BIGINT) AS recrawl_s
         |FROM cr""".stripMargin,

    "q_html_extract" ->
      s"""SELECT doc_id, ${Web.extractTextSql("html")} AS txt
         |FROM (SELECT doc_id, $richHtmlSql AS html FROM documents) h""".stripMargin,

    "q_link_graph" ->
      s"""SELECT regexp_extract(url, 'https://([^/]+)', 1) AS src_domain,
         |  regexp_extract(href, 'https://([^/]+)', 1) AS dst_domain,
         |  COUNT(*) AS n_links
         |FROM (SELECT url, UNNEST(${Web.extractLinksSql("html")}) AS href
         |      FROM ($WEB_PAGES_SQL) wp) x
         |WHERE href LIKE 'https://%'
         |GROUP BY 1, 2""".stripMargin,

    "q_pagerank" -> pagerankOracle,

    // sitemap construction (string_agg ordered like the engine's
    // array_sort), <loc> extraction, crawl left-join all replayed
    "q_sitemap" ->
      """WITH u AS (SELECT
        |    CASE WHEN doc_id % 5 < 2 THEN 0 ELSE doc_id % 97 END AS k,
        |    'https://d' || CAST(CASE WHEN doc_id % 5 < 2 THEN 0 ELSE doc_id % 97 END AS VARCHAR)
        |      || '.example/p/' || CAST(doc_id AS VARCHAR) AS url
        |  FROM documents),
        |frags AS (SELECT k, '<url><loc>' || url || '</loc></url>' AS frag FROM u
        |  UNION ALL SELECT DISTINCT k,
        |    '<url><loc>https://d' || CAST(k AS VARCHAR) || '.example/p/x'
        |      || CAST(k AS VARCHAR) || '</loc></url>' FROM u),
        |sm AS (SELECT 'd' || CAST(k AS VARCHAR) || '.example' AS domain,
        |    '<urlset>' || string_agg(frag, '' ORDER BY frag) || '</urlset>' AS xml
        |  FROM frags GROUP BY k),
        |locs AS (SELECT domain,
        |    UNNEST(regexp_extract_all(xml, '<loc>([^<]*)</loc>', 1)) AS loc FROM sm),
        |c AS (SELECT DISTINCT url FROM u)
        |SELECT domain, loc, (c.url IS NOT NULL) AS crawled
        |FROM locs LEFT JOIN c ON c.url = locs.loc""".stripMargin,

    // same edges, transitive closure by recursive CTE, min-id labels
    "q_domain_components" ->
      s"""WITH RECURSIVE lk AS (SELECT url,
         |    UNNEST(${Web.extractLinksSql("html")}) AS href
         |  FROM ($WEB_PAGES_SQL) wp),
         |pq AS (SELECT DISTINCT
         |    TRY_CAST(regexp_extract(url, 'https://d([0-9]+)\\.example', 1) AS BIGINT) AS ka,
         |    TRY_CAST(regexp_extract(href, 'https://d([0-9]+)\\.example', 1) AS BIGINT) AS kb
         |  FROM lk WHERE href LIKE 'https://%'),
         |p2 AS (SELECT ka, kb FROM pq
         |  WHERE ka IS NOT NULL AND kb IS NOT NULL AND ka <> kb),
         |edges AS (SELECT ka AS src, kb AS dst FROM p2 UNION SELECT kb, ka FROM p2),
         |nodes AS (SELECT src AS k FROM edges GROUP BY 1),
         |reach(id, r) AS (SELECT k, k FROM nodes
         |  UNION SELECT reach.id, edges.dst FROM reach JOIN edges ON reach.r = edges.src)
         |SELECT id AS k, CAST(min(r) AS BIGINT) AS cluster_id
         |FROM reach GROUP BY 1""".stripMargin,

    // extraction truth recomputed directly from the fixture arithmetic
    "q_html_meta" ->
      """SELECT doc_id,
        |  'Doc ' || CAST(doc_id AS VARCHAR) || ' - d' || dom AS title,
        |  'synthetic page ' || CAST(doc_id AS VARCHAR) AS meta_desc,
        |  'utf-8' AS charset,
        |  'https://d' || dom || '.example/p/' || CAST(doc_id % 250 AS VARCHAR) AS canonical
        |FROM (SELECT doc_id,
        |    CAST(CASE WHEN doc_id % 5 < 2 THEN 0 ELSE doc_id % 97 END AS VARCHAR) AS dom
        |  FROM documents) t""".stripMargin,

    // robots construction + Disallow parse + prefix match replayed
    "q_robots" ->
      s"""WITH doms AS (SELECT DISTINCT
         |    CASE WHEN doc_id % 5 < 2 THEN 0 ELSE doc_id % 97 END AS k FROM documents),
         |robots AS (SELECT 'd' || CAST(k AS VARCHAR) || '.example' AS domain,
         |    'User-agent: *' || chr(10) ||
         |    CASE WHEN k % 3 = 0 THEN 'Disallow: /p/' || chr(10) ELSE '' END ||
         |    CASE WHEN k % 4 = 0 THEN 'Disallow: /t/' || chr(10) ELSE '' END AS txt
         |  FROM doms),
         |rules AS (SELECT domain, prefix FROM (
         |    SELECT domain, regexp_extract(line, '^Disallow:\\s*(\\S+)', 1) AS prefix
         |    FROM (SELECT domain, UNNEST(string_split(txt, chr(10))) AS line FROM robots) l)
         |  WHERE prefix <> ''),
         |p AS (SELECT url, regexp_extract(url, 'https://[^/]+(/.*)', 1) AS path,
         |    regexp_extract(url, 'https://([^/]+)', 1) AS domain
         |  FROM ($WEB_PAGES_SQL) wp)
         |SELECT url,
         |  SUM(CASE WHEN prefix IS NOT NULL AND starts_with(path, prefix)
         |           THEN 1 ELSE 0 END) = 0 AS allowed
         |FROM p LEFT JOIN rules USING (domain) GROUP BY url""".stripMargin,

    // 3 unrolled hops + terminal probe
    "q_redirects" ->
      s"""WITH u AS (SELECT doc_id, url FROM ($WEB_PAGES_SQL) wp),
         |e AS (SELECT a.url AS src, b.url AS dst FROM u a
         |  JOIN u b ON b.doc_id = (a.doc_id * 7 + 3) % 500
         |  WHERE a.doc_id % 5 = 0),
         |h0 AS (SELECT url, url AS f, 0 AS n FROM u),
         |h1 AS (SELECT h0.url, COALESCE(e.dst, h0.f) AS f,
         |  h0.n + CASE WHEN e.dst IS NULL THEN 0 ELSE 1 END AS n
         |  FROM h0 LEFT JOIN e ON e.src = h0.f),
         |h2 AS (SELECT h1.url, COALESCE(e.dst, h1.f) AS f,
         |  h1.n + CASE WHEN e.dst IS NULL THEN 0 ELSE 1 END AS n
         |  FROM h1 LEFT JOIN e ON e.src = h1.f),
         |h3 AS (SELECT h2.url, COALESCE(e.dst, h2.f) AS f,
         |  h2.n + CASE WHEN e.dst IS NULL THEN 0 ELSE 1 END AS n
         |  FROM h2 LEFT JOIN e ON e.src = h2.f)
         |SELECT h3.url, h3.f AS final_url, CAST(h3.n AS BIGINT) AS n_hops,
         |  (m.src IS NULL) AS resolved
         |FROM h3 LEFT JOIN (SELECT DISTINCT src FROM e) m ON m.src = h3.f""".stripMargin,

    // change stats -> fetch schedule -> md5 politeness queue + rank
    "q_frontier" ->
      s"""$changeRateCore,
         |f AS (SELECT url, regexp_extract(url, 'https://([^/]+)', 1) AS domain,
         |  last_s + CASE WHEN change_ppm >= 500000 THEN 900
         |                WHEN change_ppm >= 100000 THEN 3600
         |                ELSE 86400 END AS next_fetch_s
         |  FROM cr),
         |q AS (SELECT *, CAST('0x' || substr(md5(domain), 1, 8) AS BIGINT) % 16 AS queue
         |  FROM f)
         |SELECT url, domain, next_fetch_s, queue,
         |  CAST(row_number() OVER (PARTITION BY queue
         |    ORDER BY next_fetch_s, url) AS INT) AS pos
         |FROM q""".stripMargin,

    // (href, anchor) pairs co-unnested positionally from the same
    // two-group pattern, then count + rank replayed
    "q_anchor_text" ->
      s"""WITH pairs AS (SELECT
         |    UNNEST(regexp_extract_all(html, '<a[^>]*href="([^"]*)"[^>]*>([^<]*)</a>', 1)) AS href,
         |    UNNEST(regexp_extract_all(html, '<a[^>]*href="([^"]*)"[^>]*>([^<]*)</a>', 2)) AS anchor
         |  FROM ($WEB_PAGES_SQL) wp),
         |c AS (SELECT regexp_extract(href, 'https://([^/]+)', 1) AS dst_domain,
         |    anchor, COUNT(*) AS cnt
         |  FROM pairs WHERE href LIKE 'https://%' GROUP BY 1, 2),
         |r AS (SELECT *, row_number() OVER (PARTITION BY dst_domain
         |    ORDER BY cnt DESC, anchor) AS rank FROM c)
         |SELECT dst_domain, anchor, cnt, CAST(rank AS INT) AS rank
         |FROM r WHERE rank <= 3""".stripMargin,

    // the hand-built fixture's arithmetic, recomputed from scratch
    "q_warc_source" ->
      """SELECT 'https://w' || CAST(i AS VARCHAR) || '.example/p' AS url,
        |  CAST(1704067200 + i*60 AS BIGINT) AS epoch_s,
        |  CAST(length(b) AS BIGINT) AS n_bytes,
        |  md5(b) AS html_md5
        |FROM (SELECT i, '<html><body>w ' || CAST(i*i AS VARCHAR) || '</body></html>' AS b
        |      FROM (SELECT UNNEST(generate_series(0, 99)) AS i) g) t""".stripMargin,

    "q_warc_roundtrip" ->
      s"""SELECT url, epoch_s,
         |  md5('<html><body>' || text || '</body></html>') AS html_md5
         |FROM $P pg WHERE pg.p < 96""".stripMargin,

    // frontier + delay parse + closed-form spacing policy replayed
    "q_frontier_polite" ->
      s"""$changeRateCore,
         |f AS (SELECT url, regexp_extract(url, 'https://([^/]+)', 1) AS domain,
         |  last_s + CASE WHEN change_ppm >= 500000 THEN 900
         |                WHEN change_ppm >= 100000 THEN 3600
         |                ELSE 86400 END AS next_fetch_s
         |  FROM cr),
         |doms AS (SELECT DISTINCT
         |    CASE WHEN doc_id % 5 < 2 THEN 0 ELSE doc_id % 97 END AS k FROM documents),
         |robots AS (SELECT 'd' || CAST(k AS VARCHAR) || '.example' AS domain,
         |    'User-agent: *' || chr(10) ||
         |    CASE WHEN k % 2 = 0
         |         THEN 'Crawl-delay: ' || CAST(k % 7 + 1 AS VARCHAR) || chr(10)
         |         ELSE '' END AS txt
         |  FROM doms),
         |delays AS (SELECT domain, CAST(d AS BIGINT) AS delay_s FROM (
         |    SELECT domain, regexp_extract(line, '^Crawl-delay:\\s*([0-9]+)', 1) AS d
         |    FROM (SELECT domain, UNNEST(string_split(txt, chr(10))) AS line
         |          FROM robots) l) x
         |  WHERE d <> ''),
         |j AS (SELECT f.url, f.domain, f.next_fetch_s,
         |    COALESCE(delays.delay_s, 5) AS delay_s
         |  FROM f LEFT JOIN delays USING (domain)),
         |wpos AS (SELECT *,
         |    row_number() OVER (PARTITION BY domain
         |      ORDER BY next_fetch_s, url) AS pos,
         |    min(next_fetch_s) OVER (PARTITION BY domain) AS dmin
         |  FROM j)
         |SELECT url, domain, next_fetch_s, CAST(delay_s AS BIGINT) AS delay_s,
         |  greatest(next_fetch_s, dmin + (pos - 1) * delay_s) AS sched_s
         |FROM wpos""".stripMargin,

    // the whole ingest path replayed: mirror union, latest-per-url,
    // min-url keeper dedup, length gate (extraction identity holds
    // because pages html wraps the already-normalized text)
    "q_crawl_corpus" ->
      s"""WITH pg AS (SELECT * FROM $P p0 WHERE p0.p < 96),
         |all_u AS (SELECT url, epoch_s, text FROM pg
         |  UNION ALL SELECT 'https://mirror.example/p/' || CAST(doc_id AS VARCHAR),
         |    epoch_s, text FROM pg WHERE doc_id % 10 = 0),
         |latest AS (SELECT url, arg_max(text, epoch_s) AS text
         |  FROM all_u GROUP BY url),
         |g AS (SELECT md5(text) AS text_md5, min(url) AS url,
         |    COUNT(*) AS n_copies,
         |    CAST(max(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT) AS n_tokens
         |  FROM latest GROUP BY md5(text))
         |SELECT url, text_md5, n_copies, n_tokens
         |FROM g WHERE n_tokens >= 20""".stripMargin,

    // same truth as the batch q_crawl_corpus: the continuous query must
    // converge to it for any batch slicing
    "q_stream_crawl_corpus" ->
      s"""WITH pg AS (SELECT * FROM $P p0 WHERE p0.p < 96),
         |all_u AS (SELECT url, epoch_s, text FROM pg
         |  UNION ALL SELECT 'https://mirror.example/p/' || CAST(doc_id AS VARCHAR),
         |    epoch_s, text FROM pg WHERE doc_id % 10 = 0),
         |latest AS (SELECT url, arg_max(text, epoch_s) AS text
         |  FROM all_u GROUP BY url),
         |g AS (SELECT md5(text) AS text_md5, min(url) AS url,
         |    COUNT(*) AS n_copies,
         |    CAST(max(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT) AS n_tokens
         |  FROM latest GROUP BY md5(text))
         |SELECT url, text_md5, n_copies, n_tokens
         |FROM g WHERE n_tokens >= 20""".stripMargin,

    // same truth as q_warc_roundtrip: the streaming ingest must converge
    "q_stream_warc" ->
      s"""SELECT url, epoch_s,
         |  md5('<html><body>' || text || '</body></html>') AS html_md5
         |FROM $P pg WHERE pg.p < 96""".stripMargin
  )
}
