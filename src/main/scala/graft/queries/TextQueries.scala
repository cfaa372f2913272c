package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.text.TextOps
import graft.ingest.Pages
import graft.multimodal.Multimodal
import graft.streaming.{StreamingDedup, StreamingNearDup, StreamingRollup}

/** Training-data-pipeline queries over `documents` (and the synthesized
  * pages for multimodal): dedup, language ID, quality, token stats,
  * fingerprints. Expressible ops carry a DuckDB oracle; the LSH/sketch ops
  * (minhash, simhash) are rows-only here and property-tested in ScalaTest.
  */
object TextQueries {

  /** documents + injected exact duplicates (doc_id % 10 == 0 re-appears as
    * doc_id + 100000) — the fixture has no natural dups.
    */
  private def docsWithDups(s: SparkSession, dir: String): DataFrame = {
    val d = s.read.parquet(s"$dir/documents.parquet").select("doc_id", "text")
    d.union(d.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 100000).as("doc_id"), col("text")))
  }

  private val DOCS_DUP =
    "(SELECT doc_id, text FROM documents UNION ALL " +
      "SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 0)"

  /** documents + injected NEAR-duplicates: doc_id % 7 == 0 re-appears as
    * doc_id + 200000 with ' trailer' appended — high but non-1.0 Jaccard.
    */
  private def docsWithNearDups(s: SparkSession, dir: String): DataFrame = {
    val d = s.read.parquet(s"$dir/documents.parquet").select("doc_id", "text")
    d.union(d.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 200000).as("doc_id"),
        concat(col("text"), lit(" graft trailer token")).as("text")))
  }

  private val TOKS = "string_split_regex(trim(text), '\\s+')"
  private def hits(dict: Seq[String]): String =
    s"len(list_filter($TOKS, x -> x IN (${dict.map("'" + _ + "'").mkString(", ")})))"

  /** (url, png) fixture: one deterministic PNG per document with
    * dimensions derived from doc_id — real image bytes whose header truth
    * the oracle can recompute arithmetically.
    */
  private def imageFixture(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    s.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        (s"img://$id",
          Multimodal.synthPng(id, 8 + (id % 25).toInt, 8 + (id % 17).toInt))
      })
      .toDF("url", "png")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dedup_exact" -> ((s, dir) =>
      TextOps.exactDedupe(docsWithDups(s, dir), "doc_id", "text")),

    "q_token_stats" -> ((s, dir) =>
      TextOps.tokenStats(
        s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")),

    // per-language top-20 bigrams (corpus vocabulary statistics)
    "q_top_ngrams" -> ((s, dir) =>
      TextOps.topNgrams(
        s.read.parquet(s"$dir/documents.parquet"), "lang", "text", 2, 20)),

    // T50 sequence packing (concat-then-chunk training layout): global
    // token prefix sum via the two-phase distributed scan (range
    // partitions + bounded per-partition totals), NEVER an unpartitioned
    // window; each doc's (start_tok, chunk span) against contextLen=512
    "q_pack_sequences" -> ((s, dir) =>
      TextOps.packSequences(
        s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text", 512)),

    // T52 deterministic global shuffle -> fixed-size training shards:
    // md5-of-(id:seed) total order, global rank via the two-phase
    // distributed scan (terasort shape), shard = rank div shardSize
    "q_shuffle_shards" -> ((s, dir) =>
      TextOps.shuffleShards(
        s.read.parquet(s"$dir/documents.parquet"), "doc_id", 32, 42)),

    // T53 weighted sampling without replacement (priority sampling,
    // u/w in 1e6 fixed point — exact integers, engine-portable); k=100
    // by n_chars weight, planned as TakeOrderedAndProject (PlansSpec)
    "q_weighted_sample" -> ((s, dir) =>
      TextOps.weightedSample(
          s.read.parquet(s"$dir/documents.parquet")
            .select("doc_id", "n_chars"),
          "doc_id", "n_chars", 100, 42)
        .select("doc_id", "n_chars", "priority")),

    // T54 group-disjoint train/val/test split: the label is a pure
    // function of the SOURCE, so one site's near-identical docs can never
    // straddle train and eval
    "q_split_domains" -> ((s, dir) =>
      TextOps.splitByGroup(
          s.read.parquet(s"$dir/documents.parquet")
            .select("doc_id", "source"),
          "source", 80, 10, 42)
        .select("doc_id", "source", "split")),

    // T60 DYNAMIC quality gate: keep docs at or above their language's
    // exact p25 token length — thresholds ADAPT to each language's own
    // distribution instead of one global constant (short-doc languages
    // aren't wiped out by an absolute cutoff). Same type-1 rank-selection
    // quantile as q_quantiles; thresholds are one bounded row per lang
    "q_quality_gate" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = s.read.parquet(s"$dir/documents.parquet")
        .select(col("lang"), col("doc_id"),
          size(TextOps.tokens(col("text"))).as("n_tokens"))
      // exact p25 WITHOUT a per-lang window over every doc (at crawl scale
      // one language is most of the corpus = a single-task sort): a
      // partial-agg'd (lang, n_tokens) histogram first — the windows then
      // run over DISTINCT length values per lang (bounded), and the
      // rank-target row's value is the smallest length whose cumulative
      // count reaches ceil(cnt * 0.25). Identical p25 to the row-level
      // rank selection: the doc_id tie-break never changes the VALUE at
      // the target rank (TextOpsSpec asserts equality on the fixture).
      val hist = d.groupBy(col("lang"), col("n_tokens"))
        .agg(count(lit(1)).as("_c"))
      val wcum = Window.partitionBy(col("lang")).orderBy(col("n_tokens"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val wall = Window.partitionBy(col("lang"))
      val th = hist
        .withColumn("_cum", sum(col("_c")).over(wcum))
        .withColumn("_cnt", sum(col("_c")).over(wall))
        .filter(col("_cum") >= greatest(lit(1), ceil(col("_cnt") * 0.25)))
        .groupBy(col("lang")).agg(min(col("n_tokens")).as("p25"))
      d.join(broadcast(th), Seq("lang"))
        .filter(col("n_tokens") >= col("p25"))
        .select("doc_id", "lang", "n_tokens", "p25")
    }),

    // T61 length-bucketed batch packing (dynamic batching): docs batch
    // with similar-length peers (64-token buckets) so padding waste is
    // bounded; within a bucket, batch membership follows the md5 shuffle
    // order — deterministic on any engine/partitioning
    "q_length_batches" -> ((s, dir) => {
      // per-bucket md5 rank via the T50/T52 two-phase distributed scan
      // (TextOps.bucketedShuffleRank) — a per-bucket row_number window
      // made every length bucket ONE task doing a full sort at crawl
      // scale; ranks are bitwise the window's (TextOpsSpec), the rank
      // table is narrow (id, bucket, rn) and n_tokens joins back by id
      val d = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          size(TextOps.tokens(col("text"))).as("n_tokens"))
        .withColumn("len_bucket", expr("n_tokens div 64"))
      TextOps.bucketedShuffleRank(d, "doc_id", "len_bucket", 42)
        .join(d.select(col("doc_id"), col("n_tokens")), "doc_id")
        .select(col("doc_id"), col("n_tokens"), col("len_bucket"),
          expr("rn div 16").as("batch_in_bucket"),
          (col("rn") % 16).cast("int").as("pos_in_batch"))
    }),

    // T52a shard-store APPEND: new docs continue the rank sequence where
    // the store left off (filling the partial tail shard first) — the
    // stored shards are never re-shuffled or rewritten, the appended docs
    // are md5-ordered among THEMSELVES. At 100 TB this is the only
    // affordable maintenance mode for a shard layout: a full reshuffle
    // on every corpus increment would re-sort the world
    "q_shards_append" -> ((s, dir) => {
      val root = Scratch.dir("shards_append")
      val docs = s.read.parquet(s"$dir/documents.parquet")
      TextOps.shuffleShards(docs.filter(col("doc_id") % 4 =!= 3),
          "doc_id", 32, 42)
        .write.mode("overwrite").partitionBy("shard").parquet(s"$root/data")
      val n = s.read.parquet(s"$root/data").count()
      TextOps.shuffleShards(docs.filter(col("doc_id") % 4 === 3),
          "doc_id", 32, 42)
        .select(col("doc_id"),
          (col("shard") * 32 + col("pos_in_shard") + n).as("_rank"))
        .select(col("doc_id"), expr("_rank div 32").as("shard"),
          (col("_rank") % 32).as("pos_in_shard"))
        .write.mode("append").partitionBy("shard").parquet(s"$root/data")
      s.read.parquet(s"$root/data")
        .select(col("doc_id"), col("shard").cast("long").as("shard"),
          col("pos_in_shard"))
    }),

    // BLOOM-sidecar point lookup: the corpus laid out as md5-shuffled
    // training shards (a doc's shard is order-dependent — unknowable from
    // the key), then "which shard/position did doc X land in" answered by
    // probing one bounded Bloom row per shard instead of scanning every
    // shard; exact filter re-applies on the pruned scan (FPs widen the
    // read, never the answer). SkippingSpec asserts the listing shrinks.
    "q_bloom_lookup" -> ((s, dir) => {
      val root = Scratch.dir("bloom_shards")
      TextOps.shuffleShards(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", 32, 42)
        .write.mode("overwrite").partitionBy("shard").parquet(s"$root/data")
      graft.table.Skipping.bloomBuild(
          s.read.parquet(s"$root/data"), "doc_id", "shard",
          mBits = 1 << 12, nHashes = 7)
        .write.mode("overwrite").parquet(s"$root/bloom")
      val want = Seq(11L, 77L, 123L, 401L)
      val parts = graft.table.Skipping.bloomLookupParts(
        s, s"$root/bloom", want.map(_.toString))
      s.read.parquet(s"$root/data")
        .filter(col("shard").isin(parts: _*)) // listing pruned by the sidecar
        .filter(col("doc_id").isin(want: _*)) // exact re-check (bloom FPs)
        .select(col("doc_id"), col("shard").cast("long").as("shard"),
          col("pos_in_shard"))
    }),

    // Exact per-language token-length quantiles by RANK SELECTION (type-1,
    // ties broken by doc_id — a total order both engines share). Exact
    // order statistics need a per-group sort; the at-scale variant is
    // approx_percentile, sketch-verified against this in TextOpsSpec.
    "q_quantiles" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = s.read.parquet(s"$dir/documents.parquet")
        .select(col("lang"), col("doc_id"),
          size(TextOps.tokens(col("text"))).as("n_tokens"))
      val ranked = d
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("lang")).orderBy(col("n_tokens"), col("doc_id"))))
        .withColumn("cnt", count(lit(1)).over(Window.partitionBy(col("lang"))))
      def q(p: Double) =
        max(when(col("rn") === greatest(lit(1), ceil(col("cnt") * p)),
          col("n_tokens")))
      ranked.groupBy(col("lang")).agg(
        max(col("cnt")).as("n_docs"),
        q(0.25).as("p25"), q(0.5).as("p50"),
        q(0.75).as("p75"), q(0.95).as("p95"))
    }),

    // Multi-granularity totals in ONE pass: ROLLUP (lang, source) emits
    // per-(lang, source), per-lang, and grand-total rows from a single
    // expand+aggregate — no self-unions of separate groupBys.
    "q_rollup_totals" -> ((s, dir) =>
      s.read.parquet(s"$dir/documents.parquet")
        .rollup(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars"))),

    // PII scrub over docs with injected deterministic PII (the fixture
    // has none): per-doc hit counts + md5 of the redacted text — a wrong
    // replacement anywhere changes the hash
    "q_pii_redact" -> ((s, dir) => {
      val withPii = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          concat(col("text"),
            lit(" contact u"), col("doc_id"), lit("@example.com or +4917012"),
            col("doc_id"), lit(" at 10.0."), col("doc_id") % 256, lit("."),
            col("doc_id") % 254).as("text"))
      TextOps.piiStats(withPii, "doc_id", "text")
        .select(col("doc_id"), col("n_email"), col("n_ip"), col("n_phone"),
          md5(col("redacted")).as("redacted_md5"))
    }),

    // duplicate-shingle repetition signal (C4/Gopher-style boilerplate
    // filter) over the raw corpus
    "q_repetition" -> ((s, dir) =>
      TextOps.repetitionStats(
        s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text", n = 3)),

    // T23 paragraph-level exact dedup / boilerplate share: every doc
    // gets a shared header paragraph, every 3rd a shared footer — the
    // operator must flag exactly those (hash seen in >= 2 distinct docs)
    // and leave each doc's unique body unflagged
    "q_para_dedup" -> ((s, dir) =>
      TextOps.paragraphDedup(
        s.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"), concat(
            lit("shared header boilerplate paragraph\n\n"), col("text"),
            when(col("doc_id") % 3 === 0,
              lit("\n\nsubscribe to the newsletter footer"))
              .otherwise(lit(""))).as("text")),
        "doc_id", "text", minDocs = 2)),

    // T25 stratified quota sampling — the data-MIXING primitive: at most
    // 5 docs per (lang, source) stratum, chosen by deterministic
    // md5-of-id rank (same survivors on every engine/run/partitioning)
    "q_quota_sample" -> ((s, dir) =>
      TextOps.quotaSample(
        s.read.parquet(s"$dir/documents.parquet")
          .select("doc_id", "lang", "source"),
        Seq("lang", "source"), "doc_id", cap = 5)),

    // T24 benchmark decontamination: docs sharing any 13-gram with the
    // benchmark set (every 50th doc) are flagged; contamination is
    // INJECTED by appending the first 15 words of a benchmark doc to
    // every 17th doc — exactly those (plus the benchmark docs
    // themselves, fully self-contaminated) must come back flagged
    "q_decontam" -> ((s, dir) => {
      val base = s.read.parquet(s"$dir/documents.parquet")
        .select("doc_id", "text")
      val bench = base.filter(col("doc_id") % 50 === 0)
      val snip = bench.select(col("doc_id").as("_src"),
        array_join(slice(split(trim(col("text")), "\\s+"), 1, 15), " ")
          .as("_snippet"))
      val corpus = base
        .withColumn("_src", (col("doc_id") % 10) * 50)
        .join(snip, Seq("_src"), "left")
        .select(col("doc_id"),
          when(col("doc_id") % 17 === 0 && col("_snippet").isNotNull,
            concat(col("text"), lit(" "), col("_snippet")))
            .otherwise(col("text")).as("text"))
      TextOps.decontaminate(corpus, "doc_id", "text", bench, "text", n = 13)
    }),

    // T45 CAPSTONE corpus release gate: the conjunction a corpus actually
    // ships through — exact-dedup keeper AND length gate AND repetition
    // gate AND benchmark-clean — per-doc verdicts plus the final keep
    "q_corpus_filter" -> ((s, dir) => {
      val d = docsWithDups(s, dir)
      val keepers = TextOps.exactDedupe(d, "doc_id", "text")
        .select(col("keeper").as("doc_id"), lit(true).as("_k"))
      val bench = s.read.parquet(s"$dir/documents.parquet")
        .filter(col("doc_id") % 50 === 0).select("doc_id", "text")
      val contam = TextOps.decontaminate(d, "doc_id", "text", bench, "text", n = 13)
        .select(col("doc").as("doc_id"), col("contaminated"))
      val sh = TextOps.shingles(col("text"), 3)
      d.join(keepers, Seq("doc_id"), "left")
        .join(contam, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("_k"), lit(false)).as("is_keeper"),
          size(TextOps.tokens(col("text"))).between(20, 95).as("len_ok"),
          (size(array_distinct(sh)).cast("double") / size(sh) >= 0.5)
            .as("rep_ok"),
          (!coalesce(col("contaminated"), lit(false))).as("clean"))
        .withColumn("keep",
          col("is_keeper") && col("len_ok") && col("rep_ok") && col("clean"))
    }),

    // T41 inverted-index build: per-token document frequency + fingerprint
    // of the sorted, capped posting list
    "q_inverted_index" -> ((s, dir) =>
      TextOps.invertedIndex(
        s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text", cap = 100)),

    // T42 top distinctive terms per doc: (tf desc, df asc) integer rank —
    // TF-IDF-shaped keyword extraction without floats
    "q_top_terms" -> ((s, dir) =>
      TextOps.topTerms(
        s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text", k = 5)),

    // T35 content-type sniffing: six payload kinds per doc_id arithmetic,
    // REAL bytes from the multimodal synthesizers (+ JDK gzip + html) —
    // the engine must recover the kind from magic bytes alone
    "q_mime" -> ((s, dir) => {
      import s.implicits._
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val bytes = (id % 6) match {
            case 0 => Multimodal.synthPng(id, 8 + (id % 25).toInt, 8 + (id % 17).toInt)
            case 1 => Multimodal.synthWav(id, 50 + (id % 100).toInt)
            case 2 => Multimodal.synthAvi(id, 3 + (id % 4).toInt, 32, 24)
            case 3 => Multimodal.synthMp4(id, 2 + (id % 5).toInt, 32, 24)
            case 4 =>
              val bo = new java.io.ByteArrayOutputStream()
              val gz = new java.util.zip.GZIPOutputStream(bo)
              gz.write(s"doc $id".getBytes("UTF-8")); gz.close()
              bo.toByteArray
            case _ => s"<html><body>doc $id</body></html>".getBytes("UTF-8")
          }
          (s"pay://$id", bytes)
        }).toDF("url", "payload")
        .select(col("url"), Multimodal.detectMime(col("payload")).as("mime"))
    }),

    // T32 cross-document repeated 13-token windows (suffix-array-style
    // shared-span signal): full copies (+300000, trailer appended) share
    // all interior windows; partial copies (+400000, first 30 tokens +
    // unique pad) share only the head's windows
    "q_dup_windows" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet").select("doc_id", "text")
      val full = d.filter(col("doc_id") % 4 === 1)
        .select((col("doc_id") + 300000).as("doc_id"),
          concat(col("text"), lit(" tail tok alpha")).as("text"))
      val part = d.filter(col("doc_id") % 6 === 2)
        .select((col("doc_id") + 400000).as("doc_id"),
          concat(concat_ws(" ", slice(TextOps.tokens(col("text")), 1, 30)),
            lit(" pad"), col("doc_id").cast("string"),
            lit(" pad pad pad pad pad pad pad pad pad pad pad pad"))
            .as("text"))
      TextOps.dupWindowStats(d.union(full).union(part), "doc_id", "text", k = 13)
    }),

    // T33 weighted corpus mixing: per-source keep rates (src_i kept at
    // (i+1)*5%), deterministic md5-threshold survivors
    "q_weighted_mix" -> ((s, dir) =>
      TextOps.weightedMix(
        s.read.parquet(s"$dir/documents.parquet").select("doc_id", "source"),
        "source", "doc_id",
        (0 until 20).map(i => (s"src$i", (i + 1) * 50000L)))),

    // T34 domain-level quality rollup: short-doc share per domain (url
    // domain rule from Pages), fixed-point ppm, keep verdict — the
    // Gopher/RefinedWeb-style domain filter
    "q_domain_quality" -> ((s, dir) =>
      s.read.parquet(s"$dir/documents.parquet")
        .select(
          concat(lit("d"),
            when(col("doc_id") % 5 < 2, lit(0L)).otherwise(col("doc_id") % 97)
              .cast("string"), lit(".example")).as("domain"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
        .groupBy(col("domain"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("n_tokens") < 40, 1L).otherwise(0L)).as("n_short"))
        .withColumn("short_ppm", expr("n_short * 1000000 div n_docs"))
        .withColumn("keep", col("short_ppm") <= 300000)),

    // deterministic 20% corpus sample by id-hash — same rows on every
    // engine/run/partitioning (df.sample is not reproducible cross-engine)
    "q_sample_hash" -> ((s, dir) =>
      TextOps.sampleByHash(
          s.read.parquet(s"$dir/documents.parquet").select("doc_id", "text"),
          col("doc_id"), rate = 0.2)
        .select(col("doc_id"), md5(col("text")).as("fp_md5"))),

    "q_quality" -> ((s, dir) =>
      TextOps.qualityStats(
        s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")),

    "q_langid" -> ((s, dir) =>
      TextOps.langScores(
          s.read.parquet(s"$dir/documents.parquet"), "text")
        .select((Seq(col("doc_id"), col("lang")) ++
          TextOps.langDicts.map { case (l, _) => col(s"n_$l") } :+
          col("predicted") :+
          (col("predicted") === col("lang")).as("is_match")): _*)),

    "q_fingerprint" -> ((s, dir) =>
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), md5(col("text")).as("fp_md5"))),

    // md5 + 64-bit rolling FNV-1a per doc. The FNV loop is replayed by
    // the oracle as a recursive CTE over per-character HUGEINT arithmetic
    // (mod-2^64 wrap mirrored explicitly — DuckDB BIGINT multiply traps
    // on overflow). simhash coverage lives in q_simhash_pairs.
    "q_fingerprint_rolling" -> ((s, dir) =>
      TextOps.fingerprints(
        s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")),

    // MinHash+LSH near-dup pairs. The Carter-Wegman signature is not
    // SQL-expressible (no xxhash64 in DuckDB), but everything DOWNSTREAM
    // of it is: the engine's signature table is written to parquet and
    // the oracle mirrors the banding self-join + exact shingle-Jaccard
    // verification over those very signatures.
    "q_minhash_pairs" -> ((s, dir) =>
      TextOps.minhashNearDups(docsWithNearDups(s, dir), "doc_id", "text",
        k = 16, bands = 4, threshold = 0.5,
        sigSink = Some(Scratch.dir("minhash_sigs")))),

    // the CAPSTONE composition a real pipeline runs end-to-end: MinHash
    // LSH pairs (T2) -> connected components (T16) -> ONE SURVIVOR per
    // near-dup cluster -> the corpus filtered to survivors. The oracle
    // replays banding over the sig dump, the transitive closure, and the
    // keeper rule (doc == min reachable id)
    "q_dedup_corpus" -> ((s, dir) => {
      val docs = docsWithNearDups(s, dir)
      val pairs = TextOps.minhashNearDups(docs, "doc_id", "text",
        k = 16, bands = 4, threshold = 0.5,
        sigSink = Some(Scratch.dir("dedup_corpus_sigs")))
      val labels = TextOps.dupClusters(docs, "doc_id", pairs, "doc_a", "doc_b")
      labels.filter(col("cluster_id") === col("doc_id")).select("doc_id")
        .join(docs, "doc_id")
        .select(col("doc_id"), md5(col("text")).as("fp_md5"))
    }),

    // SimHash Hamming-<=3 pairs. The 64-bit signature itself is not
    // SQL-expressible (typed map, unit-tested), but the PAIRING stage is:
    // the engine's signature table is written to parquet and the DuckDB
    // oracle mirrors the 4x16-bit chunk blocking + popcount verification
    // over those very signatures — a cross-engine check of the join logic.
    "q_simhash_pairs" -> ((s, dir) => {
      val sim = TextOps.simhashTable(docsWithNearDups(s, dir), "doc_id", "text")
      sim.write.mode("overwrite").parquet(Scratch.dir("simhash_tbl"))
      TextOps.simhashNearDups(
          s.read.parquet(Scratch.dir("simhash_tbl")),
          "doc_id", maxDist = 3)
        .select(col("doc_a"), col("doc_b"), col("hamming").cast("long").as("hamming"))
    }),

    // exact 3-gram Jaccard between each doc and its injected near-dup —
    // the verification kernel of the LSH pipeline, oracle-checked (the
    // division of two small ints is bitwise-identical cross-engine)
    "q_jaccard_pairs" -> ((s, dir) =>
      s.read.parquet(s"$dir/documents.parquet")
        .filter(col("doc_id") % 7 === 0)
        .select(col("doc_id"),
          TextOps.ngramJaccard(col("text"),
            concat(col("text"), lit(" graft trailer token")), 3)
            .as("jaccard"))),

    // multimodal stub decode over the synthesized pages' html payloads
    "q_multimodal" -> ((s, dir) =>
      Multimodal.extractFeatures(
        Pages.synthesize(s, dir).dropDuplicates("url"), "url", "html")
        .toDF()),

    // REAL image decode: per-doc deterministic PNGs (w = 8 + doc_id % 25,
    // h = 8 + doc_id % 17, seeded pixels) decoded by the JDK's ImageIO —
    // the oracle predicts the true header dimensions from the same
    // arithmetic, so a wrong decode cannot pass
    "q_image_decode" -> ((s, dir) => {
      Multimodal.imageFeatures(imageFixture(s, dir), "url", "png")
        .toDF().select(col("url"), col("width"), col("height"), col("fmt"))
    }),

    // REAL bounding-box resize (bilinear + PNG re-encode) to 16x16:
    // output dims follow floor(dim * min(1, 16/w, 16/h)) exactly
    "q_image_resize" -> ((s, dir) => {
      Multimodal.resizeImages(imageFixture(s, dir), "url", "png",
          maxW = 16, maxH = 16)
        .toDF().select(col("url"), col("width"), col("height"))
    }),

    // REAL video decode: per-doc deterministic MJPEG-in-AVI containers
    // (nFrames/width/height from doc_id arithmetic) parsed as RIFF chunk
    // trees, every 2nd frame sampled (max 3), each JPEG decoded by
    // ImageIO for its TRUE dimensions. The sampled-frame table (with
    // payloads) is dumped for the oracle, which replays the sampling
    // arithmetic + expected dims from doc_id and hashes the dumped frame
    // bytes — wrong extraction, wrong dims, or missing/extra frames all
    // fail the compare (LEFT JOIN keeps expected-but-missing rows).
    "q_video_decode" -> ((s, dir) => {
      import s.implicits._
      val avis = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          (s"avi://$id", Multimodal.synthAvi(id,
            nFrames = 3 + (id % 4).toInt,
            w = 32 + (id % 3).toInt * 16,
            h = 24 + (id % 2).toInt * 8))
        })
        .toDF("url", "avi")
      Multimodal.videoFrames(avis, "url", "avi", stride = 2, maxFrames = 3)
        .toDF().write.mode("overwrite").parquet(Scratch.dir("video_frames"))
      s.read.parquet(Scratch.dir("video_frames"))
        .select(col("url"), col("frame_idx"), col("src_frame"),
          col("width"), col("height"), col("frame_md5"))
    }),

    // REAL ISO-BMFF (mp4) METADATA: per-doc deterministic mp4 containers
    // parsed box-by-box (mvhd/tkhd/hdlr/stsd/stsz); the oracle
    // recomputes brand, duration, 16.16 track dims, codec fourcc, sample
    // count and total media bytes from the synthesis arithmetic. Frame
    // DECODE for H.264 remains the declared stub (no in-JVM codec) —
    // this closes the metadata half of the mp4 gap.
    "q_video_meta" -> ((s, dir) => {
      import s.implicits._
      val mp4s = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          (s"mp4://$id", Multimodal.synthMp4(id,
            nFrames = 2 + (id % 5).toInt,
            w = 32 + (id % 3).toInt * 16,
            h = 24 + (id % 2).toInt * 8))
        })
        .toDF("url", "mp4")
      Multimodal.mp4Features(mp4s, "url", "mp4")
        .toDF().select(col("url"), col("brand"), col("duration_ms"),
          col("width"), col("height"), col("codec"), col("n_samples"),
          col("media_bytes"))
    }),

    // REAL audio decode: per-doc deterministic WAVs parsed by the JDK's
    // AudioSystem; header fields AND the exact PCM energy (sum of squared
    // int16 samples) must match the oracle's arithmetic replay
    "q_audio_decode" -> ((s, dir) => {
      import s.implicits._
      val wavs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          (s"wav://$id", Multimodal.synthWav(id, 50 + (id % 100).toInt))
        })
        .toDF("url", "wav")
      Multimodal.audioFeatures(wavs, "url", "wav")
        .toDF().select(col("url"), col("sample_rate"), col("channels"),
          col("n_frames"), col("energy"))
    }),

    // Structured Streaming hourly rollup == batch hourly tier, through
    // the PRODUCTION sink: foreachBatch copy-on-write MERGE into a
    // day-partitioned snapshot table (memory sink is test-harness-only)
    "q_stream_1h" -> ((s, dir) => {
      val root = Scratch.fresh("stream_1h")
      StreamingRollup.hourlyRollupMerged(s, dir, "events.parquet",
        s"$root/table", s"$root/ckpt")
    }),

    // Streaming sessionization via the native session_window: APPEND-mode
    // emission after the watermark passes each session's end; a planted
    // max-ts heartbeat (sentinel user -1) drains the bounded backfill.
    // Oracle: per-session aggregates of the batch gap-split (> 1800s),
    // which session_window's merge rule provably equals (probed: events
    // exactly 1800s apart merge).
    "q_stream_sessions" -> ((s, dir) => {
      val root = Scratch.fresh("stream_sessions")
      import s.implicits._
      val ev = s.read.parquet(s"$dir/events.parquet")
        .select(col("user_id"), col("event_id"),
          col("ts").cast("timestamp").as("ts"),
          round(col("value") * 100).cast("long").as("cents"))
      val maxTs = ev.agg(max(unix_timestamp(col("ts")))).head.getLong(0)
      val sentinel = Seq((-1L, -1L, maxTs + 7200L, 0L))
        .toDF("user_id", "event_id", "es", "cents")
        .select(col("user_id"), col("event_id"),
          col("es").cast("timestamp").as("ts"), col("cents"))
      ev.unionByName(sentinel).write.mode("overwrite").parquet(s"$root/src")
      StreamingRollup.sessionsStreamed(s, s"$root/src", "*.parquet",
        s"$root/out", s"$root/ckpt")
    }),

    // streaming exact dedup (crawl-time "seen before?"): content-hash
    // keyed state across micro-batches (one file per trigger), drained
    // through the hash-bucketed MERGE sink — final table == the batch
    // exact-dedup answer regardless of arrival order
    "q_stream_dedup" -> ((s, dir) => {
      val root = Scratch.fresh("stream_dedup")
      docsWithDups(s, dir).repartition(4)
        .write.mode("overwrite").parquet(s"$root/src")
      StreamingDedup.dedupExactMerged(s, s"$root/src", "*.parquet",
        s"$root/table", s"$root/ckpt", maxFilesPerTrigger = 1)
    }),

    // streaming MinHash+LSH near-dup: band-bucket state across
    // micro-batches emits candidate pairs as the later document arrives;
    // MERGE candidate table + batch exact-Jaccard verify == the batch
    // minhashNearDups answer. Oracle: same banding+verify mirror as
    // q_minhash_pairs, over a batch-computed signature dump of the same
    // files (the codegen'd signature is deterministic, so the dump is
    // bit-identical to what the stream banded).
    "q_stream_minhash" -> ((s, dir) => {
      val root = Scratch.fresh("stream_minhash")
      docsWithNearDups(s, dir).repartition(4)
        .write.mode("overwrite").parquet(s"$root/src")
      TextOps.minhashSigTable(
          s.read.parquet(s"$root/src"), "doc_id", "text", 16)
        .write.mode("overwrite").parquet(Scratch.dir("stream_minhash_sigs"))
      StreamingNearDup.nearDupsMerged(s, s"$root/src", "*.parquet",
        s"$root/table", s"$root/ckpt", maxFilesPerTrigger = 1)
    }),

    // stateful streaming upsert (flatMapGroupsWithState): latest event
    // per user, state carried across micro-batches, drained through the
    // PRODUCTION sink — foreachBatch MERGE into a user-hash-bucketed
    // snapshot table (nothing ever collects on the driver)
    "q_stream_latest" -> ((s, dir) => {
      val root = Scratch.fresh("stream_latest")
      StreamingRollup.latestEventPerUserMerged(s, dir, "events.parquet",
        s"$root/table", s"$root/ckpt")
    })
  )

  val oracleSql: Map[String, String] = Map(
    // identical truth as q_dedup_exact: the streaming path must converge
    // to the batch dedup once the source drains
    "q_stream_dedup" ->
      (s"SELECT md5(text) AS h, CAST(min(doc_id) AS BIGINT) AS keeper, " +
        s"count(*) AS n_copies FROM $DOCS_DUP d GROUP BY 1"),

    "q_dedup_exact" ->
      (s"SELECT md5(text) AS h, CAST(min(doc_id) AS BIGINT) AS keeper, " +
        s"count(*) AS n_copies FROM $DOCS_DUP d GROUP BY 1"),

    "q_token_stats" ->
      s"""SELECT doc_id, CAST(len($TOKS) AS INT) AS n_tokens,
         |  CAST(len(list_distinct($TOKS)) AS INT) AS n_uniq,
         |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]{1,3}|[^A-Za-z0-9\\s]+')) AS INT) AS n_bpeish,
         |  CAST(length(text) AS INT) AS n_chars,
         |  CAST(len(list_distinct($TOKS)) AS DOUBLE) / len($TOKS) AS ttr
         |FROM documents""".stripMargin,

    // the global prefix sum replayed as a plain ordered window (the
    // oracle can afford the single-partition scan the engine must not)
    "q_pack_sequences" ->
      """WITH t AS (SELECT doc_id,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (SELECT doc_id, n_tokens,
        |    CAST(SUM(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens
        |      AS BIGINT) AS start_tok
        |  FROM t)
        |SELECT doc_id, n_tokens, start_tok,
        |  start_tok // 512 AS first_chunk,
        |  (start_tok + n_tokens - 1) // 512 AS last_chunk,
        |  (start_tok + n_tokens - 1) // 512 - start_tok // 512 + 1 AS n_chunks
        |FROM c""".stripMargin,

    // the same total order replayed as a plain ordered window (the oracle
    // can afford the single-partition scan the engine must not)
    "q_shuffle_shards" ->
      """WITH r AS (SELECT doc_id,
        |    row_number() OVER (
        |      ORDER BY md5(CAST(doc_id AS VARCHAR) || ':42'), doc_id) - 1 AS rk
        |  FROM documents)
        |SELECT doc_id, CAST(rk // 32 AS BIGINT) AS shard,
        |  CAST(rk % 32 AS BIGINT) AS pos_in_shard FROM r""".stripMargin,

    // u/w fixed-point priorities recomputed exactly; smallest 100 win
    "q_weighted_sample" ->
      """SELECT doc_id, n_chars,
        |  CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':42'), 1, 8) AS BIGINT)
        |    * 1000000 // n_chars AS priority
        |FROM documents WHERE n_chars > 0
        |ORDER BY priority, doc_id LIMIT 100""".stripMargin,

    // per-language type-1 p25 threshold replayed, gate re-applied
    "q_quality_gate" ->
      s"""WITH d AS (SELECT lang, doc_id, CAST(len($TOKS) AS INT) AS n_tokens FROM documents),
         |r AS (SELECT *, row_number() OVER (PARTITION BY lang ORDER BY n_tokens, doc_id) AS rn,
         |             count(*) OVER (PARTITION BY lang) AS cnt FROM d),
         |th AS (SELECT lang,
         |    CAST(max(CASE WHEN rn = greatest(1, ceil(cnt * 0.25)) THEN n_tokens END) AS INT) AS p25
         |  FROM r GROUP BY 1)
         |SELECT doc_id, d.lang, n_tokens, p25 FROM d JOIN th ON d.lang = th.lang
         |WHERE n_tokens >= p25""".stripMargin,

    // same 64-token buckets + md5 order; batch arithmetic replayed
    "q_length_batches" ->
      s"""WITH d AS (SELECT doc_id, CAST(len($TOKS) AS INT) AS n_tokens FROM documents),
         |r AS (SELECT doc_id, n_tokens, CAST(n_tokens // 64 AS INT) AS len_bucket,
         |    row_number() OVER (PARTITION BY n_tokens // 64
         |      ORDER BY md5(CAST(doc_id AS VARCHAR) || ':42'), doc_id) - 1 AS rn
         |  FROM d)
         |SELECT doc_id, n_tokens, len_bucket,
         |  CAST(rn // 16 AS INT) AS batch_in_bucket,
         |  CAST(rn % 16 AS INT) AS pos_in_batch FROM r""".stripMargin,

    // base ranks over the base corpus, appended ranks continue at n
    "q_shards_append" ->
      """WITH base AS (SELECT doc_id,
        |    row_number() OVER (
        |      ORDER BY md5(CAST(doc_id AS VARCHAR) || ':42'), doc_id) - 1 AS rk
        |  FROM documents WHERE doc_id % 4 <> 3),
        |extra AS (SELECT doc_id,
        |    (SELECT count(*) FROM documents WHERE doc_id % 4 <> 3)
        |      + row_number() OVER (
        |          ORDER BY md5(CAST(doc_id AS VARCHAR) || ':42'), doc_id) - 1 AS rk
        |  FROM documents WHERE doc_id % 4 = 3),
        |allr AS (SELECT * FROM base UNION ALL SELECT * FROM extra)
        |SELECT doc_id, CAST(rk // 32 AS BIGINT) AS shard,
        |  CAST(rk % 32 AS BIGINT) AS pos_in_shard FROM allr""".stripMargin,

    // the sidecar-pruned lookup must equal the plain keyed filter over
    // the same shard assignment
    "q_bloom_lookup" ->
      """WITH r AS (SELECT doc_id,
        |    row_number() OVER (
        |      ORDER BY md5(CAST(doc_id AS VARCHAR) || ':42'), doc_id) - 1 AS rk
        |  FROM documents)
        |SELECT doc_id, CAST(rk // 32 AS BIGINT) AS shard,
        |  CAST(rk % 32 AS BIGINT) AS pos_in_shard
        |FROM r WHERE doc_id IN (11, 77, 123, 401)""".stripMargin,

    "q_split_domains" ->
      """SELECT doc_id, source,
        |  CASE WHEN CAST('0x' || substr(md5(source || ':42'), 1, 8) AS BIGINT) % 100 < 80
        |    THEN 'train'
        |  WHEN CAST('0x' || substr(md5(source || ':42'), 1, 8) AS BIGINT) % 100 < 90
        |    THEN 'val' ELSE 'test' END AS split
        |FROM documents""".stripMargin,

    "q_top_ngrams" ->
      """WITH toks AS (SELECT lang, string_split_regex(trim(text), '\s+') AS t FROM documents),
        |grams AS (SELECT lang, UNNEST(
        |    CASE WHEN len(t) < 2 THEN [array_to_string(t, ' ')]
        |      ELSE list_transform(generate_series(1, len(t)-1), i -> t[i] || ' ' || t[i+1]) END
        |  ) AS ngram FROM toks),
        |c AS (SELECT lang, ngram, count(*) AS cnt FROM grams GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, ngram) AS rank FROM c)
        |SELECT lang, ngram, CAST(cnt AS BIGINT) AS cnt, CAST(rank AS INT) AS rank
        |FROM r WHERE rank <= 20""".stripMargin,

    "q_quantiles" ->
      s"""WITH d AS (SELECT lang, doc_id, len($TOKS) AS n_tokens FROM documents),
         |r AS (SELECT *, row_number() OVER (PARTITION BY lang ORDER BY n_tokens, doc_id) AS rn,
         |             count(*) OVER (PARTITION BY lang) AS cnt FROM d)
         |SELECT lang, CAST(max(cnt) AS BIGINT) AS n_docs,
         |  CAST(max(CASE WHEN rn = greatest(1, ceil(cnt * 0.25)) THEN n_tokens END) AS INT) AS p25,
         |  CAST(max(CASE WHEN rn = greatest(1, ceil(cnt * 0.5)) THEN n_tokens END) AS INT) AS p50,
         |  CAST(max(CASE WHEN rn = greatest(1, ceil(cnt * 0.75)) THEN n_tokens END) AS INT) AS p75,
         |  CAST(max(CASE WHEN rn = greatest(1, ceil(cnt * 0.95)) THEN n_tokens END) AS INT) AS p95
         |FROM r GROUP BY 1""".stripMargin,

    "q_rollup_totals" ->
      """SELECT lang, source, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS chars
        |FROM documents GROUP BY ROLLUP (lang, source)""".stripMargin,

    "q_quality" ->
      s"""SELECT doc_id, CAST(len($TOKS) AS INT) AS n_tokens,
         |  CAST(${hits(TextOps.langDicts.head._2)} AS INT) AS n_stop,
         |  CAST(${hits(TextOps.langDicts.head._2)} AS DOUBLE) / len($TOKS) AS stop_ratio,
         |  CAST(length(replace(text, ' ', '')) AS DOUBLE) / len($TOKS) AS mean_token_len
         |FROM documents""".stripMargin,

    "q_langid" -> {
      val scoreSel = TextOps.langDicts
        .map { case (l, d) => s"CAST(${hits(d)} AS INT) AS n_$l" }
        .mkString(", ")
      val best = TextOps.langDicts.map { case (l, _) => s"n_$l" }
        .mkString("greatest(", ", ", ")")
      val caseExpr = TextOps.langDicts
        .map { case (l, _) => s"WHEN n_$l >= $best THEN '$l'" }
        .mkString("CASE ", " ", " ELSE 'und' END")
      s"""WITH sc AS (SELECT doc_id, lang, $scoreSel FROM documents)
         |SELECT doc_id, lang, ${TextOps.langDicts.map { case (l, _) => s"n_$l" }.mkString(", ")},
         |  $caseExpr AS predicted,
         |  ($caseExpr = lang) AS is_match
         |FROM sc""".stripMargin
    },

    "q_fingerprint" ->
      "SELECT doc_id, md5(text) AS fp_md5 FROM documents",

    "q_pii_redact" ->
      s"""WITH w AS (SELECT doc_id,
         |    text || ' contact u' || CAST(doc_id AS VARCHAR) || '@example.com or +4917012'
         |      || CAST(doc_id AS VARCHAR) || ' at 10.0.' || CAST(doc_id % 256 AS VARCHAR)
         |      || '.' || CAST(doc_id % 254 AS VARCHAR) AS text
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '${TextOps.EmailRe}')) AS INT) AS n_email,
         |  CAST(len(regexp_extract_all(text, '${TextOps.Ipv4Re}')) AS INT) AS n_ip,
         |  CAST(len(regexp_extract_all(text, '${TextOps.PhoneRe}')) AS INT) AS n_phone,
         |  md5(regexp_replace(regexp_replace(regexp_replace(text,
         |    '${TextOps.EmailRe}', '<EMAIL>', 'g'),
         |    '${TextOps.Ipv4Re}', '<IP>', 'g'),
         |    '${TextOps.PhoneRe}', '<PHONE>', 'g')) AS redacted_md5
         |FROM w""".stripMargin,

    "q_repetition" ->
      """WITH tk AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents),
        |sh AS (SELECT doc_id,
        |    CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
        |         ELSE list_transform(generate_series(1, len(t)-2),
        |           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) END AS s
        |  FROM tk)
        |SELECT doc_id, CAST(len(s) AS INT) AS n_shingles,
        |  CAST(len(list_distinct(s)) AS INT) AS n_uniq,
        |  1.0 - CAST(len(list_distinct(s)) AS DOUBLE) / len(s) AS dup_ratio
        |FROM sh""".stripMargin,

    // the same paragraph construction + hot-hash rule replayed; md5 hex
    // and trim agree across engines
    "q_para_dedup" ->
      """WITH d AS (SELECT doc_id,
        |    'shared header boilerplate paragraph' || chr(10) || chr(10) || text ||
        |    CASE WHEN doc_id % 3 = 0
        |         THEN chr(10) || chr(10) || 'subscribe to the newsletter footer'
        |         ELSE '' END AS text
        |  FROM documents),
        |paras AS (SELECT doc_id, md5(trim(p)) AS ph
        |  FROM (SELECT doc_id, UNNEST(string_split_regex(text, '\n{2,}')) AS p FROM d)
        |  WHERE length(trim(p)) > 0),
        |hot AS (SELECT ph FROM (
        |    SELECT ph, count(*) AS n FROM (SELECT DISTINCT doc_id, ph FROM paras) GROUP BY 1)
        |  WHERE n >= 2)
        |SELECT doc_id AS doc, CAST(count(*) AS BIGINT) AS n_paras,
        |  CAST(count(CASE WHEN ph IN (SELECT ph FROM hot) THEN 1 END) AS BIGINT) AS n_boiler,
        |  CAST(count(CASE WHEN ph IN (SELECT ph FROM hot) THEN 1 END) AS DOUBLE) / count(*) AS boiler_frac
        |FROM paras GROUP BY doc_id""".stripMargin,

    // per-stratum rank over the same md5 ordering (lowercase hex both
    // engines), doc_id tie-break
    "q_quota_sample" ->
      """SELECT doc_id, lang, source FROM (
        |  SELECT doc_id, lang, source,
        |    row_number() OVER (PARTITION BY lang, source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS qr
        |  FROM documents) t
        |WHERE qr <= 5""".stripMargin,

    // gram STRINGS intersected directly (the engine compares xxhash64 of
    // the same grams — a hash collision would surface here as a
    // mismatch); the < 13-token whole-text fallback mirrors
    // TextOps.shingles
    "q_decontam" ->
      """WITH base AS (SELECT doc_id, text FROM documents),
        |bench AS (SELECT doc_id, text FROM base WHERE doc_id % 50 = 0),
        |snip AS (SELECT doc_id AS src,
        |    array_to_string(string_split_regex(trim(text), '\s+')[1:15], ' ') AS snippet
        |  FROM bench),
        |corpus AS (SELECT b.doc_id,
        |    CASE WHEN b.doc_id % 17 = 0 AND s.snippet IS NOT NULL
        |         THEN b.text || ' ' || s.snippet ELSE b.text END AS text
        |  FROM base b LEFT JOIN snip s ON s.src = (b.doc_id % 10) * 50),
        |dg AS (SELECT doc_id, UNNEST(list_distinct(
        |    CASE WHEN len(t) < 13 THEN [array_to_string(t, ' ')]
        |         ELSE list_transform(generate_series(1, len(t) - 12),
        |           i -> array_to_string(t[i:i+12], ' ')) END)) AS g
        |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM corpus)),
        |bg AS (SELECT DISTINCT UNNEST(
        |    CASE WHEN len(t) < 13 THEN [array_to_string(t, ' ')]
        |         ELSE list_transform(generate_series(1, len(t) - 12),
        |           i -> array_to_string(t[i:i+12], ' ')) END) AS g
        |  FROM (SELECT string_split_regex(trim(text), '\s+') AS t FROM bench))
        |SELECT doc_id AS doc, CAST(count(*) AS BIGINT) AS n_grams,
        |  CAST(count(CASE WHEN g IN (SELECT g FROM bg) THEN 1 END) AS BIGINT) AS n_shared,
        |  count(CASE WHEN g IN (SELECT g FROM bg) THEN 1 END) > 0 AS contaminated
        |FROM dg GROUP BY doc_id""".stripMargin,

    // every gate replayed: min-id dedup keeper, token-length window,
    // distinct-shingle share, gram intersection vs the bench set
    "q_corpus_filter" ->
      (s"""WITH d AS (SELECT doc_id, text FROM $DOCS_DUP dd),
        |keepers AS (SELECT CAST(min(doc_id) AS BIGINT) AS doc_id FROM d GROUP BY md5(text)),
        |bench AS (SELECT doc_id, text FROM documents WHERE doc_id % 50 = 0),
        |bg AS (SELECT DISTINCT UNNEST(
        |    CASE WHEN len(t) < 13 THEN [array_to_string(t, ' ')]
        |         ELSE list_transform(generate_series(1, len(t) - 12),
        |           i -> array_to_string(t[i:i+12], ' ')) END) AS g
        |  FROM (SELECT string_split_regex(trim(text), '\\s+') AS t FROM bench) bt),
        |dg AS (SELECT doc_id, UNNEST(list_distinct(
        |    CASE WHEN len(t) < 13 THEN [array_to_string(t, ' ')]
        |         ELSE list_transform(generate_series(1, len(t) - 12),
        |           i -> array_to_string(t[i:i+12], ' ')) END)) AS g
        |  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM d) dt),
        |contam AS (SELECT doc_id,
        |    count(CASE WHEN g IN (SELECT g FROM bg) THEN 1 END) > 0 AS contaminated
        |  FROM dg GROUP BY doc_id),
        |sh AS (SELECT doc_id, len(t) AS n_tokens,
        |    CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
        |         ELSE list_transform(generate_series(1, len(t)-2),
        |           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) END AS s
        |  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM d) st)
        |SELECT d.doc_id,
        |  (k.doc_id IS NOT NULL) AS is_keeper,
        |  sh.n_tokens BETWEEN 20 AND 95 AS len_ok,
        |  (CAST(len(list_distinct(sh.s)) AS DOUBLE) / len(sh.s)) >= 0.5 AS rep_ok,
        |  NOT COALESCE(c.contaminated, false) AS clean,
        |  (k.doc_id IS NOT NULL) AND (sh.n_tokens BETWEEN 20 AND 95)
        |    AND ((CAST(len(list_distinct(sh.s)) AS DOUBLE) / len(sh.s)) >= 0.5)
        |    AND NOT COALESCE(c.contaminated, false) AS keep
        |FROM d LEFT JOIN keepers k ON k.doc_id = d.doc_id
        |  LEFT JOIN contam c ON c.doc_id = d.doc_id
        |  JOIN sh ON sh.doc_id = d.doc_id""".stripMargin),

    // per-doc-distinct tokens -> df + md5 of the numerically-sorted,
    // capped, comma-joined posting list (array hashing is not
    // engine-portable; the string fingerprint is)
    "q_inverted_index" ->
      """WITH td AS (SELECT doc_id AS doc,
        |    UNNEST(list_distinct(string_split_regex(trim(text), '\s+'))) AS token
        |  FROM documents)
        |SELECT token, COUNT(*) AS df,
        |  md5(array_to_string(list_transform(list_sort(list(doc))[1:100],
        |    x -> CAST(x AS VARCHAR)), ',')) AS postings_md5
        |FROM td GROUP BY token""".stripMargin,

    "q_top_terms" ->
      """WITH toks AS (SELECT doc_id AS doc,
        |    UNNEST(string_split_regex(trim(text), '\s+')) AS token FROM documents),
        |tf AS (SELECT doc, token, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
        |df AS (SELECT token, COUNT(*) AS df
        |  FROM (SELECT DISTINCT doc, token FROM toks) x GROUP BY 1),
        |r AS (SELECT tf.doc, tf.token, tf.tf, df.df,
        |    row_number() OVER (PARTITION BY tf.doc
        |      ORDER BY tf.tf DESC, df.df ASC, tf.token) AS rank
        |  FROM tf JOIN df USING (token))
        |SELECT doc, token, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
        |  CAST(rank AS INT) AS rank
        |FROM r WHERE rank <= 5""".stripMargin,

    // truth recomputed from the fixture arithmetic — a sniffer reading
    // the wrong offsets (or a synthesizer emitting wrong magic) mismatches
    "q_mime" ->
      """SELECT 'pay://' || CAST(doc_id AS VARCHAR) AS url,
        |  CASE doc_id % 6 WHEN 0 THEN 'image/png' WHEN 1 THEN 'audio/wav'
        |    WHEN 2 THEN 'video/x-msvideo' WHEN 3 THEN 'video/mp4'
        |    WHEN 4 THEN 'application/gzip' ELSE 'text/html' END AS mime
        |FROM documents""".stripMargin,

    // window STRINGS intersected directly (the engine flags via xxhash64
    // — a collision would surface here); shingle construction mirrors
    // TextOps.shingles incl. the < k whole-text fallback
    "q_dup_windows" ->
      """WITH dw AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 300000, text || ' tail tok alpha'
        |    FROM documents WHERE doc_id % 4 = 1
        |  UNION ALL SELECT doc_id + 400000,
        |      array_to_string(string_split_regex(trim(text), '\s+')[1:30], ' ')
        |      || ' pad' || CAST(doc_id AS VARCHAR)
        |      || ' pad pad pad pad pad pad pad pad pad pad pad pad'
        |    FROM documents WHERE doc_id % 6 = 2),
        |wins AS (SELECT doc_id AS doc, UNNEST(
        |    CASE WHEN len(t) < 13 THEN [array_to_string(t, ' ')]
        |         ELSE list_transform(generate_series(1, len(t) - 12),
        |           i -> array_to_string(t[i:i+12], ' ')) END) AS w
        |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM dw)),
        |hot AS (SELECT w FROM (SELECT DISTINCT doc, w FROM wins) x
        |  GROUP BY w HAVING COUNT(*) >= 2)
        |SELECT doc, CAST(COUNT(*) AS BIGINT) AS n_windows,
        |  CAST(COUNT(CASE WHEN w IN (SELECT w FROM hot) THEN 1 END) AS BIGINT)
        |    AS n_dup_windows,
        |  CAST(COUNT(CASE WHEN w IN (SELECT w FROM hot) THEN 1 END) AS BIGINT)
        |    * 1000000 // CAST(COUNT(*) AS BIGINT) AS dup_ppm
        |FROM wins GROUP BY doc""".stripMargin,

    // thresholds exact-integer end to end: (i+1)*50000 ppm * 2^32 // 10^6
    "q_weighted_mix" ->
      """SELECT doc_id, source FROM documents
        |WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
        |  < (CAST(substr(source, 4) AS BIGINT) + 1) * 50000 * 4294967296 // 1000000""".stripMargin,

    "q_domain_quality" ->
      """SELECT domain, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CASE WHEN n_tokens < 40 THEN 1 ELSE 0 END) AS BIGINT) AS n_short,
        |  CAST(SUM(CASE WHEN n_tokens < 40 THEN 1 ELSE 0 END) AS BIGINT)
        |    * 1000000 // CAST(COUNT(*) AS BIGINT) AS short_ppm,
        |  (CAST(SUM(CASE WHEN n_tokens < 40 THEN 1 ELSE 0 END) AS BIGINT)
        |    * 1000000 // CAST(COUNT(*) AS BIGINT)) <= 300000 AS keep
        |FROM (SELECT
        |    'd' || CAST(CASE WHEN doc_id % 5 < 2 THEN 0 ELSE doc_id % 97 END AS VARCHAR)
        |      || '.example' AS domain,
        |    len(string_split_regex(trim(text), '\s+')) AS n_tokens
        |  FROM documents) t
        |GROUP BY domain""".stripMargin,

    // 0.2 * 2^32 = 858993459 (truncated); md5 hex agrees across engines
    "q_sample_hash" ->
      """SELECT doc_id, md5(text) AS fp_md5 FROM documents
        |WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
        |      < 858993459""".stripMargin,

    // FNV-1a replayed character-by-character: h = (h XOR c) * p mod 2^64,
    // signed-BIGINT wrap made explicit through HUGEINT (Java long
    // arithmetic wraps silently; DuckDB BIGINT traps). Character access
    // via unicode(substr(..)) equals Java's charAt for BMP text — the
    // fixture is ASCII.
    "q_fingerprint_rolling" ->
      """WITH RECURSIVE fnv(doc_id, i, n, h) AS (
        |  SELECT doc_id, 0, length(text),
        |    CAST(-3750763034362895579 AS BIGINT) -- 0xcbf29ce484222325 signed
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id, i + 1, n,
        |    CAST(CASE WHEN m >= 9223372036854775808 THEN m - 18446744073709551616
        |              ELSE m END AS BIGINT)
        |  FROM (
        |    SELECT doc_id, i, n,
        |      ((CASE WHEN x < 0 THEN CAST(x AS HUGEINT) + 18446744073709551616
        |             ELSE CAST(x AS HUGEINT) END) * 1099511628211)
        |        % 18446744073709551616 AS m
        |    FROM (
        |      SELECT f.doc_id, f.i, f.n,
        |        xor(f.h, unicode(substr(d.text, f.i + 1, 1))) AS x
        |      FROM fnv f JOIN documents d USING (doc_id)
        |      WHERE f.i < f.n
        |    ) s1
        |  ) s2
        |)
        |SELECT f.doc_id, md5(d.text) AS fp_md5, f.h AS fp_rolling
        |FROM fnv f JOIN documents d USING (doc_id)
        |WHERE f.i = f.n""".stripMargin,

    // banding + verification over the ENGINE-written signature table:
    // DuckDB mirrors the per-band slice self-join (band equality on the
    // raw signature slices — the engine's xxhash64 band key collides iff
    // the slices are equal, modulo negligible 64-bit collisions) and the
    // exact shingle-Jaccard verify against the same corpus
    "q_minhash_pairs" ->
      s"""WITH d AS (SELECT doc_id, text FROM documents UNION ALL
        |           SELECT doc_id + 200000, text || ' graft trailer token'
        |           FROM documents WHERE doc_id % 7 = 0),
        |sigs AS (SELECT doc, sig
        |  FROM read_parquet('${Scratch.dir("minhash_sigs")}/*.parquet')),
        |banded AS (SELECT doc, bi AS band_idx,
        |    array_to_string(sig[bi*4+1:bi*4+4], ',') AS band_key
        |  FROM sigs, (SELECT UNNEST([0, 1, 2, 3]) AS bi) t),
        |cand AS (SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
        |  FROM banded a JOIN banded b
        |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
        |  WHERE a.doc < b.doc),
        |tk AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM d),
        |sh AS (SELECT doc_id,
        |    list_distinct(CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
        |      ELSE list_transform(generate_series(1, len(t)-2),
        |        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) END) AS s
        |  FROM tk),
        |j AS (SELECT doc_a, doc_b,
        |    CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
        |      / len(list_distinct(sa.s || sb.s)) AS jaccard
        |  FROM cand JOIN sh sa ON sa.doc_id = cand.doc_a
        |            JOIN sh sb ON sb.doc_id = cand.doc_b)
        |SELECT doc_a, doc_b, jaccard FROM j WHERE jaccard >= 0.5""".stripMargin,

    // banding+verify from the sig dump (as q_minhash_pairs), then the
    // recursive transitive closure (as q_dup_clusters) and the keeper
    // rule: a doc survives iff it IS its cluster's min id
    "q_dedup_corpus" ->
      s"""WITH RECURSIVE d AS (SELECT doc_id, text FROM documents UNION ALL
        |           SELECT doc_id + 200000, text || ' graft trailer token'
        |           FROM documents WHERE doc_id % 7 = 0),
        |sigs AS (SELECT doc, sig
        |  FROM read_parquet('${Scratch.dir("dedup_corpus_sigs")}/*.parquet')),
        |banded AS (SELECT doc, bi AS band_idx,
        |    array_to_string(sig[bi*4+1:bi*4+4], ',') AS band_key
        |  FROM sigs, (SELECT UNNEST([0, 1, 2, 3]) AS bi) t),
        |cand AS (SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
        |  FROM banded a JOIN banded b
        |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
        |  WHERE a.doc < b.doc),
        |tk AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM d),
        |sh AS (SELECT doc_id,
        |    list_distinct(CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
        |      ELSE list_transform(generate_series(1, len(t)-2),
        |        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) END) AS s
        |  FROM tk),
        |pairs AS (SELECT doc_a, doc_b FROM (
        |  SELECT doc_a, doc_b,
        |      CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
        |        / len(list_distinct(sa.s || sb.s)) AS jaccard
        |    FROM cand JOIN sh sa ON sa.doc_id = cand.doc_a
        |              JOIN sh sb ON sb.doc_id = cand.doc_b) j
        |  WHERE jaccard >= 0.5),
        |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
        |          UNION SELECT doc_b, doc_a FROM pairs),
        |reach(id, r) AS (
        |  SELECT doc_id, doc_id FROM d
        |  UNION
        |  SELECT reach.id, edges.dst FROM reach JOIN edges ON reach.r = edges.src),
        |labels AS (SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id
        |           FROM reach GROUP BY 1)
        |SELECT CAST(d.doc_id AS BIGINT) AS doc_id, md5(d.text) AS fp_md5
        |FROM d JOIN labels USING (doc_id)
        |WHERE labels.cluster_id = d.doc_id""".stripMargin,

    // identical banding+verify mirror as q_minhash_pairs, over the sig
    // dump of the streaming fixture files — the streaming candidate path
    // must converge to the batch LSH answer
    "q_stream_minhash" ->
      s"""WITH d AS (SELECT doc_id, text FROM documents UNION ALL
        |           SELECT doc_id + 200000, text || ' graft trailer token'
        |           FROM documents WHERE doc_id % 7 = 0),
        |sigs AS (SELECT doc, sig
        |  FROM read_parquet('${Scratch.dir("stream_minhash_sigs")}/*.parquet')),
        |banded AS (SELECT doc, bi AS band_idx,
        |    array_to_string(sig[bi*4+1:bi*4+4], ',') AS band_key
        |  FROM sigs, (SELECT UNNEST([0, 1, 2, 3]) AS bi) t),
        |cand AS (SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
        |  FROM banded a JOIN banded b
        |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
        |  WHERE a.doc < b.doc),
        |tk AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM d),
        |sh AS (SELECT doc_id,
        |    list_distinct(CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
        |      ELSE list_transform(generate_series(1, len(t)-2),
        |        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) END) AS s
        |  FROM tk),
        |j AS (SELECT doc_a, doc_b,
        |    CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
        |      / len(list_distinct(sa.s || sb.s)) AS jaccard
        |  FROM cand JOIN sh sa ON sa.doc_id = cand.doc_a
        |            JOIN sh sb ON sb.doc_id = cand.doc_b)
        |SELECT doc_a, doc_b, jaccard FROM j WHERE jaccard >= 0.5""".stripMargin,

    // pairing stage over the ENGINE-written signature table: DuckDB
    // mirrors the 4x16-bit chunk blocking + XOR popcount verification, so
    // the join/verify logic is cross-engine-checked even though the
    // signature itself stays Scala
    "q_simhash_pairs" ->
      s"""WITH sim AS (SELECT doc_id, simhash
        |  FROM read_parquet('${Scratch.dir("simhash_tbl")}/*.parquet')),
        |ch AS (SELECT doc_id, simhash, c AS chunk_idx,
        |    (simhash >> (c * 16)) & 65535 AS chunk_val
        |  FROM sim, (SELECT UNNEST([0, 1, 2, 3]) AS c) t)
        |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
        |FROM ch a JOIN ch b ON a.chunk_idx = b.chunk_idx AND a.chunk_val = b.chunk_val
        |WHERE a.doc_id < b.doc_id
        |  AND bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin,

    "q_jaccard_pairs" ->
      """WITH d AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS tka,
        |                  string_split_regex(trim(text || ' graft trailer token'), '\s+') AS tkb
        |           FROM documents WHERE doc_id % 7 = 0),
        |sh AS (SELECT doc_id,
        |  list_distinct(CASE WHEN len(tka) < 3 THEN [array_to_string(tka, ' ')]
        |    ELSE list_transform(generate_series(1, len(tka)-2), i -> tka[i] || ' ' || tka[i+1] || ' ' || tka[i+2]) END) AS sa,
        |  list_distinct(CASE WHEN len(tkb) < 3 THEN [array_to_string(tkb, ' ')]
        |    ELSE list_transform(generate_series(1, len(tkb)-2), i -> tkb[i] || ' ' || tkb[i+1] || ' ' || tkb[i+2]) END) AS sb
        |  FROM d)
        |SELECT doc_id, CAST(len(list_intersect(sa, sb)) AS DOUBLE) / len(list_distinct(sa || sb)) AS jaccard
        |FROM sh""".stripMargin,

    "q_multimodal" -> {
      val P = s"(${Pages.oracleCte})"
      s"""SELECT DISTINCT url, CAST(n_chars + 26 AS BIGINT) AS n_bytes,
         |  CAST(64 + (n_chars + 26) % 251 AS INT) AS width,
         |  CAST(64 + (n_chars + 26) % 241 AS INT) AS height,
         |  CASE (n_chars + 26) % 3 WHEN 0 THEN 'jpeg' WHEN 1 THEN 'png' ELSE 'webp' END AS fmt
         |FROM $P p""".stripMargin
    },

    // the engine decodes REAL PNG headers; the oracle recomputes the truth
    // the fixture generator encoded
    "q_image_decode" ->
      """SELECT 'img://' || CAST(doc_id AS VARCHAR) AS url,
        |  CAST(8 + doc_id % 25 AS INT) AS width,
        |  CAST(8 + doc_id % 17 AS INT) AS height,
        |  'png' AS fmt
        |FROM documents""".stripMargin,

    // floor(dim * min(1, 16/w, 16/h)) — trunc() because DuckDB's
    // double->int CAST rounds while the JVM's .toInt truncates
    "q_image_resize" ->
      """WITH dims AS (SELECT 'img://' || CAST(doc_id AS VARCHAR) AS url,
        |    CAST(8 + doc_id % 25 AS INT) AS w, CAST(8 + doc_id % 17 AS INT) AS h
        |  FROM documents),
        |s AS (SELECT url, w, h, least(1.0, 16.0 / w, 16.0 / h) AS sc FROM dims)
        |SELECT url,
        |  greatest(1, CAST(trunc(w * sc) AS INT)) AS width,
        |  greatest(1, CAST(trunc(h * sc) AS INT)) AS height
        |FROM s""".stripMargin,

    // sampling arithmetic + dims replayed from doc_id; frame bytes hashed
    // from the ENGINE-dumped frame table (md5 over DuckDB's uppercase
    // hex(), matching the engine's md5-of-hex definition); LEFT JOIN so
    // an engine that extracts too few frames row-count-mismatches
    "q_video_decode" ->
      s"""WITH docs AS (SELECT doc_id,
        |    3 + doc_id % 4 AS nf,
        |    CAST(32 + (doc_id % 3) * 16 AS INT) AS w,
        |    CAST(24 + (doc_id % 2) * 8 AS INT) AS h
        |  FROM documents),
        |exp AS (SELECT doc_id, nf, w, h, UNNEST([0, 1, 2]) AS i FROM docs),
        |fr AS (SELECT url, frame_idx, md5(hex(payload)) AS frame_md5
        |  FROM read_parquet('${Scratch.dir("video_frames")}/*.parquet'))
        |SELECT 'avi://' || CAST(e.doc_id AS VARCHAR) AS url,
        |  CAST(e.i AS INT) AS frame_idx, CAST(e.i * 2 AS INT) AS src_frame,
        |  e.w AS width, e.h AS height, f.frame_md5
        |FROM exp e LEFT JOIN fr f
        |  ON f.url = 'avi://' || CAST(e.doc_id AS VARCHAR) AND f.frame_idx = e.i
        |WHERE e.i * 2 < e.nf""".stripMargin,

    // every field recomputed from the synthesis arithmetic — a parser
    // that misreads any box (wrong offsets, wrong endianness, wrong
    // fixed-point shift) fails the hash
    "q_video_meta" ->
      """WITH docs AS (SELECT doc_id, 2 + doc_id % 5 AS nf,
        |    CAST(32 + (doc_id % 3) * 16 AS INT) AS w,
        |    CAST(24 + (doc_id % 2) * 8 AS INT) AS h
        |  FROM documents),
        |sz AS (SELECT doc_id, nf, w, h, UNNEST(generate_series(0, nf - 1)) AS i FROM docs)
        |SELECT 'mp4://' || CAST(doc_id AS VARCHAR) AS url, 'isom' AS brand,
        |  CAST(nf * 40 AS BIGINT) AS duration_ms, w AS width, h AS height,
        |  'avc1' AS codec, CAST(nf AS BIGINT) AS n_samples,
        |  CAST(sum(100 + (doc_id + i * 31) % 400) AS BIGINT) AS media_bytes
        |FROM sz GROUP BY doc_id, nf, w, h""".stripMargin,

    "q_audio_decode" ->
      """WITH docs AS (SELECT doc_id, 50 + doc_id % 100 AS n FROM documents),
        |samples AS (SELECT doc_id, n, UNNEST(generate_series(0, n - 1)) AS i FROM docs),
        |vals AS (SELECT doc_id, n, ((doc_id + i * 31) % 65536) - 32768 AS s FROM samples)
        |SELECT 'wav://' || CAST(doc_id AS VARCHAR) AS url,
        |  8000 AS sample_rate, 1 AS channels, CAST(n AS BIGINT) AS n_frames,
        |  CAST(sum(s * s) AS BIGINT) AS energy
        |FROM vals GROUP BY doc_id, n""".stripMargin,

    "q_stream_1h" ->
      s"""SELECT event_type, (epoch_us(ts)//1000000)//3600*3600 AS bucket_ts,
         |  count(*) AS n, CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_cents
         |FROM events GROUP BY 1, 2""".stripMargin,

    "q_stream_sessions" ->
      """WITH s AS (SELECT user_id, event_id, epoch_us(ts)//1000000 AS epoch_s,
        |    CAST(round(value*100) AS BIGINT) AS cents,
        |    lag(epoch_us(ts)//1000000) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts)//1000000, event_id) AS prev_ts
        |  FROM events),
        |b AS (SELECT *, CASE WHEN prev_ts IS NULL OR epoch_s - prev_ts > 1800
        |                     THEN 1 ELSE 0 END AS brk FROM s),
        |g AS (SELECT *, sum(brk) OVER (PARTITION BY user_id
        |    ORDER BY epoch_s, event_id ROWS UNBOUNDED PRECEDING) AS seq FROM b)
        |SELECT user_id, count(*) AS n_events, min(epoch_s) AS t_start,
        |  max(epoch_s) AS t_end, CAST(sum(cents) AS BIGINT) AS cents_sum
        |FROM g GROUP BY user_id, seq""".stripMargin,

    "q_stream_latest" ->
      s"""SELECT user_id, event_id, epoch_s, event_type, cents FROM (
         |  SELECT CAST(user_id AS BIGINT) AS user_id, CAST(event_id AS BIGINT) AS event_id,
         |    epoch_us(ts)//1000000 AS epoch_s, event_type,
         |    CAST(round(value*100) AS BIGINT) AS cents,
         |    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rk
         |  FROM events) r
         |WHERE rk = 1""".stripMargin
  )
}
