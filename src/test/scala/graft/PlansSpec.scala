package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.chunk.ChunkWriter

/** Catalyst extension tests: the gorilla_explode Generator decodes
  * identically to the typed flatMap, and PruneChunksByTime rewrites ts
  * predicates into chunk-level (t0, t_max) predicates below the Generate.
  */
class PlansSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private lazy val chunks = {
    val pts = (0 until 4).flatMap { s =>
      (0 until 400).map(i => (s"s$s", i * 900L, Some((i % 37).toDouble / 8)))
    }.toDF("series_flat", "ts", "value")
    ChunkWriter.build(pts, "15min", maxPoints = 96)
  }

  test("gorilla_explode decodes identically to the typed flatMap path") {
    val sql = ChunkWriter.decodeSql(chunks.toDF())
      .select("series_flat", "ts", "value")
    val typed = ChunkWriter.decode(chunks)
      .select("series_flat", "ts", "value")
    assert(sql.except(typed).isEmpty && typed.except(sql).isEmpty)
    assert(sql.count() == typed.count())
  }

  test("PruneChunksByTime injects chunk-level (t0, t_max) predicates below Generate") {
    val q = ChunkWriter.decodeSql(chunks.toDF())
      .filter(col("ts") >= 90000L && col("ts") < 180000L)
    val optimized = q.queryExecution.optimizedPlan.toString
    assert(optimized.contains("t_max") && optimized.contains("t0"),
      s"chunk predicates missing from optimized plan:\n$optimized")
    // and the rewrite is semantics-preserving vs manual pruneByTime
    val manual = ChunkWriter.decode(
        ChunkWriter.pruneByTime(chunks, 90000L, 180000L))
      .filter(col("ts") >= 90000L && col("ts") < 180000L)
      .select("series_flat", "ts", "value")
    val auto = q.select("series_flat", "ts", "value")
    assert(auto.except(manual).isEmpty && manual.except(auto).isEmpty)
    assert(auto.count() == manual.count())
  }

  test("PruneChunksByTime leaves non-chunk relations alone (joined/derived t0 is not a chunk bound)") {
    // a frame where a FOREIGN t0 column (wrong values) precedes the chunk
    // table's own: name-bound injection here would silently drop rows
    val foreign = Seq((999999999L, "x")).toDF("t0", "tag")
    val joined = foreign.crossJoin(chunks.toDF().withColumnRenamed("t0", "chunk_t0"))
    val q = joined.selectExpr("series_flat", "gorilla_explode(n, blob, crc)")
      .filter(col("ts") >= 90000L && col("ts") < 180000L)
      .select("series_flat", "ts", "value")
    val expected = ChunkWriter.decode(chunks)
      .filter(col("ts") >= 90000L && col("ts") < 180000L)
      .select("series_flat", "ts", "value")
    assert(q.except(expected).isEmpty && expected.except(q).isEmpty)
    assert(q.count() == expected.count() && q.count() > 0)
  }

  test("gorilla_explode emits no rows for null chunk columns instead of crashing") {
    val withNull = chunks.toDF()
      .unionByName(chunks.toDF().limit(1)
        .withColumn("blob", lit(null).cast("binary"))
        .withColumn("n", lit(null).cast("int"))
        .withColumn("crc", lit(null).cast("int")))
    val decoded = withNull.selectExpr("series_flat", "gorilla_explode(n, blob, crc)")
    val base = chunks.toDF().selectExpr("series_flat", "gorilla_explode(n, blob, crc)")
    assert(decoded.count() == base.count())
  }

  test("kernel argument bounds are analysis errors, not row-eval crashes") {
    val emb = spark.read.parquet(s"${SparkTestSession.sf0001}/embeddings.parquet")
    def analyze(c: org.apache.spark.sql.Column): Unit =
      emb.select(c).queryExecution.analyzed
    // lsh_bucket: nPlanes <= 0 would cache an empty plane table (second
    // row dereferences cur(0)); > 63 wraps the 1L << j bucket bit
    for (bad <- Seq(0, -1, 64)) {
      val e = intercept[org.apache.spark.sql.AnalysisException] {
        analyze(call_function("lsh_bucket", col("embedding"), lit(bad)))
      }
      assert(e.getMessage.contains("lsh_bucket"), e.getMessage)
    }
    // chunk_hashes: nChunks must be a positive literal
    val e2 = intercept[org.apache.spark.sql.AnalysisException] {
      analyze(call_function("chunk_hashes", col("embedding"), lit(0)))
    }
    assert(e2.getMessage.contains("chunk_hashes"), e2.getMessage)
    // ivf_best_cell: wrong qcents shape fails analysis, not eval
    val e3 = intercept[org.apache.spark.sql.AnalysisException] {
      analyze(call_function("ivf_best_cell", col("embedding"),
        typedLit(Seq(0L)), typedLit(Seq(Seq(0.5))), typedLit(Seq(1L))))
    }
    assert(e3.getMessage.contains("ivf_best_cell"), e3.getMessage)
    // valid bounds still analyze
    analyze(call_function("lsh_bucket", col("embedding"), lit(63)))
    analyze(call_function("chunk_hashes", col("embedding"), lit(4)))
  }

  test("cosineNearDups blocking stage plans the codegen'd chunk_hashes kernel") {
    val emb = spark.read.parquet(s"${SparkTestSession.sf0001}/embeddings.parquet")
    val plan = graft.sim.Ann.cosineNearDups(emb, "vec_id", "embedding",
      threshold = 0.9).queryExecution.optimizedPlan.toString
    assert(plan.contains("chunk_hashes"), plan)
    assert(!plan.contains("transform("), plan) // no interpreted lambda left
  }

  test("top-k paths plan as TakeOrderedAndProject, never an unpartitioned window over the corpus") {
    import graft.sim.Ann
    val emb = spark.read.parquet(s"${SparkTestSession.sf0001}/embeddings.parquet")
    for (df <- Seq(
        Ann.bruteForceTopK(emb, "vec_id", "embedding", 0L, 10),
        Ann.lshTopK(emb, "vec_id", "embedding", 0L, 10, nPlanes = 8),
        Ann.ivfTopK(emb, "vec_id", "embedding", 0L, 10, nCentroids = 20, nProbe = 4))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("TakeOrderedAndProject"),
        s"top-k should plan per-partition heap + driver merge:\n$plan")
      // every Window in the plan must have a partition spec (the rank
      // derivation runs over <= k rows, partitioned by a constant)
      val unpartitioned = df.queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window
          if w.partitionSpec.isEmpty => w
      }
      assert(unpartitioned.isEmpty,
        s"unpartitioned window in plan:\n${df.queryExecution.optimizedPlan}")
    }
  }

  test("weightedSample plans TakeOrderedAndProject; splitByGroup and zvalue are shuffle-free projections") {
    val docs = spark.read.parquet(s"${SparkTestSession.sf0001}/documents.parquet")
    val ws = graft.text.TextOps.weightedSample(docs, "doc_id", "n_chars", 50, 42)
    val wsPlan = ws.queryExecution.executedPlan.toString
    assert(wsPlan.contains("TakeOrderedAndProject"),
      s"weighted sample should plan per-partition heaps + driver merge:\n$wsPlan")
    // split + z-value: scan-side projections, zero exchanges
    for (df <- Seq(
        graft.text.TextOps.splitByGroup(docs, "source", 80, 10, 42),
        docs.select(graft.table.Skipping.zvalue(
          col("doc_id"), 0, 499, col("n_chars"), 0, 4096)))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"should be shuffle-free:\n$plan")
      // "*(n)" prefixes mark whole-stage-codegen'd operators
      assert(plan.contains("*(1) Project"), s"should codegen:\n$plan")
    }
  }

  test("bucketed tables co-locate the join: sort-merge with zero exchanges") {
    // build + register the bucketed tables through the query itself
    graft.queries.RelationalQueries.queries("q_bucketed_join")(
      spark, SparkTestSession.sf0001).collect()
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = spark.table("g_lineitem_bkt")
        .join(spark.table("g_orders_bkt"),
          col("l_orderkey") === col("o_orderkey"))
      j.collect()
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      assert(!plan.contains("Exchange"),
        s"bucket-aligned join must not shuffle either side:\n$plan")
      assert(plan.contains("Bucketed: true"), s"scan must use buckets:\n$plan")
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("quality gate broadcasts its per-language thresholds (bounded dim, no shuffle of the corpus side)") {
    val df = graft.queries.TextQueries.queries("q_quality_gate")(
      spark, SparkTestSession.sf0001)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"thresholds (one row per lang) must broadcast:\n$plan")
  }

  test("AQE splits a skewed join partition at runtime (the join-side answer to salting)") {
    val keep = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled"
    ).map(k => k -> spark.conf.getOption(k)).toMap
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    // thresholds scaled down so the zipf head is "skewed" at test volume
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try {
      // 90% of the fact rows share one key — the hot-domain shape
      val fact = spark.range(200000).select(
        when(col("id") % 10 < 9, lit(0L)).otherwise(col("id")).as("k"),
        col("id").as("v"))
      val dim = spark.range(20000).select(col("id").as("k"), (col("id") * 2).as("w"))
      val j = fact.join(dim, "k")
      // key 0 matches 180k fact rows; the id-keyed 10% match for id < 20000
      // (ids = 9, 19, ..., 19999 -> 2000 rows). collect() (not count) so
      // THIS plan finalizes under AQE
      assert(j.collect().length == 182000)
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE should have split the hot partition:\n$plan")
    } finally keep.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("paragraphDedup plans hash joins + partial aggs, never a nested loop") {
    import spark.implicits._
    val docs = spark.read.parquet(s"${SparkTestSession.sf0001}/documents.parquet")
      .select(col("doc_id"), concat(col("text"), lit("\n\nshared")).as("text"))
    val df = graft.text.TextOps.paragraphDedup(docs, "doc_id", "text")
    val plan = df.queryExecution.executedPlan.toString
    // the hot-hash flagging join must be an equi hash join on the md5 —
    // a BroadcastNestedLoopJoin/Cartesian here would be corpus x hotset
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"paragraphDedup must not plan a nested-loop join:\n$plan")
    // both aggregations partial-agg (map-side combine before the shuffle)
    assert(plan.contains("partial_count") || plan.contains("HashAggregate"),
      s"paragraphDedup aggregations must partial-agg:\n$plan")
    df.unpersist()
  }

  test("quotaSample plans a WindowGroupLimit: hot strata never fully rank") {
    val docs = spark.read.parquet(s"${SparkTestSession.sf0001}/documents.parquet")
      .select(col("doc_id"), col("lang"), col("source"))
    val df = graft.text.TextOps.quotaSample(docs, Seq("lang", "source"), "doc_id", 5)
    val plan = df.queryExecution.executedPlan.toString
    // Spark's WindowGroupLimit pushes `row_number <= cap` into a per-group
    // top-k (partial before the shuffle, final after) — without it a hot
    // stratum (one domain = millions of docs) sorts entirely
    assert(plan.contains("WindowGroupLimit"),
      s"quotaSample must push the cap into a window group limit:\n$plan")
  }

  test("topNgrams plans partial agg + WindowGroupLimit: a hot language never fully sorts") {
    val docs = spark.read.parquet(s"${SparkTestSession.sf0001}/documents.parquet")
    val df = graft.text.TextOps.topNgrams(docs, "lang", "text", 2, 20)
    val plan = df.queryExecution.executedPlan.toString
    // the n-gram count collapses map-side (partial_count before the
    // exchange) and `rank <= k` pushes into a per-group top-k heap
    assert(plan.contains("WindowGroupLimit"),
      s"topNgrams must push k into a window group limit:\n$plan")
    assert(plan.contains("partial_count"),
      s"n-gram counting must partial-aggregate before the shuffle:\n$plan")
  }

  test("weightedMix is shuffle-free: broadcast dim + scan-side predicate only") {
    val docs = spark.read.parquet(s"${SparkTestSession.sf0001}/documents.parquet")
      .select(col("doc_id"), col("source"))
    val mix = graft.text.TextOps.weightedMix(docs, "source", "doc_id",
      (0 until 20).map(i => (s"src$i", (i + 1) * 50000L)))
    val plan = mix.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning") &&
      plan.contains("BroadcastHashJoin"),
      s"weightedMix must be a broadcast join + filter, no shuffle:\n$plan")
  }

  test("revisitChanges shuffles ONCE: window partitioning on url is reused by the per-url rollup") {
    val pages = graft.ingest.Pages.synthesize(spark, SparkTestSession.sf0001)
    val cr = graft.web.Web.revisitChanges(pages, "url", "warc_ts", "text")
    val plan = cr.queryExecution.executedPlan.toString
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(shuffles == 1,
      s"expected exactly 1 exchange (url), got $shuffles:\n$plan")
  }

  test("domainLinkGraph partial-aggregates the edge counts before its single shuffle") {
    val pages = spark.read.parquet(s"${SparkTestSession.sf0001}/documents.parquet")
      .select(col("doc_id"),
        concat(lit("https://d"), (col("doc_id") % 7).cast("string"),
          lit(".example/p")).as("url"),
        concat(lit("<a href=\"https://d"), ((col("doc_id") * 3 + 1) % 11).cast("string"),
          lit(".example/\">x</a>")).as("html"))
    val plan = graft.web.Web.domainLinkGraph(pages, "url", "html")
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_count"),
      s"edge counting must partial-aggregate map-side:\n$plan")
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1,
      s"link graph should shuffle only aggregated domain pairs:\n$plan")
  }

  test("corpus release gate plans hash joins + a broadcast bench set, never a nested loop") {
    val q = graft.SparkEntry.queries("q_corpus_filter")(
      spark, SparkTestSession.sf0001)
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"gate composition must stay hash-join-shaped:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"the benchmark gram set must broadcast:\n$plan")
  }

  test("ivfAssign is a pure projection: no Window, no Sort, no Exchange") {
    import graft.sim.Ann
    val emb = spark.read.parquet(s"${SparkTestSession.sf0001}/embeddings.parquet")
    val cents = Ann.ivfCentroids(emb, "vec_id", "embedding", 20)
    val assigned = Ann.ivfAssign(emb, "vec_id", "embedding", cents)
    // logical: the argmax must not be a rank window
    val windows = assigned.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.isEmpty,
      s"ivfAssign must not shuffle+sort nxnCentroids rows through a window:\n${assigned.queryExecution.optimizedPlan}")
    // physical: the per-row argmax over the constant-folded centroid
    // array needs no sort, no exchange, no join — scan + project only
    import org.apache.spark.sql.execution.{SortExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.Exchange
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case _ => p +: p.children.flatMap(nodes)
    }
    val plan = nodes(assigned.queryExecution.executedPlan)
    assert(!plan.exists(_.isInstanceOf[SortExec]),
      s"no sort expected in the assignment plan:\n${assigned.queryExecution.executedPlan}")
    assert(!plan.exists(_.isInstanceOf[Exchange]),
      s"no exchange expected in the assignment plan:\n${assigned.queryExecution.executedPlan}")
    // the centroid literal is folded: exactly one constant array remains
    val folded = assigned.queryExecution.optimizedPlan.expressions.flatMap(_.collect {
      case l: org.apache.spark.sql.catalyst.expressions.Literal
        if l.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType] => l
    })
    assert(folded.nonEmpty,
      s"centroid array should constant-fold:\n${assigned.queryExecution.optimizedPlan}")
    // semantics unchanged vs the rank-window argmax it replaced
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("vec_id")).orderBy(col("_cos").desc, col("_cell"))
    val viaWindow = emb.join(broadcast(cents))
      .select(col("vec_id"), col("_cell"),
        Ann.cosineQ(Ann.dotQ(col("embedding"), col("_cv")),
          Ann.norm2Q(col("embedding")), Ann.norm2Q(col("_cv"))).as("_cos"))
      .withColumn("_rk", row_number().over(w))
      .filter(col("_rk") === 1)
      .select(col("vec_id"), col("_cell").as("cell"))
    val viaAgg = assigned.select("vec_id", "cell")
    assert(viaAgg.except(viaWindow).isEmpty && viaWindow.except(viaAgg).isEmpty)
    assert(viaAgg.count() == emb.count())
  }

  test("indexedRead consults the delta index: skipped partitions are never listed") {
    import graft.chunk.ChunkWriter
    val store = SparkTestSession.tmpDir("chunk-store-").toString
    ChunkWriter.writeIndexedStore(chunks, store, buckets = 8)
    val totalParts = {
      val dirs = new java.io.File(s"$store/chunks")
        .listFiles().filter(f => f.isDirectory && f.getName.startsWith("part_id="))
      dirs.length
    }
    val got = ChunkWriter.indexedRead(spark, store, Seq("s1"), 90000L, 180000L)
    // correctness: equals the direct decode + filter path
    val direct = ChunkWriter.decode(chunks)
      .filter(col("series_flat") === "s1" && col("ts") >= 90000L && col("ts") < 180000L)
      .select("series_flat", "ts", "value")
    val g = got.select("series_flat", "ts", "value")
    assert(g.except(direct).isEmpty && direct.except(g).isEmpty)
    assert(g.count() == direct.count() && g.count() > 0)
    // pruning: the chunk scan lists strictly fewer partitions than exist
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case _ => p +: p.children.flatMap(nodes)
    }
    val scans = nodes(got.queryExecution.executedPlan).collect {
      case f: FileSourceScanExec
        if f.relation.location.rootPaths.exists(_.toString.contains("/chunks")) => f
    }
    assert(scans.nonEmpty, "no file scan over the chunk store found")
    scans.foreach { f =>
      assert(f.selectedPartitions.partitionCount < totalParts,
        s"index should prune the listing: ${f.selectedPartitions.partitionCount} of $totalParts")
    }
  }

  test("pruned read skips chunks: fewer decode calls than a full scan") {
    // count chunk rows surviving below the Generate by reusing the same
    // derived predicate the rule injects
    val total = chunks.count()
    val surviving = ChunkWriter.pruneByTime(chunks, 90000L, 180000L).count()
    assert(surviving < total,
      s"prune window should drop chunks ($surviving vs $total)")
  }
}
