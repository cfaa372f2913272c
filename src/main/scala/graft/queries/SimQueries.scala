package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sim.Ann

/** Similarity-search queries over the `embeddings` fixture. The
  * brute-force top-k is the oracle-checked baseline (integer-quantized
  * dot products make the scores bitwise cross-engine); the LSH variant is
  * the scale path, rows-only here with recall asserted in ScalaTest.
  */
object SimQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_ann_brute" -> ((s, dir) =>
      Ann.bruteForceTopK(
        s.read.parquet(s"$dir/embeddings.parquet"),
        "vec_id", "embedding", queryId = 0L, k = 10)
        .select(col("vec_id"), col("cos"), col("rk").cast("long").as("rk"))),

    // LSH-bucketed ANN. The hyperplane bucket hash is not SQL-expressible
    // (xxhash64 planes), but the CANDIDATE SELECTION + scoring + rank is:
    // the engine's bucket table is written to parquet and the DuckDB
    // oracle mirrors the multi-probe bucket join and exact scoring over
    // those very buckets.
    "q_ann_lsh" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val withBucket = emb.withColumn("_bucket",
        Ann.lshBucket(col("embedding"), nPlanes = 8)).persist()
      // bucket-table dump for the oracle, FROM the cache the query itself
      // uses — the mirrored candidate selection sees identical buckets
      withBucket.select(col("vec_id"), col("_bucket").as("bucket"))
        .write.mode("overwrite")
        .parquet(Scratch.dir("lsh_buckets"))
      val res = Ann.lshTopKWith(withBucket,
          "vec_id", "embedding", queryId = 0L, k = 10, nPlanes = 8)
        .select(col("vec_id"), col("cos"), col("rk").cast("long").as("rk"))
        .persist()
      res.count()
      withBucket.unpersist(false)
      res
    }),

    // IVF with Lloyd-trained centroids. Training is engine-native (like
    // the LSH bucket hash); the TRAINED centroid table is dumped and the
    // oracle mirrors assignment + probe + scoring from that very dump.
    "q_ann_ivf" -> ((s, dir) =>
      Ann.ivfTopK(
        s.read.parquet(s"$dir/embeddings.parquet"),
        "vec_id", "embedding", queryId = 0L, k = 10,
        nCentroids = 20, nProbe = 4,
        centroidSink = Some(Scratch.dir("ivf_cents")))
        .select(col("vec_id"), col("cos"), col("rk").cast("long").as("rk"))),

    // same probe through the MATERIALIZED index (corpus partitioned by
    // cell + centroid table): write once, then scan only nProbe cell
    // directories. Oracle: identical semantics to q_ann_ivf.
    "q_ann_ivf_indexed" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val path = Scratch.dir("ivf_index")
      Ann.writeIvfIndex(emb, "vec_id", "embedding", path, nCentroids = 20)
      val qv = emb.filter(col("vec_id") === 0L)
        .select("embedding").head().getSeq[Float](0).toArray
      Ann.ivfTopKIndexed(s, path, "vec_id", "embedding", qv,
          excludeId = 0L, k = 10, nProbe = 4)
        .select(col("vec_id"), col("cos"), col("rk").cast("long").as("rk"))
    }),

    // T51 IVF index APPEND: the index is built from 2/3 of the corpus
    // (centroids trained on that base), the remaining third is appended
    // WITHOUT a rebuild — assignment reuses the stored centroids, new
    // rows land as appended files in their cell partitions — then the
    // probe runs over base + appended. Oracle: assignment + probe +
    // scoring of the FULL corpus replayed from the index's centroid dump.
    "q_ann_ivf_append" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val path = Scratch.dir("ivf_append")
      Ann.writeIvfIndex(emb.filter(col("vec_id") % 3 =!= 0),
        "vec_id", "embedding", path, nCentroids = 20)
      Ann.appendToIvfIndex(emb.filter(col("vec_id") % 3 === 0),
        "vec_id", "embedding", path, batchId = 0L)
      val qv = emb.filter(col("vec_id") === 0L)
        .select("embedding").head().getSeq[Float](0).toArray
      Ann.ivfTopKIndexed(s, path, "vec_id", "embedding", qv,
          excludeId = 0L, k = 10, nProbe = 4)
        .select(col("vec_id"), col("cos"), col("rk").cast("long").as("rk"))
    }),

    // T51s STREAMING index append: the late third of the corpus lands as
    // 3 parquet files, a file stream drains them one micro-batch each
    // through the replay-safe staged append, then the probe runs over
    // base + streamed cells — must equal the batch-appended index
    "q_stream_ivf_append" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val root = Scratch.dir("ivf_stream")
      val path = s"$root/index"
      Ann.writeIvfIndex(emb.filter(col("vec_id") % 3 =!= 0),
        "vec_id", "embedding", path, nCentroids = 20)
      val late = emb.filter(col("vec_id") % 3 === 0)
      (0 until 3).foreach { i =>
        late.filter(pmod(col("vec_id"), lit(9)) === i * 3)
          .coalesce(1).write.mode("append").parquet(s"$root/landing")
      }
      graft.streaming.StreamingAnn.appendVectorsStream(
        s, s"$root/landing", path, s"$root/ckpt",
        "vec_id", "embedding", maxFilesPerTrigger = 1)
      val qv = emb.filter(col("vec_id") === 0L)
        .select("embedding").head().getSeq[Float](0).toArray
      Ann.ivfTopKIndexed(s, path, "vec_id", "embedding", qv,
          excludeId = 0L, k = 10, nProbe = 4)
        .select(col("vec_id"), col("cos"), col("rk").cast("long").as("rk"))
    }),

    // batched ANN: 3 queries against the corpus in one pass, per-query
    // top-k via salted two-phase ranking (no per-query single task)
    "q_ann_batch" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      Ann.bruteForceTopKBatch(emb, "vec_id", "embedding",
          emb.filter(col("vec_id").isin(0L, 1L, 2L)), "vec_id", "embedding",
          k = 5)
        .select(col("query_id"), col("vec_id"), col("cos"),
          col("rk").cast("long").as("rk"))
    }),

    // batched IVF: 3 queries probe their nProbe cells in ONE pass over
    // the assigned corpus — the at-scale multi-tenant read shape
    "q_ann_ivf_batch" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      Ann.ivfTopKBatch(emb, "vec_id", "embedding",
          emb.filter(col("vec_id").isin(0L, 1L, 2L)), "vec_id", "embedding",
          k = 5, nCentroids = 20, nProbe = 4,
          centroidSink = Some(Scratch.dir("ivf_cents_batch")))
        .select(col("query_id"), col("vec_id"), col("cos"),
          col("rk").cast("long").as("rk"))
    }),

    // T47 IVF+PQ: probe -> ADC over codes -> exact re-rank of the
    // shortlist — the three-stage production ANN funnel; both trained
    // tables dumped, the oracle replays the whole funnel
    "q_ann_ivfpq" -> ((s, dir) =>
      Ann.ivfPqTopK(
        s.read.parquet(s"$dir/embeddings.parquet"),
        "vec_id", "embedding", queryId = 0L, k = 10, dim = 64,
        nCentroids = 20, nProbe = 4, m = 4, nCodes = 16, rerank = 30,
        centroidSink = Some(Scratch.dir("ivfpq_cents")),
        bookSink = Some(Scratch.dir("ivfpq_books")))
        .select(col("vec_id"), col("cos"), col("rk").cast("long").as("rk"))),

    // T47b residual IVF+PQ: books trained on (v - centroid(cell)), the
    // standard recall-per-byte lever (AnnSpec: ADC shortlist recall@10
    // 0.44 -> 0.55 at equal m/nCodes). ADC decomposes exactly:
    // dot(q,v) ~ dot(q, cent(cell)) + sum_sub dot(q_sub, book_cv) — all
    // exact integers, so the oracle replays the whole funnel from the
    // two dumps
    "q_ann_ivfpq_res" -> ((s, dir) =>
      Ann.ivfPqTopK(
        s.read.parquet(s"$dir/embeddings.parquet"),
        "vec_id", "embedding", queryId = 0L, k = 10, dim = 64,
        nCentroids = 20, nProbe = 4, m = 4, nCodes = 16, rerank = 30,
        residual = true,
        centroidSink = Some(Scratch.dir("ivfpqr_cents")),
        bookSink = Some(Scratch.dir("ivfpqr_books")))
        .select(col("vec_id"), col("cos"), col("rk").cast("long").as("rk"))),

    // T46 product quantization, encode: 64 float dims -> 4 codes (16
    // codes per subspace, Lloyd-trained). Encode is a pure projection
    // over foldable book literals; oracle mirrors argmin from the dump
    "q_pq_encode" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      Ann.pqTrain(emb, "vec_id", "embedding", dim = 64, m = 4, nCodes = 16)
        .coalesce(1).write.mode("overwrite").parquet(Scratch.dir("pq_books"))
      Ann.pqEncode(emb, "vec_id", "embedding",
        s.read.parquet(Scratch.dir("pq_books")), dim = 64, m = 4)
    }),

    // T46 ADC search: the corpus side touches only (id, sub, code) — the
    // raw vectors are never read; distances are exact integer sums
    "q_pq_search" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      Ann.pqTrain(emb, "vec_id", "embedding", dim = 64, m = 4, nCodes = 16)
        .coalesce(1).write.mode("overwrite").parquet(Scratch.dir("pq_books_s"))
      val bk = s.read.parquet(Scratch.dir("pq_books_s"))
      val enc = Ann.pqEncode(emb, "vec_id", "embedding", bk, dim = 64, m = 4)
      Ann.pqSearch(enc, bk, emb, "vec_id", "embedding",
          queryId = 0L, k = 10, dim = 64, m = 4)
        .select(col("vec_id"), col("dist_q"), col("rk").cast("long").as("rk"))
    }),

    "q_embed_neardup" -> ((s, dir) =>
      Ann.cosineNearDups(
        embeddingsWithNearDups(s, dir), "vec_id", "embedding",
        threshold = 0.9)),

    // duplicate-cluster canonicalization: near-dup pairs (with transitive
    // CHAINS v ~ v+100000 ~ v+200000 where (v, v+200000) is below the
    // threshold) -> connected components -> min-id cluster labels. Only
    // docs in a cluster of size > 1 are returned (stable oracle shape).
    "q_dup_clusters" -> ((s, dir) => {
      val u = embeddingsWithChains(s, dir)
      val pairs = Ann.cosineNearDups(u, "vec_id", "embedding", threshold = 0.9)
      val labels = graft.text.TextOps.dupClusters(
        u, "vec_id", pairs, "id_a", "id_b")
      labels.join(
          labels.groupBy("cluster_id").agg(count(lit(1)).as("_n"))
            .filter(col("_n") > 1).select("cluster_id"),
          "cluster_id")
        .select(col("vec_id"), col("cluster_id"))
    }),

    // cluster-CAPPED dedup: keep at most 2 representatives per duplicate
    // cluster instead of collapsing to 1 — bounded duplication preserves
    // some natural frequency signal while still killing the heavy tail;
    // survivors picked by the deterministic md5-of-id quota rank
    "q_cluster_cap" -> ((s, dir) => {
      val u = embeddingsWithChains(s, dir)
      val pairs = Ann.cosineNearDups(u, "vec_id", "embedding", threshold = 0.9)
      val labels = graft.text.TextOps.dupClusters(
        u, "vec_id", pairs, "id_a", "id_b")
      graft.text.TextOps.quotaSample(labels, Seq("cluster_id"), "vec_id", 2)
        .select(col("vec_id"), col("cluster_id"))
    })
  )

  /** embeddingsWithNearDups plus a SECOND perturbation level per seed
    * (+0.55 on the first component as vec_id + 200000): cos(v, v+100000)
    * and cos(v+100000, v+200000) clear the 0.9 threshold while
    * cos(v, v+200000) generally does not — transitive chains that only
    * connected components can collapse. Arithmetic stays double-exact
    * (0.25/0.55 quantized at 2^20 are integers) for the oracle.
    */
  private def embeddingsWithChains(s: SparkSession, dir: String): DataFrame = {
    val base = embeddingsWithNearDups(s, dir)
    val e = s.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val pert2 = e.filter(col("vec_id") % 10 === 0).select(
      (col("vec_id") + 200000).as("vec_id"),
      concat(
        array(element_at(col("embedding"), 1).cast("double") + 0.55),
        transform(slice(col("embedding"), 2, 1000000), x => x.cast("double")))
        .as("embedding"))
    base.unionByName(pert2)
  }

  /** embeddings + injected near-duplicates: vec_id % 10 == 0 re-appears as
    * vec_id + 100000 with the first component shifted by +0.25 — cosine
    * ~0.97 vs the original, far above the fixture's natural pairwise max
    * (~0.51). Arithmetic is double-exact on both engines (float->double is
    * exact; 0.25 * 2^20 is an integer), so the oracle reproduces it.
    */
  private def embeddingsWithNearDups(s: SparkSession, dir: String): DataFrame = {
    val e = s.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val pert = e.filter(col("vec_id") % 10 === 0).select(
      (col("vec_id") + 100000).as("vec_id"),
      concat(
        array(element_at(col("embedding"), 1).cast("double") + 0.25),
        transform(slice(col("embedding"), 2, 1000000), x => x.cast("double")))
        .as("embedding"))
    e.select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("embedding"))
      .unionByName(pert)
  }

  /** Shared CTE prefix of the IVF oracles: quantized corpus components,
    * the TRAINED centroid table (read from the ENGINE's dump — training
    * is engine-native, everything downstream is mirrored exactly),
    * quantized centroid components, norms, per-(vector, cell) cosines
    * (division shape mirrors Ann.cosineQ: dot / sqrt(n2_vec) /
    * sqrt(n2_cent), bitwise identical doubles), and the nearest-cell
    * assignment with the engine's (cos DESC, cell ASC) tie-break.
    */
  private def ivfCtes(centDir: String): String =
    s"""WITH ex AS (SELECT vec_id, CAST(round(UNNEST(embedding) * 1048576.0) AS BIGINT) AS qe,
      |                   generate_subscripts(embedding, 1) AS i FROM embeddings),
      |cents AS (SELECT _cell AS cell, CAST(round(UNNEST(_cv) * 1048576.0) AS BIGINT) AS qc,
      |                 generate_subscripts(_cv, 1) AS i
      |          FROM read_parquet('$centDir/*.parquet')),
      |cn2 AS (SELECT cell, CAST(sum(qc*qc) AS BIGINT) AS n2 FROM cents GROUP BY 1),
      |n2 AS (SELECT vec_id, CAST(sum(qe*qe) AS BIGINT) AS n2 FROM ex GROUP BY 1),
      |vc AS (SELECT v.vec_id, c.cell, CAST(sum(v.qe * c.qc) AS BIGINT) AS dot
      |       FROM ex v JOIN cents c ON v.i = c.i GROUP BY 1, 2),
      |vcc AS (SELECT vc.vec_id, vc.cell,
      |          CAST(dot AS DOUBLE) / sqrt(CAST(nv.n2 AS DOUBLE)) / sqrt(CAST(cn2.n2 AS DOUBLE)) AS cos
      |        FROM vc JOIN n2 nv ON nv.vec_id = vc.vec_id JOIN cn2 ON cn2.cell = vc.cell),
      |assigned AS (SELECT vec_id, cell FROM (
      |  SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cell) AS rk
      |  FROM vcc) WHERE rk = 1)""".stripMargin

  /** Single-query IVF oracle over a dumped trained-centroid table. */
  private def ivfSqlFromDump(centDir: String): String =
    s"""${ivfCtes(centDir)},
      |probes AS (SELECT cell FROM vcc WHERE vec_id = 0 ORDER BY cos DESC, cell LIMIT 4),
      |vq AS (SELECT v.vec_id, CAST(sum(v.qe * q.qe) AS BIGINT) AS dot
      |       FROM ex v JOIN ex q ON v.i = q.i AND q.vec_id = 0
      |       WHERE v.vec_id <> 0 GROUP BY 1),
      |scored AS (SELECT vq.vec_id,
      |    CAST(dot AS DOUBLE) / sqrt(CAST(nv.n2 AS DOUBLE)) / sqrt(CAST(nq.n2 AS DOUBLE)) AS cos
      |  FROM vq JOIN n2 nv ON nv.vec_id = vq.vec_id, (SELECT n2 FROM n2 WHERE vec_id = 0) nq
      |  WHERE vq.vec_id IN (SELECT a.vec_id FROM assigned a JOIN probes p ON a.cell = p.cell))
      |SELECT vec_id, cos, rk FROM (
      |  SELECT vec_id, cos, row_number() OVER (ORDER BY cos DESC, vec_id) AS rk
      |  FROM scored) r
      |WHERE rk <= 10""".stripMargin

  /** Shared PQ oracle CTEs over a dumped book table: quantize books and
    * subvectors, per-(vec, sub, code) distances, deterministic argmin
    * encode (ties to smaller code — the engine's struct-min order).
    */
  private def pqCtes(dump: String): String =
    s"""bk AS (SELECT sub, code, cv FROM read_parquet('$dump/*.parquet')),
       |bq AS (SELECT sub, code,
       |    list_transform(cv, x -> CAST(round(x * 1048576.0) AS BIGINT)) AS qc
       |  FROM bk),
       |sv AS (SELECT vec_id, s.sub,
       |    list_transform(embedding[s.sub*16+1 : s.sub*16+16],
       |      x -> CAST(round(x * 1048576.0) AS BIGINT)) AS qv
       |  FROM embeddings CROSS JOIN (SELECT UNNEST([0, 1, 2, 3]) AS sub) s),
       |pdist AS (SELECT vec_id, sv.sub, bq.code,
       |    CAST(list_aggregate(list_transform(generate_series(1, 16),
       |      i -> (qv[i] - qc[i]) * (qv[i] - qc[i])), 'sum') AS BIGINT) AS d
       |  FROM sv JOIN bq ON bq.sub = sv.sub),
       |enc AS (SELECT vec_id, sub, code FROM (
       |    SELECT vec_id, sub, code,
       |      row_number() OVER (PARTITION BY vec_id, sub ORDER BY d, code) AS rn
       |    FROM pdist) t WHERE rn = 1)""".stripMargin

  /** Residual-PQ oracle CTEs: quantized residual subvectors (raw element
    * minus the assigned cell's RAW centroid component, then the same
    * fixed-point round), book quantization, per-(vec, sub, code)
    * distances, argmin encode. Needs `assigned` (from [[ivfCtes]]) in
    * scope. `craw` (raw centroid components) is also used by the ADC's
    * per-cell dot term.
    */
  private def pqResCtes(bookDump: String, centDump: String): String =
    s"""bk AS (SELECT sub, code, cv FROM read_parquet('$bookDump/*.parquet')),
       |bq AS (SELECT sub, code,
       |    list_transform(cv, x -> CAST(round(x * 1048576.0) AS BIGINT)) AS qc
       |  FROM bk),
       |eraw AS (SELECT vec_id, CAST(UNNEST(embedding) AS DOUBLE) AS e,
       |    generate_subscripts(embedding, 1) AS i FROM embeddings),
       |craw AS (SELECT _cell AS cell, UNNEST(_cv) AS c,
       |    generate_subscripts(_cv, 1) AS i
       |  FROM read_parquet('$centDump/*.parquet')),
       |resq AS (SELECT er.vec_id, er.i,
       |    CAST(round((er.e - cr.c) * 1048576.0) AS BIGINT) AS qr
       |  FROM eraw er JOIN assigned a ON a.vec_id = er.vec_id
       |  JOIN craw cr ON cr.cell = a.cell AND cr.i = er.i),
       |rsv AS (SELECT vec_id, CAST((i - 1) // 16 AS INT) AS sub,
       |    list(qr ORDER BY i) AS qv
       |  FROM resq GROUP BY 1, 2),
       |pdist AS (SELECT vec_id, rsv.sub, bq.code,
       |    CAST(list_aggregate(list_transform(generate_series(1, 16),
       |      i -> (qv[i] - qc[i]) * (qv[i] - qc[i])), 'sum') AS BIGINT) AS d
       |  FROM rsv JOIN bq ON bq.sub = rsv.sub),
       |enc AS (SELECT vec_id, sub, code FROM (
       |    SELECT vec_id, sub, code,
       |      row_number() OVER (PARTITION BY vec_id, sub ORDER BY d, code) AS rn
       |    FROM pdist) t WHERE rn = 1)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    // residual funnel replayed from both dumps: assignment + probe
    // (ivfCtes), residual encode (pqResCtes), then
    // ADC = sum_sub pd + per-cell centroid dot -> shortlist -> exact
    // cosine re-rank
    "q_ann_ivfpq_res" ->
      s"""${ivfCtes(Scratch.dir("ivfpqr_cents"))},
         |${pqResCtes(Scratch.dir("ivfpqr_books"), Scratch.dir("ivfpqr_cents"))},
         |probe AS (SELECT cell FROM (
         |    SELECT vcc.cell, row_number() OVER (ORDER BY cos DESC, cell) AS prk
         |    FROM vcc WHERE vec_id = 0) p WHERE prk <= 4),
         |cand AS (SELECT vec_id, cell FROM assigned
         |  WHERE cell IN (SELECT cell FROM probe) AND vec_id <> 0),
         |qsub AS (SELECT s.sub,
         |    list_transform(embedding[s.sub*16+1 : s.sub*16+16],
         |      x -> CAST(round(x * 1048576.0) AS BIGINT)) AS q
         |  FROM embeddings CROSS JOIN (SELECT UNNEST([0, 1, 2, 3]) AS sub) s
         |  WHERE vec_id = 0),
         |dt AS (SELECT bq.sub, bq.code,
         |    CAST(list_aggregate(list_transform(generate_series(1, 16),
         |      i -> q[i] * qc[i]), 'sum') AS BIGINT) AS pd
         |  FROM bq JOIN qsub ON qsub.sub = bq.sub),
         |cdot AS (SELECT cr.cell,
         |    CAST(sum(qq.qe * CAST(round(cr.c * 1048576.0) AS BIGINT)) AS BIGINT) AS cd
         |  FROM craw cr JOIN (SELECT i, qe FROM ex WHERE vec_id = 0) qq ON qq.i = cr.i
         |  GROUP BY 1),
         |qnq AS (SELECT CAST(sum(qe*qe) AS BIGINT) AS n2 FROM ex WHERE vec_id = 0),
         |adc AS (SELECT e.vec_id,
         |    CAST(SUM(pd) + cdot.cd AS DOUBLE) / sqrt(CAST(nv.n2 AS DOUBLE))
         |      / sqrt(CAST(qnq.n2 AS DOUBLE)) AS acos
         |  FROM enc e JOIN cand ON cand.vec_id = e.vec_id
         |  JOIN dt ON dt.sub = e.sub AND dt.code = e.code
         |  JOIN cdot ON cdot.cell = cand.cell
         |  JOIN n2 nv ON nv.vec_id = e.vec_id CROSS JOIN qnq
         |  GROUP BY e.vec_id, cdot.cd, nv.n2, qnq.n2),
         |short AS (SELECT vec_id FROM (
         |    SELECT vec_id, row_number() OVER (ORDER BY acos DESC, vec_id) AS rr
         |    FROM adc) a WHERE rr <= 30),
         |qd AS (SELECT v.vec_id, CAST(sum(v.qe * q.qe) AS BIGINT) AS dot
         |  FROM ex v JOIN (SELECT i, qe FROM ex WHERE vec_id = 0) q ON q.i = v.i
         |  WHERE v.vec_id IN (SELECT vec_id FROM short) GROUP BY 1),
         |qn AS (SELECT CAST(sum(qe*qe) AS BIGINT) AS n2 FROM ex WHERE vec_id = 0),
         |sc AS (SELECT qd.vec_id,
         |    CAST(dot AS DOUBLE) / sqrt(CAST(nv.n2 AS DOUBLE))
         |      / sqrt(CAST(qn.n2 AS DOUBLE)) AS cos
         |  FROM qd JOIN n2 nv ON nv.vec_id = qd.vec_id CROSS JOIN qn),
         |rr AS (SELECT vec_id, cos,
         |    row_number() OVER (ORDER BY cos DESC, vec_id) AS rk FROM sc)
         |SELECT vec_id, cos, CAST(rk AS BIGINT) AS rk
         |FROM rr WHERE rk <= 10""".stripMargin,
    // candidate selection from the ENGINE-written bucket table (multi-probe:
    // the query's bucket plus each single-bit flip), exact quantized
    // scoring + rank mirrored from q_ann_brute
    "q_ann_lsh" ->
      s"""WITH bk AS (SELECT vec_id, bucket
        |  FROM read_parquet('${Scratch.dir("lsh_buckets")}/*.parquet')),
        |qb AS (SELECT bucket FROM bk WHERE vec_id = 0),
        |probes AS (SELECT bucket FROM qb
        |  UNION SELECT xor(qb.bucket, CAST(1 AS BIGINT) << j)
        |  FROM qb, (SELECT UNNEST(generate_series(0, 7)) AS j) t),
        |cand AS (SELECT vec_id FROM bk JOIN probes USING (bucket) WHERE vec_id <> 0),
        |ex AS (SELECT vec_id, UNNEST(embedding) AS e, generate_subscripts(embedding, 1) AS i FROM embeddings),
        |q AS (SELECT i, CAST(round(e * 1048576.0) AS BIGINT) AS qe FROM ex WHERE vec_id = 0),
        |v AS (SELECT vec_id, i, CAST(round(e * 1048576.0) AS BIGINT) AS ve
        |      FROM ex WHERE vec_id IN (SELECT vec_id FROM cand)),
        |dots AS (SELECT v.vec_id, CAST(sum(v.ve * q.qe) AS BIGINT) AS dot,
        |                CAST(sum(v.ve * v.ve) AS BIGINT) AS n2v
        |         FROM v JOIN q USING (i) GROUP BY 1),
        |qn AS (SELECT CAST(sum(qe * qe) AS BIGINT) AS n2q FROM q),
        |scored AS (SELECT vec_id,
        |  CAST(dot AS DOUBLE) / sqrt(CAST(n2v AS DOUBLE)) / sqrt(CAST(n2q AS DOUBLE)) AS cos
        |  FROM dots, qn)
        |SELECT vec_id, cos, rk FROM (
        |  SELECT vec_id, cos, row_number() OVER (ORDER BY cos DESC, vec_id) AS rk
        |  FROM scored) r
        |WHERE rk <= 10""".stripMargin,

    "q_ann_brute" ->
      """WITH ex AS (SELECT vec_id, UNNEST(embedding) AS e, generate_subscripts(embedding, 1) AS i FROM embeddings),
        |q AS (SELECT i, CAST(round(e * 1048576.0) AS BIGINT) AS qe FROM ex WHERE vec_id = 0),
        |v AS (SELECT vec_id, i, CAST(round(e * 1048576.0) AS BIGINT) AS ve FROM ex WHERE vec_id <> 0),
        |dots AS (SELECT v.vec_id, CAST(sum(v.ve * q.qe) AS BIGINT) AS dot,
        |                CAST(sum(v.ve * v.ve) AS BIGINT) AS n2v
        |         FROM v JOIN q USING (i) GROUP BY 1),
        |qn AS (SELECT CAST(sum(qe * qe) AS BIGINT) AS n2q FROM q),
        |scored AS (SELECT vec_id,
        |  CAST(dot AS DOUBLE) / sqrt(CAST(n2v AS DOUBLE)) / sqrt(CAST(n2q AS DOUBLE)) AS cos
        |  FROM dots, qn)
        |SELECT vec_id, cos, rk FROM (
        |  SELECT vec_id, cos, row_number() OVER (ORDER BY cos DESC, vec_id) AS rk
        |  FROM scored) r
        |WHERE rk <= 10""".stripMargin,

    // IVF replicated exactly downstream of TRAINING: the trained centroid
    // table (engine dump), nearest-centroid assignment, 4-probe, exact
    // scoring inside probes. Division shapes mirror Ann.cosineQ
    // (dot / sqrt(n2_left) / sqrt(n2_right)) so the doubles are bitwise
    // identical. Direct and indexed paths dump to different dirs but
    // compute the same result.
    // the full IVF+PQ funnel replayed from BOTH dumps: assignment +
    // probe (ivfCtes) and encode (pqCtes) share one WITH list, then
    // candidate -> ADC shortlist -> exact cosine re-rank
    "q_ann_ivfpq" ->
      s"""${ivfCtes(Scratch.dir("ivfpq_cents"))},
         |${pqCtes(Scratch.dir("ivfpq_books"))},
         |probe AS (SELECT cell FROM (
         |    SELECT vcc.cell, row_number() OVER (ORDER BY cos DESC, cell) AS prk
         |    FROM vcc WHERE vec_id = 0) p WHERE prk <= 4),
         |cand AS (SELECT vec_id FROM assigned
         |  WHERE cell IN (SELECT cell FROM probe) AND vec_id <> 0),
         |qsub AS (SELECT s.sub,
         |    list_transform(embedding[s.sub*16+1 : s.sub*16+16],
         |      x -> CAST(round(x * 1048576.0) AS BIGINT)) AS q
         |  FROM embeddings CROSS JOIN (SELECT UNNEST([0, 1, 2, 3]) AS sub) s
         |  WHERE vec_id = 0),
         |dt AS (SELECT bq.sub, bq.code,
         |    CAST(list_aggregate(list_transform(generate_series(1, 16),
         |      i -> q[i] * qc[i]), 'sum') AS BIGINT) AS pd
         |  FROM bq JOIN qsub ON qsub.sub = bq.sub),
         |qnq AS (SELECT CAST(sum(qe*qe) AS BIGINT) AS n2 FROM ex WHERE vec_id = 0),
         |adc AS (SELECT e.vec_id,
         |    CAST(SUM(pd) AS DOUBLE) / sqrt(CAST(nv.n2 AS DOUBLE))
         |      / sqrt(CAST(qnq.n2 AS DOUBLE)) AS acos
         |  FROM enc e JOIN cand USING (vec_id)
         |  JOIN dt ON dt.sub = e.sub AND dt.code = e.code
         |  JOIN n2 nv ON nv.vec_id = e.vec_id CROSS JOIN qnq
         |  GROUP BY e.vec_id, nv.n2, qnq.n2),
         |short AS (SELECT vec_id FROM (
         |    SELECT vec_id, row_number() OVER (ORDER BY acos DESC, vec_id) AS rr
         |    FROM adc) a WHERE rr <= 30),
         |qd AS (SELECT v.vec_id, CAST(sum(v.qe * q.qe) AS BIGINT) AS dot
         |  FROM ex v JOIN (SELECT i, qe FROM ex WHERE vec_id = 0) q ON q.i = v.i
         |  WHERE v.vec_id IN (SELECT vec_id FROM short) GROUP BY 1),
         |qn AS (SELECT CAST(sum(qe*qe) AS BIGINT) AS n2 FROM ex WHERE vec_id = 0),
         |sc AS (SELECT qd.vec_id,
         |    CAST(dot AS DOUBLE) / sqrt(CAST(nv.n2 AS DOUBLE))
         |      / sqrt(CAST(qn.n2 AS DOUBLE)) AS cos
         |  FROM qd JOIN n2 nv ON nv.vec_id = qd.vec_id CROSS JOIN qn),
         |rr AS (SELECT vec_id, cos,
         |    row_number() OVER (ORDER BY cos DESC, vec_id) AS rk FROM sc)
         |SELECT vec_id, cos, CAST(rk AS BIGINT) AS rk
         |FROM rr WHERE rk <= 10""".stripMargin,

    // PQ: quantize + per-subspace argmin (ties to smaller code) replayed
    // from the dumped books; the quantization is the same
    // round-half-up fixed-point as every other embedding oracle
    "q_pq_encode" ->
      s"""WITH ${pqCtes(Scratch.dir("pq_books"))}
         |SELECT vec_id, CAST(sub AS INT) AS sub, code FROM enc""".stripMargin,

    "q_pq_search" ->
      s"""WITH ${pqCtes(Scratch.dir("pq_books_s"))},
         |qv AS (SELECT s.sub,
         |    list_transform(embedding[s.sub*16+1 : s.sub*16+16],
         |      x -> CAST(round(x * 1048576.0) AS BIGINT)) AS q
         |  FROM embeddings CROSS JOIN (SELECT UNNEST([0, 1, 2, 3]) AS sub) s
         |  WHERE vec_id = 0),
         |dt AS (SELECT bq.sub, bq.code,
         |    CAST(list_aggregate(list_transform(generate_series(1, 16),
         |      i -> (q[i] - qc[i]) * (q[i] - qc[i])), 'sum') AS BIGINT) AS pd
         |  FROM bq JOIN qv ON qv.sub = bq.sub),
         |sc AS (SELECT e.vec_id, CAST(SUM(pd) AS BIGINT) AS dist_q
         |  FROM enc e JOIN dt ON dt.sub = e.sub AND dt.code = e.code
         |  WHERE e.vec_id <> 0 GROUP BY 1),
         |r AS (SELECT vec_id, dist_q,
         |    row_number() OVER (ORDER BY dist_q, vec_id) AS rk FROM sc)
         |SELECT vec_id, dist_q, CAST(rk AS BIGINT) AS rk
         |FROM r WHERE rk <= 10""".stripMargin,

    "q_ann_ivf" -> ivfSqlFromDump(Scratch.dir("ivf_cents")),
    "q_ann_ivf_indexed" -> ivfSqlFromDump(s"${Scratch.dir("ivf_index")}/centroids"),
    // append-maintained index == assignment of the FULL corpus to the
    // base-trained dump (what the cells dir now physically contains)
    "q_ann_ivf_append" -> ivfSqlFromDump(s"${Scratch.dir("ivf_append")}/centroids"),
    // the STREAM-maintained index must converge to the same truth
    "q_stream_ivf_append" ->
      ivfSqlFromDump(s"${Scratch.dir("ivf_stream")}/index/centroids"),

    // batched IVF: same assignment CTEs, per-query probes + per-query rank
    "q_ann_ivf_batch" ->
      s"""${ivfCtes(Scratch.dir("ivf_cents_batch"))},
        |probes AS (SELECT vec_id AS query_id, cell FROM (
        |  SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cell) AS prk
        |  FROM vcc WHERE vec_id IN (0, 1, 2)) WHERE prk <= 4),
        |dots AS (SELECT q.vec_id AS query_id, v.vec_id, CAST(sum(v.qe * q.qe) AS BIGINT) AS dot
        |         FROM ex v JOIN ex q ON v.i = q.i AND q.vec_id IN (0, 1, 2)
        |         WHERE v.vec_id <> q.vec_id GROUP BY 1, 2),
        |scored AS (SELECT dots.query_id, dots.vec_id,
        |    CAST(dot AS DOUBLE) / sqrt(CAST(nv.n2 AS DOUBLE)) / sqrt(CAST(nq.n2 AS DOUBLE)) AS cos
        |  FROM dots
        |  JOIN n2 nv ON nv.vec_id = dots.vec_id
        |  JOIN n2 nq ON nq.vec_id = dots.query_id
        |  JOIN assigned a ON a.vec_id = dots.vec_id
        |  JOIN probes p ON p.query_id = dots.query_id AND p.cell = a.cell)
        |SELECT query_id, vec_id, cos, rk FROM (
        |  SELECT query_id, vec_id, cos,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rk
        |  FROM scored) r
        |WHERE rk <= 5""".stripMargin,

    "q_ann_batch" ->
      """WITH ex AS (SELECT vec_id, CAST(round(UNNEST(embedding) * 1048576.0) AS BIGINT) AS qe,
        |                   generate_subscripts(embedding, 1) AS i FROM embeddings),
        |n2 AS (SELECT vec_id, CAST(sum(qe*qe) AS BIGINT) AS n2 FROM ex GROUP BY 1),
        |dots AS (SELECT q.vec_id AS query_id, v.vec_id, CAST(sum(v.qe * q.qe) AS BIGINT) AS dot
        |         FROM ex v JOIN ex q ON v.i = q.i AND q.vec_id IN (0, 1, 2)
        |         WHERE v.vec_id <> q.vec_id GROUP BY 1, 2),
        |scored AS (SELECT query_id, dots.vec_id,
        |    CAST(dot AS DOUBLE) / sqrt(CAST(nv.n2 AS DOUBLE)) / sqrt(CAST(nq.n2 AS DOUBLE)) AS cos
        |  FROM dots JOIN n2 nv ON nv.vec_id = dots.vec_id JOIN n2 nq ON nq.vec_id = dots.query_id)
        |SELECT query_id, vec_id, cos, rk FROM (
        |  SELECT query_id, vec_id, cos,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rk
        |  FROM scored) r
        |WHERE rk <= 5""".stripMargin,

    // connected components replayed via a recursive transitive closure —
    // feasible for the oracle because dup clusters are tiny; the engine
    // side is the scalable label-propagation loop
    "q_dup_clusters" ->
      """WITH RECURSIVE u AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 100000, [CAST(embedding[1] AS DOUBLE) + 0.25] || embedding[2:]
        |  FROM embeddings WHERE vec_id % 10 = 0
        |  UNION ALL
        |  SELECT vec_id + 200000, [CAST(embedding[1] AS DOUBLE) + 0.55] || embedding[2:]
        |  FROM embeddings WHERE vec_id % 10 = 0),
        |ex AS (SELECT vec_id, CAST(round(UNNEST(embedding) * 1048576.0) AS BIGINT) AS qe,
        |              generate_subscripts(embedding, 1) AS i FROM u),
        |n2 AS (SELECT vec_id, CAST(sum(qe*qe) AS BIGINT) AS n2 FROM ex GROUP BY 1),
        |dots AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, CAST(sum(a.qe * b.qe) AS BIGINT) AS dot
        |         FROM ex a JOIN ex b ON a.i = b.i AND a.vec_id < b.vec_id GROUP BY 1, 2),
        |pairs AS (SELECT id_a, id_b
        |  FROM dots JOIN n2 na ON na.vec_id = id_a JOIN n2 nb ON nb.vec_id = id_b
        |  WHERE CAST(dot AS DOUBLE) / sqrt(CAST(na.n2 AS DOUBLE)) / sqrt(CAST(nb.n2 AS DOUBLE)) >= 0.9),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
        |          UNION SELECT id_b, id_a FROM pairs),
        |reach(id, r) AS (
        |  SELECT vec_id, vec_id FROM u
        |  UNION
        |  SELECT reach.id, edges.dst FROM reach JOIN edges ON reach.r = edges.src),
        |labels AS (SELECT id AS vec_id, CAST(min(r) AS BIGINT) AS cluster_id
        |           FROM reach GROUP BY 1),
        |sizes AS (SELECT cluster_id, count(*) AS c FROM labels GROUP BY 1)
        |SELECT CAST(vec_id AS BIGINT) AS vec_id, cluster_id
        |FROM labels JOIN sizes USING (cluster_id) WHERE c > 1""".stripMargin,

    // same CC labels, then the md5 quota rank capped at 2 per cluster
    "q_cluster_cap" ->
      """WITH RECURSIVE u AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 100000, [CAST(embedding[1] AS DOUBLE) + 0.25] || embedding[2:]
        |  FROM embeddings WHERE vec_id % 10 = 0
        |  UNION ALL
        |  SELECT vec_id + 200000, [CAST(embedding[1] AS DOUBLE) + 0.55] || embedding[2:]
        |  FROM embeddings WHERE vec_id % 10 = 0),
        |ex AS (SELECT vec_id, CAST(round(UNNEST(embedding) * 1048576.0) AS BIGINT) AS qe,
        |              generate_subscripts(embedding, 1) AS i FROM u),
        |n2 AS (SELECT vec_id, CAST(sum(qe*qe) AS BIGINT) AS n2 FROM ex GROUP BY 1),
        |dots AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, CAST(sum(a.qe * b.qe) AS BIGINT) AS dot
        |         FROM ex a JOIN ex b ON a.i = b.i AND a.vec_id < b.vec_id GROUP BY 1, 2),
        |pairs AS (SELECT id_a, id_b
        |  FROM dots JOIN n2 na ON na.vec_id = id_a JOIN n2 nb ON nb.vec_id = id_b
        |  WHERE CAST(dot AS DOUBLE) / sqrt(CAST(na.n2 AS DOUBLE)) / sqrt(CAST(nb.n2 AS DOUBLE)) >= 0.9),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
        |          UNION SELECT id_b, id_a FROM pairs),
        |reach(id, r) AS (
        |  SELECT vec_id, vec_id FROM u
        |  UNION
        |  SELECT reach.id, edges.dst FROM reach JOIN edges ON reach.r = edges.src),
        |labels AS (SELECT id AS vec_id, CAST(min(r) AS BIGINT) AS cluster_id
        |           FROM reach GROUP BY 1),
        |q AS (SELECT vec_id, cluster_id, row_number() OVER (
        |    PARTITION BY cluster_id ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS qr
        |  FROM labels)
        |SELECT CAST(vec_id AS BIGINT) AS vec_id, cluster_id FROM q WHERE qr <= 2""".stripMargin,

    "q_embed_neardup" ->
      """WITH u AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 100000, [CAST(embedding[1] AS DOUBLE) + 0.25] || embedding[2:]
        |  FROM embeddings WHERE vec_id % 10 = 0),
        |ex AS (SELECT vec_id, CAST(round(UNNEST(embedding) * 1048576.0) AS BIGINT) AS qe,
        |              generate_subscripts(embedding, 1) AS i FROM u),
        |n2 AS (SELECT vec_id, CAST(sum(qe*qe) AS BIGINT) AS n2 FROM ex GROUP BY 1),
        |dots AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, CAST(sum(a.qe * b.qe) AS BIGINT) AS dot
        |         FROM ex a JOIN ex b ON a.i = b.i AND a.vec_id < b.vec_id GROUP BY 1, 2)
        |SELECT id_a, id_b,
        |  CAST(dot AS DOUBLE) / sqrt(CAST(na.n2 AS DOUBLE)) / sqrt(CAST(nb.n2 AS DOUBLE)) AS cos
        |FROM dots JOIN n2 na ON na.vec_id = id_a JOIN n2 nb ON nb.vec_id = id_b
        |WHERE CAST(dot AS DOUBLE) / sqrt(CAST(na.n2 AS DOUBLE)) / sqrt(CAST(nb.n2 AS DOUBLE)) >= 0.9""".stripMargin
  )
}
