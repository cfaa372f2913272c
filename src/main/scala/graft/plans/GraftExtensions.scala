package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Engine Catalyst extensions, registered on every engine session by
  * [[graft.Sessions.local]] (or with
  * `--conf spark.sql.extensions=graft.plans.GraftExtensions` on a
  * cluster):
  *
  *  - `gorilla_explode(n, blob, crc)` SQL generator (chunk -> points);
  *  - `PruneChunksByTime` optimizer rule (time predicates on decoded ts
  *    become chunk-level predicates, pushed into the scan).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("gorilla_explode"),
      new ExpressionInfo(classOf[GorillaExplode].getName, "gorilla_explode"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        GorillaExplode(exprs)))
    // ivf_best_cell(vec, cells, qcents, n2c): codegen'd nearest-centroid
    // assignment (the IVF coarse quantizer's hot loop)
    ext.injectFunction((
      FunctionIdentifier("ivf_best_cell"),
      new ExpressionInfo(classOf[CentroidArgMax].getName, "ivf_best_cell"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        CentroidArgMax(exprs)))
    // minhash_sig(text, k): codegen'd MinHash signature (the LSH dedup
    // pipeline's hot loop)
    ext.injectFunction((
      FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinhashSig].getName, "minhash_sig"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        MinhashSig(exprs)))
    // qdot(a, b) / qnorm2(a): codegen'd quantized dot product and squared
    // norm — the scoring kernel of every similarity path
    ext.injectFunction((
      FunctionIdentifier("qdot"),
      new ExpressionInfo(classOf[QuantizedDot].getName, "qdot"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        QuantizedDot(exprs)))
    ext.injectFunction((
      FunctionIdentifier("qnorm2"),
      new ExpressionInfo(classOf[QuantizedNorm2].getName, "qnorm2"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        QuantizedNorm2(exprs)))
    // shingle_set(text, n): codegen'd distinct word-n-gram shingles (the
    // exact-Jaccard verification kernel)
    ext.injectFunction((
      FunctionIdentifier("shingle_set"),
      new ExpressionInfo(classOf[ShingleSet].getName, "shingle_set"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        ShingleSet(exprs)))
    // shingle_hashes(text, n): codegen'd per-window xxhash64 (the
    // repeated-window detector's hot loop)
    ext.injectFunction((
      FunctionIdentifier("shingle_hashes"),
      new ExpressionInfo(classOf[ShingleHashes].getName, "shingle_hashes"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        ShingleHashes(exprs)))
    // lsh_bucket(vec, nPlanes): codegen'd hyperplane sign bucket
    ext.injectFunction((
      FunctionIdentifier("lsh_bucket"),
      new ExpressionInfo(classOf[LshBucket].getName, "lsh_bucket"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        LshBucket(exprs)))
    // chunk_hashes(vec, nChunks): codegen'd cosine-near-dup blocking keys
    ext.injectFunction((
      FunctionIdentifier("chunk_hashes"),
      new ExpressionInfo(classOf[ChunkHashes].getName, "chunk_hashes"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        ChunkHashes(exprs)))
    // post-hoc resolution (not optimizer): the rewrite needs the chunk
    // table's t0/t_max in the Generate child's output, which the
    // optimizer's ColumnPruning removes before extended optimizer rules
    // get a look. After analysis the full chunk schema is still visible;
    // the injected Filter then keeps exactly the columns it references
    // alive through pruning and rides standard pushdown into the scan.
    ext.injectPostHocResolutionRule(_ => PruneChunksByTime)
  }
}
