package graft.table

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The cluster-side TableLayer: an Iceberg table driven ENTIRELY through
  * Spark's public SQL/DataFrame surface — `spark.table`, `writeTo`,
  * `DELETE WHERE`, and the `system.*` stored procedures — so this class
  * compiles with zero Iceberg classes on the compile classpath (the
  * sandbox ships none) and runs wherever `spark.sql.catalog.<cat>` is
  * configured with `org.apache.iceberg.spark.SparkCatalog`.
  *
  * UNTESTED OFFLINE: no Iceberg runtime exists in this sandbox, so this
  * impl is excluded from the test suite; `ManifestTableLayer` reproduces
  * the same snapshot/partition semantics locally and carries the oracle
  * coverage. Method-for-method mapping:
  *
  *  - commit(added, removed)  -> ONE `writeTo(table).overwrite(cond)`
  *    (Iceberg REPLACE WHERE) where `cond` covers exactly the REMOVED
  *    keys: removed partitions are deleted, the union of all staged
  *    Parquet dirs is inserted (added keys not in `removed` APPEND
  *    alongside existing rows — ManifestTableLayer parity), all in a
  *    SINGLE Iceberg snapshot. Iceberg's optimistic-commit protocol
  *    supplies the atomic CURRENT swap the manifest layer does with
  *    ATOMIC_MOVE; a concurrent reader sees the whole commit or none.
  *  - currentPartitions()     -> the `<table>.partitions` metadata table
  *    (record_count / file_size; lineage lives in snapshot summary props).
  *  - dropPartitions(pred)    -> `DELETE FROM table WHERE <partition preds>`
  *    — a metadata-only drop when predicates align with partition bounds.
  *  - expireSnapshots(keep)   -> `CALL <cat>.system.expire_snapshots(...)`
  *    (physical deletes deferred to the procedure, like the local layer's
  *    deferred rmTree).
  *
  * `partitionKeySql` turns a layer key like "tier=1h/day=2024-01-03" into
  * the matching predicate; keys are the same strings ManifestTableLayer
  * uses.
  */
class IcebergTableLayer(
    spark: SparkSession,
    catalog: String,
    table: String
) extends TableLayer {

  private def fq = s"$catalog.$table"

  override def commit(added: Seq[PartitionMeta], removedKeys: Seq[String]): Long = {
    // the statement PLAN comes from the companion (shared with the
    // TableLayerSpec recording layer, which asserts it offline); this
    // method only binds it to the live session
    val plan = IcebergTableLayer.commitPlan(fq, added.map(_.path), removedKeys)
    if (plan.isEmpty) return currentSnapshotId()
    if (added.isEmpty) {
      // removals only: one DELETE with the OR'd predicate — one snapshot
      spark.sql(plan.head)
    } else {
      val staged = added.map { pm =>
        IcebergTableLayer.stagePartition(spark.read.parquet(pm.path), pm.key)
      }.reduce(_ unionByName _)
      // delete-of-removed + replace-of-added in ONE atomic snapshot
      staged.writeTo(fq).overwrite(
        org.apache.spark.sql.functions.expr(
          IcebergTableLayer.removedCond(removedKeys)))
    }
    currentSnapshotId()
  }

  override def currentPartitions(): Seq[PartitionMeta] =
    spark.sql(
        s"SELECT partition, record_count, file_count, total_data_file_size_in_bytes " +
          s"FROM $fq.partitions")
      .collect().toSeq.map { r =>
        val part = r.getStruct(0)
        val key = part.schema.fieldNames
          .map(f => s"$f=${part.getAs[Any](f)}").mkString("/")
        PartitionMeta(key, s"$fq [$key]", r.getLong(1), r.getLong(3),
          lineage = s"iceberg snapshot ${currentSnapshotId()}")
      }

  override def read(spark: SparkSession): DataFrame = spark.table(fq)

  override def dropPartitions(pred: PartitionMeta => Boolean): Long = {
    val keys = currentPartitions().filter(pred).map(_.key)
    IcebergTableLayer.dropPlan(fq, keys).foreach(spark.sql)
    currentSnapshotId()
  }

  override def expireSnapshots(keepLast: Int): Int = {
    val before = spark.sql(s"SELECT count(*) FROM $fq.snapshots")
      .head().getLong(0)
    spark.sql(IcebergTableLayer.expirePlan(catalog, table, keepLast).head)
    val after = spark.sql(s"SELECT count(*) FROM $fq.snapshots")
      .head().getLong(0)
    (before - after).toInt
  }

  private def currentSnapshotId(): Long =
    spark.sql(s"SELECT snapshot_id FROM $fq.snapshots ORDER BY committed_at DESC LIMIT 1")
      .collect().headOption.map(_.getLong(0)).getOrElse(-1L)
}

/** Statement builders, factored out of the instance so the contract test
  * can assert WHAT the layer would execute without an Iceberg runtime:
  * `TableLayerSpec` runs the Pipeline against a `ManifestTableLayer`
  * subclass that records these plans call-for-call, then asserts the
  * DELETE / overwrite / expire sequence and the one-snapshot-per-commit
  * invariant. The live class above consumes the SAME builders, so the
  * recorded statements are the executed statements by construction.
  */
object IcebergTableLayer {

  /** "tier=1h/day=2024-01-03" -> "tier = '1h' AND day = '2024-01-03'".
    * A bare segment without '=' (the Pipeline's namespace keys, e.g.
    * "chunks-15min/day=d") is an equality on the `tier` partition column
    * — the key scheme uses the first segment as the partition namespace,
    * and the bare values ('chunks-15min', 'index-15min') are disjoint
    * from the real tier names by construction.
    */
  def partitionKeySql(key: String): String =
    key.split("/").map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => s"$k = '$v'"
        case Array(v) => s"tier = '$v'"
      }
    }.mkString(" AND ")

  /** Stage one partition's rows for the commit overwrite: attach the
    * partition columns derived from the layer key so the staged rows
    * match `partitionKeySql(key)`'s predicate exactly. A `k=v` segment
    * adds the column only if the data doesn't already carry it (rows
    * written under "tier=15min/day=d" already say tier='15min'); a BARE
    * segment (the Pipeline's namespace keys, e.g. "chunks-15min/day=d")
    * maps to the `tier` partition column and must OVERWRITE any data-side
    * tier — chunk rows carry tier='15min' in data, but live under the
    * 'chunks-15min' namespace, and a mismatch would make the retention
    * DELETE's predicate never match the rows it staged.
    */
  def stagePartition(
      df: org.apache.spark.sql.DataFrame, key: String
  ): org.apache.spark.sql.DataFrame =
    key.split("/").foldLeft(df) { (d, kv) =>
      kv.split("=", 2) match {
        case Array(k, v) =>
          if (d.columns.contains(k)) d
          else d.withColumn(k, org.apache.spark.sql.functions.lit(v))
        case Array(v) =>
          d.withColumn("tier", org.apache.spark.sql.functions.lit(v))
      }
    }

  /** The REPLACE WHERE condition: ManifestTableLayer parity — only keys
    * in `removedKeys` are replaced; an added key NOT in removedKeys
    * appends alongside existing rows ("false" overwrites nothing).
    */
  def removedCond(removedKeys: Seq[String]): String =
    if (removedKeys.isEmpty) "false"
    else removedKeys.map(k => s"(${partitionKeySql(k)})").mkString(" OR ")

  /** The statement plan `commit()` executes: ALWAYS at most ONE statement
    * — the single-snapshot commit invariant. The overwrite branch is a
    * DataFrame-API call (`writeTo(fq).overwrite(cond)` over the staged
    * paths), rendered here in its SQL-equivalent form for recording.
    */
  def commitPlan(
      fq: String,
      addedPaths: Seq[String],
      removedKeys: Seq[String]
  ): Seq[String] =
    if (addedPaths.isEmpty && removedKeys.isEmpty) Seq.empty
    else if (addedPaths.isEmpty)
      Seq(s"DELETE FROM $fq WHERE ${removedCond(removedKeys)}")
    else
      Seq(s"INSERT INTO $fq REPLACE WHERE ${removedCond(removedKeys)} " +
        s"SELECT * FROM parquet [${addedPaths.mkString(", ")}]")

  /** One metadata-aligned DELETE per dropped partition. */
  def dropPlan(fq: String, keys: Seq[String]): Seq[String] =
    keys.map(k => s"DELETE FROM $fq WHERE ${partitionKeySql(k)}")

  /** The snapshot-expiry stored-procedure call. */
  def expirePlan(catalog: String, table: String, keepLast: Int): Seq[String] =
    Seq(s"CALL $catalog.system.expire_snapshots(table => '$table', " +
      s"retain_last => $keepLast)")
}
