package graft.retention

import graft.table.ManifestTableLayer

/** Retention: [[graft.pipeline.Pipeline.sweepRaw]] expires raw-tier
  * partitions past their horizon by a logical partition drop, while the
  * higher-tier continuous aggregates stay queryable (the north rule's
  * "retention sweeper that expires raw tiers via snapshot/partition drops
  * while continuous aggregates remain queryable"; on Iceberg this is
  * `DROP PARTITION` + `expire_snapshots`). [[expire]] then reclaims the
  * dropped data.
  */
object Retention {

  /** Physically delete everything unreachable from the last `keepLast`
    * snapshots.
    */
  def expire(table: ManifestTableLayer, keepLast: Int = 1): Int =
    table.expireSnapshots(keepLast)
}
