package graft.checkpoint

/** Per-partition checkpointed commits (the engine analog of the
  * reference's per-source pickle cache — SURVEY.md §2.1 S4, and the north
  * rule's "resumable from per-partition checkpoints").
  *
  * `Pipeline.runRollup` computes a stage in ONE Spark job over all of its
  * missing (tier, day) partitions into the stage's fixed dir
  * (`<ns>/build`), one subdir per partition, and commits each of those
  * dirs where it was written ("tier=15min/day=2024-01-03" lives in
  * `tier=15min/build/_day=2024-01-03`, "tier=1h/day=2024-01-03" in
  * `tiers/build/_tier=1h/_day=2024-01-03`) INDIVIDUALLY, in order — so a
  * killed run resumes by skipping every key already in the current
  * snapshot, tier by tier, and its write replaces only the uncommitted
  * partition dirs.
  * Partition metas carry rows/bytes/lineage, giving the per-partition
  * metrics emission for free.
  */
object Checkpoint {

  /** A simulated-crash hook for tests: fail after N successful commits. */
  final class InjectedCrash(val after: Int)
      extends RuntimeException(s"injected crash after $after partitions")
}
