package graft.checkpoint

import java.nio.file.{Files, Path, Paths}
import graft.table.{ManifestTableLayer, PartitionMeta}

/** Per-partition checkpointed commits (the engine analog of the
  * reference's per-source pickle cache — SURVEY.md §2.1 S4, and the north
  * rule's "resumable from per-partition checkpoints").
  *
  * `Pipeline.runRollup` computes a stage in ONE Spark job over all of its
  * missing days into a staging dir with one `_day=<d>` subdir per day.
  * Each staged dir is then moved to its partition's data dir
  * ("tier=15min/day=2024-01-03") and committed INDIVIDUALLY, in order — so
  * a killed run resumes by skipping every key already in the current
  * snapshot. Partition metas carry rows/bytes/lineage, giving the
  * per-partition metrics emission for free.
  */
object Checkpoint {

  /** A simulated-crash hook for tests: fail after N successful commits. */
  final class InjectedCrash(val after: Int)
      extends RuntimeException(s"injected crash after $after partitions")

  /** Move each staged partition dir to `table.dataDir(key)` and commit it
    * on its own, in the given order, then remove the emptied `staging` dir.
    * `committed` is the number of commits the caller already made in this
    * run; `failAfter >= 0` injects a crash once the run reaches that many
    * (test hook) and leaves the staging dir for the resume to overwrite.
    * Returns the new total.
    */
  def commitEach(
      table: ManifestTableLayer,
      staging: Path,
      staged: Seq[PartitionMeta],
      committed: Int,
      failAfter: Int
  ): Int = {
    val n = staged.foldLeft(committed) { (n, meta) =>
      if (failAfter >= 0 && n >= failAfter) throw new InjectedCrash(failAfter)
      val dest = table.dataDir(meta.key)
      // left by a run killed between move and commit, or the dir of a
      // dropped key that is being rebuilt
      if (Files.exists(dest)) ManifestTableLayer.deleteTree(dest)
      Files.createDirectories(dest.getParent)
      Files.move(Paths.get(meta.path), dest)
      table.commit(Seq(meta.copy(path = dest.toString)), Seq.empty)
      n + 1
    }
    ManifestTableLayer.deleteTree(staging)
    n
  }
}
