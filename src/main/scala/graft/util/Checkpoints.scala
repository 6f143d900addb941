package graft.util

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, SubqueryAlias}
import org.apache.spark.sql.execution.LogicalRDD

/** Deterministic release of `localCheckpoint` storage.
  *
  * `Dataset.unpersist` only touches cache-manager entries; the blocks
  * behind a localCheckpoint'ed Dataset are plain RDD caches that
  * otherwise wait for driver GC + ContextCleaner to be reclaimed. Loops
  * that re-checkpoint state every iteration (the crawl round loop's
  * frontier / seen set / Bloom shards) would pin every superseded
  * iteration's blocks for a nondeterministic time inside the measured
  * window — release them eagerly instead.
  */
object Checkpoints {

  @annotation.tailrec
  private def strip(p: LogicalPlan): LogicalPlan = p match {
    case s: SubqueryAlias => strip(s.child)
    case other => other
  }

  /** Unpersist the RDD backing a localCheckpoint'ed Dataset.
    *
    * CALL-SITE CONTRACT: the argument must be the checkpoint ITSELF —
    * a Dataset whose analyzed plan is a single `LogicalRDD` leaf (what
    * `localCheckpoint` returns, unchanged by `.as[T]`/aliasing) — or a
    * plan containing no checkpoint at all (e.g. a parquet-backed
    * snapshot read), which is a no-op. A DERIVED plan that merely embeds
    * a checkpoint (`ckpt.filter(...)`, a join of two checkpoints) is
    * rejected: releasing through such a plan would silently drop blocks
    * of an input the caller may not own — the caller must name the
    * checkpointed Dataset it holds, not something computed from it.
    * Enforced (throws IllegalArgumentException) rather than documented,
    * because the failure mode of a mistaken release is a delayed,
    * nondeterministic "checkpoint block not found" in whoever shares the
    * input. CheckpointsSpec pins all three behaviors. */
  def release(df: Dataset[_]): Unit = {
    val analyzed = df.queryExecution.analyzed
    strip(analyzed) match {
      // not r.rdd.unpersist: that logs a "locally checkpointed … cannot
      // be recomputed" WARN per call, and dropping the lineage-truncated
      // blocks is exactly the point here
      case r: LogicalRDD => org.apache.spark.SparkInternals.freeBlocks(r.rdd)
      case other =>
        val embedded = other.collect { case r: LogicalRDD => r }
        require(embedded.isEmpty,
          s"Checkpoints.release called on a derived plan embedding " +
            s"${embedded.size} checkpoint(s) — pass the checkpointed " +
            s"Dataset itself (plan root: ${other.nodeName})")
    }
  }
}
