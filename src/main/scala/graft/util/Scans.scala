package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.execution.PartitionedFileUtil
import org.apache.spark.sql.execution.datasources.{FilePartition,
  HadoopFsRelation, LogicalRelation}

/** Scale-adaptive scan parallelization (optimization guide §2.5, "input
  * skew: one huge unsplittable file … repartition immediately after the
  * read").
  *
  * The driver's testdata ships ONE parquet row group per table, so a
  * FileSourceScan yields a single split no matter how
  * `spark.sql.files.maxPartitionBytes` is tuned — and every map-side
  * operator above it (broadcast joins, partial aggregates, per-row UDFs)
  * then runs on one core of local[32]. Round-6 measurement: the theme
  * blob build (4 broadcast joins + partial collect_set over 600k rows)
  * spent ~1.5 s single-threaded behind exactly this.
  *
  * [[parallel]] inserts one round-robin repartition ONLY when the scan
  * is both SMALL (estimated ≤ [[MaxRepartitionBytes]]) and UNDER-SPLIT
  * (fewer splits than the session's default parallelism). The guards —
  * not a tuned constant — are what carry across scales: any realistic
  * at-scale input takes the no-op branch on size alone (and multi-split
  * tables on the split count too), while the single-row-group fixture
  * spreads its map work across cores for the price of shuffling the
  * projected scan columns once. Round-robin repartition is deterministic under
  * retries (sortBeforeRepartition, SPARK-23207) and every consumer in
  * this engine is order-insensitive past it (exact decimal/integer
  * aggregates, array_sort'ed collects, totally-ordered final sorts).
  */
object Scans {

  /** Inputs whose ESTIMATED size exceeds this are never repartitioned,
    * even when their split count is below the core count: a real table
    * compacted into a few large row groups should be fixed at the file
    * layout (guide §6), not by re-shuffling every projected row on
    * every query. Both guards no-op the helper at any realistic
    * at-scale input; only genuinely small, under-split fixtures pay
    * the one extra exchange. */
  val MaxRepartitionBytes: Long = 1L << 30

  private def smallAndUndersplit(df: DataFrame, target: Int): Boolean =
    df.queryExecution.optimizedPlan.stats.sizeInBytes <=
      BigInt(MaxRepartitionBytes) &&
      splits(df) < target

  /** The file relation under a projection, when its scan's splits
    * depend on the file listing alone (no partition columns to prune,
    * no buckets). */
  @annotation.tailrec
  private def fileRelation(p: LogicalPlan): Option[HadoopFsRelation] =
    p match {
      case Project(_, child) => fileRelation(child)
      case l: LogicalRelation => l.relation match {
        case fs: HadoopFsRelation
            if fs.partitionSchema.isEmpty && fs.bucketSpec.isEmpty => Some(fs)
        case _ => None
      }
      case _ => None
    }

  /** The scan's split count, computed the way `FileSourceScanExec` sizes
    * its read RDD — Spark's own `FilePartition.maxSplitBytes`, file
    * splitting and `getFilePartitions` over the relation's file index —
    * without planning the query (`df.rdd` plans it on the driver: 37-73
    * ms a call on the sf0.01 tables, this 3-8 ms). Any other plan shape
    * falls back to `df.rdd.getNumPartitions`. */
  private[util] def splits(df: DataFrame): Int =
    fileRelation(df.queryExecution.optimizedPlan)
      .fold(df.rdd.getNumPartitions) { fs =>
        val spark = fs.sparkSession
        val dirs = fs.location.listFiles(Nil, Nil)
        val maxSplit = FilePartition.maxSplitBytes(spark, dirs)
        val files = dirs.flatMap { d =>
          d.files.flatMap { f =>
            PartitionedFileUtil.splitFiles(f, f.getPath,
              fs.fileFormat.isSplitable(spark, fs.options, f.getPath),
              maxSplit, d.values)
          }
        }.sortBy(-_.length)
        FilePartition.getFilePartitions(spark, files, maxSplit).size
      }

  def parallel(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (smallAndUndersplit(df, target)) df.repartition(target) else df
  }

  /** [[parallel]] variant that hash-partitions on `keys` instead of
    * round-robin — when the downstream aggregation groups by (a superset
    * of) `keys`, the one repartition exchange ALSO satisfies the
    * aggregate's distribution requirement (broadcast joins propagate and
    * expand the streamed side's hash partitioning across join-key
    * equivalences), so the plan keeps ONE exchange where round-robin +
    * groupBy would pay two (guide §2.4: operations keyed the same way
    * share one exchange). Same guard, same no-op at real scale — where
    * the standard scan → partial-agg → exchange shape is the right one
    * because map-side combine shrinks the late shuffle. */
  def parallelBy(df: DataFrame,
      keys: org.apache.spark.sql.Column*): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (smallAndUndersplit(df, target)) df.repartition(target, keys: _*)
    else df
  }
}
