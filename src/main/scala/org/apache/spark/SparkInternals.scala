package org.apache.spark

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.types.StructType

/** The two Spark-private calls the crawl engine needs. */
object SparkInternals {

  /** Free an RDD's cached blocks through `SparkContext.unpersistRDD`.
    * `RDD.unpersist` does the same but first logs a WARN for every
    * locally checkpointed RDD, the one kind `graft.util.Checkpoints`
    * ever releases. */
  def freeBlocks(rdd: RDD[_]): Unit =
    rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)

  /** The schema a parquet read infers for data written with `schema`:
    * Spark's own `asNullable`, applied to every file source it reads. */
  def asNullable(schema: StructType): StructType = schema.asNullable
}
