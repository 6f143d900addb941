package graft.util

import java.util.concurrent.ConcurrentHashMap
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Parquet table reads with a stored schema.
  *
  * `spark.read.parquet(path)` infers the schema on every call: a
  * one-task Spark job that reads the footers (83-131 ms per sf0.01
  * table on a 4-vCPU VM). A read handed its schema runs no job
  * (14-38 ms), which is how `crawl.Snapshot` reads the tables its
  * manifest describes. [[read]] infers a table's schema once per file
  * identity — the qualified path and the name, length and modification
  * time of every file under it — and reads with `spark.read.schema(...)`
  * from then on: the stored-schema read an Iceberg-style table gives. A
  * replaced or rewritten file changes the identity and is inferred
  * again. The schema is exactly what inference returned, so the read
  * yields the same columns, types and rows.
  */
object Tables {

  private final case class Stored(files: Seq[(String, Long, Long)],
      schema: StructType)

  /** Keyed by qualified path; a path holds the schema of its newest
    * identity only. */
  private val stored = new ConcurrentHashMap[String, Stored]()

  def read(spark: SparkSession, path: String): DataFrame = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = fs.makeQualified(p).toString
    val files =
      if (!fs.exists(p)) Nil
      else {
        val it = fs.listFiles(p, true)
        Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
          .map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
          .toSeq.sorted
      }
    // a missing or empty path takes the inferring read and its errors
    if (files.isEmpty) spark.read.parquet(path)
    else {
      val schema = Option(stored.get(root)).filter(_.files == files)
        .fold {
          val inferred = spark.read.parquet(path).schema
          stored.put(root, Stored(files, inferred))
          inferred
        }(_.schema)
      spark.read.schema(schema).parquet(path)
    }
  }
}
