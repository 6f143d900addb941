package graft.util

import java.nio.file.{Files, Path, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SaveMode}
import graft.SparkSpec

class TablesSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private val tables = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private def tmp(): Path = Files.createTempDirectory("graft-tables")

  test("Tables.read returns the same schema and rows as an inferring " +
      "read; a repeated read runs no Spark job") {
    tables.foreach { t =>
      val p = s"$dir/$t.parquet"
      val (ref, inferJobs) = jobsOf(spark.read.parquet(p))
      assert(inferJobs >= 1, s"$t: the listener must see the inference job")
      val got = Tables.read(spark, p)
      assert(got.schema === ref.schema, t)
      assert(rows(got) === rows(ref), t)
      val (again, jobs) = jobsOf(Tables.read(spark, p))
      assert(jobs === 0, s"$t: a repeated read ran $jobs jobs")
      assert(again.schema === ref.schema, t)
    }
  }

  test("a table rewritten with another schema is inferred again: " +
      "directory and single file") {
    import spark.implicits._
    val d = tmp().resolve("t.parquet").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "name")
      .write.mode(SaveMode.Overwrite).parquet(d)
    assert(Tables.read(spark, d).columns.toSeq === Seq("id", "name"))
    Seq((2.5, 7)).toDF("score", "n").write.mode(SaveMode.Overwrite).parquet(d)
    val again = Tables.read(spark, d)
    assert(again.schema === spark.read.parquet(d).schema)
    assert(rows(again) === Seq("[2.5,7]"))

    // a single parquet file replaced in place, as the sf tables are laid out
    def partFile(df: DataFrame): Path = {
      val out = tmp().resolve("w")
      df.coalesce(1).write.parquet(out.toString)
      Files.list(out).filter(_.getFileName.toString.endsWith(".parquet"))
        .findFirst().get
    }
    val f = tmp().resolve("f.parquet")
    Files.copy(partFile(Seq((1L, "a")).toDF("id", "name")), f)
    assert(Tables.read(spark, f.toString).columns.toSeq === Seq("id", "name"))
    Files.copy(partFile(Seq(("x", 3.0, true)).toDF("k", "v", "flag")), f,
      StandardCopyOption.REPLACE_EXISTING)
    val replaced = Tables.read(spark, f.toString)
    assert(replaced.schema === spark.read.parquet(f.toString).schema)
    assert(rows(replaced) === Seq("[x,3.0,true]"))
  }

  test("Scans split count ≡ df.rdd.getNumPartitions: sf0.001 tables, a " +
      "multi-file directory, a small maxPartitionBytes") {
    val multi = tmp().resolve("multi").toString
    spark.range(0, 20000).selectExpr("id", "cast(id * 7 as string) AS s")
      .repartition(5).write.parquet(multi)
    val paths = tables.map(t => s"$dir/$t.parquet") :+ multi
    def check(): Unit = paths.foreach { p =>
      val df = Tables.read(spark, p)
      assert(Scans.splits(df) === df.rdd.getNumPartitions, p)
    }
    check()
    assert(Scans.splits(Tables.read(spark, multi)) > 1)
    val key = "spark.sql.files.maxPartitionBytes"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, "16384")
    try {
      check()
      assert(Scans.splits(Tables.read(spark, s"$dir/lineitem.parquet")) > 1)
    } finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
