package graft.crawl

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Manifest round-trip properties the Jackson writer/reader must hold —
  * in particular under HOSTILE names (a counter named like a table, a
  * quote/bracket in a name), the class of inputs that silently corrupted
  * the former string-built + regex-parsed manifest — and that a round
  * whose write fails commits nothing.
  */
class SnapshotSpec extends SparkSpec {

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("snapspec").toString

  test("manifest round-trips counters whose names collide with table " +
      "names and contain JSON metacharacters") {
    val base = tmpDir()
    val snap = new Snapshot(base)
    val df = spark.range(5).toDF("v")
    // "results" is ALSO an appended-table name; the quote/bracket names
    // are raw JSON metacharacters — the regex parser mis-binds both
    val hostile = Map(
      "results" -> 7L,
      """quote"inside""" -> -3L,
      "bracket]name" -> 42L,
      "total_fetched" -> 9L)
    snap.begin(0).replace("frontier", df)
      .append("results", df).append("lineage", df).commit(hostile)
    assert(snap.counters(0) === hostile)
    assert(snap.appendPaths(0) ===
      Map("results" -> Seq(s"$base/round=0/results"),
        "lineage" -> Seq(s"$base/round=0/lineage")))
    assert(snap.read(0, "frontier").count() === 5)
    assert(snap.read(0, "results").count() === 5)
  }

  test("append slice-paths accumulate across rounds and readSlice stays " +
      "per-round") {
    val base = tmpDir()
    val snap = new Snapshot(base)
    val d1 = spark.range(3).toDF("v")
    val d2 = spark.range(4).toDF("v").withColumn("v", col("v") + 100)
    snap.begin(0).replace("seen", d1).append("results", d1)
      .commit(Map("round_fetched" -> 3L))
    snap.begin(1).replace("seen", d2).append("results", d2)
      .commit(Map("round_fetched" -> 4L))
    assert(snap.latest() === 1)
    assert(snap.read(1, "results").count() === 7) // union of both slices
    assert(snap.readSlice(1, "results").count() === 4)
    assert(snap.read(0, "results").count() === 3) // round-0 view unchanged
    assert(snap.counters(1) === Map("round_fetched" -> 4L))
  }

  test("a commit whose overlapped write fails throws and commits no " +
      "manifest; the retried round commits") {
    val base = tmpDir()
    val snap = new Snapshot(base)
    val good = spark.range(3).toDF("v")
    snap.begin(0).replace("seen", good).append("results", good)
      .commit(Map.empty)
    // fails in the write's own job, on the write's thread
    val failing = spark.range(0, 4, 1, 1).toDF("v")
      .withColumn("v", when(col("v") >= 0, raise_error(lit("injected")))
        .otherwise(col("v")))
    val attempt = snap.begin(1).replace("seen", good)
      .append("results", failing)
    val e = intercept[Exception](attempt.commit(Map("round_fetched" -> 4L)))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains("injected")), e)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$base/manifest_1.json")))
    assert(snap.latest() === 0)
    assert(snap.read(0, "results").count() === 3)
    val retry = spark.range(4).toDF("v").withColumn("v", col("v") + 100)
    snap.begin(1).replace("seen", good).append("results", retry)
      .commit(Map("round_fetched" -> 4L))
    assert(snap.latest() === 1)
    assert(snap.read(1, "results").count() === 7)
    assert(snap.readSlice(1, "results").count() === 4)
  }

  test("read/readSlice launch no Spark job and match an inferring read " +
      "row for row and schema for schema") {
    import spark.implicits._
    val base = tmpDir()
    val snap = new Snapshot(base)
    // non-nullable primitives, arrays of non-null elements, a timestamp:
    // the manifest schema must come back nullable exactly as inferred
    def slice(round: Int) = Seq(
      graft.model.CrawlResult(s"https://a.edu/$round", round.toLong, "a.edu",
        round, 1, "text", "en", Seq("u1", "u2"), Seq("l1"), 7L,
        Seq(1L, 2L), "en", 3),
      graft.model.CrawlResult(s"https://b.edu/$round", 10L + round, "b.edu",
        round, 2, "", "de", Nil, Nil, -1L, Nil, "de", 0)).toDS().toDF()
    val frontier = Seq(graft.model.FrontierEntry("https://a.edu/x", 5L,
      "a.edu", 1, new java.sql.Timestamp(1000L), 2, 0)).toDS().toDF()
    (0 to 1).foreach(r => snap.begin(r).replace("frontier", frontier)
      .append("results", slice(r)).commit(Map.empty))
    def same(got: org.apache.spark.sql.DataFrame, paths: String*) = {
      val want = spark.read.parquet(paths: _*)
      assert(got.schema === want.schema)
      assert(got.collect().map(_.toString).sorted ===
        want.collect().map(_.toString).sorted)
    }
    val (reads, jobs) = jobsOf(Seq(snap.read(1, "results"),
      snap.readSlice(1, "results"), snap.read(1, "frontier"),
      snap.read(0, "results")))
    assert(jobs === 0)
    same(reads(0), s"$base/round=0/results", s"$base/round=1/results")
    same(reads(1), s"$base/round=1/results")
    same(reads(2), s"$base/round=1/frontier")
    same(reads(3), s"$base/round=0/results")
    // the listener does see an inferring read's footer job
    assert(jobsOf(spark.read.parquet(s"$base/round=1/results"))._2 > 0)
  }
}
