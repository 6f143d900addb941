package graft.sources

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import graft.SparkSpec

class SourcesSpec extends SparkSpec {

  private def tmpDir(): String =
    Files.createTempDirectory("graft-src").toString

  test("jsonDir: good rows parse, corrupt rows go to the side channel") {
    val dir = tmpDir()
    Files.writeString(Paths.get(s"$dir/a.json"),
      """{"lesson": "Algebra", "ects": 6}""")
    Files.writeString(Paths.get(s"$dir/b.json"),
      """{"lesson": "Databases", "ects": 5}""")
    Files.writeString(Paths.get(s"$dir/c.json"),
      """{"lesson": "Broken""")
    val (good, corrupt) = Sources.jsonDir(spark, dir, multiLine = false)
    assert(good.count() === 2)
    assert(good.select("lesson").collect().map(_.getString(0)).sorted
      .toSeq === Seq("Algebra", "Databases"))
    assert(corrupt.count() === 1)
    // cache lifecycle: an import-time source must not leak cached plans
    // (each call used to leave one parsed-JSON DataFrame cached forever)
    assert(spark.sharedState.cacheManager.isEmpty,
      "jsonDir leaked a cached plan")
  }

  test("cleanCsv: header aliases + quote stripping (ESCO header variants)") {
    val dir = tmpDir()
    Files.writeString(Paths.get(s"$dir/skills.csv"),
      "conceptUri,preferredLabel,skillType\n" +
      "\"http://esco/s1\",\" machine learning \",knowledge\n" +
      "http://esco/s2,databases,skill/competence\n")
    val labels = Sources.escoFromCsv(spark, s"$dir/skills.csv")
    assert(labels.toSet === Set(
      ("http://esco/s1", "machine learning"),
      ("http://esco/s2", "databases")))
  }

  test("upsertMergeCategories: set-union arrays on key conflict, " +
      "batch-split insensitive") {
    import spark.implicits._
    val existing = Seq(
      (1L, 10L, Seq("description", "objectives")),
      (2L, 10L, Seq("description"))).toDF("course", "skill", "categories")
    val incoming = Seq(
      (1L, 10L, Seq("objectives", "exam")),
      (3L, 11L, Seq("content"))).toDF("course", "skill", "categories")
    val out = Sources.upsertMergeCategories(existing, incoming,
        Seq("course", "skill"), "categories")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getSeq[String](2))).toSet
    assert(out === Set(
      (1L, 10L, Seq("description", "exam", "objectives")), // sorted union
      (2L, 10L, Seq("description")),
      (3L, 11L, Seq("content"))))
    // associativity: merging (existing, incoming) ≡ one global merge
    val oneShot = Sources.upsertMergeCategories(
      existing.unionByName(incoming), spark.emptyDataFrame
        .sparkSession.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          existing.schema),
      Seq("course", "skill"), "categories")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getSeq[String](2))).toSet
    assert(oneShot === out)
  }

  test("countryOfHost: TLD map in order, special cases, Unknown") {
    import spark.implicits._
    val got = Seq("www.rug.nl", "uni-bonn.example", "portal.auth.gr.example",
        "www.univ.fr", "something.example", "college.ac.uk")
      .toDF("host")
      .select(col("host"), graft.url.Geo.countryOfHost(col("host")))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got("www.rug.nl") === "Netherlands") // map hit before special
    assert(got("uni-bonn.example") === "Germany") // special case
    assert(got("portal.auth.gr.example") === "Greece")
    assert(got("www.univ.fr") === "France")
    assert(got("something.example") === "Unknown")
    assert(got("college.ac.uk") === "United Kingdom")
  }

  test("partitioned sink + csv export roundtrip") {
    import spark.implicits._
    val df = Seq(("u1", "Algebra", 6), ("u1", "Calculus", 5),
      ("u2", "Databases", 4)).toDF("university", "lesson", "ects")
    val pDir = tmpDir()
    Sources.writePartitioned(df, s"$pDir/p", "university")
    val back = spark.read.parquet(s"$pDir/p")
    assert(back.count() === 3)
    assert(back.filter(col("university") === "u1").count() === 2)
    Sources.exportCsv(df, s"$pDir/csv")
    val csv = spark.read.option("header", "true").csv(s"$pDir/csv")
    assert(csv.count() === 3)
    assert(csv.columns.toSet === Set("university", "lesson", "ects"))
  }
}
