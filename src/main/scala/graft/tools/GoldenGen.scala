package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import graft.corpus.Synth
import graft.crawl.Crawler

/** One-shot generator for the golden crawl-semantics fixtures
  * (FIXTURES.md §B): runs the deterministic crawl on the small fixture
  * corpus (4 hosts × base 6, seed fixed) and dumps:
  *   golden_crawl_order.json  — url → round (the deterministic schedule)
  *   golden_seen_set.json     — sorted fetched urls (final seen membership)
  *   golden_skills_by_url.json— url → sorted skill labels
  *   golden_top_skills.json   — global top-10 (label, freq), ordered
  *
  * Regenerate ONLY when crawl semantics intentionally change:
  *   sbt "runMain graft.tools.GoldenGen src/test/resources"
  * GoldenSpec compares a fresh crawl against these files byte-for-byte.
  */
object GoldenGen {
  val NHosts = 4
  val Base = 6
  val MaxRounds = 30
  val RoundMs = 4000L

  def main(args: Array[String]): Unit = {
    val outDir = if (args.nonEmpty) args(0) else "src/test/resources"
    implicit val spark: SparkSession = graft.SparkTune.session("local[4]", 4)

    val pages = Synth.pages(spark, NHosts, Base).toDF().cache()
    val robots = Synth.robots(spark, NHosts)
    val seeds = Synth.seeds(spark, NHosts)
    val dict = Synth.escoLabels().map(l => (l.concept_uri, l.preferred_label))
    val (_, results, _) = Crawler.crawl(pages, robots, seeds, dict,
      maxRounds = MaxRounds, roundMs = RoundMs)
    val rows = results.collect()

    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    def writeJson(name: String, body: String): Unit =
      Files.write(Paths.get(s"$outDir/$name"),
        body.getBytes(StandardCharsets.UTF_8))

    val order = rows.sortBy(_.url)
      .map(r => s""""${esc(r.url)}": ${r.round}""")
      .mkString("{\n", ",\n", "\n}")
    writeJson("golden_crawl_order.json", order)

    val seen = rows.map(_.url).sorted
      .map(u => s""""${esc(u)}"""").mkString("[\n", ",\n", "\n]")
    writeJson("golden_seen_set.json", seen)

    val skills = rows.sortBy(_.url).map { r =>
      s""""${esc(r.url)}": [${r.skill_labels.map(l => s""""${esc(l)}"""").mkString(",")}]"""
    }.mkString("{\n", ",\n", "\n}")
    writeJson("golden_skills_by_url.json", skills)

    val top = rows.flatMap(_.skill_labels)
      .groupBy(identity).view.mapValues(_.length).toSeq
      .sortBy { case (l, n) => (-n, l) }.take(10)
      .map { case (l, n) => s"""["${esc(l)}", $n]""" }
      .mkString("[\n", ",\n", "\n]")
    writeJson("golden_top_skills.json", top)

    println(s"wrote 4 golden fixtures to $outDir (${rows.length} results)")
    spark.stop()
  }
}
