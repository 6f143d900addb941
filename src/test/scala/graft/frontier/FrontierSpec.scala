package graft.frontier

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.corpus.Synth
import graft.model.{FrontierEntry, RobotsRule}

class FrontierSpec extends SparkSpec {

  private def entries(rows: Seq[(String, Int, Long, Int)]) = {
    import spark.implicits._
    rows.map { case (url, prio, ts, depth) =>
      FrontierEntry(url, graft.url.Canonical.hash64(url),
        graft.url.Canonical.host(url), prio,
        new java.sql.Timestamp(ts), depth, 0)
    }.toDS()
  }

  test("selectRound: per-host budget cap + (priority desc, warc_ts, url) order") {
    import spark.implicits._
    val f = entries(Seq(
      ("https://a.edu/p1", 0, 3000L, 1),
      ("https://a.edu/p2", 1, 2000L, 1),
      ("https://a.edu/p3", 1, 1000L, 1),
      ("https://a.edu/p4", 0, 500L, 1),
      ("https://b.edu/q1", 0, 100L, 1),
      ("https://b.edu/q2", 1, 200L, 1)))
    // crawl_delay 2000ms, round 4000ms → budget 2 per host
    val robots = Seq(RobotsRule("a.edu", Nil, 2000),
      RobotsRule("b.edu", Nil, 2000)).toDS()
    val (sel, deferred, _) = Frontier.selectRound(f, robots, 4000L)
    val a = sel.filter(col("host") === "a.edu").collect()
      .sortBy(e => (-e.priority, e.warc_ts.getTime, e.url)).map(_.url)
    // priority-1 rows win; among them earlier warc_ts first
    assert(a.toSeq === Seq("https://a.edu/p3", "https://a.edu/p2"))
    assert(sel.filter(col("host") === "b.edu").count() === 2)
    assert(deferred.count() === 2)
    assert(deferred.collect().forall(_.priority === 0))
  }

  test("selectRound: unknown host defaults to budget 1") {
    import spark.implicits._
    val f = entries(Seq(
      ("https://c.edu/x1", 0, 1L, 0), ("https://c.edu/x2", 0, 2L, 0)))
    val robots = spark.emptyDataset[RobotsRule]
    val (sel, _, _) = Frontier.selectRound(f, robots, 4000L)
    assert(sel.count() === 1)
  }

  test("robotsGate drops disallowed prefixes only for their host") {
    import spark.implicits._
    val f = entries(Seq(
      ("https://a.edu/private/doc1", 1, 1L, 0),
      ("https://a.edu/courses/p1", 1, 1L, 0),
      ("https://b.edu/private/doc2", 1, 1L, 0)))
    val robots = Seq(RobotsRule("a.edu", Seq("/private/"), 100)).toDS()
    val kept = Frontier.robotsGate(f, robots).collect().map(_.url).toSet
    assert(kept === Set("https://a.edu/courses/p1",
      "https://b.edu/private/doc2"))
  }

  test("merge dedups on url_hash, keeping lowest depth") {
    import spark.implicits._
    val a = entries(Seq(("https://a.edu/p", 0, 1L, 3)))
    val b = entries(Seq(("https://a.edu/p", 0, 1L, 1),
      ("https://a.edu/q", 0, 1L, 2)))
    val m = Frontier.merge(a, b).collect()
    assert(m.length === 2)
    assert(m.find(_.url == "https://a.edu/p").get.depth === 1)
  }

  test("priority/exclude gates mirror the keyword lists") {
    import spark.implicits._
    val df = Seq(
      ("https://a.edu/courses/p1", 1), // priority keyword
      ("https://a.edu/news/item2", 0),
      ("https://a.edu/alumni/x", -1) // excluded → dropped
    ).toDF("url", "expected")
      .withColumn("warc_ts", lit(new java.sql.Timestamp(0L)))
      .withColumn("depth", lit(0))
    val out = Frontier.fromUrls(df, Synth.priorityKeywords,
      Synth.excludeKeywords).collect()
    assert(out.length === 2)
    assert(out.find(_.url.contains("courses")).get.priority === 1)
    assert(out.find(_.url.contains("news")).get.priority === 0)
  }

  test("keyword predicates equal Spark's lower(url).contains(k) on urls " +
      "with ASCII, Latin-1, Greek and Turkish letters") {
    import java.util.Locale
    import org.scalacheck.{Gen, Prop, Test}
    import spark.implicits._
    // the crawl's keyword lists, and keywords whose letters lowercase
    // into or out of ASCII. Not σ or ς: Java and ICU place the final
    // sigma differently in some contexts ("AΣ-b" lowers to "aς-b" in
    // Java, "aσ-b" in Spark), which no keyword without them can see.
    val lists = Seq(Synth.priorityKeywords, Synth.excludeKeywords,
      Seq("i", "k", "i\u0307", "ı", "ß", "ss", "é"))
    val keywords = lists.flatten
    // keywords in any case (Turkish upper case: İ for i), and runs of
    // letters whose lowercase depends on context (final sigma), locale
    // (I, İ) or is not one char (İ → i + U+0307; the Kelvin sign → k)
    val letter = Gen.oneOf(('a' to 'z') ++ ('A' to 'Z') ++ "0123456789/.:-?=_" ++
      "ÀÉÍÖÜßàéíöüÿ" ++ "ΣσςΑΩαω" ++ "İıIi\u212A")
    val word = Gen.oneOf(
      Gen.oneOf(keywords).flatMap(k => Gen.oneOf(k, k.toUpperCase(Locale.ROOT),
        k.toUpperCase(Locale.forLanguageTag("tr")), k.capitalize)),
      Gen.stringOf(letter))
    val url = Gen.listOf(word).map(ws => "https://" + ws.mkString)
    val prop = Prop.forAll(Gen.listOfN(64, url)) { urls =>
      val low = lower(col("url"))
      val perKeyword = keywords.map(k => low.contains(k))
      val perList = lists.map(ks => ks.map(k => low.contains(k)).reduce(_ || _))
      val rows = urls.toDF("url").select(col("url") +: (perKeyword ++
          perList ++ Seq(Frontier.priorityCol(col("url"), lists(0)),
            Frontier.excludedCol(col("url"), lists(1)))): _*)
        .collect()
      rows.forall { r =>
        val u = r.getString(0)
        val n = keywords.size
        keywords.indices.forall(i =>
          r.getBoolean(1 + i) == Frontier.containsAny(Seq(keywords(i)))(u)) &&
        lists.indices.forall(i =>
          r.getBoolean(1 + n + i) == Frontier.containsAny(lists(i))(u)) &&
        r.getInt(1 + n + lists.size) == (if (r.getBoolean(1 + n)) 1 else 0) &&
        r.getBoolean(2 + n + lists.size) == r.getBoolean(2 + n)
      }
    }
    val res = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(res.passed, res)
  }
}
