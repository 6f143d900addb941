package graft

import java.nio.file.Files
import graft.corpus.Synth
import graft.crawl.{Crawler, Snapshot}

/** CI guard on Spark's generated-class cache (`SparkTune.conf`): warm
  * query passes and a steady crawl round run classes this JVM has
  * already compiled, bar a rare plan variant (below). With the cache at
  * Spark's default (100 entries) both recompiled most classes. */
class CodegenCacheSpec extends SparkSpec {

  /** Janino compiles `body` runs. The session comes first: Spark sizes
    * its cache from the active session when its code generator loads. */
  private def compilesOf[T](body: => T): (T, Long) = {
    spark.sparkContext
    val before = Prof.codegen()._1
    val v = body
    (v, Prof.codegen()._1 - before)
  }

  /** The 8 queries perfbench's untraced queries-sf0.01 run times. */
  private val Measured = Seq("q_theme_grouped", "q_kmeans_clusters",
    "q_dedup_clusters", "q_join_chain6", "q_events_running", "q_rank_score",
    "q_join_left", "q_area_coverage")

  /** Janino compiles two warm passes of the queries may run together
    * (the former cache size: 227 + 227; 24 while AQE's stage numbers
    * were part of the class names, before `SparkTune.conf` set
    * `spark.sql.codegen.useIdInClassName=false`). Not 0: q_theme_grouped
    * sometimes runs a plan variant the cold pass did not, and compiles
    * its 5 classes once. Measured at local[4] over 56 warm passes in 4
    * JVMs: 5 in one pass per JVM at most, 0 in every other. */
  private val WarmCompiles = 5

  /** Janino compiles a steady crawl round below may run: measured 2 at
    * local[4] and local[1] (the former cache size: 109). */
  private val CompilesPerSteadyRound = 10

  test("warm passes of the measured queries compile at most their bound") {
    val dir = "/root/testdata/sf0.001"
    // a pass starts from the state perfbench gives it: no cached
    // relation, no memoized theme page
    def pass(): Unit = Measured.foreach { name =>
      spark.sharedState.cacheManager.clearCache()
      graft.analytics.FuzzyQueries.clearThemeMemo()
      SparkEntry.queries(name)(spark, dir).collect()
    }
    val (_, cold) = compilesOf(pass())
    val warm = Seq.fill(2)(compilesOf(pass())._2)
    info(s"cold pass: $cold compiles, warm passes: ${warm.mkString(", ")}")
    assert(warm.sum <= WarmCompiles,
      s"the warm passes compiled ${warm.mkString(" + ")} classes, " +
        s"bound $WarmCompiles")
  }

  test("a steady snapshot + co-partitioned-Bloom crawl round compiles at " +
      "most its bound") {
    val nHosts = 6
    val pages = Synth.pages(spark, nHosts, 6).toDF().cache()
    pages.count()
    val robots = Synth.robots(spark, nHosts)
    val seeds = Synth.seeds(spark, nHosts)
    val dict = Synth.escoLabels().map(l => (l.concept_uri, l.preferred_label))
    val snap = new Snapshot(
      Files.createTempDirectory("graft-codegen").toString)(spark)
    // round 0, then one resumed round, then the measured round: a resume
    // like the one before it, so every plan shape has run once
    def crawlTo(rounds: Int) = Crawler.crawl(pages, robots, seeds, dict,
      maxRounds = rounds, roundMs = 4000L, snapshot = Some(snap),
      bloomPrefilter = true, bloomCopartition = true,
      retainResults = false)(spark)._1
    val (_, first) = compilesOf(crawlTo(1))
    val (before, resume) = compilesOf(crawlTo(2))
    val (after, compiles) = compilesOf(crawlTo(3))
    pages.unpersist()
    assert(after.round === 3)
    assert(after.totalFetched > before.totalFetched, "round 2 fetched nothing")
    info(s"round 0: $first compiles, resumed round 1: $resume, " +
      s"steady round 2: $compiles")
    assert(compiles <= CompilesPerSteadyRound,
      s"the steady round compiled $compiles classes, " +
        s"bound $CompilesPerSteadyRound")
  }
}
