package graft

import org.apache.spark.sql.SparkSession
import graft.corpus.Synth
import graft.crawl.{Crawler, Snapshot}

/** Crawl-engine entry point (spark-submit surface).
  *
  * Synthesizes the pages corpus at the given scale, runs the frontier
  * loop to exhaustion (or maxRounds), and prints one JSON line with
  * throughput — the north-star metric "frontier URLs processed/sec
  * (fetch + dedup + skill-extract)".
  *
  * Usage: graft.CrawlMain [nHosts] [basePages] [maxRounds] [snapshotDir|-] [roundMs] [richness]
  * Env:   SPARK_GRAFT_CPUS (default: every core) — local[N] parallelism; the
  *        N-vs-4N scaling evidence for BASELINE.md runs this main at
  *        two values on the same input.
  *        GRAFT_BLOOM=1 — route the seen-set through the co-partitioned
  *        Bloom-shard prefilter (the north-rule component; output is
  *        CrawlerSpec-proven identical to the exact path).
  *        GRAFT_BUCKETED=1 — very-large-budget fetch shape: partition +
  *        cache the corpus on `url` once, then fetch-join WITHOUT the
  *        broadcast hint so each round shuffles only the selected set
  *        (the corpus is still never shuffled; PlanSpec-asserted).
  */
object CrawlMain {
  def main(args: Array[String]): Unit = {
    val nHosts = if (args.length > 0) args(0).toInt else 50
    val basePages = if (args.length > 1) args(1).toInt else 16
    val maxRounds = if (args.length > 2) args(2).toInt else 200
    val snapDir = if (args.length > 3 && args(3) != "-") Some(args(3)) else None
    val roundMs = if (args.length > 4) args(4).toLong else 4000L
    val richness = if (args.length > 5) args(5).toInt else 1
    val cpus = SparkTune.cpus
    implicit val spark: SparkSession = SparkTune.session(s"local[$cpus]", cpus)

    val bucketed = sys.env.get("GRAFT_BUCKETED").contains("1")
    val pages0 = Synth.pages(spark, nHosts, basePages, richness).toDF()
    val pages = (if (bucketed) Crawler.bucketCorpus(pages0, cpus)
      else pages0).cache()
    val corpusSize = pages.count() // materialize before timing the crawl
    val robots = Synth.robots(spark, nHosts)
    val seeds = Synth.seeds(spark, nHosts)
    val dict = Synth.escoLabels().map(l => (l.concept_uri, l.preferred_label))

    val snap = snapDir.map(d => new Snapshot(d))
    val bloom = sys.env.get("GRAFT_BLOOM").contains("1")
    val t0 = System.nanoTime()
    val (state, results, lineage) = Crawler.crawl(pages, robots, seeds,
      dict, maxRounds = maxRounds, roundMs = roundMs, snapshot = snap,
      bloomPrefilter = bloom, bloomCopartition = bloom,
      bloomParams = graft.seen.BloomShard.scaleParams,
      bucketedFetch = bucketed)
    val fetched = state.totalFetched
    val skillHits = results.selectExpr("sum(size(skill_uris))")
      .head.getLong(0)
    val secs = (System.nanoTime() - t0) / 1e9
    val rounds = state.round
    val _ = lineage
    println(
      s"""{"metric":"frontier_urls_per_sec","value":${fetched / secs},""" +
      s""""unit":"urls/sec","fetched":$fetched,"corpus":$corpusSize,""" +
      s""""rounds":$rounds,"skill_hits":$skillHits,"seconds":$secs,""" +
      s""""cpus":$cpus}""")
    spark.stop()
  }
}
