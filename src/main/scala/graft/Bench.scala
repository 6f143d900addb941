package graft

import org.apache.spark.sql.SparkSession
import graft.corpus.Synth
import graft.crawl.Crawler

/** Benchmark main (driver contract): times every SparkEntry query on
  * SPARK_GRAFT_SF_DIR at local[$SPARK_GRAFT_CPUS] (default: every core),
  * plus the crawl-engine throughput on a synthesized corpus, and prints
  * ONE JSON line.
  *
  * Noise protocol (round 4 — this host shows documented 3-4× swings
  * between identically-configured runs, and BENCH_r03 could not
  * distinguish engine regression from host weather): one cold pass
  * (Catalyst/janino/JIT warmup included — comparable to earlier rounds),
  * then THREE warm passes run back-to-back and INTERLEAVED at the query
  * level (pass = the full query list in order, so a host stall hits one
  * pass of many queries, not every rep of one query); the reported warm
  * number per query is the median of its three warm reps, and every
  * pass's wall-clock start timestamp is recorded so a slow rep can be
  * correlated with host events after the fact. The session cache manager
  * and the theme-page memo are cleared BETWEEN passes: each pass pays
  * every query's real cost exactly once (no cross-pass result reuse, no
  * storage-memory accumulation — the r03 warm-worse-than-cold signature
  * was cache-laden-heap GC churn).
  *
  * q_neardup_tokens is excluded from the timing loop: it is the exact
  * (oracle-gated) quadratic variant of near-dup detection — its scalable
  * twin q_dedup_minhash IS timed. Everything else runs as-is.
  */
object Bench {

  def runQueries(spark: SparkSession, sfDir: String): Map[String, Double] = {
    val skip = Set("q_neardup_tokens")
    SparkEntry.queries.toSeq.sortBy(_._1).collect {
      case (name, fn) if !skip.contains(name) =>
        val t0 = System.nanoTime()
        val ok = try { fn(spark, sfDir).count(); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            false }
        name -> (if (ok) (System.nanoTime() - t0) / 1e9 else -1.0)
    }.toMap
  }

  /** Drop everything a pass may have left behind so the next pass starts
    * from the same state (see the noise protocol above). */
  private def resetPassState(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    graft.analytics.FuzzyQueries.clearThemeMemo()
  }

  private def median(xs: Seq[Double]): Double = {
    val ok = xs.filter(_ >= 0).sorted
    if (ok.isEmpty) -1.0
    else if (ok.size % 2 == 1) ok(ok.size / 2)
    else (ok(ok.size / 2 - 1) + ok(ok.size / 2)) / 2.0
  }

  /** The crawl legs' synthesized corpus (`Synth.pages` arguments). */
  private val CrawlHosts = 200
  private val CrawlBasePages = 24
  private val CrawlRichness = 10

  /** Crawl throughput: fetch+dedup+extract urls/sec on a synthesized
    * corpus (200 hosts, skewed; 4,487 pages fetched) — the north-star
    * metric at sandbox scale.
    *
    * CONTRACT: this method ends by clearing the session's ENTIRE cache
    * manager (in-memory crawls retain each round's enriched cache as its
    * result slice, and those caches are reachable only through the
    * returned state) — any caller-held cached relations are dropped too.
    * `main` runs the crawl legs after all query passes. */
  private def runCrawl(spark: SparkSession, bloom: Boolean): (Long, Double) = {
    implicit val s: SparkSession = spark
    val pages = Synth.pages(spark, CrawlHosts, CrawlBasePages, CrawlRichness)
      .toDF().cache()
    pages.count() // materialize corpus outside the timed window
    val robots = Synth.robots(spark, CrawlHosts)
    val seeds = Synth.seeds(spark, CrawlHosts)
    val dict = Synth.escoLabels().map(l => (l.concept_uri, l.preferred_label))
    val t0 = System.nanoTime()
    val (state, _, _) = Crawler.crawl(pages, robots, seeds, dict,
      maxRounds = 60, roundMs = 60000L,
      bloomPrefilter = bloom, bloomCopartition = bloom,
      // benchmark Bloom legs run the filter at its scaling size (2 MiB —
      // ≥20 bits/key up to the 832k corpus) so the maybe-rate, and with
      // it the exact-verify join's left side, matches the design point
      // rather than the spec fixtures' deliberately tiny test filter
      bloomParams = graft.seen.BloomShard.scaleParams,
      // throughput legs never read the results: consume-and-release mode
      // keeps disk scratch at one round's working set (a retained slice
      // cache pins every shuffle file beneath its lineage — at the 3.3M
      // corpus that accumulated ~80 GB and killed the leg with ENOSPC)
      retainResults = false)
    val elapsed = (System.nanoTime() - t0) / 1e9
    pages.unpersist()
    // in-memory crawls retain each round's enriched cache as its result
    // slice — drop them (and anything else) between repetitions so
    // back-to-back crawls in one session don't accumulate storage
    spark.sharedState.cacheManager.clearCache()
    // the FINAL round's frontier / seen set / Bloom shards are
    // localCheckpoint blocks OUTSIDE the cache manager (the whole premise
    // of Checkpoints.release) — without this, every rep of every leg
    // leaks them for the life of the session, the same slow heap
    // accumulation the warm-pass protocol exists to remove. Safe here
    // because the enriched caches (the other reader of those plans) were
    // just dropped above.
    graft.util.Checkpoints.release(state.frontier)
    graft.util.Checkpoints.release(state.seenHashes)
    state.seenShards.foreach(graft.util.Checkpoints.release)
    (state.totalFetched, elapsed)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = SparkTune.cpus
    val spark = SparkTune.session(s"local[$cpus]", cpus)

    // cold pass, then 3 interleaved warm passes (median reported) — see
    // the noise protocol in the class scaladoc
    val WarmReps = sys.env.get("GRAFT_BENCH_REPS").map(_.toInt).getOrElse(3)
    val t0wall = System.currentTimeMillis()
    val results = runQueries(spark, sfDir)
    val warmPasses = (1 to WarmReps).map { _ =>
      resetPassState(spark)
      val ts = System.currentTimeMillis()
      (ts, runQueries(spark, sfDir))
    }
    val names = results.keySet
    val warm = names.map { n =>
      n -> median(warmPasses.map(_._2.getOrElse(n, -1.0)))
    }.toMap
    resetPassState(spark)
    // crawl legs: exact seen-set path vs the co-partitioned Bloom-shard
    // path (the component the north rule names — CrawlerSpec proves
    // output equality; this leg provides its timed evidence). Noise
    // protocol (round 5): the reps are INTERLEAVED (E,B,E,B,…) and each
    // leg's wall-clock start is recorded — BENCH_r04's sequential
    // min-of-2 let one host stall land entirely on the exact legs and
    // recorded an inverted ordering (Bloom "faster" at a corpus size
    // where the shard build dominates); with interleaving a stall hits
    // one rep of EACH path, and best-of-per-path rejects it. Timestamps
    // let a slow rep be correlated with host events after the fact.
    val CrawlReps = sys.env.get("GRAFT_CRAWL_REPS").map(_.toInt).getOrElse(2)
    val crawlLegs = (1 to CrawlReps).flatMap { _ =>
      Seq(false, true).map { bloom =>
        val ts = System.currentTimeMillis()
        val (n, secs) = runCrawl(spark, bloom = bloom)
        (bloom, ts, n, secs)
      }
    }
    def best(bloom: Boolean): (Long, Double) = crawlLegs
      .collect { case (b, _, n, s) if b == bloom => (n, s) }
      .minBy(r => r._2 / r._1)
    val (fetched, crawlSecs) = best(bloom = false)
    val crawlRate = fetched / crawlSecs
    val (fetchedB, crawlSecsB) = best(bloom = true)
    val crawlRateB = fetchedB / crawlSecsB

    // locale-pinned %.3f: the f"" interpolator uses the JVM default
    // locale, and a comma decimal separator would break the one-JSON-line
    // contract (every other number is locale-independent Double.toString)
    def f3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def fmt(m: Map[String, Double]): String = m.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + f3(v) }
      .mkString("{", ",", "}")
    val total = results.values.filter(_ >= 0).sum + crawlSecs
    val warmTotal = warm.values.filter(_ >= 0).sum
    val passTs = warmPasses.map(_._1).mkString("[", ",", "]")
    val passTotals = warmPasses
      .map(p => f3(p._2.values.filter(_ >= 0).sum))
      .mkString("[", ",", "]")
    println(s"""{"metric":"total","value":$total,"unit":"sec",""" +
      s""""queries":${fmt(results)},"queries_warm":${fmt(warm)},""" +
      s""""warm_total":$warmTotal,"warm_reps":$WarmReps,""" +
      s""""warm_pass_totals":$passTotals,"warm_pass_ts":$passTs,""" +
      s""""t_start_ms":$t0wall,"crawl_urls_per_sec":$crawlRate,""" +
      s""""crawl_fetched":$fetched,"crawl_secs":$crawlSecs,""" +
      s""""crawl_bloom_urls_per_sec":$crawlRateB,""" +
      s""""crawl_bloom_fetched":$fetchedB,"crawl_bloom_secs":$crawlSecsB,""" +
      s""""crawl_legs":[""" + crawlLegs.map { case (b, ts, n, secs) =>
        s"""{"path":"${if (b) "bloom" else "exact"}","t_start_ms":$ts,""" +
        s""""fetched":$n,"secs":${f3(secs)}}""" }.mkString(",") + "]," +
      s""""sf":"$sfDir"}""")
    spark.stop()
  }
}
