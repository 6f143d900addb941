package graft

import org.apache.spark.sql.functions._
import graft.corpus.Synth
import graft.crawl.Round
import graft.extract.{EscoMatcher, TextExtract}
import graft.frontier.Frontier

/** Per-COMPONENT N-vs-4N scaling census.
  *
  * ScalingBench measures the crawl loop's composite scaling efficiency;
  * BASELINE.md's residual decomposition then ARGUES which term caps it
  * (shared DRAM bus, per-node GC, driver serial work). This tool turns
  * that argument into a measurement: it times each class of work the
  * round actually does — pure per-row CPU, the bandwidth-bound corpus
  * probe scan, the one-exchange budget window, the map-side-combining
  * hash merge — in isolation, at one parallelism level per process
  * (identical protocol + session to ScalingBench: warmup rep, best-of-N,
  * fresh JVM per leg). Running the same legs at 8 and 32 cores yields a
  * per-component efficiency table: the composite crawl efficiency should
  * land between the best- and worst-scaling components, and the
  * worst-scaling component IS the sandbox's bottleneck term.
  *
  * Components mirror the round's real work (crawl/Round.scala):
  *  - extract_cpu: the exact enrichment pipeline of Round.run — single
  *    parse extractTextAndLinks + ESCO matcher + tokenize-once
  *    `Round.signatures` (Round.run step 4) over every corpus page. No
  *    exchange; pure per-row CPU + allocation.
  *  - corpus_probe: the fetch-join shape (Round.run step 3) — a
  *    budget-sized selected set broadcast against the cached corpus,
  *    html projected, length-aggregated. Columnar-cache decompression +
  *    memory bandwidth; the term the round-4 decomposition blames for
  *    the shared-bus ceiling.
  *  - frontier_window: the politeness budget selection
  *    (Frontier.selectRound) over a full-corpus frontier — one
  *    hash exchange on host + per-host sort + row_number.
  *  - hash_merge: the frontier merge (Frontier.merge) of two
  *    full-corpus frontiers — union + groupBy(url_hash).agg(min(struct))
  *    with map-side partial aggregation; the anti-join/dedup exchange
  *    class.
  *
  * args: [cores] [nHosts] [basePages] [richness] — same corpus knobs as
  * ScalingBench so census legs and crawl legs describe the same input.
  * Prints one JSON line per component.
  */
object ScalingCensus {

  def main(args: Array[String]): Unit = {
    val cores = if (args.length > 0) args(0).toInt else 32
    val nHosts = if (args.length > 1) args(1).toInt else 1000
    val basePages = if (args.length > 2) args(2).toInt else 256
    val richness = if (args.length > 3) args(3).toInt else 30
    val reps = sys.env.get("GRAFT_REPS").map(_.toInt).getOrElse(3)

    val spark = ScalingBench.session(cores)
    import spark.implicits._

    // ---- untimed setup: corpus + frontier + dict, cached + materialized
    val pages = Synth.pages(spark, nHosts, basePages, richness).toDF().cache()
    val nPages = pages.count()
    val frontier = Frontier.fromUrls(
        pages.select(col("url"), col("warc_ts"), lit(0L).as("depth")),
        Synth.priorityKeywords, Synth.excludeKeywords)(spark)
      .toDF().cache()
    val nFrontier = frontier.count()
    val robots = Synth.robots(spark, nHosts)
    val dict = EscoMatcher.broadcastDict(spark,
      Synth.escoLabels().map(l => (l.concept_uri, l.preferred_label)))

    // the enrichment expressions of Round.run's step 4
    val matchUris = EscoMatcher.matcherUdf(dict)

    def extractCpu(): Long = pages
      .select(col("url"), col("html"))
      .withColumn("ex", TextExtract.extractTextAndLinks(col("html")))
      .select(col("ex._1").as("text"), col("ex._2").as("links"))
      .withColumn("skill_uris", matchUris(col("text")))
      .withColumn("sig", Round.signatures(col("text")))
      // aggregate over every derived column so nothing prunes away
      .select((length(col("text")) + size(col("links")) +
        size(col("skill_uris")) + col("sig._4")).as("w"))
      .agg(sum(col("w"))).as[Long].first()

    // a round-realistic selected set: ~2% of the corpus (a 600 s round's
    // budget share), broadcast exactly as Round's fetch join broadcasts
    // the budget-bounded selection
    val selected = pages.select(col("url"))
      .filter(pmod(xxhash64(col("url")), lit(50)) === 0).cache()
    val nSelected = selected.count()
    def corpusProbe(): Long = pages
      .join(broadcast(selected), Seq("url"))
      .select(length(col("html")).as("w"))
      .agg(sum(col("w"))).as[Long].first()

    def frontierWindow(): Long = {
      val (sel, deferred, ranked) = Frontier.selectRound(
        frontier.as[graft.model.FrontierEntry], robots,
        roundMs = 600000L)(spark)
      val n = sel.count() + deferred.count()
      ranked.unpersist()
      n
    }

    def hashMerge(): Long = Frontier.merge(
      frontier.as[graft.model.FrontierEntry],
      // second side perturbed so ~half the keys collide, half are new —
      // the candidates-vs-deferred mix a real round merges
      frontier.withColumn("url_hash",
          when(pmod(col("url_hash"), lit(2)) === 0, col("url_hash"))
            .otherwise(col("url_hash") + 1))
        .as[graft.model.FrontierEntry])(spark).count()

    val components: Seq[(String, () => Long, Long)] = Seq(
      ("extract_cpu", () => extractCpu(), nPages),
      // normalized by the SCANNED side: the probe's cost is the corpus
      // scan, not the broadcast set (nSelected ≈ nPages/50)
      ("corpus_probe", () => corpusProbe(), nPages),
      ("frontier_window", () => frontierWindow(), nFrontier),
      ("hash_merge", () => hashMerge(), 2 * nFrontier))

    components.foreach { case (name, run, rows) =>
      run() // warmup (JIT + codegen), untimed — ScalingBench protocol
      val times = (1 to reps).map { i =>
        val t0 = System.nanoTime()
        run()
        val t = (System.nanoTime() - t0) / 1e9
        System.err.println(s"[census] $name rep$i@$cores: $t s")
        t
      }
      val best = times.min
      println(s"""{"metric":"census","component":"$name","cores":$cores,""" +
        s""""rows":$rows,"secs":$best,"rows_per_sec":${rows / best}}""")
    }
    spark.stop()
  }
}
