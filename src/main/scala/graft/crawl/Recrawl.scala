package graft.crawl

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.frontier.Frontier
import graft.model._
import graft.seen.CuckooShard

/** Expiry + recrawl — the maintenance operation the cuckoo seen-set
  * exists for (north rule: "cuckoo-filter fallback for deletions").
  *
  * A production crawl periodically re-fetches stale pages: every result
  * fetched before a cutoff round is EXPIRED — removed from the seen set
  * so the frontier will fetch it again. Two seen-set treatments, proven
  * output-equal (CrawlerSpec):
  *
  *  - exact: anti-join the expired hashes out of the exact seen set
  *    (the correctness twin; no filter involved);
  *  - cuckoo: additionally DELETE the expired fingerprints from the
  *    sharded cuckoo filter — O(expired) removals against O(|seen|) for
  *    the Bloom rebuild a Bloom-backed seen set would need — then run
  *    the recrawl rounds with the pruned filter as the flag-and-verify
  *    prefilter, re-INSERTING re-fetched pages incrementally
  *    (Crawler's cuckoo growth path). Delete + re-insert is exactly the
  *    filter lifecycle Fan et al. built cuckoo filters for.
  *
  * The reference has no expiry (its Crawlee queue is single-shot); this
  * is a beyond-reference operator motivated by the north rule's filter
  * choice, so its correctness gate is the exact-twin equivalence, not a
  * reference fixture.
  */
object Recrawl {

  /** Re-fetch every page fetched before `beforeRound`.
    *
    * @param state    final state of the completed crawl
    * @param results  the crawl's accumulated results (gives the expired
    *                 urls their depth; warc_ts rejoins from the corpus)
    * @param useCuckoo run the recrawl rounds behind a cuckoo-shard
    *                 prefilter pruned by deletion (else plain exact)
    * @return (final state, results of the RECRAWL rounds only, lineage)
    */
  def recrawl(
      pages: DataFrame,
      robots: Dataset[RobotsRule],
      dictLabels: Seq[(String, String)],
      state: Crawler.CrawlState,
      results: Dataset[CrawlResult],
      beforeRound: Int,
      useCuckoo: Boolean,
      cuckooParams: CuckooShard.Params = CuckooShard.testParams,
      roundMs: Long = 4000L,
      maxExtraRounds: Int = 50)
      (implicit spark: SparkSession)
      : (Crawler.CrawlState, Dataset[CrawlResult], Dataset[Lineage]) = {
    import spark.implicits._

    val expired = results.toDF()
      .filter(col("round") < beforeRound)
      .select(col("url"), col("url_hash"), col("depth"))
      .localCheckpoint(true)
    val expiredHashes = expired.select("url_hash")

    // exact seen set always prunes (the filter is a prefilter, never the
    // source of truth — flag-and-verify keeps output ≡ exact)
    val prunedSeen = state.seenHashes
      .join(expiredHashes, Seq("url_hash"), "left_anti")
      .localCheckpoint(true)

    // re-enqueue expired urls at their original depth with the corpus
    // warc_ts (same shaping and robots gate as Crawler.initialState gives
    // seeds: every frontier row is fetchable)
    val requeue = Frontier.robotsGate(Frontier.fromUrls(
      expired
        .join(pages.select(col("url"), col("warc_ts")), Seq("url"), "left")
        .withColumn("warc_ts",
          coalesce(col("warc_ts"), lit(new java.sql.Timestamp(0L))))
        .select(col("url"), col("warc_ts"), col("depth")),
      graft.corpus.Synth.priorityKeywords,
      graft.corpus.Synth.excludeKeywords), robots)
      .toDF().localCheckpoint(true).as[FrontierEntry]

    val shards =
      if (useCuckoo) {
        // build cuckoo shards of the FULL seen set once (the completed
        // crawl's own shards, if any, may be Bloom-kind — undeletable),
        // then DELETE the expired fingerprints — the O(expired) path a
        // Bloom filter cannot take. A standing cuckoo-backed crawl would
        // carry these shards in state and skip the build.
        val full = CuckooShard.build(state.seenHashes, cuckooParams)
          .toDF().as[SeenShard]
        Some(CuckooShard.delete(full, expiredHashes, cuckooParams)
          .toDF().localCheckpoint(true).as[SeenShard])
      } else None

    val start = Crawler.CrawlState(state.round, requeue, prunedSeen,
      state.totalFetched, shards)
    Crawler.crawl(pages, robots, spark.emptyDataset[Seed], dictLabels,
      maxRounds = state.round + maxExtraRounds, roundMs = roundMs,
      bloomPrefilter = useCuckoo, bloomCopartition = false,
      startState = Some(start),
      cuckooSeen = useCuckoo, cuckooParams = cuckooParams)
  }
}
