package graft.crawl

import org.apache.spark.TaskContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.corpus.Synth
import graft.extract.{EscoMatcher, TextExtract}
import graft.frontier.Frontier
import graft.model._
import graft.seen.BloomShard
import graft.url.Canonical

/** One crawl round as a single typed Dataset pipeline (north rule: "each
  * fetch round is a typed Dataset pipeline").
  *
  * Mirrors the reference's per-request flow (/root/reference/apify.js:
  * 103-170 — fetch, gate, pipeline, link scrape, dedup, enqueue) but
  * set-at-a-time:
  *
  *   frontier ──anti-join──> unseen ──window(host budget)──> selected
  *     ──join pages──> fetched ──TextExtract+EscoMatcher──> results
  *   fetched.html ──links──explode──canonicalize──same-host
  *     ──exclude/robots──> candidates
  *     ──anti-join(seen ∪ selected)──> new frontier entries
  *
  * Every frontier row is fetchable: robots and exclude keywords are
  * gated where rows are created (seeds, candidates, Recrawl's requeue),
  * so the round joins the robots rules once, for the budgets, and a
  * frontier of only disallowed links never exists to cost a round.
  *
  * Job census of a snapshot-mode round with the co-partitioned Bloom
  * seen set — 23 Spark jobs on the CrawlerSpec fixture in round 0, in a
  * steady round and in a resumed call's first round alike; its CI guard
  * pins that bound (30 before the zero-job snapshot reads, one-pass seen
  * commit and exchange-free lineage; round 0 and a resumed round ran 25,
  * building shards from the seen set). Under AQE each query stage is one
  * job:
  *
  *  - the round action, `lineageOf(results).collect` (11): the Bloom
  *    cogroup's frontier and shard exchanges and the flagged-frontier
  *    cache; the verify anti-join's seen broadcast, the budgets
  *    broadcast, the host-window exchange and the ranked-frontier cache;
  *    the selected-set broadcast and the enriched cache (the corpus is
  *    never shuffled); the collect itself — the lineage counters are a
  *    narrow pass over the enriched cache;
  *  - the round's tail, started as soon as the action returns and run
  *    concurrently (Crawler): the seen and results-slice writes (2) and
  *    shard growth, `BloomShard.grow`'s two cogroup exchanges and the
  *    `shards` write (3);
  *  - alongside it, the next frontier (5): the candidate anti-join and
  *    merge stages behind the frontier checkpoint (4) and the enqueue
  *    count over the checkpoint (1); then the frontier and lineage-slice
  *    writes (2). The manifest commits once every write finished; the
  *    read-back is free (the manifest carries the schemas), and the next
  *    round or a resume reads the committed shards back.
  *
  * Dimension tables (robots, budgets, ESCO dict) and the budget-bounded
  * selected set are broadcast.
  */
object Round {

  final case class Output(
      results: Dataset[CrawlResult],
      nextFrontier: Dataset[FrontierEntry],
      newSeenHashes: DataFrame, // url_hash: Long of this round's fetches
      lineage: Dataset[Lineage],
      fetchedCount: Long,
      caches: Seq[DataFrame],   // per-round scratch (ranked frontier)
      resultCache: DataFrame) { // the round's enriched cache (html-free);
                                // lifecycle is the CALLER's: snapshot mode
                                // releases it once the slice is on parquet,
                                // in-memory mode retains it as the slice
                                // itself (no extra checkpoint copy)
    /** Release this round's scratch caches. Call once everything derived
      * from them (nextFrontier) is materialized. */
    def release(): Unit = caches.foreach(_.unpersist())
    def releaseResults(): Unit = resultCache.unpersist()
  }

  def run(
      pages: DataFrame, // the corpus: url, warc_ts, html, text, lang
      robots: Dataset[RobotsRule],
      frontier: Dataset[FrontierEntry],
      seenHashes: DataFrame, // url_hash: Long
      dict: Broadcast[EscoMatcher.Dict],
      roundNo: Int,
      roundMs: Long = 4000L,
      bloomPrefilter: Boolean = false,
      bloomCopartition: Boolean = false,
      prebuiltShards: Option[Dataset[SeenShard]] = None,
      bloomParams: BloomShard.Params = BloomShard.testParams,
      bucketedFetch: Boolean = false)
      (implicit spark: SparkSession): Output = {
    import spark.implicits._
    val tRoundStart = System.nanoTime()

    // 1. dedup against the seen set. Bloom path = flag-and-verify (the
    //    classic Bloom join): the filter FLAGS each frontier row
    //    (broadcast layout = map-side, no frontier shuffle;
    //    co-partitioned layout = one frontier shuffle, no driver
    //    collect — the 10^10-scale path); definitely-unseen rows skip
    //    the exact seen set entirely, and only the maybe-seen rows (true
    //    repeats + the filter's false positives) are verified by the
    //    exact anti-join. Output is EXACTLY the plain anti-join's at any
    //    false-positive rate — the former filter-only layout silently
    //    dropped false positives (a lost page plus its whole undiscovered
    //    link subtree; 8% of the 208k corpus at test-sized shards) — while
    //    the anti-join's left side shrinks from the full frontier to the
    //    maybe-seen sliver, which at north-rule scale is the difference
    //    between shuffling 10^8 frontier rows against a 10^10-row seen
    //    table every round and shuffling only the repeats. The crawl loop
    //    maintains the shards incrementally across rounds and passes them
    //    in; the from-scratch build here is the single-round fallback
    //    (specs, ad-hoc calls).
    val bloomScratch = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val unseen0 =
      if (bloomPrefilter) {
        val shards = prebuiltShards.getOrElse(
          BloomShard.build(seenHashes, bloomParams))
        val flagged =
          if (bloomCopartition) {
            // the cogroup layout pays a frontier shuffle + per-row probe;
            // BOTH branches below consume it, so cache this round's
            // flagged frontier (released with the round's scratch caches)
            // instead of running the cogroup twice. The broadcast
            // layout's flag is a map-side probe — recomputing it is
            // cheaper than a cache round-trip, so it stays uncached.
            val c = BloomShard.flagMaybeSeenCopartitioned(
              frontier.toDF(), shards, bloomParams).cache()
            bloomScratch += c
            c
          } else BloomShard.flagMaybeSeen(
            frontier.toDF(), shards, bloomParams)
        val defUnseen = flagged
          .filter(!col(BloomShard.MaybeCol)).drop(BloomShard.MaybeCol)
        val maybeSeen = flagged
          .filter(col(BloomShard.MaybeCol)).drop(BloomShard.MaybeCol)
        defUnseen.unionByName(
          maybeSeen.join(seenHashes, Seq("url_hash"), "left_anti")
            .select(defUnseen.columns.map(col): _*))
      } else frontier.toDF().join(seenHashes, Seq("url_hash"), "left_anti")
    val unseen = unseen0
      .select(Frontier.Cols.map(col): _*)
      .as[FrontierEntry]

    // 2. politeness budget selection. Robots are gated where frontier
    //    rows are created (seeds, the candidates below, Recrawl's
    //    requeue), so every frontier row is fetchable and the round joins
    //    the rules once, for the budgets.
    val (selected, deferred, rankedCache) =
      Frontier.selectRound(unseen, robots, roundMs)

    // 3. "fetch" = join the corpus (the synthesized pages table IS the
    //    web; SURVEY.md S1). Misses (dangling links) retry up to the cap.
    //
    //    Join shape: the selected set is politeness-BUDGET-BOUNDED
    //    (≤ Σ host budgets per round), so it broadcasts and the heavy
    //    corpus side (html blobs) streams in place — an SMJ here would
    //    shuffle + sort the ENTIRE corpus every round, the single most
    //    bandwidth-hungry mistake this loop can make. At 10^10-frontier
    //    scale with very large per-round budgets the broadcast no longer
    //    fits; `bucketedFetch` is that regime's shape, REAL and
    //    plan-asserted (PlanSpec): the caller partitions + caches/writes
    //    the corpus ONCE on the join key, the hint is dropped, and
    //    EnsureRequirements sees the corpus side already hash-partitioned
    //    — every round shuffles only the selected set to match; the
    //    corpus is still never shuffled.
    val sel = selected.toDF().alias("f")

    // 4. extract text + links + skills + signatures in ONE pipeline over
    //    the fetch join, cached WITHOUT the html column. Text comes from
    //    the deterministic extraction UDF over html; byte-identity vs the
    //    corpus text column is the input_hint invariant (tested;
    //    TextExtractSpec). The former shape cached the joined html a
    //    second time (the corpus cache already holds it) and re-parsed
    //    every page in a separate links UDF — both were top terms in the
    //    round-3 GC/allocation diagnosis.
    val matchUris = EscoMatcher.matcherUdf(dict)
    val labelOf = udf((uris: Seq[String]) =>
      uris.map(u => dict.value.labelOf.getOrElse(u, u)).sorted)
    // `ex` is referenced twice (text, links); after projection collapse
    // both land in one Project and whole-stage codegen's subexpression
    // elimination evaluates the UDF once per row (the round log's
    // extract-call counter pins calls == fetched pages)
    val enriched = (if (bucketedFetch)
        pages.alias("p").join(sel, col("f.url") === col("p.url"))
      else pages.alias("p")
        .join(broadcast(sel), col("f.url") === col("p.url")))
      // column discipline: the corpus `text` column is NOT selected —
      // extraction recomputes it from html (byte-identity is the tested
      // invariant), and an unused heavy column here would be decompressed
      // from the columnar cache on EVERY round's corpus scan
      .select(col("f.url").as("url"), col("f.url_hash").as("url_hash"),
        col("f.host").as("host"), col("f.depth").as("depth"),
        col("p.warc_ts").as("warc_ts"), col("p.html").as("html"),
        col("p.lang").as("lang"))
      .withColumn("ex", TextExtract.extractTextAndLinks(col("html")))
      .select(col("url"), col("url_hash"), col("host"), col("depth"),
        col("warc_ts"), col("lang"),
        col("ex._1").as("text"), col("ex._2").as("links"))
      .withColumn("skill_uris", matchUris(col("text")))
      .withColumn("skill_labels", labelOf(col("skill_uris")))
      .withColumn("sig", signatures(col("text")))
      .cache()

    // misses = selected minus fetched urls (both round-bounded and
    // broadcastable) — NOT an anti-join against the whole corpus
    val missed = sel
      .join(broadcast(enriched.select(col("url"))), Seq("url"), "left_anti")
      .withColumn("retry_count", col("retry_count") + 1)
      .filter(col("retry_count") < Frontier.MaxRetries)
      .select(Frontier.Cols.map(col): _*)
      .as[FrontierEntry]

    val results = enriched
      .withColumn("round", lit(roundNo))
      .select(col("url"), col("url_hash"), col("host"), col("round"),
        col("depth"), col("text"), col("lang"), col("skill_uris"),
        col("skill_labels"), col("sig._1").as("simhash"),
        col("sig._2").as("minhash"), col("sig._3").as("lang_pred"),
        col("sig._4").as("n_tokens"))
      .as[CrawlResult]

    // per-partition lineage counters (SDK_CRAWLER_STATISTICS analog).
    // Collecting them (≤ one row per partition) IS the round's single
    // materializing action: it populates the results cache, yields
    // fetchedCount for free (no separate count() job), and returns the
    // lineage as a LocalRelation with no plan tie to the caches below.
    val lineageRows = lineageOf(results.toDF(), roundNo).collect()
    val lineage = spark.createDataset(lineageRows.toSeq)
    val fetchedCount = lineageRows.map(_.fetch_count).sum
    if (graft.Prof.roundLog) System.err.println(
      f"[round $roundNo%3d] fetch+extract action: " +
      f"${(System.nanoTime() - tRoundStart) / 1e9}%7.2f s")

    // 5. link scrape → new frontier candidates (same-host only,
    //    apify.js:156-163), depth+1, dedup'd against seen ∪ this round.
    //    Links come from the cached single-parse column — the html is
    //    not touched again.
    val rawLinks = enriched
      .select(col("url").as("src_url"), col("host").as("src_host"),
        col("warc_ts"), col("depth"),
        explode_outer(col("links")).as("href"))
      .filter(col("href").isNotNull)
      .withColumn("url", Canonical.resolveUdf(col("src_url"), col("href")))
      .filter(col("url").startsWith("http"))
      .filter(Canonical.urlHost(col("url")) === col("src_host"))
      .select(col("url"), col("warc_ts"), (col("depth") + 1).as("depth"))
    // one fused anti-join against (seen ∪ this round's fetches) — two
    // separate anti-joins would shuffle the candidate set twice; the
    // union side is hash-partitioned once instead
    val candidates = Frontier.robotsGate(Frontier.fromUrls(rawLinks,
        Synth.priorityKeywords, Synth.excludeKeywords), robots)
      .toDF()
      .join(seenHashes.unionByName(results.select("url_hash").toDF()),
        Seq("url_hash"), "left_anti")
      .select(Frontier.Cols.map(col): _*)
      .as[FrontierEntry]

    val nextFrontier = Frontier.merge(
      deferred.toDF().unionByName(missed.toDF()).as[FrontierEntry],
      candidates)

    Output(results, nextFrontier, results.select("url_hash").toDF(),
      lineage, fetchedCount, rankedCache +: bloomScratch.toSeq, enriched)
  }

  /** Per-partition lineage counters of a round's results, one row per
    * non-empty partition (`partition_id` = `spark_partition_id()` of
    * `results`). A narrow `mapPartitions` pass — no exchange and no job
    * of its own — so its `collect` stays the round's single action, the
    * one that fills the enriched cache. `new_links` is 0 here;
    * the Crawler patches the next-round enqueue count, known only after
    * the frontier materializes, onto the lowest-partition row. */
  private def lineageOf(results: DataFrame, roundNo: Int)
      (implicit spark: SparkSession): Dataset[Lineage] = {
    import spark.implicits._
    results
      .select(when(length(col("text")) > 0, 1).otherwise(0),
        size(col("skill_uris")))
      .mapPartitions { rows =>
        var fetched, extracted, hits = 0L
        rows.foreach { r =>
          fetched += 1
          extracted += r.getInt(0)
          if (!r.isNullAt(1)) hits += r.getInt(1)
        }
        if (fetched == 0L) Iterator.empty
        else Iterator.single(Lineage(roundNo, TaskContext.getPartitionId(),
          fetched, extracted, 0L, hits))
      }
  }

  /** Dedup signatures and language of a page's text: simhash, minhash,
    * detected language and token count. Each token is hashed exactly
    * once; simhash and shingle/minhash derive from the primitive hash
    * array (no per-shingle strings, no boxed sets). */
  private val signatures = udf((text: String) => graft.Prof.time("sig") {
    val toks = graft.dedup.Dedup.tokens(text)
    val hs = graft.dedup.Dedup.tokenHashes(toks)
    (graft.dedup.Dedup.simhashOfHashes(hs),
      graft.dedup.Dedup.minhashOfArr(
        graft.dedup.Dedup.shingleHashesOf(hs)).toSeq,
      graft.text.TextStats.detectLang(text),
      toks.length)
  })
}
