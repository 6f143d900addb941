package graft.crawl

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.extract.EscoMatcher
import graft.frontier.Frontier
import graft.model._
import graft.util.Overlap

/** The driver-side round loop: iterative BFS with a persistent queue —
  * the reference's crawl lifecycle (/root/reference/crawler.py:4-36 +
  * apify.js request queue) re-expressed as batch rounds over snapshotted
  * Datasets (SURVEY.md §2.9: no Structured Streaming — queue reordering
  * and the global politeness budget fit batch rounds).
  *
  * Each round is one `Round.run` Dataset pipeline; between rounds the
  * frontier / seen / results / lineage tables are committed to a
  * `Snapshot` (Iceberg emulation), so `resume` continues exactly from the
  * last committed round — interrupted and uninterrupted runs produce
  * identical final state (tested by CrawlerSpec).
  */
object Crawler {

  /** `bucketBy(url).sortBy(url)` analog for an in-memory corpus: the
    * cache scan propagates BOTH the hash partitioning and the
    * per-partition ordering, so `bucketedFetch` rounds neither shuffle
    * nor sort the corpus side (PlanSpec-asserted). One definition so the
    * mains, the bench, and the specs cannot drift. */
  def bucketCorpus(df: DataFrame, n: Int): DataFrame =
    df.repartition(n, col("url")).sortWithinPartitions("url")

  final case class CrawlState(
      round: Int,
      frontier: Dataset[FrontierEntry],
      seenHashes: DataFrame, // url_hash: Long
      totalFetched: Long,
      // Bloom-prefilter runs only: the seen-set shards (in snapshot
      // mode, the committed `shards` table), maintained INCREMENTALLY
      // (prev shards OR'd with the round slice's shards —
      // O(slice) hashing + a ≤2×numShards-row merge per round). The
      // former rebuild-from-scratch inside each round hashed the ENTIRE
      // seen set every round: O(total) per round, O(rounds × total)
      // per crawl — exactly the term that kept the Bloom path slower
      // than the exact anti-join at every corpus size yet timed.
      seenShards: Option[Dataset[graft.model.SeenShard]] = None)

  /** Round-0 state: the seeds as a robots-gated frontier (every
    * frontier row is fetchable; see Round.run step 2) and an empty seen
    * set. */
  def initialState(seeds: Dataset[Seed], pages: DataFrame,
      robots: Dataset[RobotsRule])
      (implicit spark: SparkSession): CrawlState = {
    import spark.implicits._
    // seeds get the corpus warc_ts when known, else epoch (still fetchable)
    val seeded = seeds.toDF()
      .join(pages.select(col("url"), col("warc_ts")), Seq("url"), "left")
      .withColumn("warc_ts",
        coalesce(col("warc_ts"), lit(new java.sql.Timestamp(0L))))
      .withColumn("depth", lit(0))
    val frontier = Frontier.robotsGate(Frontier.fromUrls(seeded,
      graft.corpus.Synth.priorityKeywords,
      graft.corpus.Synth.excludeKeywords), robots)
    // a local relation, so that planning knows it is empty: round 0's
    // candidate anti-join against (seen ∪ the round's fetches) is then
    // planned as a broadcast join. Over an RDD of unknown size it was a
    // sort-merge join that AQE turned into a broadcast join only when
    // the fetched side's stage finished first, and the candidate side's
    // shuffle stage ran or not (one job more or less) by stage timing.
    val empty = spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("url_hash",
          org.apache.spark.sql.types.LongType))))
    CrawlState(0, frontier, empty, 0L)
  }

  /** Run rounds until the frontier drains or maxRounds; snapshot each
    * round when a Snapshot is given. The loop stops after the round that
    * enqueues nothing (or fetches nothing) — it never runs a trailing
    * round only to find the frontier empty — and a snapshot resume whose
    * last committed round enqueued nothing runs no round at all. Returns
    * the final state; results and lineage accumulate in the snapshot (or
    * `collectResults` for tests).
    *
    * RETURN CONTRACT (in-memory mode, snapshot = None): the returned
    * result/lineage Datasets are the rounds' enriched CACHES, and their
    * recompute lineage runs through per-round frontier/seen checkpoints
    * that this loop RELEASES as rounds complete. They are therefore
    * readable only while their cached blocks are intact — fine in
    * local[] (blocks can't be lost without losing the JVM) and for the
    * spec/bench callers that consume them immediately, but an
    * executor-loss-tolerant caller must either pass a Snapshot (slices
    * become parquet-backed and re-readable forever) or copy the results
    * out (e.g. `.localCheckpoint()`) before relying on recompute. */
  def crawl(
      pages: DataFrame,
      robots: Dataset[RobotsRule],
      seeds: Dataset[Seed],
      dictLabels: Seq[(String, String)],
      maxRounds: Int = 50,
      roundMs: Long = 4000L,
      snapshot: Option[Snapshot] = None,
      bloomPrefilter: Boolean = false,
      bloomCopartition: Boolean = false,
      bloomParams: graft.seen.BloomShard.Params =
        graft.seen.BloomShard.testParams,
      // very-large-budget fetch shape: the caller has partitioned+cached
      // the corpus on `url`; rounds drop the broadcast hint so only the
      // selected side shuffles (see Round.run step 3)
      bucketedFetch: Boolean = false,
      // continue from an explicit state (Recrawl's expiry path) instead
      // of seeding/snapshot-resuming; seeds are ignored when set
      startState: Option[CrawlState] = None,
      // seen-filter backend for the prefilter legs: false = Bloom shards
      // (incremental bitwise-OR growth), true = cuckoo shards
      // (per-slice insertAll growth; supports the O(expired) deletion
      // Recrawl uses). Probe dispatch is by SeenShard.kind either way.
      cuckooSeen: Boolean = false,
      cuckooParams: graft.seen.CuckooShard.Params =
        graft.seen.CuckooShard.testParams,
      // consume-and-release: callers that only need the final state and
      // counters (throughput benchmarks; any real crawl whose results
      // stream to a sink) set this false and each round's enriched cache
      // is dropped as soon as the round has consumed it. This is a SCALE
      // requirement, not a convenience: a retained in-memory slice is a
      // cache whose recompute lineage pins every shuffle file beneath it
      // — ContextCleaner cannot reap a shuffle that a live plan still
      // references — so a 30-round in-memory crawl at the 3.3M-url corpus
      // accumulated ~80 GB of scratch and died of ENOSPC. With
      // retainResults=false, live scratch is one round's working set.
      // The returned results Dataset is EMPTY in this mode; lineage
      // counters (driver-local rows) are still returned in full.
      retainResults: Boolean = true)
      (implicit spark: SparkSession)
      : (CrawlState, Dataset[CrawlResult], Dataset[Lineage]) = {
    import spark.implicits._
    val dict = EscoMatcher.broadcastDict(spark, dictLabels)
    // the layout of the seen filter, committed as the `shards_layout`
    // counter beside a snapshot's `shards` table: a resume reads the
    // table back only under the same layout
    val shardLayout: Long =
      (if (cuckooSeen) s"cuckoo $cuckooParams" else s"bloom $bloomParams")
        .hashCode.toLong

    // a resume whose last committed round enqueued nothing is drained
    var continue = true
    var state = startState.getOrElse(snapshot.filter(_.latest() >= 0) match {
      case Some(s) =>
        val r = s.latest()
        val counters = s.counters(r)
        continue = counters.getOrElse("new_links", 1L) > 0L
        CrawlState(r + 1,
          s.read(r, "frontier").as[FrontierEntry],
          s.read(r, "seen"),
          counters.getOrElse("total_fetched", 0L),
          Option.when(bloomPrefilter &&
              counters.get("shards_layout").contains(shardLayout))(
            s.read(r, "shards").as[SeenShard]))
      case None =>
        val s0 = initialState(seeds, pages, robots)
        // checkpoint the seed frontier like every later round's: its
        // plan embeds a seeds ⋈ pages join, and round 0 otherwise
        // re-executes that corpus scan in every plan that references
        // the frontier (measured: ~10 corpus scans + 2.8M redundant
        // canonicalize calls in round 0 at the 265k-page bench corpus).
        // The seen set is empty, and so are its shards: round 0 grows
        // them from none (no build job over an empty set)
        s0.copy(
          frontier = s0.frontier.toDF().localCheckpoint(true).as[FrontierEntry],
          seenShards = Option.when(bloomPrefilter)(spark.emptyDataset[SeenShard]))
    })
    // per-round result/lineage slices: each round's slice is already
    // cached (Round.run) or snapshot-backed; they union lazily at the
    // end. Accumulating + re-checkpointing a growing union every round
    // would be O(rounds²) — the loop never does that.
    val resultSlices = scala.collection.mutable.ArrayBuffer
      .empty[Dataset[CrawlResult]]
    val lineageSlices = scala.collection.mutable.ArrayBuffer
      .empty[Dataset[Lineage]]
    snapshot.filter(_.latest() >= 0).foreach { s =>
      val r = s.latest()
      resultSlices += s.read(r, "results").as[CrawlResult]
      lineageSlices += s.read(r, "lineage").as[Lineage]
    }

    while (continue && state.round < maxRounds) {
      val t0 = System.nanoTime()
      val codegen0 = graft.Prof.codegen()
      // a start with a seen set but no shards (a resume from a snapshot
      // without its `shards` table or under another layout, a
      // `startState` without them): build them once from the full seen
      // set here, then grow them per round below. The Bloom build is the
      // per-round growth step from no shards (bit-identical to
      // BloomShard.build, FiltersSpec): 8 bytes shuffled per hash, where
      // build's map-side combine shuffles up to one partial bitset per
      // shard and map task, and no second code path to warm up.
      if (bloomPrefilter && state.seenShards.isEmpty)
        state = state.copy(seenShards = Some(
          (if (cuckooSeen)
            graft.seen.CuckooShard.build(state.seenHashes, cuckooParams)
              .toDF().as[SeenShard]
          else graft.seen.BloomShard.grow(
            spark.emptyDataset[SeenShard], state.seenHashes, bloomParams))
            .localCheckpoint(true)))
      val probeParams =
        if (cuckooSeen) cuckooParams.probeParams else bloomParams
      val out = Round.run(pages, robots, state.frontier, state.seenHashes,
        dict, state.round, roundMs, bloomPrefilter, bloomCopartition,
        state.seenShards, probeParams, bucketedFetch)
      if (out.fetchedCount == 0L) {
        out.release(); out.releaseResults()
        continue = false
      } else {
        // the round's enriched cache IS the slice in both modes — in
        // snapshot mode it is written to the round's parquet dir below
        // (the parquet read becomes the durable handle and the cache is
        // released), in-memory mode retains the cache itself until the
        // crawl ends. The former in-memory localCheckpoint re-copied
        // every round's full results (one O(slice) pass per round inside
        // the measured window) for no correctness gain: the seen set and
        // frontier are checkpointed separately, so plans stay flat either
        // way, and the caches hold the same bytes the checkpoint would.
        val slice = out.results
        // this round's fetches are disjoint from seen by construction
        // (the round anti-joins before fetching) → plain union, no
        // distinct shuffle needed. The union is re-checkpointed FLAT
        // every round: a lazy-union cadence (compact every 4) was
        // A/B-tested in round 3 and REGRESSED — between compactions the
        // two per-round anti-joins re-scan every slice's 32 checkpoint
        // partitions (~320 extra task launches per round), costing more
        // wall time than the one small rewrite job the laziness saves
        // (same conclusion as the round-2 mmap-churn diagnosis, with
        // job-count data). The seen set is url_hash only (8 B/url); at
        // 10^10-frontier scale the co-partitioned Bloom shards carry the
        // prefilter and this exact set lives in an Iceberg table updated
        // by appending the round's slice instead.
        //
        // Snapshot mode writes this union straight to the snapshot and
        // the next state re-reads it from parquet, so it is materialized
        // once, by the write; only the in-memory path checkpoints it.
        val seenUnion = state.seenHashes
          .unionByName(slice.select("url_hash").toDF())
          .coalesce(spark.sparkContext.defaultParallelism)
        // incremental shard growth: OR the round slice's hashes into the
        // running set (see CrawlState.seenShards) — O(slice), not O(seen),
        // one cogroup of the previous shards with the slice's hashes.
        // Cuckoo backend: insertAll (insertion isn't associative like
        // Bloom's OR, so the slice cogroups into the shard table instead).
        // Materialized like the seen union: written to the snapshot, or
        // checkpointed in memory.
        val grown = state.seenShards.map(prev =>
          if (cuckooSeen)
            graft.seen.CuckooShard.insertAll(prev,
              slice.select("url_hash").toDF(), cuckooParams)
              .toDF().as[SeenShard]
          else graft.seen.BloomShard.grow(prev,
            slice.select("url_hash").toDF(), bloomParams))
        val newTotal = state.totalFetched + out.fetchedCount
        // materialize the next frontier ONCE (it feeds every join of the
        // next round) — the LAZY checkpoint is triggered by the count
        // below, so materialization + counting is a single job (an eager
        // checkpoint ran one job and the count a second). The count runs
        // on the checkpoint's rows directly: `Dataset.count` would plan a
        // partial-count exchange, one more job. new_links = entries
        // enqueued for the next round (discovered + deferred + retries),
        // recorded on the lowest-numbered partition's row.
        def nextFrontier(): (DataFrame, Long, Dataset[Lineage]) = {
          val fr = out.nextFrontier.toDF().localCheckpoint(false)
          val enqueued = fr.queryExecution.toRdd.count()
          val rows = out.lineage.collect() // LocalRelation — driver-local
          val minP = rows.map(_.partition_id).min
          (fr, enqueued, spark.createDataset(rows.map(r =>
            if (r.partition_id == minP) r.copy(new_links = enqueued)
            else r).toSeq))
        }
        // the round's tail: the seen set, the shards and the results
        // slice do not depend on the next frontier, so they start to
        // materialize as soon as the round action returns, and run while
        // this thread materializes the frontier
        val prev = state
        val enqueued = snapshot match {
          case Some(s) =>
            // append-only commit: ONLY this round's results/lineage slice
            // is written (the manifest accumulates slice paths) — write
            // volume per round is O(slice), not O(total); frontier, seen
            // and shards are full-state replacements like Iceberg
            // overwrites. The commit joins every write before the
            // manifest.
            val commit = s.begin(state.round)
              .replace("seen", seenUnion)
              .append("results", slice.toDF())
            grown.foreach(g => commit.replace("shards", g.toDF()))
            val (fr, enqueued, lineage) = commit.alongside(nextFrontier())
            commit.replace("frontier", fr).append("lineage", lineage.toDF())
              .commit(Map("total_fetched" -> newTotal,
                "round_fetched" -> out.fetchedCount,
                "new_links" -> enqueued) ++
                grown.map(_ => "shards_layout" -> shardLayout))
            // hold the parquet-backed slice (not the cache, which is
            // released below); plans stay flat — one scan per slice
            resultSlices += s.readSlice(state.round, "results").as[CrawlResult]
            lineageSlices += s.readSlice(state.round, "lineage").as[Lineage]
            state = CrawlState(state.round + 1,
              s.read(state.round, "frontier").as[FrontierEntry],
              s.read(state.round, "seen"), newTotal,
              grown.map(_ => s.read(state.round, "shards").as[SeenShard]))
            // the state re-reads the committed frontier: the checkpoint
            // that fed the write is dead
            graft.util.Checkpoints.release(fr)
            enqueued
          case None =>
            // checkpoints of the seen union and the grown shards
            val tail = (seenUnion +: grown.map(_.toDF()).toSeq)
              .map(df => Overlap.start(df.localCheckpoint(true)))
            val (fr, enqueued, lineage) =
              Overlap.alongside(tail)(nextFrontier())
            val checkpoints = Overlap.join(tail)
            if (retainResults) resultSlices += slice
            lineageSlices += lineage
            state = CrawlState(state.round + 1, fr.as[FrontierEntry],
              checkpoints.head, newTotal,
              checkpoints.drop(1).headOption.map(_.as[SeenShard]))
            enqueued
        }
        // the superseded round inputs (old frontier / seen / shards) are
        // fully consumed above — release their checkpoint blocks NOW:
        // Dataset.unpersist can't reach localCheckpoint storage, and
        // waiting for ContextCleaner pins every dead round's blocks for
        // a nondeterministic time inside the measured window (a 60-round
        // Bloom crawl would otherwise hold ~2 MiB of dead shard bitsets
        // per round). Snapshot-mode frontier/seen/shards are parquet
        // reads — release is a no-op there, bar a first round's
        // checkpointed seed frontier and rebuilt shards.
        graft.util.Checkpoints.release(prev.frontier)
        graft.util.Checkpoints.release(prev.seenHashes)
        prev.seenShards.foreach(graft.util.Checkpoints.release)
        // scratch caches (ranked frontier) are fully consumed above; the
        // enriched cache is released here only in snapshot mode (the
        // parquet slice replaces it) — in-memory mode it IS the slice and
        // lives until the caller drops it (Bench clears the cache manager
        // between reps; specs run at fixture scale)
        out.release()
        if (snapshot.isDefined || !retainResults) out.releaseResults()
        continue = enqueued > 0L
        if (graft.Prof.roundLog) System.err.println(
          f"[crawl] round ${state.round - 1}%3d fetched=${out.fetchedCount}%7d " +
          f"total=${state.totalFetched}%8d secs=${(System.nanoTime() - t0) / 1e9}%7.2f " +
          f"matchCalls=${graft.extract.EscoMatcher.callCount.sumThenReset()}%8d " +
          graft.Prof.codegenSince(codegen0) + " " + graft.Prof.snapshotAndReset())
      }
    }
    val allResults =
      if (resultSlices.isEmpty) spark.emptyDataset[CrawlResult]
      else resultSlices.reduce(_ unionByName _)
    val allLineage =
      if (lineageSlices.isEmpty) spark.emptyDataset[Lineage]
      else lineageSlices.reduce(_ unionByName _)
    (state, allResults, allLineage)
  }
}
