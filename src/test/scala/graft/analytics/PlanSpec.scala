package graft.analytics

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.corpus.Synth
import graft.frontier.Frontier

/** Physical-plan assertions (SURVEY.md §4: "broadcast discipline —
  * assert via plan check in tests"). Correctness tests prove the results;
  * these prove the *plans* are the ones that survive a 100× scale-up:
  * dimensions broadcast (no shuffle of the fact side against small dims),
  * filters and projections pushed into the parquet scan, and the hot
  * aggregation path inside whole-stage codegen.
  */
class PlanSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  /** Finalized physical plan: AQE only commits runtime join conversions
    * (and prints codegen spans) after execution, so every plan assertion
    * runs against the executed (isFinalPlan=true) tree, not the initial
    * estimate. */
  private def planOf(df: org.apache.spark.sql.DataFrame): String = {
    df.collect()
    // AdaptiveSparkPlan prints the final plan followed by the initial
    // estimate — keep only the final section so operator counts aren't
    // doubled by the pre-AQE tree
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
  }

  test("star join broadcasts all three dimension tables") {
    val plan = planOf(Queries.qJoinStar(spark, sf))
    val nBroadcast = "BroadcastHashJoin".r.findAllIn(plan).length
    assert(nBroadcast >= 3,
      s"expected customer/nation/region broadcast, got $nBroadcast in:\n$plan")
  }

  test("6-table chain keeps dimension joins broadcast") {
    val plan = planOf(Queries.qJoinChain6(spark, sf))
    assert("BroadcastHashJoin".r.findAllIn(plan).length >= 2, plan)
  }

  test("filter + projection are pushed into the parquet scan") {
    val df = spark.read.parquet(s"$sf/lineitem.parquet")
      .filter(col("l_quantity") > 45)
      .select(col("l_orderkey"), col("l_quantity"))
    val scan = planOf(df)
    assert(scan.contains("PushedFilters:") &&
      scan.contains("GreaterThan(l_quantity"),
      s"filter not pushed to scan:\n$scan")
    // column pruning: the scan's ReadSchema must not include untouched
    // wide columns like l_comment
    val readSchema = scan.linesIterator
      .find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_orderkey") &&
      !readSchema.contains("l_comment"),
      s"scan not pruned to the 2 used columns: $readSchema")
  }

  test("aggregation pipeline runs inside whole-stage codegen with " +
      "map-side partial aggregation") {
    val df = Queries.qAggPricing(spark, sf)
    df.collect() // AQE only shows codegen spans in the finalized plan
    val plan = planOf(df)
    // codegen spans print as "*(n) Operator" in the executed-plan tree
    assert(plan.contains("*(1)") || plan.contains("WholeStageCodegen"), plan)
    // partial + final HashAggregate = map-side combine before the shuffle
    assert("HashAggregate".r.findAllIn(plan).length >= 2, plan)
  }

  test("robots gate joins the rules table broadcast (no frontier shuffle)") {
    val pages = Synth.pages(spark, 8, 4, 3).toDF()
    val robots = Synth.robots(spark, 8)
    val frontier = Frontier.fromUrls(
      pages.select(col("url"), col("warc_ts"), lit(0).as("depth")),
      Synth.priorityKeywords, Synth.excludeKeywords)
    val plan = planOf(Frontier.robotsGate(frontier, robots).toDF())
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("no SparkEntry query plans an un-partitioned global window") {
    // A Window with an empty partitionSpec moves its whole input into ONE
    // partition — the single clearest scale-killer a query surface can
    // hide (pagination is the classic offender). Assert none survives
    // optimization in any published query.
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val df = fn(spark, sf)
      val bad = df.queryExecution.optimizedPlan.collect {
        case w: LWindow if w.partitionSpec.isEmpty => w
      }
      assert(bad.isEmpty,
        s"$name plans a global un-partitioned window:\n${bad.mkString}")
    }
  }

  test("bucketed fetch join never shuffles (or re-sorts) the corpus side " +
      "and matches the broadcast path's output") {
    // The very-large-budget regime: the selected set no longer fits a
    // broadcast, so the corpus is partitioned+sorted on the join key ONCE
    // (bucketBy/sortBy analog) and each round's fetch join may only
    // shuffle/sort the selected side. Assert it on the executed plan
    // INSIDE the round's enriched cache.
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
    import org.apache.spark.sql.execution.SortExec
    import graft.crawl.Round
    import graft.extract.EscoMatcher
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    // static plans + no auto-broadcast: the assertion must see the
    // shuffle-join shape itself, not AQE's small-fixture conversion of it
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val pages = graft.crawl.Crawler.bucketCorpus(
      Synth.pages(spark, 8, 4, 3).toDF(), 4).cache()
    try {
      pages.count()
      val robots = Synth.robots(spark, 8)
      val frontier = Frontier.fromUrls(
        pages.select(col("url"), col("warc_ts"), lit(0).as("depth")),
        Synth.priorityKeywords, Synth.excludeKeywords)
      val seen = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("url_hash",
            org.apache.spark.sql.types.LongType))))
      val dict = EscoMatcher.broadcastDict(spark,
        Synth.escoLabels().map(l => (l.concept_uri, l.preferred_label)))
      val out = Round.run(pages, robots, frontier, seen, dict, 0,
        roundMs = 200000L, bucketedFetch = true)
      // the fetch join's physical plan lives inside the enriched cache
      val cached = out.resultCache.queryExecution.optimizedPlan.collect {
        case r: InMemoryRelation => r.cachedPlan
      }.head
      def overCorpus(e: org.apache.spark.sql.execution.SparkPlan) =
        e.exists {
          case sc: InMemoryTableScanExec => sc.output.exists(_.name == "html")
          case _ => false
        }
      // the corpus scan IS in this plan...
      assert(overCorpus(cached), cached.toString)
      // ...the join is the shuffle join, not a broadcast...
      assert(cached.toString.contains("SortMergeJoin") ||
        cached.toString.contains("ShuffledHashJoin"), cached.toString)
      // ...and no exchange or sort sits above the corpus scan: only the
      // selected side moves
      assert(cached.collect {
        case e: ShuffleExchangeExec if overCorpus(e) => e
        case e: SortExec if overCorpus(e) => e
      }.isEmpty, cached.toString)
      // output equality with the broadcast shape
      val outB = Round.run(pages, robots, frontier, seen, dict, 0,
        roundMs = 200000L, bucketedFetch = false)
      assert(out.fetchedCount === outB.fetchedCount)
      val a = out.results.select("url").collect().map(_.getString(0)).sorted
      val b = outB.results.select("url").collect().map(_.getString(0)).sorted
      assert(a.toSeq === b.toSeq)
      out.release(); out.releaseResults()
      outB.release(); outB.releaseResults()
    } finally {
      pages.unpersist()
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    }
  }

  test("no-broadcast regime (beyond-broadcast seen set): the exact " +
      "anti-join becomes a shuffle join, the Bloom verify join's left " +
      "side is only the maybe-seen sliver, and bounded-table hints survive") {
    // A seen set too big to broadcast is emulated here by disabling
    // AUTOMATIC broadcast conversion (threshold -1, AQE off, below).
    // BASELINE.md's break-even legs rest on these plan claims — pin them
    // on the round's one seen test, the link candidates' anti-join:
    // (1) the exact leg's candidates × seen anti-join is a shuffle join
    //     (the full-shuffle-per-round cost the model charges it);
    // (2) the Bloom leg's exact-verify anti-join reads only the
    //     maybe-seen sliver of the flagged candidates, never all of them;
    // (3) explicit broadcast() hints on tables bounded by construction
    //     (robots rules, the budget-bounded selected and fetched sets)
    //     survive a -1 threshold, as they would at 10^10 scale;
    // (4) the round action's plan (the ranked-frontier cache) holds no
    //     seen test at all.
    import org.apache.spark.sql.catalyst.plans.LeftAnti
    import org.apache.spark.sql.execution.{RDDScanExec, SparkPlan}
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
    import graft.crawl.Round
    import graft.extract.EscoMatcher
    import graft.seen.{BloomShard, Seen}
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    // static plans: the assertions must see the no-broadcast shape itself,
    // not AQE's small-fixture broadcast conversion of it
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val pages = Synth.pages(spark, 8, 4, 3).toDF().cache()
    try {
      pages.count()
      val robots = Synth.robots(spark, 8)
      val all = Frontier.fromUrls(
        pages.select(col("url"), col("warc_ts"), lit(0).as("depth")),
        Synth.priorityKeywords, Synth.excludeKeywords)
      // half the pages are the frontier (all fetched at this budget), the
      // other half were fetched before: the links the fetched pages hold
      // to them are candidates the seen test must drop
      val frontier = all.filter(pmod(col("url_hash"), lit(2)) === 0)
      val seen = all.toDF().select(col("url_hash"))
        .filter(pmod(col("url_hash"), lit(2)) === 1)
        .localCheckpoint(true)
      val seenRdd = seen.queryExecution.executedPlan.collectFirst {
        case s: RDDScanExec => s.rdd
      }.get
      def readsSeen(p: SparkPlan) =
        p.exists { case s: RDDScanExec => s.rdd eq seenRdd; case _ => false }
      val dict = EscoMatcher.broadcastDict(spark,
        Synth.escoLabels().map(l => (l.concept_uri, l.preferred_label)))
      def cachedPlan(df: org.apache.spark.sql.DataFrame) =
        df.queryExecution.optimizedPlan.collect {
          case r: InMemoryRelation => r.cachedPlan
        }.head
      // (left, right) of each shuffled and each broadcast anti-join
      def antis(p: SparkPlan) = (
        p.collect {
          case j: SortMergeJoinExec if j.joinType == LeftAnti => (j.left, j.right)
          case j: ShuffledHashJoinExec if j.joinType == LeftAnti => (j.left, j.right)
        },
        p.collect {
          case j: BroadcastHashJoinExec if j.joinType == LeftAnti => j
        })
      // (4) selection and fetch never touch the seen set or a filter flag
      def noSeenTest(out: Round.Output) = {
        val ranked = cachedPlan(out.rankedCache)
        assert(antis(ranked)._1.isEmpty && antis(ranked)._2.isEmpty &&
          !readsSeen(ranked) && !ranked.toString.contains(BloomShard.MaybeCol),
          s"the ranked frontier holds a seen test:\n$ranked")
      }

      val exact = Round.run(pages, robots, frontier, seen, dict, 0,
        roundMs = 200000L)
      val exactNext = exact.nextFrontier.queryExecution.executedPlan
      val (exactShuffled, exactBroadcast) = antis(exactNext)
      // (1) the seen anti-join shuffles — no automatic broadcast of seen
      assert(exactShuffled.size == 1 && readsSeen(exactShuffled.head._2),
        s"the seen anti-join is not one shuffle join:\n$exactNext")
      // (3) the fetched set and the missed urls' fetched side broadcast
      assert(exactBroadcast.size == 2 &&
        exactBroadcast.forall(j => !readsSeen(j)), exactNext.toString)
      noSeenTest(exact)
      // (3) the robots-gate hint survives in the round action's plan
      val exactRanked = cachedPlan(exact.rankedCache)
      assert(exactRanked.toString.contains("BroadcastHashJoin"),
        s"robots broadcast hint did not survive -1 threshold:\n$exactRanked")
      // (3) the fetch join keeps its budget-bounded broadcast hint
      val exactFetch = cachedPlan(exact.resultCache)
      assert(exactFetch.toString.contains("BroadcastHashJoin"),
        s"fetch-join broadcast hint did not survive:\n$exactFetch")

      val shards = BloomShard.build(seen, BloomShard.testParams)
        .localCheckpoint(true)
      val bloom = Round.run(pages, robots, frontier, seen, dict, 0,
        roundMs = 200000L, seenFilter = Some(
          Seen.Filter(shards, BloomShard.testParams, copartitioned = true)))
      val bloomNext = bloom.nextFrontier.queryExecution.executedPlan
      // (2) the single verify anti-join's LEFT side is the maybe-seen
      // filter of the flagged candidates, not all of them
      val (bloomShuffled, _) = antis(bloomNext)
      assert(bloomShuffled.size == 1 && readsSeen(bloomShuffled.head._2),
        s"expected one verify anti-join:\n$bloomNext")
      assert(bloomShuffled.head._1.toString.contains(BloomShard.MaybeCol),
        s"verify join's left side is not the maybe-seen sliver:\n" +
          bloomShuffled.head._1.toString)
      noSeenTest(bloom)
      // and both regimes fetch the identical page set and enqueue the
      // identical frontier, which the seen set did shrink
      assert(bloom.fetchedCount === exact.fetchedCount)
      val next = exact.nextFrontier.toDF()
      assert(next.exceptAll(bloom.nextFrontier.toDF()).isEmpty &&
        bloom.nextFrontier.toDF().exceptAll(next).isEmpty)
      val unfiltered = Round.run(pages, robots, frontier,
        seen.limit(0), dict, 0, roundMs = 200000L)
      assert(next.count() < unfiltered.nextFrontier.count())

      Seq(exact, bloom, unfiltered).foreach { o => o.release(); o.releaseResults() }
      graft.util.Checkpoints.release(seen)
      graft.util.Checkpoints.release(shards)
    } finally {
      pages.unpersist()
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    }
  }

  test("host-budget selection costs exactly one exchange on the frontier") {
    val pages = Synth.pages(spark, 8, 4, 3).toDF()
    val robots = Synth.robots(spark, 8)
    val frontier = Frontier.fromUrls(
      pages.select(col("url"), col("warc_ts"), lit(0).as("depth")),
      Synth.priorityKeywords, Synth.excludeKeywords)
    val (selected, _, _) = Frontier.selectRound(frontier, robots)
    val plan = planOf(selected.toDF())
    // one hash-partitioned exchange for the per-host window; budgets are
    // broadcast so they must not add a second shuffle
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges <= 1, s"expected ≤1 shuffle, got $exchanges:\n$plan")
  }
}
