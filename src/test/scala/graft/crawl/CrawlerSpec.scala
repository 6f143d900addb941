package graft.crawl

import java.nio.file.{Files, Path}
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.corpus.Synth
import graft.model.SeenShard
import graft.seen.BloomShard

/** End-to-end crawl semantics on the synthetic corpus: politeness,
  * robots, dedup, byte-identical extraction, resume ≡ uninterrupted. */
class CrawlerSpec extends SparkSpec {

  private val NHosts = 6
  private val Base = 6
  private lazy val pages = Synth.pages(spark, NHosts, Base).toDF().cache()
  private lazy val robots = Synth.robots(spark, NHosts)
  private lazy val seeds = Synth.seeds(spark, NHosts)
  private lazy val dictLabels =
    Synth.escoLabels().map(l => (l.concept_uri, l.preferred_label))

  private lazy val full = Crawler.crawl(pages, robots, seeds, dictLabels,
    maxRounds = 40, roundMs = 4000L)(spark)

  /** Spark jobs a steady round (any round after the first) of the
    * snapshot + co-partitioned-Bloom crawl below may run, and a resumed
    * call's first round: 23. Measured on this fixture: 23 at 4 cores and
    * 22 at 1 core, in round 0, in steady rounds and in a resumed round. */
  private val JobsPerSteadyRound = 23

  /** A snapshot + co-partitioned-Bloom crawl into `dir` (by default a
    * fresh directory; a crawl resumes from what is there): its snapshot,
    * final state and the Spark jobs it ran (the corpus cache is built
    * first, outside the count). */
  private def durable(maxRounds: Int,
      dir: Path = Files.createTempDirectory("graft-durable"),
      params: BloomShard.Params = BloomShard.testParams) = {
    pages.count()
    val snap = new Snapshot(dir.toString)(spark)
    val (state, jobs) = jobsOf(Crawler.crawl(pages, robots, seeds,
      dictLabels, maxRounds = maxRounds, roundMs = 4000L,
      snapshot = Some(snap), bloomPrefilter = true, bloomCopartition = true,
      bloomParams = params, retainResults = false)(spark)._1)
    (snap, state, jobs)
  }

  /** Shard id → (kind, bits) of a shard table. */
  private def bits(shards: Dataset[SeenShard]) =
    shards.collect().map(s => s.shard_id -> (s.kind, s.bits.toSeq)).toMap

  /** A snapshot's final state: fetched count, rounds and the round each
    * url was fetched in. */
  private def finalState(snap: Snapshot) = {
    val last = snap.latest()
    (snap.counters(last)("total_fetched"), last,
      snap.read(last, "results").select("url", "round").collect()
        .map(r => r.getString(0) -> r.getInt(1)).toMap)
  }

  private lazy val drained = durable(40)

  test("crawl drains the frontier and fetches pages") {
    val (state, results, lineage) = full
    assert(state.totalFetched > 0)
    assert(results.count() === state.totalFetched)
    assert(lineage.agg(sum("fetch_count")).head.getLong(0) ===
      state.totalFetched)
  }

  test("no robots-disallowed and no exclude-keyword URL is fetched") {
    val (_, results, _) = full
    val urls = results.select("url").collect().map(_.getString(0))
    assert(!urls.exists(_.contains("/private/")))
    assert(!urls.exists(u => Synth.excludeKeywords.exists(u.contains)))
  }

  test("no URL fetched twice (seen-set dedup across rounds)") {
    val (_, results, _) = full
    assert(results.select("url").distinct().count() === results.count())
    assert(results.select("url_hash").distinct().count() === results.count())
  }

  test("politeness: per-host fetches per round ≤ host budget") {
    val (_, results, _) = full
    import spark.implicits._
    val budgets = robots.collect()
      .map(r => r.host -> math.max(1, 4000 / r.crawl_delay_ms)).toMap
    val perRound = results.groupBy("host", "round").count().collect()
    perRound.foreach { row =>
      val host = row.getString(0)
      val n = row.getLong(2)
      assert(n <= budgets(host),
        s"host $host fetched $n in round ${row.getInt(1)}, budget ${budgets(host)}")
    }
  }

  test("priority monotonicity: within a host+round batch, no priority-0 " +
    "URL is selected while a priority-1 URL from the same batch is deferred") {
    // direct property of the selection window: verified on every round by
    // construction (row_number over priority desc) — spot-check the final
    // results: the first round from each host must be its seed (depth 0)
    val (_, results, _) = full
    val firstRounds = results.groupBy("host")
      .agg(min("round").as("r0"))
    val seedRows = results.join(firstRounds,
      results("host") === firstRounds("host") &&
        results("round") === firstRounds("r0"))
    assert(seedRows.filter(col("depth") === 0).count() >= NHosts - 1)
  }

  test("byte-identical extracted text per url vs corpus (input_hint invariant)") {
    val (_, results, _) = full
    val joined = results.toDF().alias("r")
      .join(pages.alias("p"), col("r.url") === col("p.url"))
      .select(col("r.text").as("got"), col("p.text").as("want"))
    assert(joined.filter(col("got") =!= col("want")).count() === 0)
    assert(joined.count() === results.count())
  }

  test("skill extraction: every fetched page with embedded labels has hits") {
    val (_, results, _) = full
    val withSkills = results.filter(size(col("skill_uris")) > 0).count()
    // every synthetic page embeds ≥1 label
    assert(withSkills === results.count())
  }

  test("resume from snapshot ≡ uninterrupted run") {
    val dir = Files.createTempDirectory("graft-snap").toString
    val snap = new Snapshot(dir)(spark)
    // phase 1: stop after 3 rounds
    Crawler.crawl(pages, robots, seeds, dictLabels, maxRounds = 3,
      roundMs = 4000L, snapshot = Some(snap))(spark)
    assert(snap.latest() >= 0)
    // phase 2: resume to completion
    val (s2, r2, _) = Crawler.crawl(pages, robots, seeds, dictLabels,
      maxRounds = 40, roundMs = 4000L, snapshot = Some(snap))(spark)
    val (s1, r1, _) = full
    assert(s2.totalFetched === s1.totalFetched)
    val set1 = r1.select("url", "text").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    val set2 = r2.select("url", "text").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(set2 === set1)
    // and the per-round schedule is identical, not just the final set
    val sched1 = r1.select("url", "round").collect()
      .map(r => (r.getString(0), r.getInt(1))).toMap
    val sched2 = r2.select("url", "round").collect()
      .map(r => (r.getString(0), r.getInt(1))).toMap
    assert(sched2 === sched1)
  }

  test("snapshot results are append-only slices: round N writes O(slice), " +
      "manifest union reproduces the full table, lineage carries new_links") {
    val dir = Files.createTempDirectory("graft-snap-append").toString
    val snap = new Snapshot(dir)(spark)
    val (state, results, lineage) = Crawler.crawl(pages, robots, seeds,
      dictLabels, maxRounds = 40, roundMs = 4000L,
      snapshot = Some(snap))(spark)
    val last = snap.latest()
    assert(last >= 1) // multi-round crawl
    // each committed slice contains ONLY its round's rows …
    (0 to last).foreach { r =>
      val slice = snap.readSlice(r, "results")
      assert(slice.select("round").distinct().collect()
        .map(_.getInt(0)).toSeq === Seq(r), s"round $r slice")
    }
    // … and the manifest union IS the full results table
    val unioned = snap.read(last, "results")
    assert(unioned.count() === state.totalFetched)
    assert(unioned.select("url").collect().map(_.getString(0)).toSet ===
      results.select("url").collect().map(_.getString(0)).toSet)
    // lineage: every round records its next-round enqueue count on one row
    val perRound = lineage.groupBy("round")
      .agg(sum("new_links").as("nl")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    // mid-crawl rounds discover links; the final drained round enqueues 0
    assert(perRound(0) > 0, s"round 0 enqueued nothing: $perRound")
  }

  test("idempotence: one more round after exhaustion fetches nothing") {
    val (state, _, _) = full
    import graft.extract.EscoMatcher
    val dict = EscoMatcher.broadcastDict(spark, dictLabels)
    val out = Round.run(pages, robots, state.frontier, state.seenHashes,
      dict, state.round, 4000L)(spark)
    assert(out.fetchedCount === 0L)
  }

  test("bloom prefilter path produces the same crawl as exact path") {
    val (s1, r1, _) = full
    val (s3, r3, _) = Crawler.crawl(pages, robots, seeds, dictLabels,
      maxRounds = 40, roundMs = 4000L, bloomPrefilter = true)(spark)
    assert(s3.totalFetched === s1.totalFetched)
    assert(r3.select("url").collect().map(_.getString(0)).toSet ===
      r1.select("url").collect().map(_.getString(0)).toSet)
  }

  test("bucketed fetch shape produces the same crawl as the broadcast " +
      "fetch (multi-round loop, corpus partitioned+sorted on url once)") {
    val (s1, r1, _) = full
    val bucketedPages = Crawler.bucketCorpus(
      Synth.pages(spark, NHosts, Base).toDF(), 4).cache()
    try {
      val (s5, r5, _) = Crawler.crawl(bucketedPages, robots, seeds,
        dictLabels, maxRounds = 40, roundMs = 4000L,
        bucketedFetch = true)(spark)
      assert(s5.totalFetched === s1.totalFetched)
      assert(r5.select("url").collect().map(_.getString(0)).toSet ===
        r1.select("url").collect().map(_.getString(0)).toSet)
    } finally bucketedPages.unpersist()
  }

  test("co-partitioned bloom prefilter produces the same crawl as exact") {
    val (s1, r1, _) = full
    val (s4, r4, _) = Crawler.crawl(pages, robots, seeds, dictLabels,
      maxRounds = 40, roundMs = 4000L, bloomPrefilter = true,
      bloomCopartition = true)(spark)
    assert(s4.totalFetched === s1.totalFetched)
    assert(r4.select("url").collect().map(_.getString(0)).toSet ===
      r1.select("url").collect().map(_.getString(0)).toSet)
  }

  test("expiry recrawl: cuckoo delete + re-insert ≡ exact-set recrawl " +
      "(re-fetches exactly the expired pages, restores the full seen set)") {
    val (state, results, _) = full
    val cutoff = 2 // expire everything fetched in rounds 0 and 1
    val expired = results.toDF().filter(col("round") < cutoff)
    val expiredUrls = expired.select("url").collect()
      .map(_.getString(0)).toSet
    assert(expiredUrls.nonEmpty && expiredUrls.size < state.totalFetched,
      "fixture must expire a strict non-empty subset")
    def run(useCuckoo: Boolean) = Recrawl.recrawl(pages, robots,
      dictLabels, state, results, cutoff, useCuckoo,
      cuckooParams = graft.seen.CuckooShard.Params(8, 1 << 9))(spark)
    val (sE, rE, _) = run(useCuckoo = false)
    val (sC, rC, _) = run(useCuckoo = true)
    val urlsE = rE.select("url").collect().map(_.getString(0)).toSet
    val urlsC = rC.select("url").collect().map(_.getString(0)).toSet
    // both paths re-fetch exactly the expired pages, nothing else —
    // survivors stay deduped by the (pruned) seen set even though the
    // re-fetched pages re-discover links to them
    assert(urlsE === expiredUrls)
    assert(urlsC === urlsE)
    assert(sC.totalFetched === sE.totalFetched)
    // the seen set is whole again: every originally-fetched hash present
    def seenSet(s: Crawler.CrawlState) =
      s.seenHashes.select("url_hash").collect().map(_.getLong(0)).toSet
    assert(seenSet(sC) === seenSet(sE))
    assert(seenSet(sE) === results.select("url_hash").collect()
      .map(_.getLong(0)).toSet)
    // per-round schedule equality, not just the final set
    val schedE = rE.select("url", "round").collect()
      .map(r => (r.getString(0), r.getInt(1))).toMap
    val schedC = rC.select("url", "round").collect()
      .map(r => (r.getString(0), r.getInt(1))).toMap
    assert(schedC === schedE)
  }

  test("cuckoo-backed seen filter produces the same crawl as exact path " +
      "(full crawl with per-round insertAll growth)") {
    val (s1, r1, _) = full
    val (s6, r6, _) = Crawler.crawl(pages, robots, seeds, dictLabels,
      maxRounds = 40, roundMs = 4000L, bloomPrefilter = true,
      cuckooSeen = true,
      cuckooParams = graft.seen.CuckooShard.Params(8, 1 << 9))(spark)
    assert(s6.totalFetched === s1.totalFetched)
    assert(r6.select("url").collect().map(_.getString(0)).toSet ===
      r1.select("url").collect().map(_.getString(0)).toSet)
  }

  test("bloom shard build over Spark: no false negatives, unseen pass") {
    import spark.implicits._
    val hashes = (1L to 500L).map(i =>
      graft.url.Canonical.hash64(s"https://h$i.edu/")).toDF("url_hash")
    val shards = BloomShard.build(hashes)(spark)
    assert(shards.count() <= BloomShard.testParams.numShards)
    val out = BloomShard.filterUnseen(hashes, shards)(spark)
    assert(out.count() === 0) // all inserted → none pass as unseen
    val fresh = (1L to 500L).map(i =>
      graft.url.Canonical.hash64(s"https://fresh$i.edu/")).toDF("url_hash")
    val passed = BloomShard.filterUnseen(fresh, shards)(spark).count()
    assert(passed >= 490) // few false positives allowed
  }

  test("consume-and-release mode (retainResults=false) crawls the same " +
      "pages: identical state + lineage, empty results handle") {
    val (state, results, lineage) = full
    val (s2, r2, l2) = Crawler.crawl(pages, robots, seeds, dictLabels,
      maxRounds = 40, roundMs = 4000L, retainResults = false)(spark)
    assert(s2.totalFetched === state.totalFetched)
    assert(s2.round === state.round)
    // the seen set (the crawl's URL membership record) must be identical
    assert(s2.seenHashes.except(state.seenHashes).count() === 0L)
    assert(state.seenHashes.except(s2.seenHashes).count() === 0L)
    // lineage counters are preserved in full; the results handle is empty
    assert(l2.agg(sum("fetch_count")).head.getLong(0) ===
      lineage.agg(sum("fetch_count")).head.getLong(0))
    assert(r2.count() === 0L)
    assert(results.count() === state.totalFetched)
  }

  test("no committed frontier holds a robots-disallowed or excluded url") {
    val (snap, state, _) = drained
    val rules = robots.collect().map(r => r.host -> r.disallow_prefixes).toMap
    // the corpus does link to disallowed pages: the gate has work to do
    assert(pages.filter(col("url").contains("/private/")).count() > 0)
    assert(snap.latest() === state.round - 1)
    (0 to snap.latest()).foreach { r =>
      snap.read(r, "frontier").select("url", "host").collect().foreach { row =>
        val (url, host) = (row.getString(0), row.getString(1))
        val path = url.replaceFirst("^https?://[^/]*", "")
        assert(!rules.getOrElse(host, Nil).exists(path.startsWith),
          s"round $r frontier holds robots-disallowed $url")
        assert(!Synth.excludeKeywords.exists(url.toLowerCase.contains),
          s"round $r frontier holds excluded $url")
      }
    }
  }

  test("lineage counters equal the former groupBy(spark_partition_id) " +
      "form on the fixture") {
    import graft.extract.EscoMatcher
    import spark.implicits._
    val dict = EscoMatcher.broadcastDict(spark, dictLabels)
    var state = Crawler.initialState(seeds, pages, robots)(spark)
    (0 until 3).foreach { r =>
      val out = Round.run(pages, robots, state.frontier, state.seenHashes,
        dict, r, 4000L)(spark)
      val former = out.results.toDF()
        .withColumn("partition_id", spark_partition_id())
        .groupBy(col("partition_id"))
        .agg(count(lit(1)), sum(when(length(col("text")) > 0, 1).otherwise(0)),
          sum(size(col("skill_uris"))))
        .collect()
        .map(x => (r, x.getInt(0), x.getLong(1), x.getLong(2), x.getLong(3)))
      val got = out.lineage.collect().map(l =>
        (l.round, l.partition_id, l.fetch_count, l.extract_count, l.skill_hits))
      assert(got.sorted.toSeq === former.sorted.toSeq, s"round $r")
      assert(out.lineage.collect().forall(_.new_links == 0L))
      state = Crawler.CrawlState(r + 1,
        out.nextFrontier.toDF().localCheckpoint(true)
          .as[graft.model.FrontierEntry],
        state.seenHashes.unionByName(out.newSeenHashes).localCheckpoint(true),
        state.totalFetched + out.fetchedCount)
      out.release(); out.releaseResults()
    }
  }

  test("CI guard: a draining snapshot + co-partitioned-Bloom crawl runs " +
      "no trailing empty round and stays under the per-round job bound") {
    val (_, state, jobs) = drained
    val k = state.round
    assert(k > 2)
    val (_, capped, cappedJobs) = durable(k)
    assert(capped.totalFetched === state.totalFetched)
    assert(jobs === cappedJobs,
      s"draining crawl ran $jobs jobs, the same crawl capped at $k rounds " +
        s"$cappedJobs: the drain ran a trailing empty round")
    val firstDir = Files.createTempDirectory("graft-durable")
    val (_, _, firstJobs) = durable(1, firstDir)
    val perRound = (cappedJobs - firstJobs).toDouble / (k - 1)
    assert(perRound <= JobsPerSteadyRound,
      f"$perRound%.1f jobs per steady round, bound $JobsPerSteadyRound")
    // a resume reads the committed shards back (no rebuild from seen),
    // so its first round runs no more jobs than a steady round
    val (_, resumed, resumedJobs) = durable(2, firstDir)
    assert(resumed.round === 2)
    info(f"round 0: $firstJobs jobs, steady rounds: $perRound%.1f, " +
      s"resumed round 1: $resumedJobs")
    assert(resumedJobs <= JobsPerSteadyRound,
      s"the resumed round ran $resumedJobs jobs, bound $JobsPerSteadyRound")
  }

  test("a Bloom snapshot's shards equal a build of its seen set after " +
      "every committed round") {
    import spark.implicits._
    val (snap, _, _) = drained
    (0 to snap.latest()).foreach { r =>
      assert(bits(snap.read(r, "shards").as[SeenShard]) ===
        bits(BloomShard.build(snap.read(r, "seen"))), s"round $r")
    }
  }

  test("a snapshot without its shards table (the former format), or " +
      "resumed under another shard layout, resumes to the same final state") {
    import com.fasterxml.jackson.databind.ObjectMapper
    import com.fasterxml.jackson.databind.node.ObjectNode
    import spark.implicits._
    val want = finalState(drained._1)
    // former format: the last manifest names no shards table
    val dir = Files.createTempDirectory("graft-former")
    val (snap, _, _) = durable(2, dir)
    val last = snap.latest()
    val manifest = dir.resolve(s"manifest_$last.json").toFile
    val mapper = new ObjectMapper()
    val root = mapper.readTree(manifest).asInstanceOf[ObjectNode]
    Seq("tables", "schemas").foreach(n =>
      root.get(n).asInstanceOf[ObjectNode].remove("shards"))
    root.get("counters").asInstanceOf[ObjectNode].remove("shards_layout")
    mapper.writeValue(manifest, root)
    org.apache.commons.io.FileUtils.deleteDirectory(
      dir.resolve(s"round=$last/shards").toFile)
    durable(40, dir)
    assert(finalState(snap) === want)
    // another layout: the committed shards are rebuilt under it
    val other = BloomShard.Params(8, 1 << 12, 5)
    val dir2 = Files.createTempDirectory("graft-layout")
    val (snap2, _, _) = durable(2, dir2)
    durable(40, dir2, other)
    assert(finalState(snap2) === want)
    assert(bits(snap2.read(snap2.latest(), "shards").as[SeenShard]) ===
      bits(BloomShard.build(snap2.read(snap2.latest(), "seen"), other)))
  }
}
