package graftbench

import java.nio.file.Path
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.col
import scala.collection.mutable.ArrayBuffer
import graft.crawl.{Crawler, Snapshot}
import graft.frontier.Frontier
import graft.model.{RobotsRule, Seed}
import graft.seen.BloomShard

/** The crawl workload, crawl-deep-durable: hosts with few plain pages
  * and a tight politeness budget, so that per-round cost dominates; the
  * co-partitioned Bloom seen set at `BloomShard.scaleParams`, and every
  * round committed through `Snapshot` to a fresh directory.
  *
  * One iteration is a crawl stopped after round K, a call that resumes
  * from the snapshot and runs exactly one round, and a call that resumes
  * again and drains the frontier. */
object CrawlWorkload {

  /** 50 hosts x 4 pages (`Synth.pagesPerHost(_, 0)`), richness 1,
    * budgets of 2 to 10 pages per host and round: three small rounds. */
  val Deep: Shape = Shape(50, 0, 1, 2000L)

  /** K: the first call of an iteration runs rounds 0 until K. */
  val K = 1

  final case class Inputs(pages: DataFrame, robots: Dataset[RobotsRule],
      seeds: Dataset[Seed])

  /** Generate and cache the corpus: the set-up a crawl user pays once. */
  private def inputs(spark: SparkSession, corpus: Corpus): Inputs = {
    val in = Inputs(corpus.pages(spark).toDF().cache(),
      corpus.robots(spark).cache(), corpus.seeds(spark))
    in.pages.count()
    in.robots.count()
    in
  }

  /** Expected output of a crawl, computed without the engine. */
  final case class Expected(reach: Seq[(Int, Int)], urls: Set[String])

  /** Timings and counts of one iteration. */
  final case class Iter(totalS: Double, resumeS: Double, fetched: Long,
      snapshotBytes: Long, liveMb: Double)

  private def secs(t0: Long, t1: Long): Double = (t1 - t0) / 1e9

  def run(ctx: Ctx): Unit = {
    val corpus = new Corpus(ctx.seed, Deep)
    val (spark0, in) = ctx.setup(s => inputs(s, corpus))
    implicit val spark: SparkSession = spark0
    val reach = Reach.pages(corpus)
    val exp = Expected(reach, reach.map { case (i, p) => corpus.url(i, p) }.toSet)
    val runner = new Runner(ctx, corpus, in, exp, JobStats.install(spark))
    ctx.phase("expected")
    val tracer =
      if (ctx.trace.enabled) Some(new Tracer(runner)) else None
    // iterations fill the run's time without overrunning it: the next
    // one starts only if one more of the last one's length still fits
    val iters = ArrayBuffer.empty[Iter]
    val end = ctx.deadline(System.nanoTime())
    ctx.trace.span("workload") {
      while (iters.isEmpty ||
          System.nanoTime() + iters.last.totalS * 1e9 <= end)
        iters += ctx.trace.span("iteration")(runner.iteration(tracer))
    }
    ctx.phase("iterations")
    val res = ctx.res
    tracer match {
      case None =>
        res.metric("ops_per_s",
          Stats.median(iters.map(i => i.fetched / i.totalS).toSeq), "ops/s")
        res.metric("restart_s", Stats.median(iters.map(_.resumeS).toSeq), "s")
      case Some(t) =>
        t.report(iters.toSeq)
    }
  }

  /** Runs iterations: untraced as three `Crawler.crawl` calls, traced by
    * stepping the crawl one round per call (see [[Tracer]]). */
  final class Runner(val ctx: Ctx, val corpus: Corpus, val in: Inputs,
      val exp: Expected, val jobs: JobStats)
      (implicit val spark: SparkSession) {
    import spark.implicits._
    private var n = 0

    def crawl(snap: Snapshot, maxRounds: Int,
        from: Option[Crawler.CrawlState] = None): Crawler.CrawlState =
      Crawler.crawl(in.pages, in.robots, in.seeds, Corpus.dict,
        maxRounds = maxRounds, roundMs = corpus.shape.roundMs,
        snapshot = Some(snap), bloomPrefilter = true, bloomCopartition = true,
        bloomParams = BloomShard.scaleParams, startState = from,
        retainResults = false)._1

    def release(s: Crawler.CrawlState): Unit = {
      graft.util.Checkpoints.release(s.frontier)
      graft.util.Checkpoints.release(s.seenHashes)
      s.seenShards.foreach(graft.util.Checkpoints.release)
    }

    /** One crawl to round K, a one-round resume and a drain, each an
      * operation that fails if it throws; the output is then checked. A
      * call that fails ends the iteration. */
    def iteration(tracer: Option[Tracer]): Iter = {
      n += 1
      val dir = ctx.work.resolve(s"snapshot-$n")
      val snap = new Snapshot(dir.toString)
      val res = ctx.res
      var state: Option[Crawler.CrawlState] = None
      var ok = true
      var liveMb = 0.0
      // runs one call and returns its wall seconds; a traced run then
      // takes the live heap outside the timed window
      def call(name: String)(body: => Crawler.CrawlState): Double =
        if (!ok) 0.0
        else {
          val t0 = System.nanoTime()
          res.op(name) {
            ok = false
            state = Some(ctx.trace.span(s"crawl_call.$name")(body))
            ok = true
            ok
          }
          val t = secs(t0, System.nanoTime())
          if (tracer.isDefined) liveMb = math.max(liveMb, Heap.liveMb())
          t
        }
      // every call after the first starts from the snapshot
      def untraced(maxRounds: Int): Crawler.CrawlState = {
        val s = crawl(snap, maxRounds)
        state.foreach(release)
        s
      }
      val times = tracer match {
        case None => Seq(call("to_k")(untraced(K)),
          call("resume")(untraced(K + 1)),
          call("drain")(untraced(Int.MaxValue)))
        case Some(t) => Seq(call("to_k")(t.steps(dir, snap, None, K)),
          call("resume")(t.resume(dir, snap, state.get, K + 1)),
          call("drain")(t.steps(dir, snap, state, Int.MaxValue)))
      }
      val fetched = state.map(_.totalFetched).getOrElse(0L)
      res.op("check") {
        res.check("fetched == reachable", fetched == exp.urls.size,
          s"$fetched vs ${exp.urls.size}") & checkSnapshot(snap)
      }
      state.foreach(release)
      val bytes = Main.treeBytes(dir)
      Main.deleteTree(dir)
      System.err.println(s"[perfbench] iteration fetched=$fetched " +
        s"rounds=${state.map(_.round).getOrElse(-1)} calls_s=" +
        times.map(t => f"$t%.2f").mkString(","))
      Iter(times.sum, times(1), fetched, bytes, liveMb)
    }

    /** Read the results back from the snapshot and check them against
      * the generator: the row count equals the committed `total_fetched`
      * counter and the reachable count, `url_hash` values are distinct,
      * the url set equals the reachable set, and every row's text is
      * byte-identical to `Synth.text` with the matcher's skill count. */
    private def checkSnapshot(snap: Snapshot): Boolean = {
      val res = ctx.res
      val last = snap.latest()
      val total = snap.counters(last).getOrElse("total_fetched", -1L)
      val rows = snap.read(last, "results")
        .select("url", "url_hash", "text", "skill_uris")
        .as[(String, Long, String, Seq[String])].collect().toSeq
      val byUrl = exp.reach.iterator.map { case (i, p) => corpus.url(i, p) -> (i, p) }.toMap
      val dict = graft.extract.EscoMatcher.buildDict(Corpus.dict)
      val bad = rows.count { case (u, _, t, skills) =>
        byUrl.get(u).forall { case (i, p) =>
          val want = corpus.text(i, p, Corpus.labels)
          want != t || graft.extract.EscoMatcher.matchUris(dict, want).size != skills.size
        }
      }
      res.check("rows == total_fetched == reachable",
          rows.size == total && total == exp.urls.size,
          s"rows=${rows.size} total_fetched=$total reachable=${exp.urls.size}") &
        res.check("url_hash distinct",
          rows.map(_._2).distinct.length == rows.length) &
        res.check("url set == reachable set", rows.map(_._1).toSet == exp.urls) &
        res.check("text == Synth.text, skill hits match", bad == 0,
          s"$bad rows differ")
    }
  }

  object Tracer {
    /** Wall time, Spark counters, pages and snapshot bytes of one round. */
    final case class RoundRec(wallS: Double, c: JobStats.Counts,
        fetched: Long, snapBytes: Long, seenBytes: Long)

    /** Span names whose self time the traced run reports, per iteration. */
    val Spans: Seq[String] = Seq("iteration", "crawl_call.to_k",
      "crawl_call.resume", "crawl_call.drain", "round", "Crawler.crawl",
      "Frontier.robotsGate", "Frontier.selectRound",
      "BloomShard.flagMaybeSeenCopartitioned", "BloomShard.build_union",
      "Snapshot.read")
  }

  /** Per-layer measurement of a traced iteration. It steps the crawl one
    * round per `Crawler.crawl` call; before each step it times the layer
    * calls on that round's inputs (the step releases them), and it reads
    * the Spark counters around each step. */
  final class Tracer(r: Runner) {
    implicit val spark: SparkSession = r.spark
    import spark.implicits._
    import Tracer.RoundRec
    private val trace = r.ctx.trace
    private val params = BloomShard.scaleParams

    private val rounds = ArrayBuffer.empty[RoundRec]
    private val sums = scala.collection.mutable.Map.empty[String, Double]
      .withDefaultValue(0.0)
    private def add(name: String, v: Double): Unit = sums(name) += v
    private def timed[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val v = trace.span(name)(body)
      add(name, secs(t0, System.nanoTime()))
      v
    }

    /** Layer calls on the inputs of the round `s` is about to run. */
    private def probeRound(s: Crawler.CrawlState): Unit = {
      val frontier = s.frontier
      add("probed_rounds", 1)
      val gated = timed("Frontier.robotsGate") {
        val g = Frontier.robotsGate(frontier, r.in.robots).cache()
        g.count()
        g
      }
      val selected = timed("Frontier.selectRound") {
        val (sel, deferred, ranked) =
          Frontier.selectRound(gated, r.in.robots, r.corpus.shape.roundMs)
        val h = sel.select("url_hash").as[Long].collect()
        deferred.count()
        ranked.unpersist()
        h
      }
      gated.unpersist()
      // rows the Bloom filter flags maybe-seen, which the exact seen set
      // must verify, and how many of those turn out unseen
      val shards = s.seenShards.getOrElse(
        sys.error(s"no seen shards in the state after round ${s.round}"))
      val flagged = timed("BloomShard.flagMaybeSeenCopartitioned") {
        val f = BloomShard.flagMaybeSeenCopartitioned(frontier.toDF(),
          shards, params).cache()
        f.count()
        f
      }
      val bytes = timed("BloomShard.build_union") {
        BloomShard.union(shards,
            BloomShard.build(selected.toSeq.toDF("url_hash"), params))
          .map(_.bits.length.toLong).collect().sum
      }
      add("seen.shard_bytes", bytes.toDouble)
      add("seen.rows", flagged.count().toDouble)
      val verified = flagged.filter(col(BloomShard.MaybeCol)).cache()
      flagged.unpersist()
      add("seen.verified", verified.count().toDouble)
      add("seen.verified_unseen",
        verified.join(s.seenHashes, Seq("url_hash"), "left_anti").count().toDouble)
      verified.unpersist()
    }

    /** One `Crawler.crawl` call, with the Spark counters and snapshot
      * bytes read around it; a call that fetched pages is a round. */
    private def step(dir: Path, snap: Snapshot,
        from: Option[Crawler.CrawlState], maxRounds: Int,
        fetched0: Long): Crawler.CrawlState = {
      JobStats.drain(spark)
      val before = r.jobs.snapshot()
      val bytes0 = Main.treeBytes(dir)
      val t0 = System.nanoTime()
      val s = trace.span("Crawler.crawl")(r.crawl(snap, maxRounds, from))
      val wall = secs(t0, System.nanoTime())
      JobStats.drain(spark)
      val fetched = s.totalFetched - fetched0
      if (fetched > 0) rounds += RoundRec(wall, r.jobs.snapshot() - before,
        fetched, Main.treeBytes(dir) - bytes0,
        Main.treeBytes(dir.resolve(s"round=${s.round - 1}/seen")))
      s
    }

    /** Step from `from` (a fresh crawl when None) until round `until` or
      * until the frontier drains. */
    def steps(dir: Path, snap: Snapshot,
        from: Option[Crawler.CrawlState], until: Int): Crawler.CrawlState = {
      var s = from.getOrElse(trace.span("round")(step(dir, snap, None, 1, 0L)))
      var done = s.round >= until
      while (!done) {
        val prev = s
        s = trace.span("round") {
          probeRound(prev)
          step(dir, snap, Some(prev), prev.round + 1, prev.totalFetched)
        }
        done = s.round == prev.round || s.round >= until
      }
      s
    }

    /** The resume after round K: the snapshot read it starts with, timed
      * alone, then the resume call itself. */
    def resume(dir: Path, snap: Snapshot, s: Crawler.CrawlState,
        until: Int): Crawler.CrawlState = {
      timed("Snapshot.read") {
        val last = snap.latest()
        snap.read(last, "frontier").count()
        snap.read(last, "seen").count()
      }
      val next = trace.span("round")(step(dir, snap, None, until, s.totalFetched))
      r.release(s)
      next
    }

    def report(iters: Seq[Iter]): Unit = {
      val res = r.ctx.res
      val n = iters.size.toDouble
      val cores = r.ctx.cores
      val walls = rounds.map(_.wallS).toSeq
      val total = rounds.map(_.c).reduce(_ + _)
      val nr = rounds.size.toDouble
      val fetched = rounds.map(_.fetched).sum.toDouble
      val probed = math.max(1.0, sums("probed_rounds"))
      res.metric("crawl.round_s.p50", Stats.median(walls), "s")
      res.metric("crawl.round_s.tail",
        Stats.tail(walls).map(_._2).getOrElse(walls.max), "s")
      res.metric("crawl.round_s.count", nr, "count")
      res.metric("crawl.jobs_per_round", total.jobs / nr, "jobs")
      res.metric("crawl.stages_per_round", total.stages / nr, "stages")
      res.metric("crawl.tasks_per_round", total.tasks / nr, "tasks")
      res.metric("crawl.busy_ratio", total.taskRunS / (walls.sum * cores), "ratio")
      res.metric("crawl.gc_s", total.gcS / n, "s")
      res.metric("crawl.shuffle_bytes_per_url", total.shuffleBytes / fetched, "B/url")
      res.metric("crawl.rounds", nr / n, "count")
      res.metric("crawl.pages_per_round", fetched / nr, "pages")
      // the untraced formula over the traced calls: against ops_per_s it
      // gives the tracing overhead
      res.metric("crawl.traced_ops_per_s",
        Stats.median(iters.map(i => i.fetched / i.totalS)), "ops/s")
      res.metric("frontier.robots_gate_s", sums("Frontier.robotsGate") / probed, "s")
      res.metric("frontier.select_round_s", sums("Frontier.selectRound") / probed, "s")
      res.metric("seen.flag_s",
        sums("BloomShard.flagMaybeSeenCopartitioned") / probed, "s")
      res.metric("seen.shard_grow_s", sums("BloomShard.build_union") / probed, "s")
      res.metric("seen.shard_bytes", sums("seen.shard_bytes") / probed, "B")
      res.metric("seen.maybe_ratio", sums("seen.verified") / sums("seen.rows"), "ratio")
      res.metric("seen.fp_ratio",
        sums("seen.verified_unseen") / math.max(1.0, sums("seen.verified")), "ratio")
      res.metric("snapshot.bytes_per_round", rounds.map(_.snapBytes).sum / nr, "B")
      res.metric("snapshot.seen_bytes_per_round", rounds.map(_.seenBytes).sum / nr, "B")
      res.metric("snapshot.bytes_per_url",
        iters.map(_.snapshotBytes).sum / iters.map(_.fetched).sum.toDouble, "B/url")
      res.metric("snapshot.read_s", sums("Snapshot.read") / n, "s")
      res.metric("driver.live_heap_mb", iters.map(_.liveMb).max, "MB")
      Kernels.measure(r.corpus, r.exp.reach, trace).foreach { case (k, v) =>
        res.metric(k, v, "us")
      }
      val self = trace.selfTimeByName
      Tracer.Spans.foreach(k => res.metric(s"self.$k", self.getOrElse(k, 0.0) / n, "s"))
    }
  }
}
