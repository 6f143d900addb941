package graft

import org.apache.spark.sql.SparkSession

/** N-vs-4N scaling evidence (BASELINE.md sandbox substitution for the
  * north rule's two-cluster-size criterion): runs the identical crawl
  * job on the same input at two parallelism levels and prints
  * throughput plus efficiency = (urls/s @32) / (4 × urls/s @8).
  *
  * Recorded protocol (BASELINE.md round 3): one leg per process
  * (`ScalingBench <cores> …` twice — fork gives a fresh JVM each),
  * in-JVM warmup crawl, GRAFT_REPS=2-3 best-of-N per leg (host noise
  * swings identical reps up to 3.5×), ParallelGC (build.sbt default).
  * GRAFT_LOCAL_CLUSTER=<execMemMb> instead runs (cores/8) separate
  * 8-core executor JVMs — the per-executor-heap analog of real
  * N-vs-4N executors.
  */
object ScalingBench {

  /** The measurement session: one parallelism level, every engine knob
    * identical across legs. Shared by ScalingBench and ScalingCensus so a
    * census component and a crawl leg at the same `cores` see the same
    * engine configuration. It is [[SparkTune.session]] (AQE on, `cores`
    * shuffle partitions) plus only what a leg layout adds: the
    * local-cluster executors below and `GRAFT_NOBC`'s thresholds.
    *
    * GRAFT_LOCAL_CLUSTER=<execMemMb>: run as a pseudo-cluster of
    * (cores/8) executor JVMs × 8 cores each instead of one local[N]
    * JVM — the faithful sandbox analog of the north rule's "N vs 4N
    * executors" criterion: per-executor heaps mean GC work scales with
    * executor count exactly as on a real cluster, instead of one shared
    * heap serving every worker thread. Requires `sbt package` first
    * (executors load app classes from the packaged jar). */
  def session(cores: Int): SparkSession = {
    val localCluster = sys.env.get("GRAFT_LOCAL_CLUSTER").map(_.toInt)
    val CoresPerExec = 8
    // layout derived ONCE; the echo below prints these same values, so
    // it cannot desynchronize from the master string it describes
    val layout = localCluster.map { memMb =>
      require(cores % CoresPerExec == 0,
        s"local-cluster legs use $CoresPerExec-core executors")
      (cores / CoresPerExec, CoresPerExec, memMb)
    }
    val master = layout match {
      case Some((nExec, cpe, memMb)) => s"local-cluster[$nExec,$cpe,$memMb]"
      case None => s"local[$cores]"
    }
    // echo the RESOLVED layout (VERDICT r5 #6): the memory-as-suffix
    // encoding (GRAFT_LOCAL_CLUSTER=22528 = n×22g executors) is one typo
    // from an invalid pair that looks valid in the leg logs — print what
    // the session will actually run so a mis-typed layout can never
    // masquerade as the intended one. ScalingCensus shares this session.
    layout match {
      case Some((nExec, cpe, memMb)) => System.err.println(
        f"[session] resolved layout: $nExec executor JVM(s) x $cpe " +
        f"cores x ${memMb / 1024.0}%.1fg (master=$master)")
      case None => System.err.println(
        s"[session] resolved layout: single JVM, master=$master")
    }
    val clusterConf = layout.fold(Map.empty[String, String]) {
      case (_, _, memMb) =>
        // exact-artifact match — a loose endsWith(".jar") once shipped
        // whatever stale jar listed first (e.g. an old version) to the
        // executors; multiple matches must fail loudly, not pick one
        val jars = Option(new java.io.File("target/scala-2.13")
          .listFiles((_, n) => n.startsWith("curriculumskillsspark") &&
            n.endsWith(".jar") && !n.contains("-sources") &&
            !n.contains("-javadoc")))
          .getOrElse(Array.empty).toSeq
        val jar = jars match {
          case Seq(j) => j.getAbsolutePath
          case Seq() =>
            sys.error("run `sbt package` before local-cluster legs")
          case many => sys.error(s"ambiguous app jars: ${many.mkString(", ")}")
        }
        Map("spark.jars" -> jar,
          // local-cluster[n,c,mem] caps the WORKER's memory; the executor
          // JVM itself still defaults to 1g without this
          "spark.executor.memory" -> s"${memMb}m",
          // the SPARK_GC_OPTS A/B knob (build.sbt) reaches the driver JVM
          // via sbt javaOptions; executors are separate JVMs and must get
          // the SAME collector or a GC A/B silently compares
          // mixed-collector runs
          "spark.executor.extraJavaOptions" ->
            sys.env.getOrElse("SPARK_GC_OPTS", "-XX:+UseParallelGC"))
    }
    // GRAFT_NOBC=1: disable AUTOMATIC broadcast-join conversion (both
    // the static planner threshold and AQE's runtime threshold, which
    // defaults to it) — the sandbox emulation of the ≳10⁷-row regime
    // where the seen set no longer fits a broadcast. Explicit
    // broadcast() hints on tables bounded by construction (the
    // budget-bounded selected fetch set, robots, budgets) survive a
    // -1 threshold, so ONLY the unhinted seen-set anti-joins change
    // shape: the exact leg becomes the full frontier × seen shuffle
    // the break-even model assumes, while the Bloom leg's verify join
    // shuffles just the maybe-seen sliver against the seen table.
    // This is the knob behind BASELINE.md's measured break-even legs.
    // Unset, both thresholds keep Spark's default (10 MiB).
    val noBroadcast =
      if (sys.env.get("GRAFT_NOBC").contains("1")) Map(
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
      else Map.empty[String, String]
    val spark = SparkTune.session(master, cores, clusterConf ++ noBroadcast)
    // Local-cluster executors register ASYNCHRONOUSLY after getOrCreate
    // returns; until then CoarseGrainedSchedulerBackend.defaultParallelism
    // is max(registeredCores, 2) = 2, and any spark.range-backed synthesis
    // planned in that window inherits a 2-slice layout for the life of its
    // cache — observed in the round-5 census legs, where the 832k corpus
    // extract ran on 2 of 32 cores (663 s at [1,8]; 725 s at [4,8]: both
    // measuring the race, not scaling). The composite crawl legs dodged
    // this only because their untimed warmup crawl preceded synthesis.
    // Block until the requested cores are registered so data layout never
    // depends on the registration race.
    localCluster.foreach { _ =>
      val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
      while (spark.sparkContext.defaultParallelism < cores &&
             System.nanoTime() < deadline) Thread.sleep(100)
      require(spark.sparkContext.defaultParallelism >= cores,
        s"only ${spark.sparkContext.defaultParallelism} of $cores cores " +
        "registered after 120 s — check worker/executor logs")
    }
    StageLog.maybeInstall(spark.sparkContext)
    spark
  }

  private def crawlAt(cores: Int, nHosts: Int, basePages: Int,
      richness: Int): (Long, Double) = {
    val spark = session(cores)
    // warmup leg (recorded round-1 protocol): a small untimed crawl first
    // pays JIT + Catalyst/janino codegen warmup inside this JVM, mirroring
    // the steady-state warm executors of a real cluster — the N-vs-4N
    // criterion varies executor count, not cold-start cost
    val (wf, wt) = Bench.runCrawl(spark, 60, 16, 8, roundMs = 200000L)
    System.err.println(s"[scaling] warmup@$cores: $wf urls in $wt s")
    // roundMs 600s: per-host budgets 600-3000 → the crawl drains in
    // ~BFS-depth rounds. Every round pays a full corpus-cache probe scan
    // (the sandbox "fetch"), which is memory-bandwidth-bound and thus the
    // worst-scaling component — the politeness window is a legitimate
    // knob, and a wider window measures the engine, not the scan count.
    //
    // Two timed repetitions, best-of-2 reported: this sandbox shows
    // episodic multi-second whole-JVM stalls (identical rounds swing
    // 10-20× across runs with unchanged plans and flat GC; BASELINE.md
    // round-2 notes) — min-of-N isolates the engine's capability from
    // host noise, and both legs get the identical protocol.
    // GRAFT_BLOOM=1 routes the timed crawls through the co-partitioned
    // Bloom-shard seen-set path (same output; CrawlerSpec-proven).
    // GRAFT_BUCKETED=1 uses the bucketed-corpus fetch shape (corpus
    // partitioned+sorted on url once; rounds shuffle only the selected
    // side — PlanSpec-asserted). GRAFT_SNAPSHOT_DIR=<dir> runs in durable
    // mode: per-round snapshot commits inside the timed window.
    val bloom = sys.env.get("GRAFT_BLOOM").contains("1")
    val bucketed = sys.env.get("GRAFT_BUCKETED").contains("1")
    val snapDir = sys.env.get("GRAFT_SNAPSHOT_DIR")
    // GRAFT_REPS overrides the rep count for quick GC/config experiments;
    // recorded BASELINE.md legs use the default best-of-2
    val reps = sys.env.get("GRAFT_REPS").map(_.toInt).getOrElse(2)
    val runs = (1 to reps).map { i =>
      val out = Bench.runCrawl(spark, nHosts, basePages, richness,
        roundMs = 600000L, bloom = bloom, bucketed = bucketed,
        snapshotDir = snapDir.map(d => s"$d/rep$i"))
      System.err.println(s"[scaling] rep$i@$cores: ${out._1} urls in ${out._2} s")
      out
    }
    val out = runs.minBy(r => r._2 / r._1)
    spark.stop()
    // a fresh builder after stop() creates a new context (same JVM)
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    out
  }

  /** args: [cores|0] [nHosts] [basePages] [richness]. cores=0 runs both
    * 8 and 32 sequentially; a single cores value prints one measurement
    * (so long runs can be driven one parallelism level per process). */
  def main(args: Array[String]): Unit = {
    val cores = if (args.length > 0) args(0).toInt else 0
    val nHosts = if (args.length > 1) args(1).toInt else 500
    val basePages = if (args.length > 2) args(2).toInt else 64
    val richness = if (args.length > 3) args(3).toInt else 30
    if (cores > 0) {
      val (f, t) = crawlAt(cores, nHosts, basePages, richness)
      println(s"""{"metric":"crawl_throughput","cores":$cores,""" +
        s""""urls_per_sec":${f / t},"fetched":$f,"secs":$t}""")
    } else {
      val (f8, t8) = crawlAt(8, nHosts, basePages, richness)
      val (f32, t32) = crawlAt(32, nHosts, basePages, richness)
      require(f8 == f32, s"same input must fetch same urls: $f8 vs $f32")
      val r8 = f8 / t8
      val r32 = f32 / t32
      val eff = r32 / (4.0 * r8)
      println(s"""{"metric":"scaling_efficiency","value":$eff,""" +
        s""""urls_per_sec_8":$r8,"urls_per_sec_32":$r32,""" +
        s""""fetched":$f8,"secs_8":$t8,"secs_32":$t32}""")
    }
  }
}
