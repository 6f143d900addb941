package graft

import org.apache.spark.sql.SparkSession

/** The one place an entry point's SparkSession is built (`session`),
  * and the host I/O tuning every such session carries (`conf`).
  *
  * Round-2 diagnosis (BASELINE.md): on this sandbox kernel,
  * `FileChannel.transferTo` falls back to its mmap-copy path and
  * Spark's DiskStore memory-maps any disk block over 2 MiB. Both put
  * every shuffle-file concatenation and spilled-cache read through
  * mmap/munmap syscalls, and all task threads of a local-mode JVM
  * share one process mmap lock — contention grows superlinearly with
  * core count (local[32] collapsed to ~150 urls/s in big crawl rounds
  * while local[8] barely noticed; jstack showed all 32 workers inside
  * FileChannelImpl.map0). Streamed copies make both paths lock-free:
  *
  *  - `spark.file.transferTo=false` — BypassMergeSortShuffleWriter
  *    concatenates partition files through plain buffered streams.
  *  - `spark.storage.memoryMapThreshold=2g` — DiskStore reads spilled
  *    blocks through a stream instead of mmap.
  *  - `spark.shuffle.file.buffer=1m` — fewer write syscalls per
  *    shuffle file at a negligible memory cost per active writer.
  *
  * On a real multi-executor cluster the same settings are per-executor
  * conf; with ≤ 8 cores per executor the mmap contention largely
  * disappears, but streamed copies are never worse on many-core hosts.
  *
  * `spark.sql.codegen.cache.maxEntries=4096` — Spark compiles each
  * generated class with Janino and keeps it in one JVM-wide LRU of this
  * many entries (default 100), so a plan that ran before runs its
  * compiled, JIT-warm class again. The default is far below this
  * engine's working set:
  *
  *  - an entry is keyed by (class loader, source): in local mode every
  *    class takes two, the compile check at planning time and the
  *    executor task's loader;
  *  - Guava splits the LRU into 4 segments that evict separately, so
  *    about 25 entries are live per segment;
  *  - a crawl round needs about 150 entries, the 8 queries perfbench
  *    times about 220, `graft.Bench` (52 queries, the crawl legs) 640.
  *
  * With 100 entries a warm pass of those 8 queries recompiled about 220
  * classes and a steady crawl round 109 (CodegenCacheSpec). The size
  * comes from the largest single-JVM runs, counted with an ample cache,
  * where every compile is a distinct entry: the tier-1 test JVM compiles
  * 1509 distinct classes (8315 compiles and 103 s of Janino time at 100
  * entries, 21.8 s with all cached) and `graft.Bench` at sf0.01 640
  * (4888 compiles, 56.7 s → 13.9 s). 4096 leaves each segment 1024
  * entries, 2.7x the tier-1 set. Retained classes cost metaspace: used
  * Metaspace after the run grew 236.9 → 245.8 MB for tier-1 and
  * 207.1 → 211.3 MB for `graft.Bench`. It is a static SQL conf, read
  * once, when the JVM first generates code with a session active;
  * [[session]] and perfbench's session carry it from the first session.
  *
  * `spark.sql.codegen.useIdInClassName=false` — keeps the codegen stage
  * number out of the generated class's name
  * (`GeneratedIteratorForCodegenStage<N>`), and so out of the cache key.
  * AQE numbers a query's codegen stages in the order it creates them,
  * which follows the order concurrent shuffle stages finish; a warm pass
  * that finished them in another order compiled its stages again under
  * new numbers (CodegenCacheSpec: up to 13 compiles over 12 warm passes
  * of perfbench's 8 queries). The number is only a label: the stage id
  * still appears in the plan and its metrics.
  */
object SparkTune {
  val conf: Map[String, String] = Map(
    "spark.file.transferTo" -> "false",
    "spark.storage.memoryMapThreshold" -> "2g",
    "spark.shuffle.file.buffer" -> "1m",
    // Bound executor scratch space over a long crawl. Shuffle files are
    // deleted by ContextCleaner only after a DRIVER GC collects the
    // dereferenced ShuffleDependency; on a large, quiet driver heap that
    // can be never, so a 30-round crawl accumulates every round's
    // shuffle output on disk (measured: the 3.3M-url local-cluster leg
    // filled 78 GB of /tmp and died of ENOSPC at round ~25 with the
    // default 30min interval). Each round's plans go out of scope as
    // soon as its checkpoints are released, so a periodic driver GC
    // keeps live scratch ≈ the current round's shuffles. On a real
    // cluster this (or an external shuffle service TTL) is the same
    // knob that keeps 1000 executors' local disks bounded over a
    // multi-day crawl.
    "spark.cleaner.periodicGC.interval" -> "2min",
    // one compile per generated class per JVM (see the Scaladoc above)
    "spark.sql.codegen.cache.maxEntries" -> "4096",
    "spark.sql.codegen.useIdInClassName" -> "false")

  /** Local parallelism of an entry point: `SPARK_GRAFT_CPUS` when set,
    * else every core this JVM may use. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The session every main, the specs and the scaling legs run on:
    * `cores` shuffle partitions, AQE on, UTC, no UI, [[conf]], then
    * `extra` (a caller's own settings, e.g. local-cluster executors),
    * with the log level at WARN. */
  def session(master: String, cores: Int,
      extra: Map[String, String] = Map.empty): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(conf)
      .config(extra)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
