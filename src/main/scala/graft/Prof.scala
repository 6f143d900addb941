package graft

import java.util.concurrent.atomic.LongAdder
import scala.collection.concurrent.TrieMap
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Diagnostic wall-time accumulators for hot per-row functions (local
  * mode: driver + executors share the JVM, so a global registry works),
  * printed and reset after every round by the crawl's round log.
  *
  * Gated: the wrapped UDFs run millions of times per crawl round across
  * all task threads, so the timers run only under that round log,
  * `GRAFT_ROUND_LOG=1` at JVM start — otherwise `time` is a single
  * static-final branch and zero shared-state traffic (shared AtomicLong
  * CASes from 32 cores are exactly the cache-line contention the crawl's
  * GC work removed). Accumulation uses striped [[LongAdder]]s rather than
  * AtomicLongs for the same reason. */
object Prof {
  /** `GRAFT_ROUND_LOG=1`: the per-round timings printed by `crawl.Round`
    * and `crawl.Crawler`, these timers included. Read once at class
    * load; flipping it requires a new JVM. */
  val roundLog: Boolean = sys.env.get("GRAFT_ROUND_LOG").contains("1")

  private val timers = TrieMap.empty[String, LongAdder]
  private val counts = TrieMap.empty[String, LongAdder]

  @inline def time[T](name: String)(f: => T): T = {
    if (!roundLog) f
    else {
      val t0 = System.nanoTime()
      val r = f
      timers.getOrElseUpdate(name, new LongAdder).add(System.nanoTime() - t0)
      counts.getOrElseUpdate(name, new LongAdder).increment()
      r
    }
  }

  def snapshotAndReset(): String = {
    val parts = timers.keys.toSeq.sorted.map { k =>
      val s = timers(k).sumThenReset() / 1e9
      val n = counts.get(k).map(_.sumThenReset()).getOrElse(0L)
      f"$k=$s%.1fs/$n"
    }
    parts.mkString(" ")
  }

  /** Spark's Janino compiles in this JVM so far and their nanoseconds:
    * the misses of its generated-class cache (`SparkTune.conf`), the
    * planner's and, in local mode, the executors' together. Call it with
    * a session active: a first call loads Spark's code generator, which
    * sizes its cache from the active session's conf. */
  def codegen(): (Long, Long) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)

  /** `codegen=<compiles>/<ms>` since `from`, an earlier [[codegen]]. */
  def codegenSince(from: (Long, Long)): String = {
    val (n, ns) = codegen()
    f"codegen=${n - from._1}/${(ns - from._2) / 1e6}%.0fms"
  }
}
