package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.LongAdder
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Order statistics over samples. */
object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile, `q` in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest percentile in 51..99 with at least ten samples above
    * it, with its value; None below 21 samples, where no such percentile
    * exists. */
  def tail(xs: Seq[Double]): Option[(Int, Double)] =
    (99 to 51 by -1).find(p => xs.size * (100 - p) / 100.0 >= 10)
      .map(p => (p, quantile(xs, p / 100.0)))
}

/** Spark-side counters from a listener the benchmark registers itself:
  * jobs, stages, tasks, summed task run time, task GC time and shuffle
  * bytes written, read with `snapshot()` as deltas around a region. */
final class JobStats extends SparkListener {
  private val jobs, stages, tasks, runMs, gcMs, shuffleBytes = new LongAdder

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.increment()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.increment()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.increment()
    val m = e.taskMetrics
    if (m != null) {
      runMs.add(m.executorRunTime)
      gcMs.add(m.jvmGCTime)
      shuffleBytes.add(m.shuffleWriteMetrics.bytesWritten)
    }
  }

  def snapshot(): JobStats.Counts = JobStats.Counts(jobs.sum, stages.sum,
    tasks.sum, runMs.sum / 1e3, gcMs.sum / 1e3, shuffleBytes.sum)
}

object JobStats {
  final case class Counts(jobs: Long, stages: Long, tasks: Long,
      taskRunS: Double, gcS: Double, shuffleBytes: Long) {
    def -(o: Counts): Counts = Counts(jobs - o.jobs, stages - o.stages,
      tasks - o.tasks, taskRunS - o.taskRunS, gcS - o.gcS,
      shuffleBytes - o.shuffleBytes)
    def +(o: Counts): Counts = Counts(jobs + o.jobs, stages + o.stages,
      tasks + o.tasks, taskRunS + o.taskRunS, gcS + o.gcS,
      shuffleBytes + o.shuffleBytes)
  }

  def install(spark: SparkSession): JobStats = {
    val js = new JobStats
    spark.sparkContext.addSparkListener(js)
    js
  }

  /** Wait until the listener bus has delivered every event posted so far. */
  def drain(spark: SparkSession): Unit =
    org.apache.spark.BenchBus.drain(spark.sparkContext)
}

/** Driver heap in use after a full collection: the live set the crawl
  * retains at the point where it is taken. */
object Heap {
  def liveMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }
}
