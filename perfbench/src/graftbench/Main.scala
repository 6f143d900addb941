package graftbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Outcome of one benchmark run: operations attempted and failed, the
  * output checks, and the metrics printed as the last stdout line. */
final class Result {
  var attempted = 0L
  var failed = 0L
  private var checksOk = true
  private val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]

  /** Count one operation; it fails when it throws or a check on its
    * output fails. */
  def op(name: String)(body: => Boolean): Unit = {
    attempted += 1
    val ok = try body catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] $name threw: $e")
        e.printStackTrace()
        false
    }
    if (!ok) failed += 1
  }

  /** Record an output check; a failed check makes the run incorrect. */
  def check(name: String, ok: Boolean, detail: => String = ""): Boolean = {
    if (!ok) {
      checksOk = false
      System.err.println(s"[perfbench] CHECK FAILED $name $detail")
    }
    ok
  }

  def metric(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)

  def correct: Boolean = checksOk && failed == 0

  def json: String = {
    def num(v: Double): String =
      if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
    val ms = metrics.map { case (k, (v, u)) =>
      s""""$k":{"value":${num(v)},"unit":"$u"}"""
    }.mkString("{", ",", "}")
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":$ms}"""
  }
}

/** Run context shared by the workloads. */
final case class Ctx(seed: Long, seconds: Int,
    trace: Trace, work: Path, data: Path, res: Result) {
  val cores: Int = Runtime.getRuntime.availableProcessors

  def session(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config(graft.SparkTune.conf)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Times [[Ctx.SetUps]] set-ups, each in a fresh session but the
    * last. The first pays the JVM's class loading and compilation and is
    * left out; the median of the others is `setup_s`. A traced run, which
    * does not report `setup_s`, sets up once. Returns the last session
    * and its value. */
  def setup[T](build: SparkSession => T): (SparkSession, T) = {
    val n = if (trace.enabled) 1 else Ctx.SetUps
    val runs = (1 to n).map { k =>
      val t0 = System.nanoTime()
      val spark = session()
      val v = build(spark)
      val secs = (System.nanoTime() - t0) / 1e9
      if (k < n) { spark.stop(); (secs, None) }
      else (secs, Some((spark, v)))
    }
    if (n > 1) res.metric("setup_s", Stats.median(runs.tail.map(_._1)), "s")
    phase("setup " + runs.map(r => f"${r._1}%.2f").mkString(","))
    runs.last._2.get
  }

  def deadline(startNs: Long): Long = startNs + seconds * 1000000000L

  private var lastPhase = System.nanoTime()
  /** Log the wall time since the previous phase ended. */
  def phase(name: String): Unit = {
    val now = System.nanoTime()
    System.err.println(f"[perfbench] phase $name ${(now - lastPhase) / 1e9}%.2f s")
    lastPhase = now
  }
}

object Ctx {
  val SetUps = 4
}

object Main {
  val Workloads: Map[String, Ctx => Unit] = Map(
    "crawl-deep-durable" -> CrawlWorkload.run,
    s"queries-${QueryWorkload.Scale}" -> QueryWorkload.run)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    if (args.contains("--self-test")) { SelfTest.run(); return }
    val workload = opts.getOrElse("--workload", "")
    val run = Workloads.getOrElse(workload, {
      System.err.println(s"unknown workload '$workload'; one of " +
        Workloads.keys.toSeq.sorted.mkString(", "))
      sys.exit(2)
    })
    val seed = opts.getOrElse("--seed", "1").toLong
    val seconds = opts.getOrElse("--seconds", "10").toInt
    val traced = opts.getOrElse("--trace", "0") == "1"
    val work = Paths.get(opts.getOrElse("--work", ".bench_build/run"))
      .toAbsolutePath
    deleteTree(work)
    Files.createDirectories(work)
    val runId = s"$workload-s$seed-t${if (traced) 1 else 0}"
    val data = Paths.get(opts.getOrElse("--data", "perfbench/data"))
      .toAbsolutePath
    val ctx = Ctx(seed, seconds, new Trace(traced, runId), work, data,
      new Result)
    try run(ctx)
    finally SparkSession.getActiveSession.foreach(_.stop())
    if (traced) ctx.trace.write(work.getParent.resolve(s"trace/$runId.jsonl"))
    println(ctx.res.json)
    if (!ctx.res.correct) sys.exit(1)
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
    finally s.close()
  }

  def treeBytes(p: Path): Long = if (!Files.exists(p)) 0L else {
    val s = Files.walk(p)
    try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum
    finally s.close()
  }
}
