package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, MapType}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** The query workload: the timed `SparkEntry.queries` entries over the
  * benchmark's copy of the sf0.01 test tables (`perfbench/data`).
  *
  * An untraced run times the [[Measured]] queries, a traced run every
  * timed query. A run sets up, runs one cold pass (the first in the
  * fresh session), then warm passes until its time is used, at least
  * one. The session's cache and
  * the theme memo are cleared before every pass, so each pass pays every
  * query's cost once. The seed also sets the query order of each pass;
  * the tables are fixed, so the outputs are pinned.
  *
  * Every query is run to its row count and checksum (see [[checksum]]),
  * which reads every output column, and both are checked against the
  * pinned values. */
object QueryWorkload {
  val Scale = "sf0.01"
  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")
  /** `graft.Bench` skips it too: the exact quadratic near-dup variant,
    * whose scalable twin `q_dedup_minhash` is timed. */
  val Skip: Set[String] = Set("q_neardup_tokens")
  /** The slowest warm queries, whose Spark jobs and shuffle bytes the
    * traced run reports. */
  val Hot: Seq[String] = Seq("q_theme_grouped", "q_kmeans_clusters",
    "q_dedup_clusters", "q_tfidf_lsh", "q_join_chain6")
  /** The queries an untraced run times, since a pass over all 52 takes
    * 30 to 50 s: the hot ones except `q_tfidf_lsh`, a second ML query
    * beside `q_kmeans_clusters` that adds 3 to 6 s to a cold pass, and
    * the ones whose time `count()` understates most because it prunes
    * their computed columns. */
  val Measured: Set[String] = Hot.toSet - "q_tfidf_lsh" ++ Set(
    "q_events_running", "q_rank_score", "q_join_left", "q_area_coverage")

  type Q = (SparkSession, String) => DataFrame
  def timed: Seq[(String, Q)] =
    graft.SparkEntry.queries.toSeq.filterNot(q => Skip(q._1)).sortBy(_._1)

  /** Row count and `sum(xxhash64(all columns))` of a query's output in
    * one job. The sum is taken as a decimal, so it neither overflows nor
    * depends on row order or partitioning; map columns are hashed through
    * their sorted entries. Unlike `count()`, it keeps every output column
    * and the expressions that compute it in the plan. */
  def checksum(df: DataFrame): (Long, BigDecimal) = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toSeq.map { f =>
      f.dataType match {
        case _: MapType => array_sort(map_entries(col(f.name)))
        case _ => col(f.name)
      }
    }
    val r = named.agg(count(lit(1)),
      coalesce(sum(xxhash64(cols: _*).cast(DecimalType(38, 0))),
        lit(0).cast(DecimalType(38, 0)))).head()
    (r.getLong(0), BigDecimal(r.getDecimal(1)))
  }

  /** A query's pinned row count and checksum; `sum` is None where the
    * output depends on physical layout and only the row count is stable. */
  final case class Pin(rows: Long, sum: Option[BigDecimal])

  /** Reads `name<TAB>rows<TAB>checksum|-` lines; `#` starts a comment. */
  def loadPins(p: Path): Map[String, Pin] =
    Files.readAllLines(p, StandardCharsets.UTF_8).asScala.iterator
      .map(_.takeWhile(_ != '#').trim).filter(_.nonEmpty).map { l =>
        val Array(name, rows, sum) = l.split("\t")
        name -> Pin(rows.toLong, if (sum == "-") None else Some(BigDecimal(sum)))
      }.toMap

  /** One query's run in one pass. */
  final case class QRec(name: String, secs: Double, c: JobStats.Counts)

  def run(ctx: Ctx): Unit = {
    val dir = ctx.data.resolve(Scale)
    val pins = loadPins(ctx.data.resolve(s"queries-$Scale.tsv"))
    val res = ctx.res
    val (spark0, _) = ctx.setup { s =>
      Tables.foreach(t => s.read.parquet(dir.resolve(s"$t.parquet").toString).count())
    }
    implicit val spark: SparkSession = spark0
    val jobs = if (ctx.trace.enabled) Some(JobStats.install(spark)) else None
    val rnd = new scala.util.Random(ctx.seed)
    res.check("every timed query has a pin", timed.forall(q => pins.contains(q._1)),
      timed.map(_._1).filterNot(pins.contains).mkString(", "))
    val queries = if (ctx.trace.enabled) timed else timed.filter(q => Measured(q._1))

    def pass(): Seq[QRec] = ctx.trace.span("pass") {
      spark.sharedState.cacheManager.clearCache()
      graft.analytics.FuzzyQueries.clearThemeMemo()
      rnd.shuffle(queries).map { case (name, fn) =>
        jobs.foreach(_ => JobStats.drain(spark))
        val before = jobs.map(_.snapshot())
        val t0 = System.nanoTime()
        var (rows, sum) = (-1L, BigDecimal(0))
        res.op(name) {
          ctx.trace.span(s"query.$name") {
            val (r, s) = checksum(fn(spark, dir.toString))
            rows = r; sum = s
          }
          pins.get(name).forall { pin =>
            res.check(s"$name rows", rows == pin.rows, s"$rows vs ${pin.rows}") &
              res.check(s"$name checksum", pin.sum.forall(_ == sum),
                s"$sum vs ${pin.sum.get}")
          }
        }
        val secs = (System.nanoTime() - t0) / 1e9
        System.err.println(f"[perfbench] query $name\t$rows\t$sum\t$secs%.3f")
        jobs.foreach(_ => JobStats.drain(spark))
        QRec(name, secs, jobs.map(_.snapshot() - before.get)
          .getOrElse(JobStats.Counts(0, 0, 0, 0, 0, 0)))
      }
    }
    def total(p: Seq[QRec]): Double = p.map(_.secs).sum

    val passes = ArrayBuffer.empty[Seq[QRec]]
    ctx.trace.span("workload") {
      passes += pass()
      ctx.phase("cold_pass")
      // warm passes fill the run's time without overrunning it; at
      // least one
      val end = ctx.deadline(System.nanoTime())
      while (passes.size < 2 ||
          System.nanoTime() + total(passes.last) * 1e9 <= end)
        passes += pass()
    }
    ctx.phase(s"warm_passes ${passes.tail.map(p => f"${total(p)}%.2f").mkString(",")}")
    val warm = passes.tail.toSeq
    val warmS = Stats.median(warm.map(total))
    if (!ctx.trace.enabled) {
      res.metric("ops_per_s", queries.size / warmS, "ops/s")
      res.metric("restart_s", total(passes.head), "s")
    } else {
      val byName = warm.flatten.groupBy(_.name)
      queries.foreach { case (name, _) =>
        res.metric(s"query.$name.warm_s", Stats.median(byName(name).map(_.secs)), "s")
      }
      Hot.foreach { name =>
        val rs = byName(name)
        res.metric(s"query.$name.jobs", Stats.median(rs.map(_.c.jobs.toDouble)), "jobs")
        res.metric(s"query.$name.shuffle_bytes",
          Stats.median(rs.map(_.c.shuffleBytes.toDouble)), "B")
      }
      val counts = warm.map(_.map(_.c).reduce(_ + _))
      res.metric("query.gc_s", Stats.median(counts.map(_.gcS)), "s")
      res.metric("query.busy_ratio", Stats.median(warm.zip(counts).map {
        case (p, c) => c.taskRunS / (total(p) * ctx.cores)
      }), "ratio")
      // the untraced run's warm pass under tracing: against
      // Measured.size / ops_per_s it gives the tracing overhead
      res.metric("query.traced_warm_pass_s", Stats.median(warm.map(p =>
        total(p.filter(q => Measured(q.name))))), "s")
    }
  }
}
