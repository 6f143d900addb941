package graft.frontier

import java.util.Locale
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.model.{FrontierEntry, RobotsRule}
import graft.url.Canonical

/** The partitioned priority queue over URLs — the north rule's
  * "(host, priority, warc_ts)-keyed frontier".
  *
  * Reference analog: Crawlee's persistent request queue with `orderNo`
  * ordinals and priority-URL bypass
  * (/root/reference/apify.js:53-69, storage/request_queues/default/0WHwh8iWzgYbrv1.json).
  * The rebuild replaces wall-clock concurrency with a deterministic order:
  * within a host, (priority desc, warc_ts asc, url asc); across hosts, a
  * per-host politeness budget caps how many URLs each host contributes per
  * round (apify.js maxConcurrency=8 analog, /root/reference/apify.js:96).
  *
  * Scale notes (10^10 frontier): every operation here is a narrow
  * column-level transform or a single hash-partitioned window on `host`.
  * Host-level skew (one university site with 10^7 pages) is bounded by the
  * budget itself — the window only has to rank, and ranking a skewed host
  * is mitigated by pre-filtering retry-dead rows and by AQE skew handling;
  * the selected set per host is ≤ budget, so downstream stages see a
  * re-balanced distribution.
  */
object Frontier {

  val MaxRetries = 3 // /root/reference/storage/request_queues: retryCount cap

  /** Canonical FrontierEntry column order. Using-joins move the join key
    * to the front, and positional unions would then mis-pair columns —
    * every frontier-shaped output re-selects this order. */
  val Cols: Seq[String] = Seq("url", "url_hash", "host", "priority",
    "warc_ts", "depth", "retry_count")

  /** True when `url`, lowercased under `Locale.ROOT`, contains any of
    * `keywords` (false for a null url). Equal to Spark's
    * `lower(url).contains(k)` for every keyword without σ or ς
    * (FrontierSpec; Java and ICU differ only in where a Greek sigma is
    * final), without `lower`'s ICU case mapping, whose class
    * initialization cost about 1 s of driver time in a JVM's first crawl
    * call. */
  def containsAny(keywords: Seq[String]): String => Boolean = {
    val kws = keywords.toArray
    url => url != null && {
      val low = url.toLowerCase(Locale.ROOT)
      kws.exists(low.contains)
    }
  }

  /** Priority of a URL: 1 if it contains any priority keyword, 0 otherwise
    * (the reference crawler, apify.js:44-47). */
  def priorityCol(urlCol: Column, keywords: Seq[String]): Column =
    when(udf(containsAny(keywords)).apply(urlCol), lit(1)).otherwise(lit(0))

  /** True when the URL contains an exclude keyword
    * (/root/reference/apify.js:48-51). */
  def excludedCol(urlCol: Column, keywords: Seq[String]): Column =
    udf(containsAny(keywords)).apply(urlCol)

  /** Make frontier entries from candidate URLs: canonicalize, hash,
    * host-extract, score priority. Input df needs columns
    * (url, warc_ts, depth) — candidates carry the discovering page's ts
    * and depth+1 (SURVEY.md C8). */
  def fromUrls(df: DataFrame, priorityKw: Seq[String],
      excludeKw: Seq[String])
      (implicit spark: SparkSession): Dataset[FrontierEntry] = {
    import spark.implicits._
    df.select(Canonical.canonical(col("url")).as("url"), col("warc_ts"),
        col("depth"))
      .filter(col("url").startsWith("http"))
      .filter(!excludedCol(col("url"), excludeKw))
      .select(
        col("url"),
        Canonical.urlHash(col("url")).as("url_hash"),
        Canonical.urlHost(col("url")).as("host"),
        priorityCol(col("url"), priorityKw).as("priority"),
        col("warc_ts"),
        col("depth").cast("int").as("depth"),
        lit(0).as("retry_count"))
      .as[FrontierEntry]
  }

  /** Robots gate: drop URLs whose path starts with a disallowed prefix for
    * their host. Rules are small (one row per host) → broadcast join.
    * North-rule addition; absent in the reference (SURVEY.md C10).
    *
    * The crawl applies it where frontier rows are created (seeds, link
    * candidates, Recrawl's requeue), so a frontier holds only fetchable
    * rows and `selectRound` is the round's only join with the rules. */
  def robotsGate(frontier: Dataset[FrontierEntry],
      robots: Dataset[RobotsRule])
      (implicit spark: SparkSession): Dataset[FrontierEntry] = {
    import spark.implicits._
    val rules = robots.toDF()
    frontier.toDF()
      .join(broadcast(rules), Seq("host"), "left")
      .withColumn("path",
        regexp_replace(col("url"), "^https?://[^/]*", ""))
      .filter(col("disallow_prefixes").isNull ||
        !exists(col("disallow_prefixes"),
          p => col("path").startsWith(p)))
      .select(Cols.map(col): _*)
      .as[FrontierEntry]
  }

  /** Per-host politeness budget: URLs per round a host may contribute,
    * derived from its crawl delay (token-bucket refill over the round
    * window — deterministic, not wall-clock; SURVEY.md §7.3). */
  def budgetOf(crawlDelayMs: org.apache.spark.sql.Column,
      roundMs: Long): org.apache.spark.sql.Column =
    greatest(lit(1), (lit(roundMs) / greatest(crawlDelayMs, lit(1)))
      .cast("int"))

  /** Select this round's fetch set: deterministic frontier order
    * (priority desc, warc_ts, url) within each host, capped at the host's
    * budget. Returns (selected, deferred, cacheHandle). One shuffle (the
    * window); the ranked intermediate is cached because both outputs read
    * it — the CALLER must unpersist the handle once selected/deferred are
    * materialized, or a multi-round crawl accumulates one cached frontier
    * per round. */
  def selectRound(frontier: Dataset[FrontierEntry],
      robots: Dataset[RobotsRule], roundMs: Long = 4000L)
      (implicit spark: SparkSession)
      : (Dataset[FrontierEntry], Dataset[FrontierEntry], DataFrame) = {
    import spark.implicits._
    val w = Window.partitionBy(col("host"))
      .orderBy(col("priority").desc, col("warc_ts").asc, col("url").asc)
    val budgets = broadcast(robots.toDF()
      .select(col("host"), budgetOf(col("crawl_delay_ms"), roundMs)
        .as("host_budget")))
    val ranked = frontier.toDF()
      .join(budgets, Seq("host"), "left")
      .withColumn("host_budget", coalesce(col("host_budget"), lit(1)))
      .withColumn("rank", row_number().over(w))
      .cache()
    val selected = ranked.filter(col("rank") <= col("host_budget"))
      .select(Cols.map(col): _*).as[FrontierEntry]
    val deferred = ranked.filter(col("rank") > col("host_budget"))
      .select(Cols.map(col): _*).as[FrontierEntry]
    (selected, deferred, ranked)
  }

  /** Merge new candidates into the frontier: union + dedup on url_hash
    * with deterministic preference (lowest depth, then url, then the
    * remaining fields lexicographically — fully deterministic even when
    * one url is discovered twice in a round).
    *
    * Implemented as `groupBy(url_hash).agg(min(struct(...)))` rather than
    * a row_number window: a hash aggregate gets map-side partial
    * aggregation (each map task pre-dedups before the shuffle), while a
    * sort-window must shuffle every row — at 10^10 frontier rows that is
    * a materially smaller exchange. */
  def merge(a: Dataset[FrontierEntry], b: Dataset[FrontierEntry])
      (implicit spark: SparkSession): Dataset[FrontierEntry] = {
    import spark.implicits._
    a.toDF().unionByName(b.toDF())
      .groupBy(col("url_hash"))
      .agg(min(struct(col("depth"), col("url"), col("warc_ts"),
        col("priority"), col("retry_count"), col("host"))).as("w"))
      .select(col("w.url").as("url"), col("url_hash"),
        col("w.host").as("host"), col("w.priority").as("priority"),
        col("w.warc_ts").as("warc_ts"), col("w.depth").as("depth"),
        col("w.retry_count").as("retry_count"))
      .select(Cols.map(col): _*)
      .as[FrontierEntry]
  }
}
