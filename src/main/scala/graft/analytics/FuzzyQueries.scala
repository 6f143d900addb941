package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.fuzzy.Ratio
import graft.util.Tables

/** Fuzzy-matching operator surface (SURVEY.md J7, W4, A8, A11, F1-F4
  * consumers) over the testdata + documents tables.
  */
object FuzzyQueries {

  /** J7: fuzzy similarity join with blocking — the reference merges
    * near-duplicate course keys when token_set_ratio ≥ 88
    * (/root/reference/database.py:942-945, 1022-1071). Blocking key =
    * first token, so candidate pairs come from a co-partitioned equi
    * join, never a cross join; the UDF scores only within blocks.
    *
    * Scale shape: the UDF scores **distinct key pairs**, not row pairs —
    * real corpora duplicate keys heavily (every "Introduction to
    * Programming" shares one key), so row-pair scoring is O(rows²/blocks)
    * UDF calls where distinct-pair scoring is O(keys²/blocks), and the
    * row-level result comes back from a native equi join against the
    * passing key pairs (output-identical; OpsSpec asserts equality with
    * the direct row-pair formulation).
    *
    * Orientation: difflib-style ratios are NOT symmetric in tie cases
    * (RatioSpec pins a counterexample), so each unordered pair is scored
    * exactly once in canonical (min,max) key order — the defined
    * semantics of this join. */
  def fuzzyJoin(df: DataFrame, keyCol: String, idCol: String,
      threshold: Int): DataFrame = {
    val k = df.select(col(idCol).as("id"), col(keyCol).as("key"),
      split(lower(col(keyCol)), " ").getItem(0).as("block"))
    val keys = k.select(col("block"), col("key")).distinct()
    // ordered distinct-key pairs within a block, both orientations (the
    // row-level pair orientation is decided by id, not key) + identical
    // keys (score 100 by definition, no UDF needed)
    val cross = keys.alias("x").join(keys.alias("y"),
        col("x.block") === col("y.block") && col("x.key") < col("y.key"))
      .withColumn("score",
        Ratio.fuzzTokenSetRatio(col("x.key"), col("y.key")))
      .filter(col("score") >= threshold)
    val passing =
      cross.select(col("x.block").as("pblock"), col("x.key").as("key_x"),
          col("y.key").as("key_y"), col("score"))
        .unionByName(cross.select(col("x.block").as("pblock"),
          col("y.key").as("key_x"), col("x.key").as("key_y"), col("score")))
        .unionByName(keys.select(col("block").as("pblock"),
          col("key").as("key_x"), col("key").as("key_y"),
          lit(100).as("score"))
          .filter(lit(threshold) <= 100))
    // no forced broadcast hint: |passing| grows with the distinct-key
    // count, so a static hint could exhaust memory at scale — AQE
    // converts the join to broadcast at runtime whenever it IS small
    k.alias("a")
      .join(passing,
        col("a.block") === col("pblock") && col("a.key") === col("key_x"))
      .join(k.alias("b"),
        col("b.block") === col("pblock") && col("b.key") === col("key_y") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.key").as("key_a"), col("b.key").as("key_b"), col("score"))
      .orderBy(col("id_a"), col("id_b"))
  }

  val qFuzzyJoin: (SparkSession, String) => DataFrame = (s, dir) =>
    fuzzyJoin(Tables.read(s, s"$dir/part.parquet"), "p_name", "p_partkey", 88)

  /** W4: best-match-one — keep only the single highest-scoring match per
    * query key (/root/reference/skills.py:312-324 max-by-score winner).
    *
    * Shape: (1) score distinct candidate keys × probes (UDF-call count =
    * keys×probes, never rows×probes); (2) pick winners at KEY level —
    * dense_rank keeps only the top-2 score levels per probe over the
    * small keys×probes set; (3) fan ONLY the winning keys back out to
    * rows and rank the tiny survivor set. Ranking all expanded rows
    * (rows×probes) was the previous bottleneck — a 9 s window over 800k
    * rows at sf0.1 that this formulation never materializes.
    *
    * Two key levels are always sufficient: the row-level winner differs
    * from the key-level argmax only when a top key's single row is the
    * probe itself, and the probe excludes exactly ONE row overall. Null
    * candidate names are dropped up front (a null key can never beat a
    * real score; Ratio.ratio(null,·)=0). */
  val qBestMatch: (SparkSession, String) => DataFrame = (s, dir) => {
    val p = Tables.read(s, s"$dir/part.parquet")
    val probe = p.filter(col("p_partkey") % 50 === 0)
      .select(col("p_partkey").as("probe_id"), col("p_name").as("probe"))
    val cand = p.filter(col("p_name").isNotNull)
      .select(col("p_partkey").as("cand_id"), col("p_name").as("cand"))
    val scoredKeys = cand.select(col("cand")).distinct()
      .crossJoin(probe)
      .withColumn("score", Ratio.fuzzRatio(col("probe"), col("cand")))
    val wKeys = Window.partitionBy(col("probe_id"))
      .orderBy(col("score").desc)
    val topKeys = scoredKeys
      .withColumn("lvl", dense_rank().over(wKeys))
      .filter(col("lvl") <= 2)
      .drop("lvl", "probe")
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("score").desc, col("cand_id").asc)
    cand.join(topKeys, Seq("cand"))
      .filter(col("probe_id") =!= col("cand_id"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("probe_id"), col("cand_id"), col("score"))
      .orderBy(col("probe_id"))
  }

  /** Theme search — the reference's #3 traced entry point
    * (/root/reference/main.py:4395-4450, SURVEY.md §3.3): build a
    * lowercase text blob per course group, score every keyword with
    * fuzz.partial_ratio against the blob, keep courses passing the
    * threshold under logic=all (array_min) | any (array_max), sort by
    * (-score, uni, course), paginate, and expose per-keyword scores.
    *
    * Scale shape: partial_ratio is a UDF, so it scores DISTINCT blobs
    * only (same distinct-key discipline as fuzzyJoin — duplicated blobs
    * are scored once and expanded back natively); pagination uses the
    * scale-safe orderBy+limit pattern, never a global window; the
    * keyword array is a column literal, so all per-keyword scores come
    * from ONE pass over the blob column. */
  def themeSearch(blobs: DataFrame, keywords: Seq[String], logic: String,
      threshold: Int, page: Int, perPage: Int): DataFrame = {
    require(logic == "all" || logic == "any", s"logic=$logic")
    // keywords are scored AS GIVEN — the reference lowercases only the
    // blob (main.py:4403-4407 passes raw keywords to fuzz.partial_ratio)
    val distinctBlobs = blobs.select(col("blob")).distinct()
      .withColumn("kw_scores", array(keywords.map(kw =>
        Ratio.fuzzPartialRatio(lit(kw), lower(col("blob")))): _*))
      .withColumn("score",
        if (logic == "all") array_min(col("kw_scores"))
        else array_max(col("kw_scores")))
    // join the scores back on a 64-bit hash of the blob, never the
    // multi-hundred-char blob string itself: the string join key was
    // hashed, compared AND shuffled in full on both sides, doubling the
    // pipeline's shuffle volume for no information gain (the output never
    // carries the blob). Distinctness is still decided on the real string
    // above, so scoring is exact; a join-back mixup needs an xxhash64
    // collision among the distinct blobs (d²/2⁶⁵ — ~10⁻¹¹ at a million
    // distinct blobs).
    val scored = blobs.withColumn("bh", xxhash64(col("blob"))).drop("blob")
      .join(distinctBlobs.withColumn("bh", xxhash64(col("blob")))
        .drop("blob"), Seq("bh"))
      .filter(col("score") >= threshold)
    val (start, end) = ((page - 1) * perPage + 1, page * perPage)
    val top = scored
      .orderBy(col("score").desc, col("uni").asc, col("course").asc)
      .limit(end)
      // non-foldable constant partition key: see qPagination
      .withColumn("pg", pmod(length(col("uni")), lit(1)))
    val w = Window.partitionBy(col("pg"))
      .orderBy(col("score").desc, col("uni").asc, col("course").asc)
    // pass through any extra blob-side columns (e.g. a per-course skills
    // array for the grouped result shaping)
    val extra = blobs.columns
      .filterNot(Set("blob", "uni", "course")).toSeq.map(col)
    top.withColumn("rn", row_number().over(w))
      .filter(col("rn").between(start, end))
      .select(Seq(col("rn"), col("uni"), col("course"), col("score"),
        col("kw_scores")) ++ extra: _*)
      .orderBy(col("rn"))
  }

  /** The reference's final theme-search shaping (main.py:4442-4450): the
    * page of flat rows grouped by university — each university carries its
    * page courses in page order — plus ONE page-level distinct-skill set
    * shared by every output row (`unique_skills_page` is global to the
    * page, so it joins back as a broadcast single-row aggregate).
    * Input must carry (rn, uni, course, skills); page size is bounded by
    * perPage, so every aggregate here is tiny by construction. */
  def themeSearchGrouped(page: DataFrame): DataFrame = {
    val pageSkills = page.agg(array_sort(array_distinct(flatten(
      collect_list(col("skills"))))).as("page_skills"))
    page.groupBy(col("uni"))
      .agg(array_sort(collect_list(struct(col("rn"), col("course"),
        col("skills")))).as("courses"))
      .crossJoin(broadcast(pageSkills))
      .orderBy(col("uni"))
  }

  /** q_theme_search over testdata: "university" = nation, "course" = an
    * order, blob = the order's sorted distinct part names (the reference
    * blob is the course's titles+skills text, main.py:4395-4402). */
  /** Blob table shared by the flat and grouped theme-search queries:
    * "skills" = the order's sorted distinct part names (the reference
    * blob is the course's titles+skills text, main.py:4395-4402). */
  private def themeBlobs(s: SparkSession, dir: String): DataFrame = {
    // fact scan is one unsplittable row group — spread the 4-join +
    // aggregate work across cores, hash-partitioned ON the order key so
    // the (uni, course) groupBy below reuses this same exchange (the
    // broadcast joins propagate l_orderkey ≡ o_orderkey partitioning;
    // no-op at real scale; guide §2.4/§2.5, see graft.util.Scans)
    val li = graft.util.Scans.parallelBy(
      Tables.read(s, s"$dir/lineitem.parquet"),
      col("l_orderkey"))
    val o = Tables.read(s, s"$dir/orders.parquet")
    val c = Tables.read(s, s"$dir/customer.parquet")
    val n = Tables.read(s, s"$dir/nation.parquet")
    val p = Tables.read(s, s"$dir/part.parquet")
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      // part/customer scale with SF — no static hint (AQE converts at
      // bench scale; see the broadcast-hint rule in Queries.qJoinStar)
      .join(p, li("l_partkey") === p("p_partkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy(col("n_name").as("uni"), col("o_orderkey").as("course"))
      .agg(array_sort(collect_set(lower(col("p_name")))).as("skills"))
      .withColumn("blob", concat_ws(" ", col("skills")))
  }

  /** The flat theme-search page is the shared prefix of q_theme_search
    * and q_theme_grouped (the grouped query is pure page shaping) — the
    * partial_ratio scoring of every distinct blob is by far the dominant
    * cost, so computing the page twice doubled it. The ≤ perPage-row page
    * is materialized once and reused; the memo holds AT MOST ONE
    * (session, dir) entry — a session-keyed WeakHashMap could never
    * collect anything (a DataFrame strongly references its own session,
    * the classic value→key leak), so a bounded slot with eager release
    * of the replaced checkpoint is both leak-free and honest. Callers
    * that need a fresh measurement (Bench's interleaved reps) call
    * [[clearThemeMemo]] between passes. */
  private var themeMemoEntry: Option[(SparkSession, String, DataFrame)] = None

  def clearThemeMemo(): Unit = synchronized {
    themeMemoEntry.foreach { case (_, _, df) =>
      graft.util.Checkpoints.release(df)
    }
    themeMemoEntry = None
  }

  private def themePage(s: SparkSession, dir: String): DataFrame =
    synchronized {
      themeMemoEntry match {
        case Some((ms, mdir, df)) if (ms eq s) && mdir == dir => df
        case _ =>
          clearThemeMemo()
          // the blob table feeds themeSearch TWICE (the distinct scoring
          // side and the join-back side) — uncached, the 4-join + group
          // subtree executed twice per page build (round-6 isolation
          // bench: ~1.5 s per execution at sf0.1, the single largest
          // slice of the theme pair). Cache it for the one eager page
          // materialization, then drop it: the checkpointed page is
          // self-contained, so nothing persists across invocations
          // (guide §2.4: share one computation, don't re-run the subtree).
          val blobs = themeBlobs(s, dir).cache()
          val df = try {
            themeSearch(blobs, Seq("green", "steel"),
              "any", threshold = 60, page = 1, perPage = 25)
              .localCheckpoint(true)
          } finally blobs.unpersist()
          themeMemoEntry = Some((s, dir, df))
          df
      }
    }

  val qThemeSearch: (SparkSession, String) => DataFrame = (s, dir) =>
    themePage(s, dir).drop("skills")
      // driver-harness schema: the oracle comparator sorts columns with
      // pandas, and numpy arrays are unhashable — ship the per-keyword
      // scores as a joined string (scores themselves are OpsSpec-pinned)
      .withColumn("kw_scores", array_join(col("kw_scores"), ","))

  /** Grouped page shaping (rows → university → courses + page skills),
    * JSON/string-shaped for the driver comparator. */
  val qThemeGrouped: (SparkSession, String) => DataFrame = (s, dir) =>
    themeSearchGrouped(themePage(s, dir))
      .select(col("uni"), to_json(col("courses")).as("courses_json"),
        array_join(col("page_skills"), " ").as("page_skills"))

  /** A8: per-group keyword-area coverage — % of groups whose member set
    * hits each keyword area (/root/reference/main.py:3152-3261 skill-area
    * coverage). Areas here: part-type words over each order's items. */
  val qAreaCoverage: (SparkSession, String) => DataFrame = (s, dir) => {
    val li = Tables.read(s, s"$dir/lineitem.parquet")
    val p = Tables.read(s, s"$dir/part.parquet")
    val areas = Seq("steel", "brass", "copper", "nickel", "tin")
    val joined = li.join(p, li("l_partkey") === p("p_partkey")) // part scales — no hint
      .groupBy(col("l_orderkey"))
      .agg(concat_ws(" ", collect_set(lower(col("p_type")))).as("blob"))
    val flags = areas.foldLeft(joined) { (df, a) =>
      df.withColumn(s"has_$a",
        when(col("blob").contains(a), 1).otherwise(0))
    }
    val aggCols = count(lit(1)).as("n_orders") +: areas.map(a =>
      (sum(col(s"has_$a")).cast("double") / count(lit(1)) * 100.0)
        .as(s"pct_$a"))
    flags.agg(aggCols.head, aggCols.tail: _*)
  }

  /** A11/A12: nested grouping output — rows → group → sorted struct list
    * with per-key frequency annotation
    * (/root/reference/skills.py:94-106,326-346). Oracle-checked: the
    * DuckDB twin rebuilds Spark's compact to_json byte-for-byte via
    * string_agg ordered by the unique custkey (sort_array's first struct
    * field), so rows+schema+hash all gate. */
  val qNestedGroups: (SparkSession, String) => DataFrame = (s, dir) => {
    val c = Tables.read(s, s"$dir/customer.parquet")
    val n = Tables.read(s, s"$dir/nation.parquet")
    val freqW = Window.partitionBy(col("c_mktsegment"))
    c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .withColumn("segment_freq", count(lit(1)).over(freqW))
      .groupBy(col("n_name"))
      .agg(sort_array(collect_list(struct(
        col("c_custkey").as("custkey"),
        col("c_mktsegment").as("segment"),
        col("segment_freq")))).as("members"))
      .select(col("n_name"), size(col("members")).as("n_members"),
        to_json(col("members")).as("members_json"))
      .orderBy(col("n_name"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_fuzzy_join" -> qFuzzyJoin,
    "q_best_match" -> qBestMatch,
    "q_theme_search" -> qThemeSearch,
    "q_theme_grouped" -> qThemeGrouped,
    "q_area_coverage" -> qAreaCoverage,
    "q_nested_groups" -> qNestedGroups)

  /** difflib-based scores have no SQL twin; q_area_coverage does. */
  val oracles: Map[String, String] = Map(
    "q_area_coverage" ->
      """WITH blob AS (
        | SELECT l_orderkey,
        |  string_agg(DISTINCT lower(p_type), ' ') AS b
        | FROM lineitem JOIN part ON l_partkey = p_partkey
        | GROUP BY l_orderkey)
        |SELECT count(*) AS n_orders,
        | CAST(sum(CASE WHEN b LIKE '%steel%' THEN 1 ELSE 0 END) AS DOUBLE)
        |   / count(*) * 100.0 AS pct_steel,
        | CAST(sum(CASE WHEN b LIKE '%brass%' THEN 1 ELSE 0 END) AS DOUBLE)
        |   / count(*) * 100.0 AS pct_brass,
        | CAST(sum(CASE WHEN b LIKE '%copper%' THEN 1 ELSE 0 END) AS DOUBLE)
        |   / count(*) * 100.0 AS pct_copper,
        | CAST(sum(CASE WHEN b LIKE '%nickel%' THEN 1 ELSE 0 END) AS DOUBLE)
        |   / count(*) * 100.0 AS pct_nickel,
        | CAST(sum(CASE WHEN b LIKE '%tin%' THEN 1 ELSE 0 END) AS DOUBLE)
        |   / count(*) * 100.0 AS pct_tin
        |FROM blob""".stripMargin,
    "q_nested_groups" ->
      """WITH f AS (
        | SELECT c_custkey, c_mktsegment, c_nationkey,
        |  count(*) OVER (PARTITION BY c_mktsegment) AS segment_freq
        | FROM customer)
        |SELECT n_name, count(*) AS n_members,
        | '[' || string_agg(
        |   '{"custkey":' || c_custkey ||
        |   ',"segment":"' || c_mktsegment ||
        |   '","segment_freq":' || segment_freq || '}',
        |   ',' ORDER BY c_custkey) || ']' AS members_json
        |FROM f JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin)
}
