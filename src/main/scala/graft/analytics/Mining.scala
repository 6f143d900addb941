package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.util.Tables

/** Regex-mining scalar operators (SURVEY.md F11-F14, F16-F17): the
  * reference mines degree titles, ECTS/credit counts, years, and
  * mandatory/optional flags out of free text with ordered regex chains
  * (/root/reference/test_pipeline.py:358-458, database.py:1073-1096).
  * Re-expressed as pure column expressions (regexp_extract_all /
  * rlike / when-chains) so they stay inside whole-stage codegen.
  */
object Mining {

  /** F11: degree-title tokens — (BSc|MSc|PhD|Bachelor|Master) mentions,
    * normalized (test_pipeline.py:358-392 + cleaner.py DEGREE_TOKEN_RX
    * regex fallback). */
  def degreeTokens(c: Column): Column =
    array_distinct(transform(
      regexp_extract_all(c,
        lit("(?i)\\b(BSc|MSc|PhD|Bachelor|Master|Doctorate)\\b"), lit(1)),
      x => when(lower(x).isin("bachelor", "bsc"), "BSc")
        .when(lower(x).isin("master", "msc"), "MSc")
        .otherwise("PhD")))

  /** F12: ECTS/credits mentions — "<n> ECTS" / "<n> credits". */
  def ectsValues(c: Column): Column =
    transform(regexp_extract_all(c,
      lit("(?i)\\b(\\d{1,3})\\s*(?:ECTS|credits?)\\b"), lit(1)),
      x => x.cast("int"))

  /** F13: mandatory/optional/elective flags from keyword hits. */
  def mandOptFlags(c: Column): Column = {
    val l = lower(c)
    array_compact(array(
      when(l.contains("mandatory") || l.contains("compulsory"),
        "Mandatory"),
      when(l.contains("optional"), "Optional"),
      when(l.contains("elective"), "Elective")))
  }

  /** F14: level inference — PhD > MSc > BSc precedence rlike chain
    * (database.py:1073-1096). */
  def inferLevel(c: Column): Column = {
    val l = lower(c)
    when(l.rlike("phd|doctor"), "PhD")
      .when(l.rlike("msc|master|postgraduate"), "MSc")
      .when(l.rlike("bsc|bachelor|undergraduate"), "BSc")
      .otherwise("Other")
  }

  /** F16/F17: canonical key — lowercase, strip punctuation, collapse
    * whitespace (database.py:936-940, output.py:9-11). */
  def canonicalKey(c: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(c), "[^a-z0-9\\s]", " "), "\\s+", " "))

  /** Mining query over part names/types (same regex surface; testdata
    * has no degree text, so the oracle exercises the mechanics:
    * extract_all, normalization transform, rlike chain, canonical key). */
  val qMining: (SparkSession, String) => DataFrame = (s, dir) =>
    Tables.read(s, s"$dir/part.parquet")
      .select(
        col("p_partkey"),
        array_join(transform(regexp_extract_all(col("p_name"),
          lit("\\b(\\w*e\\w*)\\b"), lit(1)), x => lower(x)), ",")
          .as("e_words"),
        canonicalKey(col("p_name")).as("canon_key"),
        when(lower(col("p_type")).rlike("anodized|burnished"), "finished")
          .when(lower(col("p_type")).rlike("brushed|plated"), "treated")
          .otherwise("raw").as("finish_class"))
      .orderBy(col("p_partkey"))

  /** Pattern mining over documents: words ending in "t" ("sort",
    * "fast", …) — regexp_extract_all + slice mechanics (the ECTS/fee
    * mining shape F12 applied to a pattern this corpus contains). */
  val qDocPatterns: (SparkSession, String) => DataFrame = (s, dir) =>
    Tables.read(s, s"$dir/documents.parquet")
      .select(col("doc_id"),
        size(regexp_extract_all(col("text"), lit("\\b\\w+t\\b"), lit(0)))
          .as("n_hits"),
        array_join(slice(regexp_extract_all(col("text"),
          lit("\\b\\w+t\\b"), lit(0)), 1, 5), ",").as("first_hits"))
      .orderBy(col("doc_id"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_mining" -> qMining,
    "q_doc_patterns" -> qDocPatterns)

  val oracles: Map[String, String] = Map(
    "q_mining" ->
      """SELECT p_partkey,
        | coalesce(array_to_string(
        |   [lower(x) FOR x IN regexp_extract_all(p_name,
        |      '\b(\w*e\w*)\b', 1)], ','), '') AS e_words,
        | trim(regexp_replace(regexp_replace(lower(p_name),
        |   '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')) AS canon_key,
        | CASE WHEN regexp_matches(lower(p_type), 'anodized|burnished')
        |    THEN 'finished'
        |   WHEN regexp_matches(lower(p_type), 'brushed|plated')
        |    THEN 'treated'
        |   ELSE 'raw' END AS finish_class
        |FROM part ORDER BY p_partkey""".stripMargin,
    "q_doc_patterns" ->
      """SELECT doc_id,
        | length(regexp_extract_all(text, '\b\w+t\b')) AS n_hits,
        | coalesce(array_to_string(
        |   regexp_extract_all(text, '\b\w+t\b')[1:5], ','), '')
        |   AS first_hits
        |FROM documents ORDER BY doc_id""".stripMargin)
}
