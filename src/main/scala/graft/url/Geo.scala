package graft.url

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Country-from-TLD resolution (SURVEY.md F5, second half) — the
  * reference maps a page's host to a country via a 26-entry TLD suffix
  * map checked in insertion order, then three special-case substring
  * rules, else "Unknown"
  * (/root/reference/test_pipeline.py:95-114 extract_country_from_url).
  *
  * Pure column expression (chained CASE WHEN): stays inside whole-stage
  * codegen, no UDF, trivially SQL-expressible for the oracle twin.
  */
object Geo {

  /** Insertion-ordered, exactly the reference map. */
  val TldCountries: Seq[(String, String)] = Seq(
    ".nl" -> "Netherlands", ".gr" -> "Greece", ".de" -> "Germany",
    ".fr" -> "France", ".it" -> "Italy", ".es" -> "Spain",
    ".pt" -> "Portugal", ".pl" -> "Poland", ".fi" -> "Finland",
    ".se" -> "Sweden", ".no" -> "Norway", ".dk" -> "Denmark",
    ".be" -> "Belgium", ".at" -> "Austria", ".cz" -> "Czech Republic",
    ".sk" -> "Slovakia", ".ro" -> "Romania", ".bg" -> "Bulgaria",
    ".hu" -> "Hungary", ".ch" -> "Switzerland", ".ie" -> "Ireland",
    ".uk" -> "United Kingdom", ".lu" -> "Luxembourg",
    ".lt" -> "Lithuania", ".lv" -> "Latvia", ".ee" -> "Estonia")

  /** Country of a (lowercase) host column: first TLD suffix match wins,
    * then the reference's special-case substring rules, else Unknown.
    *
    * Every key in [[TldCountries]] is a ".xx" two-letter suffix, so a
    * host can end with AT MOST ONE of them — the insertion-order CASE
    * chain and a single map lookup on the last three characters are
    * therefore equivalent. The former foldRight emitted a 26-level
    * nested CASE WHEN whose generated code dominated the query's cold
    * time (janino compile; round-6 bench: 7.9 s cold vs 0.4 s warm);
    * the map literal compiles to one lookup. */
  def countryOfHost(host: Column): Column = {
    require(TldCountries.forall(t => t._1.length == 3 && t._1.startsWith(".")),
      "map-lookup form requires uniform .xx suffix keys")
    val h = lower(host)
    val special = when(h.contains("rug.nl"), "Netherlands")
      .when(h.contains("auth.gr"), "Greece")
      .when(h.contains("uni-"), "Germany")
      .otherwise("Unknown")
    val tldMap = typedlit(TldCountries.map { case (tld, c) =>
      tld.stripPrefix(".") -> c }.toMap)
    // try_element_at: a missing key is NULL (falls through to `special`)
    // under ANSI mode, where plain element_at would throw
    val tldHit = when(length(h) >= 3 && substring(h, -3, 1) === ".",
      try_element_at(tldMap, substring(h, -2, 2)))
    coalesce(tldHit, special)
  }
}
