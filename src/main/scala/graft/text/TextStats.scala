package graft.text

import java.util.Locale
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.util.Tables

/** Text-analysis operators for training-data pipelines: token counting,
  * quality scoring, language-ID, and document fingerprinting — all
  * per-row map work (no shuffle except final ordering), so they scale
  * linearly with corpus size.
  */
object TextStats {

  /** Whitespace token count, empty-safe (both engines agree on the
    * empty-string edge via the same CASE guard). */
  def tokenCount(text: Column): Column =
    when(length(trim(text)) === 0, 0)
      .otherwise(size(split(trim(text), "\\s+")))

  val qDocTokens: (SparkSession, String) => DataFrame = (s, dir) =>
    Tables.read(s, s"$dir/documents.parquet").select(col("doc_id"),
        tokenCount(col("text")).as("n_tokens"),
        length(col("text")).as("n_chars_computed"),
        col("n_chars"))
      .orderBy(col("doc_id"))

  val Stopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is")

  /** Quality signals: length, letter ratio, stopword ratio, mean token
    * length — the length/punct/stopword heuristics of web-corpus quality
    * filters (C4/Gopher-style rules), all per-row IEEE-exact arithmetic. */
  val qDocQuality: (SparkSession, String) => DataFrame = (s, dir) => {
    val d = Tables.read(s, s"$dir/documents.parquet")
      .withColumn("toks", split(lower(trim(col("text"))), "\\s+"))
      .withColumn("n_tokens", tokenCount(col("text")))
      .withColumn("letters",
        length(regexp_replace(col("text"), "[^a-zA-Z]", "")))
    d.select(
        col("doc_id"),
        col("n_tokens"),
        (col("letters").cast("double") / length(col("text")))
          .as("letter_ratio"),
        (size(filter(col("toks"),
          tk => tk.isin(Stopwords.map(lit(_)): _*)))
          .cast("double") / col("n_tokens")).as("stopword_ratio"),
        ((length(col("text")) - (col("n_tokens") - 1)).cast("double") /
          col("n_tokens")).as("mean_token_len"))
      .withColumn("passes_quality",
        col("n_tokens") >= 10 && col("letter_ratio") > 0.5 &&
        col("stopword_ratio") >= 0.0)
      .orderBy(col("doc_id"))
  }

  /** Language distribution over the corpus (lang × source). */
  val qLangDist: (SparkSession, String) => DataFrame = (s, dir) =>
    Tables.read(s, s"$dir/documents.parquet")
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"))
      .orderBy(col("lang"), col("source"))

  /** Document fingerprint: md5 of whitespace-normalized lowercase text
    * (rolling-hash analog, SQL-expressible for the oracle). */
  val qDocFingerprint: (SparkSession, String) => DataFrame = (s, dir) =>
    Tables.read(s, s"$dir/documents.parquet").select(col("doc_id"),
        md5(lower(regexp_replace(col("text"), "\\s+", " ")))
          .as("fingerprint"))
      .orderBy(col("doc_id"))

  // --------------------------------------------------------- language ID

  /** Stopword/character n-gram heuristic language identifier
    * (langdetect stand-in, /root/reference/test_pipeline.py:85-93 role).
    * Scores each candidate language by its marker-token hit count;
    * deterministic argmax with alphabetical tie-break. */
  val LangMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "is", "with"),
    "de" -> Seq("der", "die", "das", "und", "ist", "mit"),
    "fr" -> Seq("le", "la", "les", "et", "est", "avec"),
    "es" -> Seq("el", "los", "las", "es", "con", "para"),
    "sv" -> Seq("och", "att", "det", "som", "en", "med"),
    "el" -> Seq("και", "του", "της", "είναι", "με", "για"))

  // marker sets prebuilt once (per-call .toSet was needless allocation
  // in the crawl's per-page signature pass), alphabetical for the
  // deterministic tie-break
  private val MarkerSets: Array[(String, Set[String])] =
    LangMarkers.toSeq.sortBy(_._1).map { case (l, m) => (l, m.toSet) }.toArray

  // marker → bitmask over MarkerSets indices, plus the longest marker:
  // the detector walks letter runs in place and only materializes a token
  // string when the run is short enough to possibly be a marker — the
  // former full-text lowercase + regex split allocated a text-sized copy
  // plus one String per token per page (third such pass in the crawl's
  // signature UDF; round-3 GC diagnosis)
  private val MarkerMask: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer]()
    var i = 0
    while (i < MarkerSets.length) {
      MarkerSets(i)._2.foreach { w =>
        m.merge(w, Integer.valueOf(1 << i),
          (a, b) => Integer.valueOf(a.intValue | b.intValue))
      }
      i += 1
    }
    m
  }
  private val MaxMarkerLen: Int =
    LangMarkers.valuesIterator.flatten.map(_.length).max

  private def countMask(mask: Integer, counts: Array[Int]): Unit =
    if (mask != null) {
      var k = 0; var m = mask.intValue
      while (m != 0) {
        if ((m & 1) != 0) counts(k) += 1
        k += 1; m >>>= 1
      }
    }

  /** Marker-count argmax over letter runs. Semantics match the original
    * lowercase-then-split-on-`[^\p{L}]+` formulation exactly: runs of
    * `Character.isLetter` CODE POINTS are the tokens (supplementary-plane
    * letters stay inside their run — char-based isLetter broke them at
    * the surrogate boundary), each lowercased in isolation (locale rules
    * like Greek final sigma see the same within-word context either way).
    * The one lowercase mapping that introduces a NON-letter is U+0130
    * (İ → i + combining U+0307): the whole-text formulation re-splits on
    * it, so runs containing U+0130 are always materialized (even past the
    * marker-length bound — lowercase never shortens, so every other long
    * run is a non-marker with or without the split) and their lowered
    * form is re-split the same way. Ties break to the alphabetically
    * first language. */
  def detectLang(text: String): String = {
    if (text == null || text.isEmpty) return "und"
    val counts = new Array[Int](MarkerSets.length)
    val n = text.length
    var i = 0
    while (i < n) {
      val cp = text.codePointAt(i)
      if (Character.isLetter(cp)) {
        var dottedI = cp == 0x130
        var j = i + Character.charCount(cp)
        var run = true
        while (j < n && run) {
          val c2 = text.codePointAt(j)
          if (Character.isLetter(c2)) {
            if (c2 == 0x130) dottedI = true
            j += Character.charCount(c2)
          } else run = false
        }
        if (j - i <= MaxMarkerLen || dottedI) {
          val low = text.substring(i, j).toLowerCase(Locale.ROOT)
          if (!dottedI) countMask(MarkerMask.get(low), counts)
          else low.split("[^\\p{L}]+").foreach(p =>
            if (p.nonEmpty) countMask(MarkerMask.get(p), counts))
        }
        i = j
      } else i += Character.charCount(cp)
    }
    var bestLang = "und"; var bestCount = 0
    var k = 0
    while (k < counts.length) {
      if (counts(k) > bestCount) {
        bestLang = MarkerSets(k)._1; bestCount = counts(k)
      }
      k += 1
    }
    if (bestCount == 0) "und" else bestLang
  }

  /** Predicted vs stored language agreement per stored lang. The marker
    * argmax is SQL-expressible, so this has a full DuckDB oracle twin
    * (list_filter counts per marker set + CASE argmax with the same
    * alphabetical tie-break); the ScalaTest property still pins the
    * streaming detector to the lowercase-then-split reference form.
    * Known twin limit: DuckDB `lower()` lacks Java's context-sensitive
    * SpecialCasing (word-final Σ→ς, U+0130 İ→i+combining dot), so the
    * twin is exact only while the documents corpus stays lowercase (it
    * is — verified across all SFs); if the generator ever emits
    * uppercase Greek/Turkish, this twin must move to rows-only. */
  val qLangId: (SparkSession, String) => DataFrame = (s, dir) => {
    val detect = udf((text: String) => detectLang(text))
    Tables.read(s, s"$dir/documents.parquet")
      .withColumn("predicted", detect(col("text")))
      .groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("lang"), col("predicted"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_doc_tokens" -> qDocTokens,
    "q_doc_quality" -> qDocQuality,
    "q_lang_dist" -> qLangDist,
    "q_doc_fingerprint" -> qDocFingerprint,
    "q_langid" -> qLangId)

  val oracles: Map[String, String] = Map(
    "q_doc_tokens" ->
      """SELECT doc_id,
        | CASE WHEN length(trim(text)) = 0 THEN 0
        |   ELSE length(regexp_split_to_array(trim(text), '\s+')) END
        |   AS n_tokens,
        | length(text) AS n_chars_computed, n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_doc_quality" ->
      """WITH d AS (SELECT doc_id, text,
        |  regexp_split_to_array(lower(trim(text)), '\s+') AS toks,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |    ELSE length(regexp_split_to_array(trim(text), '\s+')) END
        |    AS n_tokens,
        |  length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS letters
        |  FROM documents)
        |SELECT doc_id, n_tokens,
        | CAST(letters AS DOUBLE) / length(text) AS letter_ratio,
        | CAST(length(list_filter(toks, x -> x IN
        |   ('the','a','of','and','to','in','is'))) AS DOUBLE) / n_tokens
        |   AS stopword_ratio,
        | CAST(length(text) - (n_tokens - 1) AS DOUBLE) / n_tokens
        |   AS mean_token_len,
        | (n_tokens >= 10 AND
        |  CAST(letters AS DOUBLE) / length(text) > 0.5)
        |   AS passes_quality
        |FROM d ORDER BY doc_id""".stripMargin,
    "q_lang_dist" ->
      """SELECT lang, source, count(*) AS n_docs,
        | CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY lang, source
        |ORDER BY lang, source""".stripMargin,
    "q_doc_fingerprint" ->
      """SELECT doc_id,
        | md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_langid" ->
      """WITH d AS (SELECT lang,
        |  list_filter(regexp_split_to_array(lower(coalesce(text, '')),
        |    '[^\p{L}]+'), x -> x <> '') AS toks
        |  FROM documents),
        |s AS (SELECT lang,
        |  length(list_filter(toks, x -> x IN
        |    ('der','die','das','und','ist','mit'))) AS c_de,
        |  length(list_filter(toks, x -> x IN
        |    ('και','του','της','είναι','με','για'))) AS c_el,
        |  length(list_filter(toks, x -> x IN
        |    ('the','and','of','to','is','with'))) AS c_en,
        |  length(list_filter(toks, x -> x IN
        |    ('el','los','las','es','con','para'))) AS c_es,
        |  length(list_filter(toks, x -> x IN
        |    ('le','la','les','et','est','avec'))) AS c_fr,
        |  length(list_filter(toks, x -> x IN
        |    ('och','att','det','som','en','med'))) AS c_sv
        |  FROM d),
        |p AS (SELECT lang, CASE
        |  WHEN greatest(c_de,c_el,c_en,c_es,c_fr,c_sv) = 0 THEN 'und'
        |  WHEN c_de = greatest(c_de,c_el,c_en,c_es,c_fr,c_sv) THEN 'de'
        |  WHEN c_el = greatest(c_de,c_el,c_en,c_es,c_fr,c_sv) THEN 'el'
        |  WHEN c_en = greatest(c_de,c_el,c_en,c_es,c_fr,c_sv) THEN 'en'
        |  WHEN c_es = greatest(c_de,c_el,c_en,c_es,c_fr,c_sv) THEN 'es'
        |  WHEN c_fr = greatest(c_de,c_el,c_en,c_es,c_fr,c_sv) THEN 'fr'
        |  ELSE 'sv' END AS predicted FROM s)
        |SELECT lang, predicted, count(*) AS n_docs
        |FROM p GROUP BY lang, predicted ORDER BY lang, predicted""".stripMargin)
}
