package graft.extract

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.udf
import scala.collection.mutable

/** Broadcast ESCO skill-dictionary matcher.
  *
  * Replaces the reference's per-document HTTP calls to the
  * esco-skill-extractor service (/root/reference/main.py:2346-2381,
  * skills.py:27-38) and the URL→label resolution against the local ESCO CSV
  * (/root/reference/main.py:23-88) with one deterministic map-side pass:
  * the whole dictionary is broadcast, document text is tokenized, and every
  * token n-gram (n up to the longest label) is looked up in a hash map.
  * O(tokens × maxN) per document, no shuffle, no network — the "broadcast
  * skill-label dictionary matcher expressed through Catalyst UDFs" of the
  * north rule.
  *
  * Normalization is `_normalize_skill` exactly
  * (/root/reference/recommendation_system/backend/student_recommender.py:28-41):
  * strip+lowercase, delete chars outside [a-z0-9, Greek, \s, + - . #].
  */
object EscoMatcher extends Serializable {

  final case class Dict(
      byNgram: Map[String, Array[String]], // normalized label -> concept uris
      labelOf: Map[String, String],        // concept uri -> preferred label
      maxN: Int) {
    /** First tokens of all dictionary keys: the matcher probes a position
      * only when its token opens at least one label, so ~95% of text
      * positions cost one hash lookup on an existing token string and
      * build no probe strings at all (round-3 allocation diagnosis: the
      * unconditional n-gram probes built ~maxN strings per token). */
    @transient lazy val firstTokens: java.util.HashSet[String] = {
      val s = new java.util.HashSet[String]()
      byNgram.keysIterator.foreach { k =>
        val sp = k.indexOf(' ')
        s.add(if (sp < 0) k else k.substring(0, sp))
      }
      s
    }
  }

  /** Exact `_normalize_skill` semantics
    * (/root/reference/recommendation_system/backend/student_recommender.py:37-41):
    * strip, lowercase, then DELETE every char outside
    * `[a-z0-9Ͱ-Ͽἀ-῿\s\-\+\.#]` — deletion, not
    * space-substitution, so "C++/Java" → "c++java"; whitespace inside the
    * string survives as-is (no collapse, no re-strip). The Greek ranges
    * cover uppercase/final-sigma/polytonic (Python .lower() maps Greek
    * uppercase into the same block first). Python `\s` additionally
    * matches NBSP/NEL/figure/narrow spaces that Java's isWhitespace
    * excludes — listed explicitly. Golden-tested against CPython
    * (normalize_vectors.json). */
  def normalize(s: String): String = {
    if (s == null || s.isEmpty) return ""
    val lower = s.strip().toLowerCase(java.util.Locale.ROOT)
    val sb = new java.lang.StringBuilder(lower.length)
    var i = 0
    while (i < lower.length) {
      val c = lower.charAt(i)
      val keep = (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9') ||
        (c >= 'Ͱ' && c <= 'Ͽ') ||
        (c >= 'ἀ' && c <= '῿') ||
        c == '+' || c == '-' || c == '.' || c == '#' ||
        Character.isWhitespace(c) || c == 0xA0.toChar || c == 0x85.toChar ||
        c == 0x2007.toChar || c == 0x202F.toChar
      if (keep) sb.append(c)
      i += 1
    }
    sb.toString
  }

  /** Whitespace-split tokens of the normalized form — the dictionary and
    * the matcher share this, so n-gram keys are single-space joined
    * regardless of the whitespace the normalization preserved. */
  private[extract] def normTokens(s: String): Array[String] = {
    val n = normalize(s)
    if (n.isEmpty) Array.empty else n.split("\\s+").filter(_.nonEmpty)
  }

  /** Build the lookup dictionary from (concept_uri, preferred_label) rows.
    * Keys are the single-space token joins of the normalized labels (the
    * matcher builds its n-gram probes the same way). */
  def buildDict(labels: Seq[(String, String)]): Dict = {
    val byNgram = mutable.HashMap.empty[String, mutable.ArrayBuffer[String]]
    val labelOf = mutable.HashMap.empty[String, String]
    var maxN = 1
    labels.foreach { case (uri, label) =>
      val toks = normTokens(label)
      if (toks.nonEmpty) {
        byNgram.getOrElseUpdate(toks.mkString(" "),
          mutable.ArrayBuffer.empty) += uri
        labelOf(uri) = label
        if (toks.length > maxN) maxN = toks.length
      }
    }
    Dict(byNgram.map { case (k, v) => k -> v.toArray.sorted }.toMap,
      labelOf.toMap, maxN)
  }

  /** Diagnostic: total matchUris invocations in this JVM (local mode —
    * driver and executors share it). Lets the crawl round log report
    * calls/page and catch plan shapes that re-evaluate extraction.
    * Gated + striped (graft.Prof): unconditionally CAS-ing a shared
    * AtomicLong from every task thread is measurable contention. */
  val callCount = new java.util.concurrent.atomic.LongAdder()

  /** Match: tokenize normalized text, slide n-grams (1..maxN), collect
    * distinct concept uris in first-hit order, then sort for determinism
    * (reference sorts skill lists before compare,
    * tests/test_compare_extracted_skills.py:29-33). */
  def matchUris(dict: Dict, text: String): Seq[String] = {
    if (graft.Prof.roundLog) callCount.increment()
    val tokens = normTokens(text)
    if (tokens.isEmpty) return Nil
    val first = dict.firstTokens
    val hits = mutable.TreeSet.empty[String]
    val sb = new java.lang.StringBuilder(48)
    var i = 0
    while (i < tokens.length) {
      // positions whose token opens no dictionary label are skipped with
      // a single set probe — no n-gram strings are built for them
      if (first.contains(tokens(i))) {
        sb.setLength(0)
        var n = 1
        while (n <= dict.maxN && i + n <= tokens.length) {
          if (n > 1) sb.append(' ')
          sb.append(tokens(i + n - 1))
          dict.byNgram.get(sb.toString).foreach(_.foreach(hits.add))
          n += 1
        }
      }
      i += 1
    }
    hits.toSeq
  }

  /** UDF over a broadcast dict: text → sorted concept uris. */
  def matcherUdf(bc: Broadcast[Dict]): Column => Column = {
    val f = udf((text: String) => graft.Prof.time("match")(matchUris(bc.value, text)))
    c => f(c)
  }

  def broadcastDict(spark: SparkSession,
      labels: Seq[(String, String)]): Broadcast[Dict] =
    spark.sparkContext.broadcast(buildDict(labels))
}
