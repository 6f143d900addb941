package graft.extract

import java.nio.charset.StandardCharsets
import java.util.Locale
import java.util.regex.Pattern
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf
import scala.collection.mutable
import scala.util.matching.Regex

/** Deterministic HTML → text extraction.
  *
  * Re-expresses the reference's per-page extraction pipeline
  * (/root/reference/test_pipeline.py:25-48 cookie-banner strip,
  * :169-197 narrative extraction, :199-244 table rows + key/values,
  * :128-150 line + phrase dedup, :116-126 clean_text noise regexes) as one
  * pure function over the page's html bytes. This is the function whose
  * output must be **byte-identical** per url to the corpus `text` column
  * (BASELINE.json input_hint invariant).
  *
  * Extraction spec (frozen; the corpus generator composes `text`
  * independently from the same spec):
  *   1. decode UTF-8; drop <script>/<style> blocks.
  *   2. drop any <div> whose id/class contains cookie|consent|gdpr
  *      (banner divs are non-nested by grammar).
  *   3. scope to inner <main> if present, else <body>, else whole doc.
  *   4. narrative lines: text content of each h1-h6, p, li in document
  *      order (tags stripped, entities decoded, whitespace collapsed).
  *   5. table lines: each <tr> → th/td cell texts joined " | ".
  *   6. key/value lines: each <dt>/<dd> pair → "dt: dd".
  *   7. clean: drop lines containing "skip to content" (ci); collapse
  *      runs of spaces/tabs; trim; drop empties.
  *   8. line dedup: case-insensitive, first occurrence wins.
  *   9. phrase dedup: split each line into sentences on "(?<=[.!?]) ";
  *      a sentence seen before (ci, anywhere in the doc) is dropped;
  *      sentences rejoin with " ".
  *  10. join lines with "\n".
  *
  * Hot-path notes (round-3 GC diagnosis — extraction garbage was a top
  * term in the serial GC cost that capped crawl scaling efficiency):
  * every per-call `String.replaceAll`/`String.split` compiled a fresh
  * Pattern; the entity chain made up to 6 full copies per block; and the
  * separate text/links UDFs each decoded + banner-stripped + scoped the
  * same html. All patterns are precompiled, clean strings pass through
  * untouched, and `extractAll` parses once for both outputs.
  */
object TextExtract extends Serializable {

  private val scriptStyleRx: Regex =
    "(?is)<(script|style)\\b[^>]*>.*?</\\1>".r
  private val bannerRx: Regex =
    ("(?is)<div\\b[^>]*(?:id|class)=\"[^\"]*(?:cookie|consent|gdpr)" +
      "[^\"]*\"[^>]*>.*?</div>").r
  private val mainRx: Regex = "(?is)<main\\b[^>]*>(.*?)</main>".r
  private val bodyRx: Regex = "(?is)<body\\b[^>]*>(.*?)</body>".r
  private val blockRx: Regex =
    "(?is)<(h[1-6]|p|li|tr|dt)\\b[^>]*>(.*?)</\\1>".r
  private val cellRx: Regex = "(?is)<(th|td)\\b[^>]*>(.*?)</\\1>".r
  private val ddRx: Regex = "(?is)^\\s*<dd\\b[^>]*>(.*?)</dd>".r
  private val tagRx: Regex = "(?s)<[^>]*>".r

  // precompiled equivalents of the former per-call replaceAll/split
  private val wsRunPat: Pattern = Pattern.compile("[\\s ]+")
  private val spaceTabPat: Pattern = Pattern.compile("[ \t]{2,}")
  private val sentencePat: Pattern = Pattern.compile("(?<=[.!?]) ")

  /** `s.replaceAll("[\\s ]+", " ").trim` with a zero-copy pass-through
    * when the string is already collapsed+trimmed (the common case for
    * generated and well-formed pages). */
  private[extract] def collapseTrim(s: String): String = {
    val n = s.length
    var clean = n == 0 || (s.charAt(0) > ' ' && s.charAt(n - 1) > ' ')
    var i = 0
    while (clean && i < n) {
      val c = s.charAt(i)
      if (c == '\t' || c == '\n' || c == 0x0B || c == '\f' || c == '\r')
        clean = false
      else if (c == ' ' && i + 1 < n && s.charAt(i + 1) == ' ')
        clean = false
      i += 1
    }
    if (clean) s
    else wsRunPat.matcher(s).replaceAll(" ").trim
  }

  /** `l.replaceAll("[ \t]{2,}", " ").trim` with the same pass-through. */
  private[extract] def collapseSpaceTab(l: String): String = {
    val n = l.length
    if (n == 0) return l
    var clean = l.charAt(0) > ' ' && l.charAt(n - 1) > ' '
    var i = 0
    while (clean && i < n - 1) {
      val c = l.charAt(i)
      if ((c == ' ' || c == '\t') &&
          (l.charAt(i + 1) == ' ' || l.charAt(i + 1) == '\t'))
        clean = false
      i += 1
    }
    if (clean && l.indexOf('\t') < 0) l
    else spaceTabPat.matcher(l).replaceAll(" ").trim
  }

  /** Strip tags, decode the five basic entities, collapse whitespace.
    * Inline tags vanish without inserting space (DOM textContent
    * semantics for <a>/<strong> inside a paragraph). Entity decoding
    * keeps the original cascading .replace chain order (so "&amp;lt;"
    * still decodes in two steps) but is skipped entirely when no '&'
    * is present. */
  def textContent(html: String): String = {
    val noTags =
      if (html.indexOf('<') < 0) html
      else tagRx.replaceAllIn(html, "")
    val decoded =
      if (noTags.indexOf('&') < 0) noTags
      else noTags
        .replace("&amp;", "&").replace("&lt;", "<").replace("&gt;", ">")
        .replace("&quot;", "\"").replace("&#39;", "'").replace("&nbsp;", " ")
    collapseTrim(decoded)
  }

  def extract(htmlBytes: Array[Byte]): String =
    extract(new String(htmlBytes, StandardCharsets.UTF_8))

  /** Decode + strip script/style/banners + scope — the shared front half
    * of text and link extraction. */
  private def scopeOf(html: String): String = {
    var doc = scriptStyleRx.replaceAllIn(html, " ")
    doc = bannerRx.replaceAllIn(doc, " ")
    mainRx.findFirstMatchIn(doc).map(_.group(1))
      .orElse(bodyRx.findFirstMatchIn(doc).map(_.group(1)))
      .getOrElse(doc)
  }

  def extract(html: String): String = {
    if (html == null) return ""
    extractScoped(scopeOf(html))
  }

  private def extractScoped(scope: String): String = {
    // 4-6: walk blocks in document order, grouped narrative/table/kv
    val narrative = mutable.ArrayBuffer.empty[String]
    val tableRows = mutable.ArrayBuffer.empty[String]
    val kvLines = mutable.ArrayBuffer.empty[String]
    for (m <- blockRx.findAllMatchIn(scope)) {
      val tag = m.group(1).toLowerCase(Locale.ROOT)
      val inner = m.group(2)
      tag match {
        case "tr" =>
          val cells = cellRx.findAllMatchIn(inner)
            .map(c => textContent(c.group(2))).toSeq
          if (cells.nonEmpty) tableRows += cells.mkString(" | ")
        case "dt" =>
          val key = textContent(inner)
          val after = scope.substring(m.end)
          val value = ddRx.findFirstMatchIn(after)
            .map(d => textContent(d.group(1))).getOrElse("")
          if (key.nonEmpty) kvLines += s"$key: $value"
        case "li" =>
          // a li that only wraps block content (nested list markup) is
          // covered by its own inner blocks; plain li is a narrative line
          narrative += textContent(inner)
        case _ =>
          narrative += textContent(inner)
      }
    }

    // 7: clean
    val raw = (narrative ++ tableRows ++ kvLines).iterator
      .map(collapseSpaceTab)
      .filter(_.nonEmpty)
      .filterNot(_.toLowerCase(Locale.ROOT).contains("skip to content"))
      .toSeq

    // 8: line dedup (ci, first wins)
    val seenLines = mutable.HashSet.empty[String]
    val dedupLines = raw.filter(l => seenLines.add(l.toLowerCase(Locale.ROOT)))

    // 9: phrase dedup across the doc
    val seenPhrases = mutable.HashSet.empty[String]
    val out = dedupLines.iterator.map { line =>
      sentencePat.split(line).iterator
        .filter(s => seenPhrases.add(s.toLowerCase(Locale.ROOT)))
        .mkString(" ")
    }.filter(_.nonEmpty).toSeq

    out.mkString("\n")
  }

  /** Visible same-page links: href values of <a> tags, skipping
    * fragment-only/javascript/mailto/tel targets, resolved to absolute by
    * the caller (mirrors /root/reference/apify.js:120-143 link scrape). */
  private val hrefRx: Regex = "(?is)<a\\b[^>]*href=\"([^\"]*)\"[^>]*>".r

  private def linksScoped(scope: String): Seq[String] =
    hrefRx.findAllMatchIn(scope).map(_.group(1).trim)
      .filter(h => h.nonEmpty && !h.startsWith("#") &&
        !h.startsWith("javascript:") && !h.startsWith("mailto:") &&
        !h.startsWith("tel:"))
      .toSeq

  def links(html: String): Seq[String] = {
    if (html == null) return Nil
    linksScoped(scopeOf(html))
  }

  def links(htmlBytes: Array[Byte]): Seq[String] =
    links(new String(htmlBytes, StandardCharsets.UTF_8))

  /** Text AND links from one decode + one banner-strip + one scope pass —
    * the crawl round's fetch pipeline needs both, and the separate UDFs
    * each paid the full front half per page. Outputs are byte-identical
    * to `extract` / `links` (TextExtractSpec asserts it). */
  def extractAll(htmlBytes: Array[Byte]): (String, Seq[String]) = {
    if (htmlBytes == null) return ("", Nil)
    val scope = scopeOf(new String(htmlBytes, StandardCharsets.UTF_8))
    (extractScoped(scope), linksScoped(scope))
  }

  // ---- Column UDFs ----
  val extractUdf = udf((b: Array[Byte]) => graft.Prof.time("extract")(extract(b)))
  val extractAllUdf = udf((b: Array[Byte]) =>
    graft.Prof.time("extract")(extractAll(b)))

  def extractText(c: Column): Column = extractUdf(c)
  /** struct(_1 = text, _2 = links) in one parse. */
  def extractTextAndLinks(c: Column): Column = extractAllUdf(c)
}
