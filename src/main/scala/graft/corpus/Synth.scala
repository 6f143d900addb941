package graft.corpus

import java.sql.Timestamp
import org.apache.spark.sql.{Dataset, SparkSession}
import graft.model.{EscoLabel, Page, RobotsRule, Seed}
import scala.collection.mutable

/** Deterministic synthetic crawl corpus (FIXTURES.md §A, seed fixed).
  *
  * Generates the BASELINE.json input_hint table
  * `(url, warc_ts, html, text, lang)` plus `seeds`, `robots`, and
  * `esco_labels` — Common-Crawl-style university pages whose link graph,
  * keyword gates, and embedded skill labels mirror the reference crawl
  * corpus shape (/root/reference/apify.js:12-30 keyword lists,
  * test_pipeline.py:27-33 cookie banners).
  *
  * Every row is a pure function of (hostIdx, pageIdx) — generation scales
  * via spark.range with no driver-side state, so the same generator that
  * makes the 50-host test corpus makes a 10^8-page bench corpus.
  *
  * The `text` column is composed directly from the content model (NOT by
  * running TextExtract on the html) so the byte-identical invariant
  * `TextExtract.extract(html) == text` is a real two-path check.
  */
object Synth extends Serializable {

  // Keyword gates, shape of apify.js:12-30 (multilingual priority/exclude)
  val priorityKeywords: Seq[String] = Seq(
    "courses", "curriculum", "syllabus", "study", "studies", "degree",
    "module", "lehrplan", "studium", "programma", "utbildning")
  val excludeKeywords: Seq[String] = Seq(
    "login", "logout", "signup", "alumni", "donate", "privacy",
    "careers", "staff-portal", "intranet", "press")

  val tlds: Seq[String] = Seq("edu", "ac.uk", "de", "gr", "se", "fi", "nl")
  val langs: Seq[String] = Seq("en", "en", "en", "en", "de", "el", "sv")

  // -- deterministic hashing PRNG (splitmix64 over a key) --
  @inline def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  @inline def rnd(key: Long, salt: Long, mod: Int): Int = {
    val v = mix(mix(key) ^ salt)
    (((v % mod) + mod) % mod).toInt
  }

  def host(h: Int): String = s"uni$h.example.${tlds(h % tlds.length)}"

  /** Zipf-head page count per host with a uniform floor: the first ~16
    * hosts are up to 16× the floor (host-level skew the north rule
    * requires the engine to defeat); every other host carries `base`
    * pages so total volume scales linearly with nHosts. */
  def pagesPerHost(h: Int, base: Int): Int =
    math.max(math.max(4, base), base * 16 / (h + 1))

  /** Path for page p of host h: p=0 home; priority-keyword paths for most
    * pages; a deterministic minority of exclude / robots-disallowed paths. */
  def path(h: Int, p: Int): String = {
    if (p == 0) "/"
    else {
      val r = rnd(h * 1000003L + p, 0xA1L, 10)
      if (r < 6) s"/${priorityKeywords(rnd(h * 31L + p, 0xB2L, 4))}/page$p"
      else if (r < 8) s"/news/item$p"
      else if (r == 8) s"/${excludeKeywords(rnd(h * 17L + p, 0xC3L, excludeKeywords.length))}/p$p"
      else s"/private/doc$p"
    }
  }

  def url(h: Int, p: Int): String = s"https://${host(h)}${path(h, p)}"

  /** Deterministic capture timestamp (UTC). */
  def warcTs(h: Int, p: Int): Timestamp = {
    val base = 1700000000000L // 2023-11-14T22:13:20Z
    new Timestamp(base + (rnd(h * 7919L + p, 0xD4L, 1000000).toLong * 1000L))
  }

  def lang(h: Int, p: Int): String = langs(rnd(h * 13L + p, 0xE5L, langs.length))

  // -- ESCO label universe: verbStem × noun pairs, deterministic --
  private val verbs = Seq("apply", "perform", "manage", "develop", "analyse",
    "design", "teach", "use", "evaluate", "implement")
  private val nouns = Seq("machine learning", "data analysis",
    "project management", "statistics", "software engineering",
    "databases", "linear algebra", "web technologies", "economics",
    "thermodynamics", "organic chemistry", "cell biology",
    "microeconomics", "signal processing", "operating systems",
    "computer networks", "quantum mechanics", "structural mechanics",
    "marketing strategies", "supply chain operations")

  def escoLabels(): Seq[EscoLabel] = {
    val single = nouns.zipWithIndex.map { case (n, i) =>
      EscoLabel(f"http://data.europa.eu/esco/skill/s$i%04d", n, "knowledge")
    }
    val combos = for {
      (v, vi) <- verbs.zipWithIndex
      (n, ni) <- nouns.zipWithIndex
      if rnd(vi * 101L + ni, 0xF6L, 10) < 9
    } yield EscoLabel(
      f"http://data.europa.eu/esco/skill/c$vi%02d$ni%02d",
      s"$v $n", "skill/competence")
    single ++ combos
  }

  /** The labels deterministically embedded in page (h,p)'s text. */
  def embeddedLabels(h: Int, p: Int, all: IndexedSeq[String]): Seq[String] = {
    val k = 1 + rnd(h * 37L + p, 0x17L, 4)
    (0 until k).map(i => all(rnd(h * 59L + p * 7L + i, 0x28L, all.size)))
  }

  /** Same-host link targets of page p: BFS-discoverable tree + noise. */
  def linkTargets(h: Int, p: Int, nPages: Int): Seq[Int] = {
    val raw = Seq(p + 1, 2 * p + 2, 2 * p + 3, (p * 5 + 1) % nPages)
    raw.filter(t => t > 0 && t < nPages).distinct
  }

  // ---------------- page content model ----------------

  final case class Content(
      title: String,
      paras: Seq[String],      // paragraph sentences already joined
      items: Seq[String],      // li lines
      tableRows: Seq[Seq[String]],
      kvs: Seq[(String, String)],
      hrefs: Seq[String])      // raw href attributes in <main>

  /** Page richness: number of extra narrative paragraphs per page.
    * Tests use the default 1 (small, fixture-friendly pages); the bench
    * corpus raises it so page size approaches real Common-Crawl pages
    * (~tens of KB) and extraction cost dominates scheduling. */
  def content(h: Int, p: Int, nPages: Int,
      labels: IndexedSeq[String], richness: Int = 1): Content = {
    val emb = embeddedLabels(h, p, labels)
    val uniName = s"University ${h + 1}"
    val title =
      if (p == 0) s"$uniName - Home"
      else s"$uniName Course Catalog Page $p"
    val boiler = s"Welcome to $uniName."
    val para1 = s"$boiler This page describes course unit $p. " +
      s"Students learn ${emb.head} in depth."
    val para2 = s"$boiler The curriculum also covers " +
      emb.drop(1).distinct.mkString(", ") +
      (if (emb.size > 1) "." else "general studies.")
    val extraParas = (1 until richness).map { r =>
      val lbl = labels(rnd(h * 71L + p * 13L + r, 0x8EL, labels.size))
      s"Section $r of unit $p examines $lbl in module ${r % 7}. " +
        s"Assessment $r uses coursework worth ${10 + r % 5} percent. " +
        s"Reading list $r includes volume ${1 + (r % 9)} and " +
        s"lecture notes part ${1 + (r % 4)} for unit $p section $r."
    }
    val items = emb.distinct.zipWithIndex.map { case (l, i) =>
      s"Unit ${i + 1}: $l"
    }
    val tableRows =
      (Seq(Seq("Course", "ECTS", "Semester"),
        Seq(s"Course $p A", (3 + rnd(h + p, 0x39L, 5)).toString,
          (1 + rnd(h * 3L + p, 0x4AL, 8)).toString),
        Seq(s"Course $p B", (3 + rnd(h + p + 1, 0x39L, 5)).toString,
          (1 + rnd(h * 3L + p + 1, 0x4AL, 8)).toString))) ++
      (1 until richness).map(r =>
        Seq(s"Course $p X$r", (3 + rnd(h + p + r, 0x39L, 5)).toString,
          (1 + rnd(h * 3L + p + r, 0x4AL, 8)).toString))
    val kvs = Seq(
      "Language" -> (if (lang(h, p) == "en") "English" else "Local"),
      "ECTS" -> (4 + rnd(h * 5L + p, 0x5BL, 4)).toString,
      "Level" -> (if (rnd(h + p, 0x6CL, 2) == 0) "BSc" else "MSc"))
    val sameHost = linkTargets(h, p, nPages).map(t => path(h, t))
    val cross = Seq(s"https://${host((h + 1) % 50)}/")
    val noise = Seq("#top", "mailto:admissions@" + host(h), "javascript:void(0)")
    Content(title, Seq(para1, para2) ++ extraParas, items, tableRows, kvs,
      sameHost ++ cross ++ noise)
  }

  /** HTML for page (h,p) under the template grammar. */
  def html(h: Int, p: Int, nPages: Int, labels: IndexedSeq[String],
      richness: Int = 1): String = {
    val c = content(h, p, nPages, labels, richness)
    val sb = new StringBuilder
    sb ++= "<!DOCTYPE html><html><head><title>" ++= c.title ++= "</title>"
    sb ++= "<style>body{font:14px sans;}</style>"
    sb ++= "<script>var x = 1;</script></head><body>"
    if (rnd(h * 11L + p, 0x7DL, 3) == 0)
      sb ++= "<div class=\"cookie-banner\">We use cookies. Accept all cookies to continue.</div>"
    sb ++= "<div class=\"nav\">Skip to content</div>"
    sb ++= "<main>"
    sb ++= s"<h1>${c.title}</h1>"
    c.paras.foreach(p0 => sb ++= s"<p>$p0</p>")
    sb ++= "<ul>"
    c.items.foreach(i => sb ++= s"<li>$i</li>")
    sb ++= "</ul>"
    sb ++= "<table>"
    c.tableRows.foreach { r =>
      sb ++= "<tr>" ++= r.map(x => s"<td>$x</td>").mkString ++= "</tr>"
    }
    sb ++= "</table>"
    sb ++= "<dl>"
    c.kvs.foreach { case (k, v) => sb ++= s"<dt>$k</dt><dd>$v</dd>" }
    sb ++= "</dl>"
    c.hrefs.zipWithIndex.foreach { case (href, i) =>
      sb ++= s"<a href=\"$href\">Link ${i + 1}</a>"
    }
    sb ++= "</main>"
    sb ++= "<div class=\"footer\">Contact us | Privacy</div>"
    sb ++= "</body></html>"
    sb.toString
  }

  /** Canonical extracted text, composed from the content model under the
    * extraction spec (TextExtract Scaladoc) — independent of the parser. */
  def text(h: Int, p: Int, nPages: Int, labels: IndexedSeq[String],
      richness: Int = 1): String = {
    val c = content(h, p, nPages, labels, richness)
    val narrative = c.title +: (c.paras ++ c.items)
    val tableLines = c.tableRows.map(_.mkString(" | "))
    val kvLines = c.kvs.map { case (k, v) => s"$k: $v" }
    val raw = (narrative ++ tableLines ++ kvLines)
      .map(_.replaceAll("[ \t]{2,}", " ").trim)
      .filter(_.nonEmpty)
      .filterNot(_.toLowerCase.contains("skip to content"))
    val seenLines = mutable.HashSet.empty[String]
    val dedup = raw.filter(l => seenLines.add(l.toLowerCase))
    val seenPhrases = mutable.HashSet.empty[String]
    dedup.iterator.map { line =>
      line.split("(?<=[.!?]) ").iterator
        .filter(s => seenPhrases.add(s.toLowerCase))
        .mkString(" ")
    }.filter(_.nonEmpty).mkString("\n")
  }

  // ---------------- Dataset builders ----------------

  /** All (h, p) index pairs as a Dataset, distributed. */
  private def indices(spark: SparkSession, nHosts: Int,
      basePages: Int): Dataset[(Int, Int)] = {
    import spark.implicits._
    val counts = (0 until nHosts).map(h => pagesPerHost(h, basePages))
    val offsets = counts.scanLeft(0L)(_ + _)
    val total = offsets.last
    val bc = spark.sparkContext.broadcast(offsets.toArray)
    spark.range(total).map { i =>
      val offs = bc.value
      var h = java.util.Arrays.binarySearch(offs, i)
      if (h < 0) h = -h - 2
      (h, (i - offs(h)).toInt)
    }
  }

  def pages(spark: SparkSession, nHosts: Int = 50,
      basePages: Int = 16, richness: Int = 1): Dataset[Page] = {
    import spark.implicits._
    val labels = escoLabels().map(_.preferred_label).toIndexedSeq
    val bcLabels = spark.sparkContext.broadcast(labels)
    indices(spark, nHosts, basePages).map { case (h, p) =>
      val n = pagesPerHost(h, basePages)
      val ls = bcLabels.value
      Page(url(h, p), warcTs(h, p),
        html(h, p, n, ls, richness).getBytes("UTF-8"),
        text(h, p, n, ls, richness), lang(h, p))
    }
  }

  def seeds(spark: SparkSession, nHosts: Int = 50,
      every: Int = 1): Dataset[Seed] = {
    import spark.implicits._
    (0 until nHosts by every).map(h => Seed(url(h, 0))).toDS()
  }

  /** The host's robots.txt BODY — the corpus-side artifact the engine
    * parses (rules no longer arrive pre-structured). Carries a non-`*`
    * group and noise directives so the parser's group selection is
    * exercised on every crawl, not just in RobotsSpec. */
  def robotsTxt(h: Int): String = {
    val delaySecs = (200 + (h % 5) * 200) / 1000.0
    s"""# synthetic robots.txt for ${host(h)}
       |User-agent: fancybot
       |Disallow: /
       |
       |User-agent: *
       |Disallow: /private/
       |Disallow:
       |Crawl-delay: $delaySecs
       |Sitemap: https://${host(h)}/sitemap.xml
       |""".stripMargin
  }

  def robots(spark: SparkSession, nHosts: Int = 50): Dataset[RobotsRule] = {
    import spark.implicits._
    (0 until nHosts).map { h =>
      graft.url.Robots.parse(host(h), robotsTxt(h))
    }.toDS()
  }
}
