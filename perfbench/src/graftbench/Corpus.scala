package graftbench

import org.apache.spark.sql.{Dataset, SparkSession}
import graft.corpus.Synth
import graft.model.{Page, RobotsRule, Seed}

/** Size and politeness shape of a generated crawl corpus. */
final case class Shape(hosts: Int, basePages: Int, richness: Int,
    roundMs: Long)

/** A crawl corpus generated from a seed with `Synth`'s row functions.
  *
  * Logical host `i` (0 until hosts) is the generator's host
  * `offset + i`, with `offset = 35 * (seed mod 10^6)`. The page count
  * keeps the Zipf profile by logical index (`Synth.pagesPerHost(i, _)`),
  * and since 35 is a multiple of both the robots delay cycle (5) and the
  * tld cycle (7), every seed has the same per-host crawl delays, so the
  * round structure is the same across seeds while urls, paths, link
  * exclusions and page text differ. */
final class Corpus(val seed: Long, val shape: Shape) extends Serializable {
  val offset: Int = (35L * java.lang.Math.floorMod(seed, 1000000L)).toInt

  def hostId(i: Int): Int = offset + i
  def nPages(i: Int): Int = Synth.pagesPerHost(i, shape.basePages)
  def totalPages: Long = (0 until shape.hosts).map(nPages(_).toLong).sum

  def url(i: Int, p: Int): String = Synth.url(hostId(i), p)
  def text(i: Int, p: Int, labels: IndexedSeq[String]): String =
    Synth.text(hostId(i), p, nPages(i), labels, shape.richness)

  /** The corpus table the engine crawls: (url, warc_ts, html, text, lang). */
  def pages(spark: SparkSession): Dataset[Page] = {
    import spark.implicits._
    val offs = (0 until shape.hosts).map(nPages(_).toLong)
      .scanLeft(0L)(_ + _).toArray
    val labels = Corpus.labels
    val (off, base, rich) = (offset, shape.basePages, shape.richness)
    spark.range(offs.last).map { k =>
      var i = java.util.Arrays.binarySearch(offs, k)
      if (i < 0) i = -i - 2
      val p = (k - offs(i)).toInt
      val h = off + i
      val n = Synth.pagesPerHost(i, base)
      Page(Synth.url(h, p), Synth.warcTs(h, p),
        Synth.html(h, p, n, labels, rich).getBytes("UTF-8"),
        Synth.text(h, p, n, labels, rich), Synth.lang(h, p))
    }
  }

  def robots(spark: SparkSession): Dataset[RobotsRule] = {
    import spark.implicits._
    (0 until shape.hosts).map { i =>
      graft.url.Robots.parse(Synth.host(hostId(i)), Synth.robotsTxt(hostId(i)))
    }.toDS()
  }

  def seeds(spark: SparkSession): Dataset[Seed] = {
    import spark.implicits._
    (0 until shape.hosts).map(i => Seed(url(i, 0))).toDS()
  }
}

object Corpus {
  lazy val labels: IndexedSeq[String] =
    Synth.escoLabels().map(_.preferred_label).toIndexedSeq
  lazy val dict: Seq[(String, String)] =
    Synth.escoLabels().map(l => (l.concept_uri, l.preferred_label))
}

/** The crawl's expected output, computed in plain Scala without the
  * engine: a BFS per host over the generator's same-host link graph
  * (`Synth.linkTargets`) from the home page, where a page is fetched
  * only if its url carries no exclude keyword and its path starts with
  * no `Disallow` prefix of the robots.txt `*` group. */
object Reach {

  /** `Disallow` values of the `User-agent: *` group of a robots.txt body. */
  def disallowPrefixes(robotsTxt: String): Seq[String] = {
    var agents = List.empty[String]
    var inRules = false
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    robotsTxt.linesIterator.map(_.takeWhile(_ != '#').trim)
      .filter(_.nonEmpty).foreach { line =>
        val colon = line.indexOf(':')
        if (colon > 0) {
          val key = line.substring(0, colon).trim.toLowerCase
          val value = line.substring(colon + 1).trim
          if (key == "user-agent") {
            if (inRules) { agents = Nil; inRules = false }
            agents ::= value.toLowerCase
          } else {
            inRules = true
            if (key == "disallow" && value.nonEmpty && agents.contains("*"))
              out += value
          }
        }
      }
    out.distinct.toSeq
  }

  /** (logical host, page) pairs the crawl must fetch. */
  def pages(c: Corpus): Seq[(Int, Int)] = (0 until c.shape.hosts).flatMap { i =>
    val h = c.hostId(i)
    val n = c.nPages(i)
    val disallow = disallowPrefixes(Synth.robotsTxt(h))
    def allowed(p: Int): Boolean = {
      val u = Synth.url(h, p).toLowerCase
      !Synth.excludeKeywords.exists(u.contains) &&
        !disallow.exists(Synth.path(h, p).startsWith)
    }
    val seen = scala.collection.mutable.LinkedHashSet.empty[Int]
    val queue = scala.collection.mutable.Queue.empty[Int]
    if (allowed(0)) { seen += 0; queue += 0 }
    while (queue.nonEmpty) {
      val p = queue.dequeue()
      Synth.linkTargets(h, p, n).foreach { t =>
        if (!seen.contains(t) && allowed(t)) { seen += t; queue += t }
      }
    }
    seen.toSeq.map(p => (i, p))
  }
}
