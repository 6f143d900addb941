package graftbench

import graft.corpus.Synth
import graft.dedup.Dedup
import graft.extract.{EscoMatcher, TextExtract}
import graft.text.TextStats
import graft.url.Canonical

/** Per-page kernels of a crawl round, timed single-threaded on the
  * driver over the pages the workload fetches: the same public calls, in
  * the same order, that the round's UDFs make per page. */
object Kernels {
  /** Pages per measurement, taken evenly from the fetched set. */
  val MaxPages = 1500
  val Passes = 3

  def measure(c: Corpus, reach: Seq[(Int, Int)], trace: Trace): Seq[(String, Double)] = {
    val step = math.max(1, reach.size / MaxPages)
    val sample = reach.indices.by(step).map(reach)
    val pages = sample.map { case (i, p) =>
      (c.url(i, p), Synth.html(c.hostId(i), p, c.nPages(i), Corpus.labels,
        c.shape.richness).getBytes("UTF-8"))
    }
    val dict = EscoMatcher.buildDict(Corpus.dict)
    var sink = 0L
    def time(name: String)(body: => Unit): Double = {
      val t0 = System.nanoTime()
      trace.span(name)(body)
      (System.nanoTime() - t0) / 1e3
    }
    // the last of several passes, so the timed code is compiled
    val last = (1 to Passes).map { _ =>
      var extracted = IndexedSeq.empty[(String, String, Seq[String])]
      val ex = time("TextExtract.extractAll") {
        extracted = pages.map { case (u, html) =>
          val (text, links) = TextExtract.extractAll(html)
          (u, text, links)
        }
      }
      val mt = time("EscoMatcher.matchUris") {
        extracted.foreach { case (_, text, _) =>
          sink += EscoMatcher.matchUris(dict, text).size
        }
      }
      val sg = time("Dedup.signatures") {
        extracted.foreach { case (_, text, _) =>
          val hs = Dedup.tokenHashes(Dedup.tokens(text))
          sink += Dedup.simhashOfHashes(hs)
          sink += Dedup.minhashOfArr(Dedup.shingleHashesOf(hs)).length
          sink += TextStats.detectLang(text).length
        }
      }
      var links = 0L
      val cn = time("Canonical.resolve_canonicalize_hash64") {
        extracted.foreach { case (u, _, ls) =>
          ls.foreach { href =>
            links += 1
            sink += Canonical.hash64(Canonical.canonicalize(Canonical.resolve(u, href)))
          }
        }
      }
      Seq(ex / pages.size, mt / pages.size, sg / pages.size,
        cn / math.max(1L, links))
    }.last
    if (sink == 42L) System.err.println("")
    Seq("extract.text_links_us_per_page", "extract.esco_match_us_per_page",
      "dedup.signature_us_per_page", "url.canonicalize_us_per_link").zip(last)
  }
}
