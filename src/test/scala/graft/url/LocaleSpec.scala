package graft.url

import java.util.Locale
import org.scalatest.funsuite.AnyFunSuite
import graft.extract.TextExtract

/** URL identity, robots parsing and text extraction do not depend on the
  * JVM's default locale. Java's default-locale `toLowerCase` maps `I` to
  * dotless `ı` under a Turkish locale: `HTTPS://UNI.EDU` would
  * canonicalize to `https://unı.edu` (another `url_hash`), and a
  * `DISALLOW:` line would parse as `dısallow` and gate nothing. */
class LocaleSpec extends AnyFunSuite {

  private val urls = Seq("HTTPS://UNI.EDU", "HTTP://WIKI.UNI.EDU:80/Info?ID=1#Top",
    "https://Intranet.Uni.Edu:443/LIST", "HTTPS://İSTANBUL.EDU.TR/Bilgi")

  private val robotsTxt =
    "USER-AGENT: *\nDISALLOW: /PRIVATE/\nCRAWL-DELAY: 2\n\n" +
      "USER-AGENT: GRAFTBOT-I\nDISALLOW: /\n"

  /** Lines that differ only in case (dedup'd as one) and a
    * "SKIP TO CONTENT" line (dropped), each with a capital I. */
  private val page =
    "<HTML><BODY><MAIN><H1>LINKS AND INFO</H1><P>LINKS AND INFO</P>" +
      "<P>links and info</P><P>SKIP TO CONTENT</P>" +
      "<UL><LI>ITEM I</LI></UL><DL><DT>INTAKE</DT><DD>WINTER</DD></DL>" +
      "<A HREF=\"/INFO\">INFO</A></MAIN></BODY></HTML>"

  private def outputs = (
    urls.map(u => (Canonical.canonicalize(u), Canonical.host(u),
      Canonical.hash64(Canonical.canonicalize(u)))),
    Robots.parse("uni.edu", robotsTxt),
    Robots.parse("uni.edu", robotsTxt, "GRAFTBOT-I"),
    TextExtract.extract(page), TextExtract.links(page))

  private def under[T](locale: Locale)(body: => T): T = {
    val saved = Locale.getDefault
    Locale.setDefault(locale)
    try body finally Locale.setDefault(saved)
  }

  test("canonicalize, host, url_hash, robots and text extraction give " +
      "the same results under a Turkish default locale as under ROOT") {
    val root = under(Locale.ROOT)(outputs)
    val turkish = under(Locale.forLanguageTag("tr-TR"))(outputs)
    assert(turkish === root)
    // and ROOT's results are the case-folded ones
    val (canon, rules, named, text, _) = root
    assert(canon.head._1 === "https://uni.edu/")
    assert(canon(1)._2 === "wiki.uni.edu")
    assert(rules.disallow_prefixes === Seq("/PRIVATE/"))
    assert(rules.crawl_delay_ms === 2000)
    assert(named.disallow_prefixes === Seq("/"))
    assert(text === "LINKS AND INFO\nITEM I\nINTAKE: WINTER")
  }
}
