package graft.url

import org.scalatest.funsuite.AnyFunSuite
import graft.model.RobotsRule

class RobotsSpec extends AnyFunSuite {

  test("synthetic corpus robots.txt parses to the exact rules the gate " +
      "asserted before the parser existed") {
    for (h <- 0 until 20) {
      val rule = Robots.parse(graft.corpus.Synth.host(h),
        graft.corpus.Synth.robotsTxt(h))
      assert(rule === RobotsRule(graft.corpus.Synth.host(h),
        Seq("/private/"), 200 + (h % 5) * 200))
    }
  }

  test("group selection: named agent group beats *, case-insensitive") {
    val body =
      """User-agent: GraftBot
        |Disallow: /graft-only/
        |Crawl-delay: 2
        |
        |User-agent: *
        |Disallow: /everyone/
        |Crawl-delay: 0.5
        |""".stripMargin
    assert(Robots.parse("h", body, "graftbot") ===
      RobotsRule("h", Seq("/graft-only/"), 2000))
    assert(Robots.parse("h", body) ===
      RobotsRule("h", Seq("/everyone/"), 500))
    // unknown named agent falls back to the * group
    assert(Robots.parse("h", body, "otherbot") ===
      RobotsRule("h", Seq("/everyone/"), 500))
  }

  test("stacked User-agent lines share one rule block; a User-agent " +
      "after rules starts a NEW group") {
    val body =
      """User-agent: a
        |User-agent: *
        |Disallow: /one/
        |User-agent: b
        |Disallow: /two/
        |""".stripMargin
    assert(Robots.parse("h", body).disallow_prefixes === Seq("/one/"))
    assert(Robots.parse("h", body, "a").disallow_prefixes === Seq("/one/"))
    assert(Robots.parse("h", body, "b").disallow_prefixes === Seq("/two/"))
  }

  test("empty Disallow allows all; comments/blank/unknown lines ignored; " +
      "no matching group → no rules + default delay") {
    val body =
      """# top comment
        |User-agent: *   # trailing comment
        |Disallow:
        |Allow: /anything
        |Sitemap: https://h/s.xml
        |""".stripMargin
    assert(Robots.parse("h", body) ===
      RobotsRule("h", Seq.empty, Robots.DefaultDelayMs))
    assert(Robots.parse("h", "User-agent: onlybot\nDisallow: /x/\n") ===
      RobotsRule("h", Seq.empty, Robots.DefaultDelayMs))
    assert(Robots.parse("h", "") === RobotsRule("h", Seq.empty,
      Robots.DefaultDelayMs))
    assert(Robots.parse("h", null) === RobotsRule("h", Seq.empty,
      Robots.DefaultDelayMs))
  }

  test("multiple selected groups union prefixes (doc order, de-duped) " +
      "and take the max crawl-delay; malformed delay ignored") {
    val body =
      """User-agent: *
        |Disallow: /a/
        |Crawl-delay: 1
        |
        |User-agent: *
        |Disallow: /b/
        |Disallow: /a/
        |Crawl-delay: soon
        |Crawl-delay: 3
        |""".stripMargin
    assert(Robots.parse("h", body) ===
      RobotsRule("h", Seq("/a/", "/b/"), 3000))
  }

  test("huge crawl-delay clamps to Int.MaxValue ms instead of wrapping " +
      "negative (politeness must not invert for the politest host)") {
    val body =
      """User-agent: *
        |Disallow: /x/
        |Crawl-delay: 4294968
        |""".stripMargin
    val r = Robots.parse("h", body)
    assert(r.crawl_delay_ms === Int.MaxValue,
      s"4294968 s must clamp, got ${r.crawl_delay_ms}")
  }
}
