package graft.url

import java.util.Locale
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import graft.model.RobotsRule

/** robots.txt parser: raw bytes → the engine's per-host [[RobotsRule]]
  * (Disallow path prefixes + Crawl-delay) consumed by
  * `Frontier.robotsGate` / `Frontier.selectRound`.
  *
  * The reference has no robots handling at all (Crawlee BasicCrawler
  * ships with it off — /root/reference/apify.js never enables it); the
  * north rule adds robots gating as a first-class frontier component, so
  * the rules need to come from actual robots.txt content, not arrive
  * pre-structured. Semantics are the RFC 9309 subset a batch crawler
  * needs:
  *
  *  - a group is one-or-more consecutive `User-agent:` lines followed by
  *    its rule lines; a `User-agent:` line AFTER rule lines starts a new
  *    group
  *  - group selection: if any group names this crawler's product token
  *    (case-insensitive exact match), exactly those groups apply;
  *    otherwise the `*` groups apply; otherwise no rules (allow all)
  *  - `Disallow:` values are path prefixes; an EMPTY value is
  *    "allow everything" and contributes no prefix (RFC 9309 §2.2.2)
  *  - `Crawl-delay:` (de-facto extension, seconds, fractions allowed) →
  *    milliseconds; the MAX over the selected groups wins (conservative
  *    politeness)
  *  - `#` comments, blank lines, unknown directives (Allow, Sitemap, …)
  *    and malformed lines are ignored; directive names are
  *    case-insensitive and whitespace-tolerant
  */
object Robots {

  /** Politeness default when a selected group carries no Crawl-delay —
    * 1 req/s, the common crawler default. */
  val DefaultDelayMs: Int = 1000

  private final case class Group(agents: Seq[String], disallow: Seq[String],
      delayMs: Option[Int])

  private def splitGroups(body: String): Seq[Group] = {
    val groups = Seq.newBuilder[Group]
    var agents = Vector.empty[String]
    var disallow = Vector.empty[String]
    var delay: Option[Int] = None
    var inRules = false
    def flush(): Unit = {
      if (agents.nonEmpty) groups += Group(agents, disallow, delay)
      agents = Vector.empty; disallow = Vector.empty; delay = None
      inRules = false
    }
    for (raw <- body.linesIterator) {
      val line = raw.indexOf('#') match {
        case -1 => raw.trim
        case h => raw.substring(0, h).trim
      }
      val colon = line.indexOf(':')
      if (colon > 0) {
        val key = line.substring(0, colon).trim.toLowerCase(Locale.ROOT)
        val value = line.substring(colon + 1).trim
        key match {
          case "user-agent" =>
            if (inRules) flush()
            agents :+= value.toLowerCase(Locale.ROOT)
          case "disallow" =>
            inRules = true
            if (value.nonEmpty) disallow :+= value
          case "crawl-delay" =>
            inRules = true
            // clamp instead of truncating: round(s*1000).toInt wraps for
            // delays ≥ ~2.1e6 s, turning the politest host's delay into
            // a tiny/negative value → maximum budget (inverted politeness)
            value.toDoubleOption.filter(_ >= 0).foreach(s =>
              delay = Some(
                math.min(math.round(s * 1000), Int.MaxValue.toLong).toInt))
          case _ =>
            inRules = true // any other directive closes the agent list
        }
      }
    }
    flush()
    groups.result()
  }

  /** Parse one robots.txt body for `agent` (product token; default
    * matches only `*` groups). Prefixes keep document order, de-duped. */
  def parse(host: String, body: String, agent: String = "*"): RobotsRule = {
    val groups = splitGroups(if (body == null) "" else body)
    val tok = agent.toLowerCase(Locale.ROOT)
    val named =
      if (tok == "*") Seq.empty
      else groups.filter(_.agents.contains(tok))
    val selected =
      if (named.nonEmpty) named else groups.filter(_.agents.contains("*"))
    val prefixes = selected.flatMap(_.disallow).distinct
    val delay = selected.flatMap(_.delayMs) match {
      case Seq() => DefaultDelayMs
      case ds => ds.max
    }
    RobotsRule(host, prefixes, delay)
  }

  /** Dataset surface: (host, body) rows → per-host rules — one map pass,
    * no shuffle; the result is small (one row per host) and is broadcast
    * by the gate that consumes it. */
  def parseAll(robotsPages: DataFrame, agent: String = "*")
      (implicit spark: SparkSession): Dataset[RobotsRule] = {
    import spark.implicits._
    robotsPages.select("host", "body").as[(String, String)]
      .map { case (h, b) => parse(h, b, agent) }
  }
}
