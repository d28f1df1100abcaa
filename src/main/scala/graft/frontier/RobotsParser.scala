package graft.frontier

import graft.model.RobotsRule
import org.apache.spark.sql.{DataFrame, Dataset}

/** robots.txt → rules-table parser (SURVEY.md §3 P3/J4 input side).
  *
  * Implements the core of the public robots exclusion protocol
  * (user-agent groups, Allow/Disallow path prefixes, `*` agent,
  * case-insensitive directives, `#` comments; directives outside any
  * user-agent group are ignored). The crawl pipeline
  * consumes the resulting (host, path_prefix, allowed) rules via the
  * longest-prefix gate in [[Wave.robotsGate]] (the
  * [[graft.functions.RobotsAllowed]] kernel behind a per-host join whose
  * regime Spark picks by size) — parsing is a distributed flatMap over
  * fetched robots.txt bodies.
  */
object RobotsParser {

  /** Rules applying to `agent` — RFC 9309 group selection: when any
    * group names the specific agent, ONLY those groups apply; the `*`
    * groups apply only when no specific group matches (they are a
    * FALLBACK, not a union — 'User-agent: specialbot / Allow: /public'
    * followed by 'User-agent: * / Disallow: /' must leave specialbot
    * fully allowed, not denied by the star group's Disallow). */
  def parse(host: String, robotsTxt: String, agent: String = "*"): Seq[RobotsRule] = {
    var groupSpecific = false // current group names `agent` specifically
    var groupStar = false // current group names `*`
    var groupHasAgents = false // directives before any User-agent are global
    val specific = Seq.newBuilder[RobotsRule]
    val star = Seq.newBuilder[RobotsRule]
    var sawSpecificGroup = false
    val wanted = productToken(agent)

    robotsTxt.linesIterator.foreach { raw =>
      val line = raw.takeWhile(_ != '#').trim
      if (line.nonEmpty) {
        val idx = line.indexOf(':')
        if (idx > 0) {
          val key = line.substring(0, idx).trim.toLowerCase
          val value = line.substring(idx + 1).trim
          key match {
            case "user-agent" =>
              if (!groupHasAgents) {
                groupSpecific = false; groupStar = false; groupHasAgents = true
              }
              if (value == "*") groupStar = true
              // RFC 9309 §2.2.1: the group is specific when its product
              // token equals the agent's, case-insensitively. Neither a
              // substring ('bot') nor a prefix ('g', 'graft') of
              // 'graftbot' matches — such a group would silently suppress
              // the `*` group's Disallow rules — and a versioned value
              // ('GraftBot/1.0') does. An empty token matches nothing.
              else if (wanted.nonEmpty && productToken(value) == wanted) {
                groupSpecific = true
                sawSpecificGroup = true
              }
            case "allow" | "disallow" =>
              groupHasAgents = false
              if (value.nonEmpty) {
                val rule = RobotsRule(host, value, allowed = key == "allow")
                // a group naming both the agent and `*` counts as specific
                if (groupSpecific) specific += rule
                else if (groupStar) star += rule
              }
            case _ => groupHasAgents = false // crawl-delay/sitemap etc: ignored
          }
        }
      }
    }
    // agent `*` has an empty product token and only ever matches star
    // groups, so sawSpecificGroup stays false and the default crawl
    // reads the star rules
    val rules = if (sawSpecificGroup) specific.result() else star.result()
    // default-allow root so hosts with only Disallow rules still permit "/"
    if (rules.exists(r => r.path_prefix == "/" )) rules
    else rules :+ RobotsRule(host, "/", allowed = true)
  }

  /** The leading product-token run `[A-Za-z_-]+`, lower-cased (RFC 9309
    * §2.2.1); "" when the value does not start with one. */
  private def productToken(agent: String): String =
    agent.takeWhile(c => (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
      c == '_' || c == '-').toLowerCase

  /** Distributed parse: (host STRING, robots_txt STRING) → rules table. */
  def parseTable(robotsPages: DataFrame, agent: String = "*"): DataFrame = {
    val spark = robotsPages.sparkSession
    import spark.implicits._
    robotsPages.select("host", "robots_txt").as[(String, String)]
      .flatMap { case (h, txt) => parse(h, Option(txt).getOrElse(""), agent) }
      .toDF()
  }
}
