package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** robots.txt politeness gate.
  *
  * Reference: per-host cache of Disallow path prefixes under
  * `User-agent: *` / `User-agent: Rustbot` (src/robots.rs:14,59-84); a URL is
  * disallowed iff its path starts with any cached prefix (src/robots.rs:45-57);
  * a host with no rules allows everything.
  *
  * Spark: the per-host rules are a small table — a broadcast equi-join on
  * host (J2), then a pure-Catalyst `exists` over the prefix array (F7).
  */
object Robots {

  private val DisallowRe = """^Disallow: ([^\s]+)""".r

  /** Parse a robots.txt body exactly as the reference does
    * (src/robots.rs:59-84): collect Disallow prefixes in `User-agent: *` or
    * `User-agent: Rustbot` groups; empty result ⇒ allow-all (None). */
  def parseRobotsTxt(body: String): Option[Seq[String]] = {
    var shouldMatch = false
    val prefixes = Seq.newBuilder[String]
    body.linesIterator.foreach { line =>
      if (line.startsWith("User-agent: ")) {
        shouldMatch = line.startsWith("User-agent: *") ||
          line.startsWith("User-agent: Rustbot")
      } else if (shouldMatch) {
        DisallowRe.findFirstMatchIn(line).foreach(m => prefixes += m.group(1))
      }
    }
    val p = prefixes.result()
    if (p.isEmpty) None else Some(p)
  }

  /** Pure-Scala allow check (shared with the sequential oracle). */
  def allowed(url: String, rules: Map[String, Seq[String]]): Boolean = {
    UrlOps.host(url) match {
      case None => false
      case Some(h) =>
        rules.get(h) match {
          case None => true
          case Some(prefixes) =>
            val p = UrlOps.path(url)
            !prefixes.exists(p.startsWith)
        }
    }
  }

  /** URL path as a Catalyst expression ('' → '/'). */
  def pathCol(url: Column): Column = {
    val p = regexp_replace(url, "^[a-z]+://[^/]*", "")
    when(length(p) === 0, lit("/")).otherwise(p)
  }

  /** Gate a pop batch: broadcast-join the robots table, keep rows whose path
    * matches no Disallow prefix. Adds nothing but the broadcast — the big
    * side never shuffles. */
  def allowedBatch(popBatch: DataFrame, robots: DataFrame): DataFrame = {
    popBatch
      .join(broadcast(robots.select(col("host"), col("disallow"))), Seq("host"), "left")
      .withColumn("path", pathCol(col("url")))
      .filter(col("disallow").isNull ||
        !exists(col("disallow"), p => col("path").startsWith(p)))
      .drop("disallow", "path")
  }
}
