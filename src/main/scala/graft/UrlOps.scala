package graft

import java.net.URI
import scala.util.Try

/** Pure URL functions + Catalyst Column builders.
  *
  * These are the admission/normalization semantics of the reference crawler
  * (see file:line cites per function), implemented once as plain Scala so the
  * Spark engine (via UDF / Column exprs) and the sequential golden oracle
  * (ReferenceOracle) share bit-identical behavior.
  */
object UrlOps {

  /** Suffix blocklist of clearly-non-HTML resources
    * (reference: src/main.rs:112-145, incl. the upper-case variants). */
  val notHtmlSuffixes: Seq[String] = Seq(
    ".css", ".js", ".mp3", ".mp4", ".m4v", ".mov", ".dmg", ".pt", ".vdi",
    ".ova", ".m2ts", ".rmvb", ".npz", ".mat", ".data", ".xml", ".7z", ".gz",
    ".gztar", ".pdf", ".png", ".PNG", ".ico", ".ICO", ".jpg", ".JPG",
    ".gif", ".GIF", ".svg", ".SVG", ".json")

  /** reference: src/main.rs:112-145 — suffix blocklist OR not http(s). */
  def clearlyNotHtml(url: String): Boolean =
    notHtmlSuffixes.exists(url.endsWith) || !url.startsWith("http")

  /** Last two dot-labels of a domain; domains with <=2 labels unchanged
    * (reference: src/main.rs:208-214). */
  def domainRoot(domain: String): String = {
    val labels = domain.split('.')
    if (labels.length <= 2) domain
    else labels.takeRight(2).mkString(".")
  }

  /** Path segments as the rust `url` crate defines them for http(s) URLs:
    * the path without its leading '/', split on '/'; "/" → [""].
    */
  def pathSegments(path: String): Seq[String] = {
    val p = if (path.startsWith("/")) path.substring(1) else path
    p.split("/", -1).toSeq
  }

  /** Crawler-trap heuristic: >=2 duplicate path segments
    * (reference: src/main.rs:147-159; cases in src/bin/traptest.rs:21-28). */
  def looksLikeATrap(url: String): Option[Boolean] =
    Try(new URI(url)).toOption
      .flatMap(u => Option(u.getPath))
      .map { path =>
        val segs = pathSegments(path)
        val dups = segs.groupBy(identity).values.map(_.size - 1).sum
        dups >= 2
      }

  /** Host of a URL, or None (politeness key; reference: src/job.rs:22-24). */
  def host(url: String): Option[String] =
    Try(new URI(url)).toOption.flatMap(u => Option(u.getHost)).map(_.toLowerCase)

  /** Path of a URL ('' → '/'), for robots prefix matching
    * (reference: src/robots.rs:50). */
  def path(url: String): String =
    Try(new URI(url)).toOption.flatMap(u => Option(u.getRawPath))
      .filter(_.nonEmpty).getOrElse("/")

  /** RFC-3986 relative resolution against a base URL
    * (reference: base_url.join(href), src/main.rs:225). Returns None when the
    * href does not resolve to a parseable absolute URL. */
  def resolve(base: String, href: String): Option[String] =
    Try {
      val b = new URI(base)
      val r = b.resolve(href.trim)
      if (r.isAbsolute) Some(r.toString) else None
    }.toOption.flatten

  /** [[resolve]] against a pre-parsed base, returning the URI object — the
    * hot-path form: link extraction calls this once per href and then reads
    * host/path/components off the SAME object instead of re-parsing the
    * string once per downstream check (~5 URI parses per link otherwise —
    * at 10^7 links/superstep that is the parse stage's dominant allocation).
    * Semantics identical to [[resolve]]: URI.resolve + isAbsolute gate. */
  def resolveUri(base: URI, href: String): Option[URI] =
    Try(base.resolve(href.trim)).toOption.filter(_.isAbsolute)

  /** [[looksLikeATrap]] over a parsed URI (same rule, no re-parse). */
  def looksLikeATrapUri(u: URI): Option[Boolean] =
    Option(u.getPath).map { path =>
      val segs = pathSegments(path)
      segs.groupBy(identity).values.map(_.size - 1).sum >= 2
    }

  /** [[host]] over a parsed URI. */
  def hostUri(u: URI): Option[String] = Option(u.getHost).map(_.toLowerCase)

  /** [[canonicalize]] over a parsed URI (identical component logic; the
    * string form just parses first). */
  def canonicalizeUri(u: URI): Option[String] = {
    val scheme = Option(u.getScheme).map(_.toLowerCase).orNull
    val h = Option(u.getHost).map(_.toLowerCase).orNull
    if (scheme == null || h == null) None
    else {
      val port = u.getPort
      val keepPort =
        if ((scheme == "http" && port == 80) || (scheme == "https" && port == 443)) -1
        else port
      val p = Option(u.getRawPath).filter(_.nonEmpty).getOrElse("/")
      val portStr = if (keepPort == -1) "" else s":$keepPort"
      Some(s"$scheme://$h$portStr$p")
    }
  }

  /** Canonicalize: strip fragment and query (reference: set_fragment(None);
    * set_query(None), src/main.rs:240-243), lowercase scheme+host, drop
    * default ports, '' path → '/' (the url crate's normalizations). */
  def canonicalize(url: String): Option[String] =
    Try(new URI(url)).toOption.flatMap(canonicalizeUri)

  /** Valid-URI admission check (reference: url.parse::<Uri>().is_ok(),
    * src/main.rs:247). */
  def isValidUri(url: String): Boolean =
    Try(new URI(url)).map(u => u.isAbsolute && u.getHost != null).getOrElse(false)

  /** F11 academic-domain gate, config-off by default like the reference's
    * current gen. The regex is the reference's ACADEMIC_RE verbatim
    * (src/main-old.rs:65, applied to extracted links src/main-old.rs:180):
    * it matches hosts ending '.edu', '.ac' or '.ac.' — NOT '.ac.uk', since
    * the lazy-optional dot never extends the match past the anchor. */
  val AcademicRe: scala.util.matching.Regex = "^.+\\.(edu|ac\\.??)$".r
  def isAcademic(domain: String): Boolean = AcademicRe.matches(domain)

  // ---------------------------------------------------------------------------
  // Column builders (pure Catalyst where possible; UDFs only where java.net.URI
  // semantics are needed — SURVEY §2.10)
  // ---------------------------------------------------------------------------
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions._

  /** F1 as a pure Catalyst expression — no UDF (codegen-friendly).
    *
    * ONE anchored regex instead of a 30-term endsWith OR chain: when the url
    * is itself a derived expression, CollapseProject inlines it into every
    * OR term and the generated method blows janino's 64 KB limit (q01 fell
    * back to interpreted eval). `\z` anchors at absolute end-of-input ('$'
    * would also match before a trailing newline). Semantics identical,
    * case-sensitive, suffixes regex-quoted. */
  private val notHtmlSuffixRe: String =
    notHtmlSuffixes.map(java.util.regex.Pattern.quote)
      .mkString("(?:", "|", ")\\z")

  def clearlyNotHtmlCol(url: Column): Column =
    url.rlike(notHtmlSuffixRe) || !url.startsWith("http")

  /** L4 as pure Catalyst: last two labels of the host. */
  def domainRootCol(hostCol: Column): Column = {
    val parts = split(hostCol, "\\.")
    when(size(parts) <= 2, hostCol)
      .otherwise(array_join(slice(parts, -2, 2), "."))
  }

  /** F5: URL length admission. */
  def urlLenOkCol(url: Column, maxLen: Int): Column = length(url) <= maxLen

  // UDF-backed columns (registered lazily; java.net.URI isn't expressible in
  // Catalyst builtins). Kept off the per-token hot path — they run once per
  // extracted link.
  private val hostUdf = udf((u: String) => host(u).orNull)
  private val canonUdf = udf((u: String) => canonicalize(u).orNull)
  private val trapUdf = udf((u: String) => looksLikeATrap(u).getOrElse(false))

  def hostCol(url: Column): Column = hostUdf(url)
  def canonicalizeCol(url: Column): Column = canonUdf(url)
  def trapCol(url: Column): Column = trapUdf(url)
}
