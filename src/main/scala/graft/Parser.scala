package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Link + term extraction.
  *
  * The regex semantics are the reference's (src/main.rs:64-67):
  *   link_re    = href=['"][^'"]+['"]
  *   body_re    = (?s)<(body|/script|/style)([^<>]*)>.*?(</body>|<script|<style)
  *   tag_text_re= >([^<>]+)
  *   term_re    = [a-zA-Z]+
  * java.util.regex and the rust regex crate agree on these patterns, so the
  * Spark engine (Catalyst regexp functions / UDF) and the sequential oracle
  * share behavior exactly.
  */
object Parser {

  val LinkRe = """href=['"][^'"]+['"]"""
  val BodyRe = """(?s)<(body|/script|/style)([^<>]*)>.*?(</body>|<script|<style)"""
  val TagTextRe = """>([^<>]+)"""
  val TermRe = """[a-zA-Z]+"""

  private val linkPat = LinkRe.r
  private val bodyPat = BodyRe.r
  private val tagTextPat = TagTextRe.r
  private val termPat = TermRe.r

  /** Assemble the document's raw-HTML view: text spans sorted by offset,
    * concatenated (media spans contribute no text). */
  def htmlOf(spans: Seq[Span]): String =
    spans.filter(_.kind == "text").sortBy(_.offset).map(_.text).mkString

  /** S3 capped body (reference src/client.rs:63-75, config.rs:42): the
    * reference reads at most max_document_len BYTES of the response and
    * parses the truncated body. The deterministic re-expression truncates
    * the assembled html to maxDocumentLen CHARACTERS (the chunk-boundary
    * drop of the streaming read is network-dependent, so char truncation is
    * the declared substitution; the corpus is ASCII, chars == bytes). */
  def cappedHtmlOf(spans: Seq[Span], maxDocumentLen: Int): String = {
    val h = htmlOf(spans)
    if (h.length > maxDocumentLen) h.substring(0, maxDocumentLen) else h
  }

  /** The full add_links admission pipeline (reference src/main.rs:216-254),
    * in the reference's exact order:
    *  1. no base domain → no links
    *  2. regex-extract hrefs, strip `href='`/trailing quote, RFC-resolve
    *     against base (failures dropped)
    *  3. if ANY resolved link is a trap → drop ALL links from this page
    *  4. cross-domain flag vs domain_root(base)
    *  5. canonicalize (strip query+fragment)
    *  6. admission: !clearly_not_html, len<=max, valid URI
    *  7. weight = crossDomainBonus | 1
    * Duplicate URLs stay duplicated — each is one frontier increment.
    */
  def extractLinks(baseUrl: String, html: String, maxUrlLen: Int,
                   crossDomainBonus: Long,
                   academicOnly: Boolean = false): Seq[(String, Long)] = {
    // Hot path: the base URI parses ONCE per page and each href resolves to
    // ONE java.net.URI object that every downstream check (trap, host,
    // canonicalize) reads component-wise — the string-per-stage form
    // re-parsed each link ~5x, which at 10^7 links/superstep made URI
    // construction the parse stage's dominant CPU+GC cost. Semantics are
    // unchanged (the *Uri twins share the string functions' logic; pinned
    // by UrlOpsSpec, the golden replay and the q05/q41 DuckDB oracles).
    val baseUri = scala.util.Try(new java.net.URI(baseUrl)).getOrElse(return Seq.empty)
    val baseHost = UrlOps.hostUri(baseUri).getOrElse(return Seq.empty)
    val baseRoot = UrlOps.domainRoot(baseHost)
    val resolvedAll = linkPat.findAllIn(html)
      .map(m => m.substring(6, m.length - 1))
      .flatMap(href => UrlOps.resolveUri(baseUri, href))
      .toSeq
    // F11 (config-off default): the reference's old gen filters to academic
    // domains right at link collection, before anything else
    // (src/main-old.rs:180)
    val resolved =
      if (academicOnly) resolvedAll.filter(u => UrlOps.hostUri(u).exists(UrlOps.isAcademic))
      else resolvedAll
    if (resolved.flatMap(UrlOps.looksLikeATrapUri).exists(identity)) return Seq.empty
    resolved
      .map { link =>
        val cross = UrlOps.hostUri(link) match {
          case Some(h) => UrlOps.domainRoot(h) != baseRoot
          case None => false
        }
        (link, cross)
      }
      .flatMap { case (link, cross) =>
        UrlOps.canonicalizeUri(link).map(c => (c, cross))
      }
      .filter { case (u, _) => !UrlOps.clearlyNotHtml(u) }
      .filter { case (u, _) => u.length <= maxUrlLen }
      .filter { case (u, _) => UrlOps.isValidUri(u) }
      .map { case (u, cross) => (u, if (cross) crossDomainBonus else 1L) }
  }

  /** Term stream of a document (reference index_document, src/main.rs:256-267):
    * body sections → tag texts → lowercase [a-zA-Z]+ terms, all occurrences. */
  def extractTerms(html: String): Seq[String] =
    bodyPat.findAllIn(html).toSeq.flatMap { section =>
      tagTextPat.findAllMatchIn(section).map(_.group(1)).flatMap { tagText =>
        termPat.findAllIn(tagText).map(_.toLowerCase)
      }
    }

  // ---------------------------------------------------------------------------
  // Spark side
  // ---------------------------------------------------------------------------

  /** html column from a spans column (array<struct<kind,text,media_ref,offset>>):
    * pure Catalyst — filter to text spans, sort by offset, concat. Enforces the
    * input_hint's span ordering invariant declaratively. */
  def htmlCol(spans: Column): Column = {
    val sorted = array_sort(
      filter(spans, s => s.getField("kind") === "text"),
      (a, b) => when(a.getField("offset") < b.getField("offset"), -1)
        .when(a.getField("offset") > b.getField("offset"), 1).otherwise(0))
    array_join(transform(sorted, s => s.getField("text")), "")
  }

  /** Catalyst twin of [[cappedHtmlOf]] — S3's capped body read as a
    * substring over the assembled html (codegen'd, no copy when under the
    * cap is not guaranteed, but the cap only triggers on oversized docs). */
  def cappedHtmlCol(spans: Column, maxDocumentLen: Int): Column =
    substring(htmlCol(spans), 1, maxDocumentLen)

  /** Link extraction as a single-pass UDF over (url, spans) returning
    * array<struct<url,host,weight>>.
    *
    * Deliberately ONE UDF rather than explode+per-link UDFs: the trap rule is
    * a page-level ANY-aggregate over links (src/main.rs:228-230), which as
    * separate operators would force a groupBy/window shuffle per page before
    * admission filtering. Doing the whole per-page pipeline in one pass keeps
    * link extraction narrow (no shuffle until the frontier merge) — at 100 TB
    * that removes an entire shuffle stage of pre-admission links.
    *
    * Span assembly happens INSIDE the UDF (shared [[cappedHtmlOf]], so the
    * semantics — sort by offset, text spans only, S3 cap — are the golden
    * oracle's, bit-identical): the Catalyst alternative evaluates the
    * array_sort comparator lambda INTERPRETED per row (higher-order
    * functions get no codegen) and materializes the full html as an
    * intermediate column — measured as a large, poorly-amortized slice of
    * the parse phase at multi-million-doc supersteps. */
  private def linkSpanUdf(maxDocumentLen: Int, maxUrlLen: Int, bonus: Long,
                          academicOnly: Boolean) =
    udf((base: String, spans: Seq[org.apache.spark.sql.Row]) => {
      // Resolve the span struct's field positions BY NAME, once per page
      // (all rows of one array share a schema): a corpus parquet written
      // externally or schema-evolved may order the struct fields
      // differently than the Span case class, and positional access would
      // silently misparse kind/text. Per-span access stays positional on
      // the resolved indices — no per-span name lookups on the hot path.
      val ss = if (spans.isEmpty) Seq.empty[Span] else {
        val sch = spans.head.schema
        val (ki, ti, mi, oi) =
          if (sch == null) (0, 1, 2, 3) // schemaless Row: case-class order
          else (sch.fieldIndex("kind"), sch.fieldIndex("text"),
            sch.fieldIndex("media_ref"), sch.fieldIndex("offset"))
        spans.map(r => Span(r.getString(ki), r.getString(ti),
          r.getString(mi), r.getInt(oi)))
      }
      val html = cappedHtmlOf(ss, maxDocumentLen)
      extractLinks(base, html, maxUrlLen, bonus, academicOnly)
        .map { case (u, w) => Link(u, UrlOps.host(u).getOrElse(""), w) }
    })

  /** fetched docs (url, spans) → admitted links (url, host, weight).
    * The body is capped at cfg.maxDocumentLen before extraction (S3). */
  def linksOf(fetched: DataFrame, cfg: CrawlConfig): DataFrame =
    fetched
      .select(explode(linkSpanUdf(cfg.maxDocumentLen, cfg.maxUrlLen,
        cfg.crossDomainBonus, cfg.academicOnly)(col("url"), col("spans"))).as("l"))
      .select(col("l.url").as("url"), col("l.host").as("host"), col("l.weight").as("weight"))

  /** Term extraction as pure Catalyst nested regexp extraction, no UDF on
    * the token hot path: sections → tag texts → terms. The `transform`
    * lambdas are higher-order functions, which Spark evaluates interpreted
    * per row, not in generated code, as `linkSpanUdf`'s doc says of
    * [[htmlCol]]. */
  def termsCol(html: Column): Column = {
    val sections = regexp_extract_all(html, lit(BodyRe), lit(0))
    val tagTexts = flatten(transform(sections, s => regexp_extract_all(s, lit(TagTextRe), lit(1))))
    flatten(transform(tagTexts, t => regexp_extract_all(lower(t), lit(TermRe), lit(0))))
  }
}
