package graft

import org.apache.spark.sql.{Dataset, SparkSession}
import scala.util.Random

/** Deterministic synthetic web of interleaved text+media documents.
  *
  * The reference fetches live HTML (src/client.rs:40-61); the rebuild is
  * hermetic, so the web is a table with the graft input_hint shape:
  * `documents(doc_id, spans: array<struct<kind,text,media_ref,offset>>)`
  * plus fetch-semantic side columns (status, content_type).
  *
  * Every doc is a pure function of (seed, i) so the corpus can be generated
  * distributed (spark.range(n).map) at any scale with no driver materialization
  * and identical content regardless of partitioning — and the sequential
  * golden oracle regenerates the exact same corpus in plain Scala.
  *
  * Fixture features (FIXTURES.md §1): hot host holding ~30% of URLs (skew),
  * multi-label hosts (domain_root paths), dead links, trap URLs
  * (src/bin/traptest.rs), >250-char URLs, non-HTML extension links, media
  * spans whose URL-shaped media_ref must never enter the frontier, some
  * 404/500 statuses and non-HTML content types, and under-min-token docs.
  */
object Corpus {

  val HotHost = "hot.example"
  val BlockedHost = "blocked.example"

  def nHosts(nDocs: Int): Int = math.max(4, nDocs / 50)

  /** Host for doc i — ~30% on the hot host, some multi-label, a few on the
    * robots-blocked host. Deterministic and O(1). */
  def hostFor(i: Long, nDocs: Int): String = {
    val m = (i % 100).toInt
    if (m < 30) HotHost
    else if (i % 29 == 5) BlockedHost
    else {
      val h = (i % nHosts(nDocs)).toInt
      if (i % 7 == 0) s"sub.h$h.example" else s"h$h.example"
    }
  }

  /** Canonical URL of doc i (no query/fragment; ≤250 chars). */
  def urlFor(i: Long, nDocs: Int): String = {
    val host = hostFor(i, nDocs)
    val depth = (i % 3).toInt
    val path =
      if (depth == 0) s"/d$i"
      else if (depth == 1) s"/a${i % 5}/d$i"
      else s"/a${i % 5}/b${i % 11}/d$i"
    s"https://$host$path"
  }

  def statusFor(i: Long): Int =
    if (i % 37 == 21) 404 else if (i % 53 == 17) 500 else 200

  def contentTypeFor(i: Long): String =
    if (i % 41 == 13) "application/pdf" else "text/html; charset=utf-8"

  private val vocab: Array[String] = {
    val base = Array(
      "spark", "frontier", "crawl", "index", "query", "page", "link", "host",
      "queue", "shard", "merge", "batch", "token", "score", "fetch", "parse",
      "robot", "bloom", "cuckoo", "filter", "hash", "salt", "skew", "join",
      "scan", "sort", "limit", "window", "group", "count", "table", "span",
      "media", "text", "offset", "graph", "seed", "budget", "epoch", "manifest")
    base ++ base.map(_ + "ly") ++ base.map("re" + _) ++ base.map(_ + "er") ++
      base.map("un" + _)
  }

  /** Generate doc i. Pure in (seed, i, nDocs). */
  def genDoc(seed: Long, i: Long, nDocs: Int): Doc = {
    val rng = new Random(seed * 1000003L + i * 7919L)
    val url = urlFor(i, nDocs)
    val host = hostFor(i, nDocs)

    // outlinks: random graph edges + admission-filter exercise cases
    val nLinks = 3 + rng.nextInt(6)
    val targets = Seq.fill(nLinks)(rng.nextInt(nDocs).toLong).distinct
    def linkHtml(u: String): String = s"<a href='$u'>go</a>"
    val isTrapPage = rng.nextDouble() < 0.04
    val extra = new StringBuilder
    if (rng.nextDouble() < 0.20)
      extra ++= linkHtml(s"https://dead${rng.nextInt(1000)}.example/x")
    if (rng.nextDouble() < 0.10)
      extra ++= linkHtml(s"https://$host/img/pic${rng.nextInt(100)}.png")
    if (rng.nextDouble() < 0.03)
      extra ++= linkHtml(s"https://$host/" + ("z" * 260))
    if (rng.nextDouble() < 0.10)
      extra ++= linkHtml(s"/a${rng.nextInt(5)}/d${rng.nextInt(nDocs)}") // relative
    if (isTrapPage)
      extra ++= linkHtml(s"https://$host/loop/loop/loop/page")

    // token content; some docs deliberately under the min-token index gate
    val small = i % 13 == 4
    val nTokens = if (small) 15 + rng.nextInt(10) else 150 + rng.nextInt(250)
    def tokens(k: Int): String =
      Seq.fill(k)(vocab(rng.nextInt(vocab.length))).mkString(" ")

    // interleaved spans: 1-3 text spans (HTML-ish, hold the links) + 0-2 media
    val nText = 1 + rng.nextInt(3)
    val linkChunks = targets.map(t => linkHtml(urlFor(t, nDocs))) :+ extra.toString
    val perSpan = (linkChunks.size + nText - 1) / nText
    val textSpans = (0 until nText).map { s =>
      val links = linkChunks.slice(s * perSpan, (s + 1) * perSpan).mkString
      val body = s"<body><p>${tokens(nTokens / nText)}</p>$links</body>"
      (s, body)
    }
    val nMedia = rng.nextInt(3)
    val mediaRefs = (0 until nMedia).map { k =>
      s"https://cdn${rng.nextInt(8)}.example/m/${i}_$k.${if (rng.nextBoolean()) "png" else "mp4"}"
    }

    var off = 0
    val spansOrdered = textSpans.map { case (_, body) =>
      val s = Span("text", body, "", off); off += 1; s
    } ++ mediaRefs.map { ref =>
      val s = Span("media", "", ref, off); off += 1; s
    }
    // store spans shuffled: consumers must sort by offset (input_hint invariant)
    val spans = rng.shuffle(spansOrdered)
    Doc(url, spans, statusFor(i), contentTypeFor(i))
  }

  /** robots rules: hot host disallows a prefix seeds link into; one host
    * disallows everything; all other hosts have no robots row (allow-all,
    * reference src/robots.rs:45-49). */
  def robotsEntries: Seq[RobotsEntry] = Seq(
    RobotsEntry(HotHost, Seq("/a1")),
    RobotsEntry(BlockedHost, Seq("/")))

  def seeds(nDocs: Int): Seq[Seed] =
    Seq(Seed(urlFor(0, nDocs), 1L), Seed(urlFor(1, nDocs), 1L))

  /** Local (driver-side) corpus for the sequential oracle + unit tests. */
  def docsLocal(seed: Long, nDocs: Int): Seq[Doc] =
    (0L until nDocs.toLong).map(genDoc(seed, _, nDocs))

  /** Distributed corpus — scales to any nDocs with no driver materialization. */
  def documents(spark: SparkSession, seed: Long, nDocs: Int): Dataset[Doc] = {
    import spark.implicits._
    spark.range(nDocs.toLong).map(i => genDoc(seed, i, nDocs))
  }

  def robots(spark: SparkSession): Dataset[RobotsEntry] = {
    import spark.implicits._
    spark.createDataset(robotsEntries)
  }

  def seedsDs(spark: SparkSession, nDocs: Int): Dataset[Seed] = {
    import spark.implicits._
    spark.createDataset(seeds(nDocs))
  }
}
