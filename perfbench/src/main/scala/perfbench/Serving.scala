package perfbench

import graft._
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import org.apache.spark.sql.DataFrame

/** The search side of workload `crawl`: one client sending a fixed-seed
  * stream of 1–3-term queries to `SearchServer`'s `GET /search` in a closed
  * loop, over the index the crawl wrote. Some queries name a term that is
  * in no shard. */
object Serving {
  val WarmQueries = 1
  // too few for a tail percentile (that needs 40, about 30 s of queries at
  // today's latency), so the median is reported
  val Queries = 8
  val MissingTerm = "qqzzmissing"
  val TopK = 20
  val TermCountGate = 8

  /** Query i has 1 + i % 3 terms and every eighth names the missing term,
    * so every stream has the same make-up; the seed picks the terms. */
  def queryStream(seed: Long, vocab: IndexedSeq[String], n: Int): Seq[String] = {
    val rng = new scala.util.Random(seed * 31 + 7)
    (0 until n).map { i =>
      val terms = rng.shuffle(vocab).take(1 + i % 3)
      (if (i % 8 == 7) terms.init :+ MissingTerm else terms).mkString(" ")
    }
  }

  /** Closed-loop client: one request at a time; returns (body, ms). */
  final class Client(port: Int) {
    private val http = HttpClient.newHttpClient()
    def get(q: String): (String, Double) = {
      val uri = URI.create(s"http://127.0.0.1:$port/search?query=" +
        java.net.URLEncoder.encode(q, "UTF-8"))
      val t = System.nanoTime()
      val resp = http.send(HttpRequest.newBuilder(uri).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      val ms = (System.nanoTime() - t) / 1e6
      if (resp.statusCode() != 200) sys.error(s"HTTP ${resp.statusCode()} for '$q': ${resp.body()}")
      (resp.body(), ms)
    }
  }

  def tables(ctx: Ctx, stateDir: String): (DataFrame, DataFrame) =
    (ctx.spark.read.parquet(Snapshots.postingsPath(stateDir)),
      ctx.spark.read.parquet(Snapshots.docmetaPath(stateDir)))

  final case class Served(answers: Seq[(String, String)], httpMs: Seq[Double], directMs: Seq[Double])

  /** Serve `stateDir`'s index and send the query stream: `WarmQueries`
    * untimed, then `Queries` timed. Traced, each query also runs once
    * directly (no HTTP), so the server's own overhead can be told apart;
    * the two alternate which goes first, as the second finds warmer caches. */
  def serve(ctx: Ctx, stateDir: String, n: Int, warm: Int): Served = {
    val spark = ctx.spark
    import spark.implicits._
    val (postings, docmeta) = tables(ctx, stateDir)
    val vocab = postings.select("term").distinct().orderBy("term").as[String].collect().toIndexedSeq
    val qs = queryStream(ctx.seed, vocab, warm + n)
    val server = ctx.tr("SearchServer", "serve") { SearchServer.start(spark, postings, docmeta, 0) }
    try {
      val c = new Client(server.getAddress.getPort)
      qs.take(warm).foreach(c.get)
      val timed = qs.drop(warm).zipWithIndex.map { case (q, i) =>
        def direct() = if (!ctx.tr.enabled) 0.0 else {
          val t = System.nanoTime()
          ctx.tr("Search", "search") {
            SearchServer.searchJson(spark, postings, docmeta, q, TopK, TermCountGate)
          }
          (System.nanoTime() - t) / 1e6
        }
        val d0 = if (i % 2 == 0) direct() else 0.0
        val (body, ms) = ctx.tr("SearchServer", "http") { c.get(q) }
        val d = if (i % 2 == 0) d0 else direct()
        (q, body, ms, d)
      }
      Served(timed.map(x => x._1 -> x._2), timed.map(_._3), timed.map(_._4))
    } finally server.stop(0)
  }

  /** The docs an index over these pop batches must hold: fetched (robots
    * allowed, present in the corpus), 2xx, text/html, at least minTokens
    * terms in the capped body. */
  def expectedIndexed(pops: Iterable[String], docs: Map[String, Doc], cfg: CrawlConfig): Set[String] = {
    val rules = Corpus.robotsEntries.map(r => r.host -> r.disallow).toMap
    pops.filter { u =>
      Robots.allowed(u, rules) && docs.get(u).exists { d =>
        d.status >= 200 && d.status < 300 && d.content_type.startsWith("text/html") &&
          Parser.extractTerms(Parser.cappedHtmlOf(d.spans, cfg.maxDocumentLen)).size >= cfg.minTokens
      }
    }.toSet
  }

  def indexedDocs(got: Seq[String], want: Set[String]): Check =
    Check("search.indexed_docs",
      (if (got.distinct.size != got.size) Seq("a doc is indexed twice") else Nil) ++
        (want -- got).take(3).map(u => s"missing $u") ++ (got.toSet -- want).take(3).map(u => s"extra $u"))

  /** Inputs of the runner's top-k check. */
  def forPython(stateDir: String, answers: Seq[(String, String)]): Map[String, Any] =
    Map("postings" -> Snapshots.postingsPath(stateDir), "docmeta" -> Snapshots.docmetaPath(stateDir),
      "top_k" -> TopK, "term_count_gate" -> TermCountGate,
      "answers" -> answers.map { case (q, b) => Map("query" -> q, "body" -> b) })
}
