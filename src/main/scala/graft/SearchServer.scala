package graft

import com.sun.net.httpserver.{HttpContext, HttpExchange, HttpHandler, HttpServer}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.Executor

/** S9: the search HTTP endpoint — the reference serves
  * `GET /search?query=...` from a Rocket handler that whitespace-splits the
  * query, runs the conjunctive top-k and renders {count, results:[{url,
  * term_count, score}], search_time} (src/bin/query.rs:294-321).
  *
  * Re-expressed over the Spark index with the JDK's built-in HttpServer
  * (zero extra dependencies — the sandbox build is offline). Default
  * output is JSON — the right default for a library whose callers are
  * programs — with `format=html` rendering the reference's results page
  * (search form, scanned-count line, one anchor per result with
  * (score, term_count) — templates/search.html.tera). Like the reference,
  * which loads its shard headers once at start, [[start]] opens a
  * [[Search.Index]] over the postings/docmeta tables a crawl wrote, caches
  * it and collects its header to the driver before it binds the port, and
  * releases both on `stop`; each request runs [[Search.answer]] on it — the
  * same query function [[Search.search]] (and so the q34 oracle) runs. A
  * request is then the top-k's one Spark job, and no job for a query that
  * no shard fully holds. The response goes out with TCP_NODELAY, so its
  * body does not wait behind Nagle's algorithm for the client's delayed ACK
  * of the headers (the JDK server writes them as two segments). `count` is
  * the reference's: docs scanned = shard size × shards holding every query
  * term (count += SHARD_SIZE * shards_scored, src/bin/query.rs:260-263).
  */
object SearchServer {

  /** Minimal JSON string escape: quote, backslash, and control chars. */
  private def jstr(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'           => b.append("\\\"")
      case '\\'          => b.append("\\\\")
      case c if c < ' '  => b.append(f"\\u${c.toInt}%04x")
      case c             => b.append(c)
    }
    b.append('"').toString
  }

  /** Minimal HTML escape for text and quoted-attribute positions. */
  private def hstr(s: String): String =
    s.flatMap {
      case '&' => "&amp;"
      case '<' => "&lt;"
      case '>' => "&gt;"
      case '"' => "&quot;"
      case c   => c.toString
    }

  /** One query's raw response data: (scanned count, result rows, ms). */
  private def runQuery(index: Search.Index, query: String, topK: Int,
                       termCountGate: Int): (Long, Array[Row], Long) = {
    val t0 = System.nanoTime()
    val (scanned, rows) =
      if (Search.splitQuery(query).isEmpty) (0L, Array.empty[Row])
      else {
        val (n, results) = Search.answer(index, query, topK, termCountGate)
        (n, results.collect())
      }
    (scanned, rows, (System.nanoTime() - t0) / 1000000L)
  }

  /** One query against the index tables, rendered as the response JSON.
    * While a server started over the same tables runs, this reads its
    * cached index. */
  def searchJson(spark: SparkSession, postings: DataFrame, docmeta: DataFrame,
                 query: String, topK: Int, termCountGate: Int): String =
    renderJson(Search.Index.open(postings, docmeta), query, topK, termCountGate)

  private def renderJson(index: Search.Index, query: String, topK: Int,
                         termCountGate: Int): String = {
    val (scanned, rows, ms) = runQuery(index, query, topK, termCountGate)
    // score/term_count are numeric but their width follows the caller's
    // docmeta schema (int in the demo, long in the oracle fixtures)
    val results = rows.map { r =>
      s"""{"url":${jstr(r.getString(0))},"score":${r.get(1)},"term_count":${r.get(2)}}"""
    }.mkString(",")
    s"""{"count":$scanned,"results":[$results],"search_time_ms":$ms}"""
  }

  /** The reference's results page (templates/search.html.tera): a search
    * form, "Scanned through N pages in Tms", and one anchor per result
    * with (score, term_count). Served for `format=html`. */
  def searchHtml(spark: SparkSession, postings: DataFrame, docmeta: DataFrame,
                 query: String, topK: Int, termCountGate: Int): String =
    renderHtml(Search.Index.open(postings, docmeta), query, topK, termCountGate)

  private def renderHtml(index: Search.Index, query: String, topK: Int,
                         termCountGate: Int): String = {
    val (scanned, rows, ms) = runQuery(index, query, topK, termCountGate)
    val items = rows.map { r =>
      val u = hstr(r.getString(0))
      s"""      <div><a href="$u">$u</a> (${r.get(1)}, ${r.get(2)})</div>"""
    }.mkString("\n")
    s"""<html>
       |  <head><title>Search results</title></head>
       |  <body>
       |    <form action="/search" method="get">
       |      <input type="text" name="query" value="${hstr(query)}">
       |      <input type="hidden" name="format" value="html">
       |      <input type="submit">
       |    </form>
       |    <h1>Search results</h1>
       |    <p>Scanned through $scanned pages in ${ms}ms</p>
       |$items
       |  </body>
       |</html>
       |""".stripMargin
  }

  /** Start serving `GET /search?query=...` on `port` (0 = ephemeral; read
    * the bound port from the returned server). The index is opened, cached
    * and computed, and its header collected to the driver, before the port
    * is bound; `stop` on the returned server releases the cache and drops
    * the header. Servers over the same tables share that cache, and the
    * first `stop` releases it for all of them. The caller owns the Spark
    * session and the server's lifecycle.
    *
    * Unless the caller has already set it, this sets the JDK property
    * `sun.net.httpserver.nodelay=true` before creating the server. The JDK
    * reads the property once per JVM, when the first `HttpServer` is
    * created, so it only takes effect if no `HttpServer` was created
    * before; and it then also applies to every later `HttpServer` in the
    * same JVM. */
  def start(spark: SparkSession, postings: DataFrame, docmeta: DataFrame,
            port: Int, topK: Int = 20, termCountGate: Int = 8): HttpServer = {
    sys.props.getOrElseUpdate("sun.net.httpserver.nodelay", "true") // TCP_NODELAY
    val index = Search.Index.open(postings, docmeta).persist()
    val server =
      try HttpServer.create(new InetSocketAddress(port), 0)
      catch { case e: Throwable => index.unpersist(); throw e }
    server.createContext("/search", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        val raw = Option(ex.getRequestURI.getRawQuery).getOrElse("")
        // the html-mode flag is read WITHOUT percent-decoding so it cannot
        // throw: the error branches below need it to pick the content type
        val html = raw.split("&").contains("format=html")
        val resp =
          try {
            // decoding lives INSIDE the try: a malformed escape ("%zz", a
            // bare trailing "%") must yield the 500 error body, not an
            // exception escaping handle() and a dropped connection
            val params = raw.split("&").iterator
              .map(_.split("=", 2))
              .collect { case Array(k, v) => k -> URLDecoder.decode(v, UTF_8) }
              .toMap
            val q = params.getOrElse("query", "")
            val body =
              if (html) renderHtml(index, q, topK, termCountGate)
              else renderJson(index, q, topK, termCountGate)
            (200, body)
          } catch {
            case e: Exception if html =>
              (500, s"<html><body>error: ${hstr(String.valueOf(e.getMessage))}</body></html>")
            case e: Exception =>
              (500, s"""{"error":${jstr(String.valueOf(e.getMessage))}}""")
          }
        val bytes = resp._2.getBytes(UTF_8)
        ex.getResponseHeaders.set("Content-Type",
          if (html) "text/html; charset=utf-8" else "application/json")
        ex.sendResponseHeaders(resp._1, bytes.length)
        ex.getResponseBody.write(bytes)
        ex.close()
      }
    })
    // requests execute Spark actions on the driver: serialize them, exactly
    // like the reference funnels every request through one worker pool
    server.setExecutor(null)
    server.start()
    new IndexServer(server, index)
  }

  /** The running server: `stop` also drops the index's cached data and its
    * driver-held header. */
  private[graft] final class IndexServer(http: HttpServer, val index: Search.Index)
      extends HttpServer {
    override def stop(delay: Int): Unit = try http.stop(delay) finally index.unpersist()
    override def bind(addr: InetSocketAddress, backlog: Int): Unit = http.bind(addr, backlog)
    override def start(): Unit = http.start()
    override def setExecutor(e: Executor): Unit = http.setExecutor(e)
    override def getExecutor: Executor = http.getExecutor
    override def createContext(path: String, h: HttpHandler): HttpContext = http.createContext(path, h)
    override def createContext(path: String): HttpContext = http.createContext(path)
    override def removeContext(path: String): Unit = http.removeContext(path)
    override def removeContext(c: HttpContext): Unit = http.removeContext(c)
    override def getAddress: InetSocketAddress = http.getAddress
  }

  /** `runMain graft.SearchServer <crawlStateDir> <port> [topK] [gate]` —
    * serve the index a [[CrawlLoop]] run wrote under `stateDir`, with
    * `SPARK_GRAFT_CPUS` task threads and shuffle partitions (else the JVM's
    * processor count). */
  def main(args: Array[String]): Unit = {
    val stateDir = args(0)
    val port = args(1).toInt
    val topK = args.lift(2).map(_.toInt).getOrElse(20)
    val gate = args.lift(3).map(_.toInt).getOrElse(8)
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"))
      .appName("graft-search")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val postings = spark.read.parquet(Snapshots.postingsPath(stateDir))
    val docmeta = spark.read.parquet(Snapshots.docmetaPath(stateDir))
    val server = start(spark, postings, docmeta, port, topK, gate)
    println(s"search: http://localhost:${server.getAddress.getPort}/search?query=...")
    Thread.currentThread().join() // serve until killed
  }
}
