package graft

import org.apache.spark.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.atomic.AtomicLong

/** S9: the search HTTP endpoint serves the library's own top-k
  * (reference: `GET /search?query=...`, src/bin/query.rs:301-321). */
class SearchServerSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tables() = {
    // two docs matching both terms (doc 2 scores higher), one doc matching
    // only one term (conjunctive AND must drop it), plus a noise term
    val postings = Seq(
      (0, "spark", 1L, 5), (0, "frontier", 1L, 3),
      (0, "spark", 2L, 9), (0, "frontier", 2L, 8),
      (0, "spark", 3L, 7),
      (0, "noise", 1L, 2)
    ).toDF("epoch", "term", "doc_id", "score")
    val docmeta = Seq(
      (0, 1L, "https://a.example/1", 8),
      (0, 2L, "https://b.example/\"2\"", 9), // quote exercises JSON escape
      (0, 3L, "https://c.example/3", 7)
    ).toDF("epoch", "doc_id", "url", "term_count")
    (postings, docmeta)
  }

  private def get(url: String): (Int, String) = {
    val resp = HttpClient.newHttpClient().send(
      HttpRequest.newBuilder(URI.create(url)).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  test("GET /search returns the library's top-k as JSON, in rank order") {
    val (postings, docmeta) = tables()
    val server = SearchServer.start(spark, postings, docmeta, port = 0,
      topK = 20, termCountGate = 0)
    try {
      val port = server.getAddress.getPort
      val (code, body) =
        get(s"http://localhost:$port/search?query=spark%20Frontier")
      assert(code == 200)
      // the endpoint must agree with the library call it fronts
      val expect = Search.search(spark, postings, docmeta,
        "spark frontier", topK = 20, termCountGate = 0).collect()
      assert(expect.length == 2) // doc 3 lacks 'frontier' (AND semantics)
      // count = docs SCANNED: shard size × shards holding every query term
      // (reference: count += SHARD_SIZE * shards_scored,
      // src/bin/query.rs:260-263) — epoch 0 has 3 docs and both terms
      assert(body.contains(""""count":3"""))
      val urlsInOrder =
        """"url":"((?:[^"\\]|\\.)*)"""".r.findAllMatchIn(body).map(_.group(1)).toSeq
      assert(urlsInOrder ==
        expect.map(_.getString(0)).toSeq.map(_.replace("\"", "\\\"")))
      expect.foreach { r =>
        assert(body.contains(s""""score":${r.get(1)},"term_count":${r.get(2)}"""))
      }
      assert(body.contains("\"search_time_ms\":"))

      // no-hit and empty queries answer cleanly instead of erroring
      val (c2, b2) = get(s"http://localhost:$port/search?query=absent%20term")
      assert(c2 == 200 && b2.contains("\"count\":0"))
      val (c3, b3) = get(s"http://localhost:$port/search?query=")
      assert(c3 == 200 && b3.contains("\"count\":0"))

      // a malformed percent-escape must never drop the connection without
      // a response: the JDK server 400s URIs its own parser rejects, and
      // anything that reaches the handler decodes INSIDE the try so the
      // 500 error body comes back instead of an exception escaping
      // handle(). Raw socket: HttpClient would refuse to build these URIs.
      val (c4, _) = rawGet(port, "/search?query=%zz")
      assert(c4 == 400 || c4 == 500)
      val (c5, _) = rawGet(port, "/search?query=100%")
      assert(c5 == 400 || c5 == 500)
    } finally server.stop(0)
  }

  /** Send a request line verbatim (invalid escapes included) and read the
    * status code — empty body reads are fine, the status is the contract. */
  private def rawGet(port: Int, pathQuery: String): (Int, String) = {
    val s = new java.net.Socket("localhost", port)
    try {
      s.setSoTimeout(10000)
      val out = s.getOutputStream
      out.write(
        s"GET $pathQuery HTTP/1.1\r\nHost: localhost\r\nConnection: close\r\n\r\n"
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      out.flush()
      val all = new String(s.getInputStream.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8)
      assert(all.startsWith("HTTP/1.1 "), s"no status line in: $all")
      val code = all.split(" ", 3)(1).toInt
      (code, all.split("\r\n\r\n", 2).lift(1).getOrElse(""))
    } finally s.close()
  }

  test("format=html renders the reference's results page") {
    val (postings, docmeta) = tables()
    val server = SearchServer.start(spark, postings, docmeta, port = 0,
      topK = 20, termCountGate = 0)
    try {
      val port = server.getAddress.getPort
      val (code, body) =
        get(s"http://localhost:$port/search?query=spark%20frontier&format=html")
      assert(code == 200)
      // the reference template's structure (templates/search.html.tera):
      // form, scanned-count line, one anchor per result with (score, tc)
      assert(body.contains("<form") && body.contains("name=\"query\""))
      assert(body.contains("Scanned through 3 pages in"))
      val expect = Search.search(spark, postings, docmeta,
        "spark frontier", topK = 20, termCountGate = 0).collect()
      expect.foreach { r =>
        val u = r.getString(0).replace("\"", "&quot;") // html-escaped
        assert(body.contains(s"""<a href="$u">$u</a> (${r.get(1)}, ${r.get(2)})"""))
      }
      // anchors appear in rank order
      val anchors = """<a href="([^"]*)"""".r.findAllMatchIn(body).map(_.group(1)).toSeq
      assert(anchors == expect.map(_.getString(0).replace("\"", "&quot;")).toSeq)
    } finally server.stop(0)
  }

  test("count exceeds topK when more docs were scanned than returned") {
    val (postings, docmeta) = tables()
    // topK = 1 truncates the result list; the reference's count still
    // reports every scanned doc (3 in the participating shard)
    val server = SearchServer.start(spark, postings, docmeta, port = 0,
      topK = 1, termCountGate = 0)
    try {
      val port = server.getAddress.getPort
      val (code, body) =
        get(s"http://localhost:$port/search?query=spark%20frontier")
      assert(code == 200)
      assert("""\"url\":""".r.findAllIn(body).size == 1) // truncated to topK
      assert(body.contains(""""count":3""")) // 3 > topK = 1
    } finally server.stop(0)
  }

  // three shards: epoch 2 has no doc with 'frontier', so a query naming it
  // skips that shard and leaves it out of `count`; docs 4 and 12 hold every
  // term but fall under the gate of 5
  private val post3 = Seq(
    (0, "spark", 1L, 5), (0, "frontier", 1L, 3),
    (0, "spark", 2L, 9), (0, "frontier", 2L, 8),
    (0, "spark", 3L, 7),
    (0, "spark", 4L, 40), (0, "frontier", 4L, 200),
    (1, "spark", 11L, 120), (1, "frontier", 11L, 60),
    (1, "spark", 12L, 30), (1, "frontier", 12L, 90),
    (1, "frontier", 13L, 10), (1, "noise", 13L, 2),
    (2, "spark", 21L, 50), (2, "crawl", 21L, 20),
    (2, "spark", 22L, 80),
    (2, "crawl", 23L, 7))
  private val meta3 = Seq(
    (0, 1L, "https://a.example/1", 8), (0, 2L, "https://a.example/\"2\"", 9),
    (0, 3L, "https://a.example/3", 7), (0, 4L, "https://a.example/4", 3),
    (1, 11L, "https://b.example/11", 6), (1, 12L, "https://b.example/12", 4),
    (1, 13L, "https://b.example/13", 8),
    (2, 21L, "https://c.example/21", 7), (2, 22L, "https://c.example/22", 5),
    (2, 23L, "https://c.example/23", 9))
  private val gate3 = 5

  private def tables3() =
    (post3.toDF("epoch", "term", "doc_id", "score"),
      meta3.toDF("epoch", "doc_id", "url", "term_count"))

  /** The reference's top-k over the fixture lists, in plain Scala: shards
    * holding every term, per-shard shifts, the u8 fold, gate, rank. */
  private def referenceTopK(query: String): Seq[(String, Int, Int)] = {
    val terms = Search.splitQuery(query)
    val shardSize = meta3.groupBy(_._1).map { case (e, ms) => e -> ms.size.toLong }
    post3.groupBy(_._1).toSeq.flatMap { case (e, ps) =>
      val qs = ps.filter(p => terms.contains(p._2))
      if (terms.distinct.exists(t => !qs.exists(_._2 == t))) Nil
      else {
        val sh = Search.ScoreMath.shifts(
          terms.map(t => qs.count(p => p._2 == t && p._4 > 0).toLong),
          terms.map(t => qs.filter(_._2 == t).map(_._4).max.toLong), shardSize(e))
        qs.groupBy(_._3).toSeq.flatMap { case (doc, dps) =>
          val m = dps.map(p => p._2 -> p._4).toMap
          val score = Search.ScoreMath.fold(terms.map(m.getOrElse(_, 0)), sh)
          meta3.find(x => x._1 == e && x._2 == doc)
            .filter(x => score > 0 && m.size == terms.distinct.size && x._4 >= gate3)
            .map(x => (doc, x._3, score, x._4))
        }
      }
    }.sortBy(h => (-h._3, h._1)).map(h => (h._2, h._3, h._4))
  }

  /** The response JSON without its timing field. */
  private def untimed(body: String): String =
    body.replaceFirst(""","search_time_ms":\d+}$""", "}")

  test("served answers equal Search.search plus the reference's count") {
    val (postings, docmeta) = tables3()
    val server = SearchServer.start(spark, postings, docmeta, port = 0,
      topK = 20, termCountGate = gate3)
    try {
      val port = server.getAddress.getPort
      // count by hand: shard sizes are 4, 3 and 3 docs; a query scans the
      // shards that hold all of its terms
      val cases = Seq(
        "spark spark frontier" -> 7L, // repeated term; epoch 2 skipped
        "spark qqmissing" -> 0L,       // a term in no shard
        "spark frontier" -> 7L,        // docs 4 and 12 fall under the gate
        "crawl spark" -> 3L)           // only epoch 2 holds 'crawl'
      cases.foreach { case (q, count) =>
        val (code, body) = get(s"http://localhost:$port/search?query=" +
          java.net.URLEncoder.encode(q, "UTF-8"))
        assert(code == 200, body)
        val expect = Search.search(spark, postings, docmeta, q,
          topK = 20, termCountGate = gate3).collect()
          .map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toSeq
        assert(expect == referenceTopK(q), q)
        val results = expect.map { case (u, s, tc) =>
          s"""{"url":"${u.replace("\"", "\\\"")}","score":$s,"term_count":$tc}"""
        }.mkString(",")
        assert(untimed(body) == s"""{"count":$count,"results":[$results]}""", q)
      }
      // the gate case really drops hits: docs 4 and 12 score but are gated
      assert(referenceTopK("spark frontier").size == 3)
    } finally server.stop(0)
  }

  /** (jobs, shuffle bytes written) of `body`, by a listener attached after
    * the bus drained and read after it drained again. */
  private def cost(body: => Unit): (Long, Long) = {
    val sc = spark.sparkContext
    val jobs, shuffleBytes = new AtomicLong
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m => shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten))
    }
    TestBus.drain(sc)
    sc.addSparkListener(l)
    try { body; TestBus.drain(sc) } finally sc.removeSparkListener(l)
    (jobs.get, shuffleBytes.get)
  }

  test("a served hit query runs at most 1 job and no shuffle; a no-hit query none") {
    val (postings, docmeta) = tables3()
    val server = SearchServer.start(spark, postings, docmeta, port = 0,
      topK = 20, termCountGate = gate3)
    try {
      val base = s"http://localhost:${server.getAddress.getPort}/search?query="
      val (jobs, bytes) = cost(assert(get(base + "spark%20spark%20frontier")._1 == 200))
      assert(jobs <= 1 && bytes == 0, s"jobs=$jobs shuffle bytes=$bytes")
      val (noHitJobs, _) = cost(assert(get(base + "spark%20qqmissing")._1 == 200))
      assert(noHitJobs == 0, s"no-hit jobs=$noHitJobs")
      // the library entry point over the same tables reads the server's
      // cached index; it holds no header, so it collects the stats rows
      val (libJobs, libBytes) = cost(SearchServer.searchJson(spark, postings, docmeta,
        "spark frontier", 20, gate3))
      assert(libJobs <= 3 && libBytes == 0, s"jobs=$libJobs shuffle bytes=$libBytes")
    } finally server.stop(0)
  }

  test("a response does not wait for the client's delayed ACK") {
    val (postings, docmeta) = tables3()
    val server = SearchServer.start(spark, postings, docmeta, port = 0,
      topK = 20, termCountGate = gate3)
    try {
      val url = s"http://localhost:${server.getAddress.getPort}/search?query=spark%20qqmissing"
      val client = HttpClient.newHttpClient()
      // per request: client latency minus the server's own search time, in
      // ms; what is left is HTTP and socket time
      val gaps = (0 until 15).map { _ =>
        val t0 = System.nanoTime()
        val body = client.send(HttpRequest.newBuilder(URI.create(url)).GET().build(),
          HttpResponse.BodyHandlers.ofString()).body()
        val ms = (System.nanoTime() - t0) / 1e6
        ms - """"search_time_ms":(\d+)""".r.findFirstMatchIn(body).get.group(1).toDouble
      }.sorted
      val median = gaps(gaps.size / 2)
      assert(median < 20.0, s"median HTTP overhead $median ms; all: ${gaps.mkString(", ")}")
    } finally server.stop(0)
  }

  test("stop releases the server's cached index") {
    val (postings, docmeta) = tables3()
    def cachedParts = {
      val ix = Search.Index.open(postings, docmeta)
      Seq(ix.postings, ix.docmeta, ix.stats).map(_.storageLevel != StorageLevel.NONE)
    }
    assert(cachedParts == Seq(false, false, false))
    val server = SearchServer.start(spark, postings, docmeta, port = 0)
    val index = server.asInstanceOf[SearchServer.IndexServer].index
    try {
      assert(cachedParts == Seq(true, true, true))
      // the driver-held header: every (epoch, term) row of the stats table
      assert(index.header.map(_.values.map(_.length).sum) ==
        Some(post3.map(p => (p._1, p._2)).distinct.size))
    } finally server.stop(0)
    assert(cachedParts == Seq(false, false, false))
    assert(index.header.isEmpty)
  }
}
