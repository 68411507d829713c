package perfbench

import graft._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Workload `crawl`: a fresh durable crawl seeded with one full batch that
  * indexes while it crawls, then one client querying the index over HTTP,
  * then `CrawlLoop.retire` on a fixed hash sample of the popped urls. The
  * crawl is insert-heavy (most links take the Bloom split's fresh path);
  * retire rewrites the touched buckets and rebuilds their filters. The
  * resumed re-crawl after retire is left out: its frontier gains duplicate
  * rows (see CHANGES.md). A traced run drives two more supersteps on the
  * retired state, the duplicate-heavy regime. */
object CrawlBench {
  val NDocs = 8000
  val Batch = 1000
  val HostCap = 8
  val NBuckets = 8
  val Fresh = 2 // supersteps of the fresh crawl
  val TracedSteps = 2
  val RetireMod = 10 // retire the popped urls whose xxhash64 % RetireMod == 0
  val PrimeDocs = 1000 // priming corpus: small, but through every timed code path

  def cfg(maxBatches: Int): CrawlConfig = CrawlConfig(batchSize = Batch,
    perHostCap = HostCap, nBuckets = NBuckets, maxBatches = maxBatches, indexWhileCrawling = true)

  /** One full batch of distinct seeds, drawn from the corpus by `seed`. */
  def seeds(seed: Long, nDocs: Int, n: Int): Seq[Seed] =
    new scala.util.Random(seed).shuffle((0 until nDocs).toVector).take(n)
      .map(i => Seed(Corpus.urlFor(i.toLong, nDocs), 1L))

  def writeCorpus(spark: SparkSession, seed: Long, nDocs: Int, path: String): DataFrame = {
    Corpus.documents(spark, seed, nDocs).write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
  }

  def frontierOf(spark: SparkSession, stateDir: String): DataFrame =
    Snapshots.readFrontier(spark, Snapshots.readCurrent(stateDir).get.bucketPaths)

  def collectFrontier(df: DataFrame): CrawlChecks.Frontier =
    df.select("url", "host", "priority", "popped").collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getLong(2), r.getBoolean(3)))).toMap

  def popBatches(spark: SparkSession, stateDir: String, batches: Range): Seq[Seq[(String, String)]] =
    batches.map(b => spark.read.parquet(Snapshots.popBatchPath(stateDir, b))
      .select("url", "host").collect().map(r => (r.getString(0), r.getString(1))).toSeq)

  /** Filter membership of `urls` against a state's committed filter dirs. */
  def probe(spark: SparkSession, stateDir: String, urls: Seq[String],
            cuckoo: Boolean): Map[String, Boolean] = {
    import spark.implicits._
    val filters = Snapshots.readCurrent(stateDir).get.filtersPaths
      .map(spark.read.parquet(_)).reduce(_.unionByName(_))
    val df = urls.toDF("url").withColumn("bucket", Frontier.bucketCol(col("url"), NBuckets))
    val probed = if (cuckoo) SeenSet.probeCuckoo(df, filters, "hit") else SeenSet.probeBloom(df, filters, "hit")
    probed.select("url", "hit").collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
  }

  def sumPriorityAndPopped(df: DataFrame): (Long, Long) = {
    val r = df.agg(sum(col("priority")), count(when(col("popped"), 1))).first()
    (r.getLong(0), r.getLong(1))
  }

  def urlsPerS(ms: Seq[BatchMetrics], wall: Double): Double =
    (ms.map(_.popped).sum + ms.map(_.linksExtracted).sum) / wall

  def dirBytes(path: String): Long = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(path))
    try s.filter(java.nio.file.Files.isRegularFile(_)).mapToLong(java.nio.file.Files.size(_)).sum()
    finally s.close()
  }

  final case class Round(fresh: CrawlLoop.CrawlResult, freshS: Double, indexed: Long,
                         served: Serving.Served, serveS: Double, retireS: Double) {
    def seconds: Double = freshS + serveS + retireS
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    import spark.implicits._
    ctx.note("spark up")
    val docs = writeCorpus(spark, ctx.seed, NDocs, ctx.dir("corpus"))
    val robots = Corpus.robots(spark).toDF()
    val seedRows = seeds(ctx.seed, NDocs, Batch)
    def retireSample(dir: String): Seq[String] =
      (0 to Snapshots.readCurrent(dir).get.batch).flatMap(b =>
        spark.read.parquet(Snapshots.popBatchPath(dir, b))
          .filter(pmod(xxhash64(col("url")), lit(RetireMod)) === 0)
          .select("url").as[String].collect()).sorted
    def retire(dir: String, urls: Seq[String]) =
      CrawlLoop.retire(spark, dir, urls.toDF("url"), cfg(Fresh))

    // priming: the crawl and retire once, on a small corpus of their own
    // (the query stream primes itself with its untimed first query)
    val warm = ctx.dir("state-warm")
    CrawlLoop.run(spark, writeCorpus(spark, ctx.seed, PrimeDocs, ctx.dir("corpus-warm")), robots,
      seeds(ctx.seed, PrimeDocs, PrimeDocs / 2).toDF(), cfg(1), warm, ctx.seed, PrimeDocs)
    retire(warm, retireSample(warm))
    ctx.note("primed")

    // timed rounds; the first round's state is the one checked
    val checkDir = ctx.dir("state-0")
    var snapFresh: CrawlChecks.Frontier = Map.empty
    var freshSums = (0L, 0L)
    var bloomFresh: Map[String, Boolean] = Map.empty
    var retired: Seq[String] = Nil
    var bucketsBefore = Map.empty[String, String]
    val rounds = Seq.newBuilder[Round]
    val start = System.nanoTime()
    var r = 0
    while (r == 0 || (System.nanoTime() - start) / 1e9 < ctx.seconds) {
      val dir = ctx.dir(s"state-$r")
      val (fresh, freshS) = ctx.timed(ctx.tr("CrawlLoop", "run") {
        CrawlLoop.run(spark, docs, robots, seedRows.toDF(), cfg(Fresh), dir, ctx.seed, NDocs)
      })
      val indexed = spark.read.parquet(Snapshots.docmetaPath(dir)).count()
      val sample = retireSample(dir)
      if (r == 0) {
        val f = frontierOf(spark, dir)
        snapFresh = collectFrontier(f)
        freshSums = sumPriorityAndPopped(f)
        bloomFresh = probe(spark, dir, snapFresh.keys.toSeq, cuckoo = false)
        retired = sample
        bucketsBefore = Snapshots.readCurrent(dir).get.bucketPaths
      }
      val served = Serving.serve(ctx, dir, Serving.Queries, Serving.WarmQueries)
      val (_, retireS) = ctx.timed(ctx.tr("CrawlLoop", "retire") { retire(dir, sample) })
      rounds += Round(fresh, freshS, indexed, served, served.httpMs.sum / 1000, retireS)
      ctx.note(f"round $r: crawl $freshS%.2f s ($indexed docs indexed), " +
        f"query p50 ${Stats.median(served.httpMs)}%.0f ms, retire $retireS%.2f s")
      r += 1
    }
    val rs = rounds.result()
    val round0 = rs.head
    val afterRetire = Snapshots.readCurrent(checkDir).get
    val bucketsRewritten = afterRetire.bucketPaths.count { case (b, p) => !bucketsBefore.get(b).contains(p) }
    val retiredFrontier = frontierOf(spark, checkDir)
    val snapRetired = collectFrontier(retiredFrontier)
    val retiredSums = sumPriorityAndPopped(retiredFrontier)
    val cuckooRetired = probe(spark, checkDir, retired, cuckoo = true)
    val freshPops = popBatches(spark, checkDir, 0 until Fresh)
    val indexedUrls = spark.read.parquet(Snapshots.docmetaPath(checkDir)).select("url").as[String]
      .collect().toSeq
    val stateMb = dirBytes(checkDir) / 1e6

    // traced supersteps on the retired state (indexing aside, so the served
    // index stays as checked), then a filter rebuild
    val traced = if (!ctx.tr.enabled) Nil else {
      val steps = (0 until TracedSteps).map(_ => Steps.superstep(ctx, checkDir, docs, robots,
        cfg(Int.MaxValue), indexDir = Some(ctx.dir("traced-index"))))
      ctx.tr("SeenSet", "compaction") {
        SeenSet.buildFilters(frontierOf(spark, checkDir).select("url", "bucket")).collect()
      }
      steps
    }
    ctx.note("outputs collected")

    // ---- checks (outside every timed window) ----
    val freshMetrics = round0.fresh.batches
    val docsLocal = Corpus.docsLocal(ctx.seed, NDocs)
    val docMap = docsLocal.map(d => d.doc_id -> d).toMap
    val oracle = ReferenceOracle.run(docsLocal, Corpus.robotsEntries, seedRows, cfg(Fresh))
    val retiredSet = retired.toSet
    val seedWeight = seedRows.map(_.weight).sum
    val checks = Seq(
      CrawlChecks.popsEqual("crawl.oracle_pops", freshPops.map(_.map(_._1).toSet), oracle.popBatches),
      CrawlChecks.frontierEqual("crawl.oracle_frontier", snapFresh, oracle.frontier),
      CrawlChecks.metricsEqual("crawl.oracle_metrics", freshMetrics, oracle.metrics),
      CrawlChecks.conservation("crawl.conservation", freshSums._1, freshSums._2, seedWeight,
        freshMetrics, retired = 0L),
      CrawlChecks.popShape("crawl.pop_shape", freshPops, cfg(1), Set.empty),
      CrawlChecks.probes("crawl.bloom_present", bloomFresh, want = true),
      Serving.indexedDocs(indexedUrls,
        Serving.expectedIndexed(freshPops.flatten.map(_._1), docMap, cfg(1))),
      CrawlChecks.retireKeeps("retire.rows_priorities", snapFresh, snapRetired, retiredSet),
      CrawlChecks.probes("retire.cuckoo_absent", cuckooRetired, want = false),
      CrawlChecks.conservation("retire.conservation", retiredSums._1, retiredSums._2, seedWeight,
        freshMetrics, retired = retired.size.toLong)) ++
      (if (traced.isEmpty) Nil else {
        // the traced supersteps continue the retired state: a sequential
        // replay from the oracle's frontier with the retired flags cleared
        val start = oracle.frontier.map { case (u, (h, p, popped)) =>
          u -> ((h, p, popped && !retiredSet.contains(u))) }
        val (replay, _) = Replay.continue(start, docMap, Corpus.robotsEntries,
          cfg(Int.MaxValue), traced.size)
        val tracedPops = popBatches(spark, checkDir, Fresh until Fresh + traced.size)
        val sums = sumPriorityAndPopped(frontierOf(spark, checkDir))
        Seq(CrawlChecks.popsEqual("traced.replay_pops", traced.map(_.pops), replay),
          CrawlChecks.popShape("traced.pop_shape", freshPops ++ tracedPops, cfg(1), retiredSet),
          CrawlChecks.conservation("traced.conservation", sums._1, sums._2, seedWeight,
            Snapshots.readMetricsHistory(checkDir), retired = retired.size.toLong))
      })
    ctx.note("checked")

    val e2e = Map(
      "throughput_per_s" -> Stats.median(rs.map(x => urlsPerS(x.fresh.batches, x.freshS))),
      "latency_p50_ms" -> Stats.median(rs.flatMap(_.served.httpMs)),
      "round_s" -> Stats.median(rs.map(_.seconds)))

    val layer = if (!ctx.tr.enabled) Map.empty[String, Double] else {
      def perStep(f: TraceSpan => Long, layer: String, name: String): Double =
        ctx.tr.named(layer, name).map(f).sum.toDouble / traced.size
      def mean(f: Steps.StepCounts => Long): Double = traced.map(f).sum.toDouble / traced.size
      val freshSteps = freshMetrics.map(_.elapsedMs / 1000.0)
      val filterBytes = Snapshots.readCurrent(checkDir).get.filtersPaths.map(p => spark.read.parquet(p)
        .agg(sum(length(col("bloom")) + length(col("cuckoo")))).first().getLong(0)).sum
      val searchSpans = ctx.tr.named("Search", "search")
      val served = round0.served
      val postingsDir = Snapshots.postingsPath(checkDir)
      Map(
        "CrawlLoop.superstep_s" -> Stats.median(freshSteps),
        "CrawlLoop.bootstrap_s" -> (round0.freshS - freshSteps.sum),
        "CrawlLoop.jobs_per_superstep" -> ctx.tr.named("CrawlLoop", "run").head.jobs.toDouble / Fresh,
        "CrawlLoop.traced_superstep_s" -> Steps.medianS(ctx, "CrawlLoop", "superstep"),
        "Frontier.pop_s" -> Steps.medianS(ctx, "Frontier", "popBatch"),
        "Frontier.merge_s" -> Steps.medianS(ctx, "Frontier", "merge"),
        "Frontier.merge_shuffle_bytes" -> perStep(_.shuffleWrite, "Frontier", "merge"),
        "Robots.gate_s" -> Steps.medianS(ctx, "Robots", "allowedBatch"),
        "Robots.denied" -> mean(c => c.popped - c.allowed),
        "Fetcher.fetch_s" -> Steps.medianS(ctx, "Fetcher", "fetch"),
        "Fetcher.corpus_bytes_read" -> perStep(_.inBytes, "Fetcher", "fetch"),
        "Parser.links_s" -> Steps.medianS(ctx, "Parser", "linksOf"),
        "Parser.links" -> mean(_.links),
        "SeenSet.split_s" -> Steps.medianS(ctx, "SeenSet", "splitByBloomBook"),
        "SeenSet.fresh_links" -> mean(_.fresh),
        "SeenSet.seenish_links" -> mean(_.seenish),
        "SeenSet.seenish_new" -> mean(_.seenishNew),
        "SeenSet.filter_bytes" -> filterBytes.toDouble,
        "SeenSet.compaction_s" -> Steps.medianS(ctx, "SeenSet", "compaction"),
        "Snapshots.write_s" -> Steps.medianS(ctx, "Snapshots", "write"),
        "Snapshots.bytes_written" -> perStep(_.outBytes, "Snapshots", "write"),
        "Snapshots.read_frontier_s" -> Steps.medianS(ctx, "Snapshots", "readFrontier"),
        "Snapshots.state_mb" -> stateMb,
        "Indexer.index_s" -> Steps.medianS(ctx, "Indexer", "index"),
        "Indexer.docs_per_s" -> round0.indexed / round0.freshS,
        "Indexer.postings_rows" -> spark.read.parquet(postingsDir).count().toDouble,
        "Indexer.postings_bytes" -> dirBytes(postingsDir).toDouble,
        "Search.search_ms" -> Stats.median(served.directMs),
        "Search.jobs_per_query" -> searchSpans.map(_.jobs).sum.toDouble / searchSpans.size,
        "Search.postings_rows_read" -> searchSpans.map(_.inRecords).sum.toDouble / searchSpans.size,
        "SearchServer.overhead_ms" -> (Stats.median(served.httpMs) - Stats.median(served.directMs)),
        "retire.s" -> round0.retireS,
        "retire.jobs" -> ctx.tr.named("CrawlLoop", "retire").head.jobs.toDouble,
        "retire.urls" -> retired.size.toDouble,
        "retire.buckets_rewritten" -> bucketsRewritten.toDouble)
    }
    Outcome(e2e, layer, attempted = rs.map(_.served.httpMs.size + 2L).sum, failed = 0L, checks,
      forPython = Map("search" -> Serving.forPython(checkDir, round0.served.answers)))
  }
}
