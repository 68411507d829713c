package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** End-to-end golden replay (SURVEY §5.3): the Spark BSP engine must match
  * the sequential oracle batch-for-batch on pop sets and exactly on the
  * final frontier / URL-seen set and metrics — the north_rule's
  * "matching the reference's crawl ordering and URL-seen set under the same
  * seed list + politeness budget".
  */
class CrawlEngineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  val seed = 7L
  val nDocs = 300
  val cfg = CrawlConfig(batchSize = 40, perHostCap = 4, maxBatches = 6,
    nBuckets = 8, saltBuckets = 4)

  def tmpDir(tag: String): String =
    Files.createTempDirectory(s"graft-$tag").toString

  lazy val docsLocal = Corpus.docsLocal(seed, nDocs)
  lazy val oracle = ReferenceOracle.run(docsLocal, Corpus.robotsEntries,
    Corpus.seeds(nDocs), cfg)

  def runEngine(dir: String, cfgX: CrawlConfig = cfg): CrawlLoop.CrawlResult =
    CrawlLoop.run(spark,
      Corpus.documents(spark, seed, nDocs).toDF(),
      Corpus.robots(spark).toDF(),
      Corpus.seedsDs(spark, nDocs).toDF(),
      cfgX, dir, seed, nDocs)

  test("corpus is deterministic and distributed == local") {
    val dist = Corpus.documents(spark, seed, nDocs).collect().sortBy(_.doc_id)
    val local = docsLocal.sortBy(_.doc_id)
    assert(dist.length == local.length)
    dist.zip(local).foreach { case (a, b) => assert(a == b) }
  }

  test("span-sequence invariant: sorting spans by offset restores (kind, text, media_ref, order)") {
    // the engine's html view sorts by offset; verify against the generator's
    // canonical order for every doc (input_hint per-row invariant)
    docsLocal.foreach { d =>
      val sorted = d.spans.sortBy(_.offset)
      assert(sorted.map(_.offset) == sorted.indices.map(identity),
        s"offsets not dense for ${d.doc_id}")
      sorted.foreach { s =>
        if (s.kind == "text") assert(s.media_ref == "" && s.text.nonEmpty)
        else assert(s.kind == "media" && s.text == "" && s.media_ref.nonEmpty)
      }
    }
    // and the Spark-side htmlCol equals the shared pure function
    import spark.implicits._
    val fromSpark = Corpus.documents(spark, seed, 50)
      .select(col("doc_id"), Parser.htmlCol(col("spans")).as("html"))
      .as[(String, String)].collect().toMap
    Corpus.docsLocal(seed, 50).foreach { d =>
      assert(fromSpark(d.doc_id) == Parser.htmlOf(d.spans), s"html mismatch ${d.doc_id}")
    }
  }

  test("media refs never enter the frontier (interleaved-payload check)") {
    val dir = tmpDir("media")
    runEngine(dir)
    val m = Snapshots.readCurrent(dir).get
    val urls = Snapshots.readFrontier(spark, m.bucketPaths).select("url")
      .collect().map(_.getString(0))
    assert(urls.nonEmpty)
    assert(!urls.exists(_.contains("/m/")), "media_ref leaked into frontier")
    assert(!urls.exists(u => u.endsWith(".png") || u.endsWith(".mp4")))
  }

  test("golden replay: pop batches, final frontier, seen set, metrics match oracle") {
    val dir = tmpDir("golden")
    val res = runEngine(dir)

    // per-batch pop set equality
    assert(res.batches.size == oracle.metrics.size,
      s"batch count: engine ${res.batches.size} vs oracle ${oracle.metrics.size}")
    oracle.popBatches.zipWithIndex.foreach { case (expected, b) =>
      val got = spark.read.parquet(Snapshots.popBatchPath(dir, b))
        .select("url").collect().map(_.getString(0)).toSet
      assert(got == expected,
        s"batch $b pop set: extra=${got -- expected} missing=${expected -- got}")
    }

    // final frontier exact equality on (url, host, priority, popped)
    val m = Snapshots.readCurrent(dir).get
    val engineFrontier = Snapshots.readFrontier(spark, m.bucketPaths)
      .select("url", "host", "priority", "popped")
      .collect().map(r => r.getString(0) -> ((r.getString(1), r.getLong(2), r.getBoolean(3))))
      .toMap
    assert(engineFrontier == oracle.frontier)

    // URL-seen set = frontier key set
    assert(engineFrontier.keySet == oracle.frontier.keySet)

    // metrics (all deterministic fields)
    res.batches.zip(oracle.metrics).foreach { case (e, o) =>
      assert(e.copy(elapsedMs = 0) == o.copy(elapsedMs = 0), s"metrics batch ${o.batch}")
    }

    // lineage: manifest per-bucket rows sum to frontier size
    assert(m.perBucketRows.values.sum == engineFrontier.size)
  }

  test("popped URLs never reappear in later pop batches") {
    val dir = tmpDir("popped")
    val res = runEngine(dir)
    var seen = Set.empty[String]
    (0 until res.batches.size).foreach { b =>
      val got = spark.read.parquet(Snapshots.popBatchPath(dir, b))
        .select("url").collect().map(_.getString(0)).toSet
      assert((got & seen).isEmpty, s"batch $b re-popped ${got & seen}")
      seen ++= got
    }
  }

  test("politeness: no host exceeds perHostCap in any batch") {
    val dir = tmpDir("polite")
    val res = runEngine(dir)
    (0 until res.batches.size).foreach { b =>
      val byHost = spark.read.parquet(Snapshots.popBatchPath(dir, b))
        .groupBy("host").count().collect()
      byHost.foreach(r => assert(r.getLong(1) <= cfg.perHostCap,
        s"batch $b host ${r.getString(0)} popped ${r.getLong(1)} > cap"))
    }
  }

  test("resume from checkpoint reproduces the uninterrupted run") {
    val full = tmpDir("full")
    runEngine(full)
    val finalFull = Snapshots.readFrontier(spark, Snapshots.readCurrent(full).get.bucketPaths)
      .select("url", "priority", "popped").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getBoolean(2))).toSet

    // interrupted: stop after 3 batches (state dropped), then resume
    val part = tmpDir("part")
    runEngine(part, cfg.copy(maxBatches = 3))
    val resumed = runEngine(part) // fresh invocation resumes from MANIFEST
    val finalPart = Snapshots.readFrontier(spark, Snapshots.readCurrent(part).get.bucketPaths)
      .select("url", "priority", "popped").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getBoolean(2))).toSet

    assert(finalPart == finalFull)
    assert(resumed.batches.size == oracle.metrics.size)
    // no re-fetches beyond the politeness window: pop batches are disjoint
    var seen = Set.empty[String]
    (0 until resumed.batches.size).foreach { b =>
      val got = spark.read.parquet(Snapshots.popBatchPath(part, b))
        .select("url").collect().map(_.getString(0)).toSet
      assert((got & seen).isEmpty)
      seen ++= got
    }
  }

  test("mid-superstep resume: committed pop batch is not re-popped (politeness window)") {
    val dir = tmpDir("midstep")
    runEngine(dir, cfg.copy(maxBatches = 2))
    // simulate a crash after the phase-1 "pop" commit of batch 2: do exactly
    // what the loop's phase 1 does, then abandon
    val m2 = Snapshots.readCurrent(dir).get
    assert(m2.batch == 1 && m2.phase == "done")
    val frontier = Snapshots.readFrontier(spark, m2.bucketPaths)
    val pop = Frontier.popBatch(frontier, cfg)
    pop.write.mode("overwrite").parquet(Snapshots.popBatchPath(dir, 2))
    Snapshots.commit(dir, Manifest(2, "pop", "",
      Snapshots.popBatchPath(dir, 2), m2.filtersPaths, m2.bucketPaths,
      m2.perBucketRows, None, seed, nDocs))

    val resumed = runEngine(dir) // must pick up the committed pop batch
    val finalPart = Snapshots.readFrontier(spark, Snapshots.readCurrent(dir).get.bucketPaths)
      .select("url", "priority", "popped").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getBoolean(2))).toSet

    val full = tmpDir("midfull")
    runEngine(full)
    val finalFull = Snapshots.readFrontier(spark, Snapshots.readCurrent(full).get.bucketPaths)
      .select("url", "priority", "popped").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(finalPart == finalFull)
    assert(resumed.batches.nonEmpty)
  }

  test("retire: url re-poppable, cuckoo membership deleted, Bloom still seen") {
    import spark.implicits._
    val dir = tmpDir("retire")
    runEngine(dir, cfg.copy(maxBatches = 3))
    val m0 = Snapshots.readCurrent(dir).get
    val frontier0 = Snapshots.readFrontier(spark, m0.bucketPaths)
    val before = frontier0.select("url", "priority", "popped").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    val victim = before.filter(_._2._2).keys.min // a popped (fetched) url
    def probe(filtersPaths: Seq[String]) = {
      val f = filtersPaths.map(spark.read.parquet).reduce(_ unionByName _)
      val in = Seq(victim).toDF("url")
        .withColumn("bucket", Frontier.bucketCol(col("url"), cfg.nBuckets))
      (SeenSet.probeBloom(in, f).select("seenish").first().getBoolean(0),
        SeenSet.probeCuckoo(in, f).select("seenish").first().getBoolean(0))
    }
    assert(probe(m0.filtersPaths) == ((true, true))) // fetched: both filters hit

    // full cuckoo-live set before/after: retire is an EXACT rebuild of the
    // touched buckets, so no other url's membership may change (the old
    // delete-from-every-delta form could evict a colliding fingerprint
    // belonging to a different live url)
    val allUrls = before.keys.toSeq
    def liveSet(paths: Seq[String]): Set[String] = {
      val f = paths.map(spark.read.parquet).reduce(_ unionByName _)
      val in = allUrls.toDF("url")
        .withColumn("bucket", Frontier.bucketCol(col("url"), cfg.nBuckets))
      SeenSet.probeCuckoo(in, f).filter(col("seenish"))
        .select("url").collect().map(_.getString(0)).toSet
    }
    val liveBefore = liveSet(m0.filtersPaths)
    assert(liveBefore == allUrls.toSet) // every frontier url was inserted

    CrawlLoop.retire(spark, dir, Seq(victim).toDF("url"), cfg)

    val m1 = Snapshots.readCurrent(dir).get
    assert(liveSet(m1.filtersPaths) == liveBefore - victim)
    assert(m1.retiredPath.nonEmpty) // pending-retired record committed
    // only the victim's row changed, and only its popped flag
    val after = Snapshots.readFrontier(spark, m1.bucketPaths)
      .select("url", "priority", "popped").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(after(victim) == ((before(victim)._1, false)))
    assert(after - victim == before - victim)
    // Bloom-only membership still says seen (dedup contract intact); the
    // cuckoo filter — the deletable one — no longer contains the url
    assert(probe(m1.filtersPaths) == ((true, false)))
    // re-poppable: an unconstrained pop includes the victim again
    val repop = Frontier.popBatch(
        Snapshots.readFrontier(spark, m1.bucketPaths),
        cfg.copy(batchSize = 10000, perHostCap = 10000))
      .select("url").collect().map(_.getString(0)).toSet
    assert(repop.contains(victim))
    // and the committed retire state resumes cleanly: the loop crawls on
    // without duplicating the victim's frontier row. The unconstrained
    // budget guarantees the victim is re-popped (re-fetched), which must
    // RESTORE its cuckoo liveness and drain the pending-retired record —
    // the full retire → re-crawl → live-again lifecycle.
    runEngine(dir, cfg.copy(maxBatches = 5, batchSize = 10000, perHostCap = 10000))
    val mFinal = Snapshots.readCurrent(dir).get
    assert(mFinal.batch > m1.batch)
    val finalRows = Snapshots.readFrontier(spark, mFinal.bucketPaths)
      .filter(col("url") === victim).collect()
    assert(finalRows.length == 1)
    assert(finalRows.head.getAs[Boolean]("popped")) // re-fetched
    assert(probe(mFinal.filtersPaths) == ((true, true))) // live again
    assert(mFinal.retiredPath.isEmpty) // pending record drained
  }

  test("retire then stepwise re-crawl: no url gains a second frontier row") {
    // a superstep that re-pops retired urls writes a fresh-url AND a
    // re-insert filter row for some buckets; both must stay in the Bloom
    // book (and in the book rebuilt on every resume), or links to the
    // forgotten fresh urls split as new and duplicate their frontier rows
    val dir = tmpDir("retire-steps")
    val stepCfg = cfg.copy(batchSize = 60, perHostCap = 8)
    runEngine(dir, stepCfg.copy(maxBatches = 3))
    val m0 = Snapshots.readCurrent(dir).get
    val retired = Snapshots.readFrontier(spark, m0.bucketPaths)
      .filter(col("popped") && pmod(xxhash64(col("url")), lit(10)) === 0)
      .select("url").persist()
    val nRetired = retired.count()
    assert(nRetired > 0)
    CrawlLoop.retire(spark, dir, retired, cfg)
    retired.unpersist()
    (4 to 9).foreach { b =>
      runEngine(dir, stepCfg.copy(maxBatches = b)) // resume: one superstep
      val m = Snapshots.readCurrent(dir).get
      val f = Snapshots.readFrontier(spark, m.bucketPaths)
      val twice = f.groupBy("url").count().filter(col("count") > 1).count()
      assert(twice == 0, s"superstep ${m.batch}: $twice urls with two frontier rows")
      val poppedSum = CrawlLoop.readMetrics(spark, dir).map(_.popped).sum
      assert(f.filter(col("popped")).count() == poppedSum - nRetired,
        s"superstep ${m.batch}: popped rows != sum(popped) - retired")
    }
  }

  test("compaction in a re-pop superstep keeps the re-popped url cuckoo-live") {
    import spark.implicits._
    // supersteps 0..6 leave 8 filter dirs; retire adds one, and the next
    // superstep's delta pushes the count past CompactEvery, so the superstep
    // that re-pops the victim is also the one that compacts
    val dir = tmpDir("compact-repop")
    val smallCfg = cfg.copy(batchSize = 12, perHostCap = 3)
    runEngine(dir, smallCfg.copy(maxBatches = CrawlLoop.CompactEvery - 1))
    val m0 = Snapshots.readCurrent(dir).get
    assert(m0.filtersPaths.size == CrawlLoop.CompactEvery)
    val victim = Snapshots.readFrontier(spark, m0.bucketPaths)
      .filter(col("popped")).select("url").collect().map(_.getString(0)).min
    CrawlLoop.retire(spark, dir, Seq(victim).toDF("url"), cfg)
    runEngine(dir, smallCfg.copy(maxBatches = CrawlLoop.CompactEvery,
      batchSize = 10000, perHostCap = 10000))
    val m1 = Snapshots.readCurrent(dir).get
    assert(m1.batch == m0.batch + 1 && m1.filtersPaths.size == 1) // compacted
    assert(m1.retiredPath.isEmpty) // the victim was re-popped
    val in = Seq(victim).toDF("url")
      .withColumn("bucket", Frontier.bucketCol(col("url"), cfg.nBuckets))
    val f = m1.filtersPaths.map(spark.read.parquet).reduce(_ unionByName _)
    assert(SeenSet.probeCuckoo(in, f).select("seenish").first().getBoolean(0))
  }

  test("bulk retire: 50K-url record stays distributed (no driver in-list), lifecycle intact") {
    import spark.implicits._
    val dir = tmpDir("bulkretire")
    runEngine(dir, cfg.copy(maxBatches = 3))
    val m0 = Snapshots.readCurrent(dir).get
    val popped0 = Snapshots.readFrontier(spark, m0.bucketPaths)
      .filter(col("popped")).select("url").collect().map(_.getString(0)).toSet
    assert(popped0.nonEmpty)
    // bulk retirement: every fetched url plus enough never-crawlable
    // synthetic urls to cross RetireInListMax several times over (urls
    // absent from the frontier are ignored by the frontier rewrite but
    // stay in the pending record until re-crawled)
    val nBulk = 50000
    val bulk = popped0.toSeq ++ (0 until nBulk).map(i => s"https://bulk.example/r$i")
    CrawlLoop.retire(spark, dir, bulk.toDF("url"), cfg)
    val m1 = Snapshots.readCurrent(dir).get
    assert(m1.retiredPath.nonEmpty)
    assert(spark.read.parquet(m1.retiredPath.get).count() ==
      nBulk + popped0.size)
    // the probe a resumed run uses above the threshold: a LEFT-SEMI JOIN
    // against the retired parquet — the plan must carry no per-url
    // literals (the old isInCollection form would embed 50K strings)
    val probe = CrawlLoop.repoppedProbe(spark,
      Seq(popped0.head).toDF("url"), None, m1.retiredPath)
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"), plan.take(1000))
    assert(!plan.contains("isInCollection") && plan.length < 20000,
      s"probe plan carries literals (${plan.length} chars)")
    assert(probe.collect().map(_.getString(0)).toSeq == Seq(popped0.head))
    // resume with an unconstrained budget: every real retired url is
    // re-popped (re-fetched), restoring cuckoo liveness and shrinking the
    // record by exactly those urls; the synthetic urls stay pending
    runEngine(dir, cfg.copy(maxBatches = 6, batchSize = 10000, perHostCap = 10000))
    val mF = Snapshots.readCurrent(dir).get
    assert(mF.retiredPath.nonEmpty)
    val pendingF = spark.read.parquet(mF.retiredPath.get)
      .select("url").collect().map(_.getString(0)).toSet
    assert(pendingF.size == nBulk)
    assert(pendingF.forall(_.startsWith("https://bulk.example/")))
    // a re-crawled victim is live again in the cuckoo view
    val f = mF.filtersPaths.map(spark.read.parquet).reduce(_ unionByName _)
    val in = Seq(popped0.head).toDF("url")
      .withColumn("bucket", Frontier.bucketCol(col("url"), cfg.nBuckets))
    assert(SeenSet.probeCuckoo(in, f).select("seenish").first().getBoolean(0))
  }

  test("delta snapshots: unchanged buckets carry forward by reference, changed ones rewrite") {
    // many buckets + a tiny batch => most buckets are untouched per superstep
    val dir = tmpDir("delta")
    runEngine(dir, cfg.copy(maxBatches = 3, batchSize = 6, perHostCap = 2,
      nBuckets = 64))
    val m = Snapshots.readCurrent(dir).get
    val dirsReferenced = m.bucketPaths.values.toSet
    // at least one bucket must still point at an OLDER batch dir (i.e. it
    // was never rewritten), and the latest batch rewrote at least one
    assert(dirsReferenced.size >= 2,
      s"expected multiple generations in bucketPaths, got $dirsReferenced")
    assert(dirsReferenced.contains(m.frontierPath))
    // the latest write contains ONLY the changed buckets, not the world
    val latestBuckets = m.bucketPaths.count(_._2 == m.frontierPath)
    assert(latestBuckets < m.bucketPaths.size,
      "latest snapshot rewrote every bucket — delta write is not delta")
    // and the assembled view is still exactly the full frontier
    assert(Snapshots.readFrontier(spark, m.bucketPaths).count() ==
      m.perBucketRows.values.sum)
  }

  test("filter-delta compaction: long crawls fold deltas and stay oracle-exact") {
    // enough supersteps to cross CompactEvery; tiny batches keep it fast
    val longCfg = cfg.copy(maxBatches = 12, batchSize = 12, perHostCap = 3)
    val dir = tmpDir("compact")
    val res = runEngine(dir, longCfg)
    assert(res.batches.size > CrawlLoop.CompactEvery,
      "fixture must run past the compaction threshold")
    val m = Snapshots.readCurrent(dir).get
    assert(m.filtersPaths.size <= CrawlLoop.CompactEvery,
      s"deltas never compacted: ${m.filtersPaths.size} paths")
    // golden replay still exact after compaction
    val o = ReferenceOracle.run(docsLocal, Corpus.robotsEntries,
      Corpus.seeds(nDocs), longCfg)
    val engineFrontier = Snapshots.readFrontier(spark, m.bucketPaths)
      .select("url", "host", "priority", "popped")
      .collect().map(r => r.getString(0) -> ((r.getString(1), r.getLong(2), r.getBoolean(3))))
      .toMap
    assert(engineFrontier == o.frontier)
    res.batches.zip(o.metrics).foreach { case (e, om) =>
      assert(e.copy(elapsedMs = 0) == om.copy(elapsedMs = 0), s"metrics batch ${om.batch}")
    }
  }

  test("S3 capped body: links beyond maxDocumentLen are dropped, Spark == pure function") {
    import spark.implicits._
    val body = "<body><p>" + ("pad " * 200) + // ~800 chars of padding
      "</p><a href='https://h1.example/late'>go</a></body>"
    val doc = Doc("https://h0.example/big", Seq(Span("text", body, "", 0)),
      200, "text/html")
    val cap = 600
    // pure function: the late link is truncated away
    assert(Parser.cappedHtmlOf(doc.spans, cap).length == cap)
    assert(Parser.extractLinks(doc.doc_id, Parser.cappedHtmlOf(doc.spans, cap),
      250, 1L).isEmpty)
    assert(Parser.extractLinks(doc.doc_id, Parser.htmlOf(doc.spans),
      250, 1L).nonEmpty, "uncapped fixture must contain the link")
    // Spark twin: linksOf applies the same cap
    val df = Seq(doc).toDS().toDF().withColumnRenamed("doc_id", "url")
    assert(Parser.linksOf(df, CrawlConfig(maxDocumentLen = cap)).count() == 0)
    assert(Parser.linksOf(df, CrawlConfig()).count() == 1)
    // and the Catalyst capped html equals the pure one
    val got = df.select(Parser.cappedHtmlCol(col("spans"), cap)).first().getString(0)
    assert(got == Parser.cappedHtmlOf(doc.spans, cap))
  }

  test("S3+F9 golden: engine matches oracle under tight body cap and megasite threshold") {
    val capCfg = cfg.copy(maxDocumentLen = 600, megasiteLen = 500L)
    val dir = tmpDir("capped")
    val res = runEngine(dir, capCfg)
    val o = ReferenceOracle.run(docsLocal, Corpus.robotsEntries,
      Corpus.seeds(nDocs), capCfg)
    assert(res.batches.size == o.metrics.size)
    res.batches.zip(o.metrics).foreach { case (e, om) =>
      assert(e.copy(elapsedMs = 0) == om.copy(elapsedMs = 0),
        s"metrics batch ${om.batch}")
    }
    assert(o.metrics.map(_.megasites).sum > 0, "fixture must flag megasites")
    // the cap bites: strictly fewer links than the uncapped golden run
    assert(o.metrics.map(_.linksExtracted).sum <
      oracle.metrics.map(_.linksExtracted).sum)
    val m = Snapshots.readCurrent(dir).get
    val engineFrontier = Snapshots.readFrontier(spark, m.bucketPaths)
      .select("url", "host", "priority", "popped").collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getLong(2), r.getBoolean(3))))
      .toMap
    assert(engineFrontier == o.frontier)
  }

  test("robots: blocked host is never fetched but still popped") {
    val dir = tmpDir("robots")
    val res = runEngine(dir)
    assert(res.batches.map(_.robotsDenied).sum ==
      oracle.metrics.map(_.robotsDenied).sum)
    // blocked.example disallows '/' — every one of its pops must be denied
    val deniedHosts = (0 until res.batches.size).flatMap { b =>
      spark.read.parquet(Snapshots.popBatchPath(dir, b))
        .select("url", "host").collect()
        .filter(_.getString(1) == Corpus.BlockedHost).map(_.getString(0))
    }
    assert(deniedHosts.nonEmpty, "fixture should pop some blocked-host URLs")
  }
}
