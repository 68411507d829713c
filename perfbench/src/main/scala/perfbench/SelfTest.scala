package perfbench

import graft._

/** Feeds every JVM-side correctness check a correct output, which must
  * pass, and a perturbed one, which must fail. The outputs come from the
  * sequential oracle on a small corpus, so no engine run is needed. */
object SelfTest {

  def run(): Seq[Check] = {
    val n = 800
    val seed = 3L
    val cfg = CrawlConfig(batchSize = 80, perHostCap = 4, nBuckets = 8, maxBatches = 3)
    val docs = Corpus.docsLocal(seed, n)
    val seeds = CrawlBench.seeds(seed, n, 80)
    val o = ReferenceOracle.run(docs, Corpus.robotsEntries, seeds, cfg)
    val front = o.frontier
    val pops = o.popBatches
    val hostOf = (u: String) => front(u)._1
    val shaped = pops.map(_.toSeq.sorted.map(u => (u, hostOf(u))))
    val retired = pops.head.toSeq.sorted.take(10).toSet
    val afterRetire = front.map { case (u, (h, p, popped)) =>
      u -> ((h, p, popped && !retired.contains(u))) }
    val (recrawl, _) = Replay.continue(afterRetire, docs.map(d => d.doc_id -> d).toMap,
      Corpus.robotsEntries, cfg, 2)
    val prio = front.values.map(_._2).sum
    val popped = front.values.count(_._3).toLong
    val seedW = seeds.map(_.weight).sum
    val probeOk = front.keys.take(50).map(_ -> true).toMap
    val u0 = front.keys.head
    val b1 = pops(1).toSeq.sorted
    val hot = shaped(1).filter(_._2 == Corpus.HotHost)

    val cases: Seq[(String, Check, Check)] = Seq(
      ("pop dropped from one batch",
        CrawlChecks.popsEqual("p", pops, o.popBatches),
        CrawlChecks.popsEqual("p", pops.updated(1, pops(1) - b1.head), o.popBatches)),
      ("one priority changed",
        CrawlChecks.frontierEqual("f", front, o.frontier),
        CrawlChecks.frontierEqual("f", front.updated(u0, front(u0).copy(_2 = front(u0)._2 + 1)), o.frontier)),
      ("one popped flag flipped",
        CrawlChecks.frontierEqual("f", front, o.frontier),
        CrawlChecks.frontierEqual("f", front.updated(u0, front(u0).copy(_3 = !front(u0)._3)), o.frontier)),
      ("one batch metric changed",
        CrawlChecks.metricsEqual("m", o.metrics, o.metrics),
        CrawlChecks.metricsEqual("m", o.metrics.updated(0, o.metrics.head.copy(fetched = o.metrics.head.fetched + 1)), o.metrics)),
      ("priority sum off by one",
        CrawlChecks.conservation("c", prio, popped, seedW, o.metrics, 0L),
        CrawlChecks.conservation("c", prio + 1, popped, seedW, o.metrics, 0L)),
      ("popped rows off by one",
        CrawlChecks.conservation("c", prio, popped, seedW, o.metrics, 0L),
        CrawlChecks.conservation("c", prio, popped - 1, seedW, o.metrics, 0L)),
      ("retired count not subtracted",
        CrawlChecks.conservation("c", prio, popped - retired.size, seedW, o.metrics, retired.size.toLong),
        CrawlChecks.conservation("c", prio, popped, seedW, o.metrics, retired.size.toLong)),
      ("url popped twice",
        CrawlChecks.popShape("s", shaped, cfg, Set.empty),
        CrawlChecks.popShape("s", shaped.updated(2, shaped(2) :+ shaped(0).head), cfg, Set.empty)),
      ("host over the politeness cap",
        CrawlChecks.popShape("s", shaped, cfg, Set.empty),
        CrawlChecks.popShape("s", shaped.updated(1, shaped(1) ++
          front.keys.filter(u => hostOf(u) == Corpus.HotHost && !pops.exists(_.contains(u)))
            .take(cfg.perHostCap + 1 - hot.size).map(u => (u, Corpus.HotHost))), cfg, Set.empty)),
      ("bucket over its budget",
        CrawlChecks.popShape("s", shaped, cfg, Set.empty),
        CrawlChecks.popShape("s", shaped.updated(1, shaped(1) ++ front.keys.toSeq.sorted
          .filter(u => Frontier.bucketOf(u, cfg.nBuckets) == 0 && !pops.exists(_.contains(u)))
          .groupBy(hostOf).values.map(_.head).take(Frontier.perBucketBudget(cfg) + 1)
          .map(u => (u, hostOf(u)))), cfg, Set.empty)),
      ("frontier url absent from the Bloom filters",
        CrawlChecks.probes("b", probeOk, want = true),
        CrawlChecks.probes("b", probeOk.updated(probeOk.keys.head, false), want = true)),
      ("retire changed a priority",
        CrawlChecks.retireKeeps("r", front, afterRetire, retired),
        CrawlChecks.retireKeeps("r", front, afterRetire.updated(u0, afterRetire(u0).copy(_2 = 0L)), retired)),
      ("retired url still popped",
        CrawlChecks.retireKeeps("r", front, afterRetire, retired),
        CrawlChecks.retireKeeps("r", front, afterRetire.updated(retired.head, front(retired.head)), retired)),
      ("retired url cuckoo-live",
        CrawlChecks.probes("k", retired.map(_ -> false).toMap, want = false),
        CrawlChecks.probes("k", retired.map(_ -> false).toMap.updated(retired.head, true), want = false)),
      ("replayed pop moved between batches",
        CrawlChecks.popsEqual("p", recrawl, recrawl),
        CrawlChecks.popsEqual("p", Seq(recrawl(0) + recrawl(1).head, recrawl(1) - recrawl(1).head), recrawl)),
      ("indexed doc dropped",
        Serving.indexedDocs(b1, b1.toSet),
        Serving.indexedDocs(b1.tail, b1.toSet)),
      ("doc indexed twice",
        Serving.indexedDocs(b1, b1.toSet),
        Serving.indexedDocs(b1 :+ b1.head, b1.toSet)))
    cases.map { case (what, good, bad) =>
      Check(s"selftest: $what",
        (if (good.ok) Nil else Seq(s"correct output rejected: ${good.failures.mkString("; ")}")) ++
          (if (bad.ok) Seq("perturbed output accepted") else Nil))
    }
  }
}
