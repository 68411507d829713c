package perfbench

import graft._
import scala.collection.mutable

/** Sequential continuation of a crawl with the reference oracle's rules
  * (per-host politeness top-k, then per-bucket budget, both by
  * (priority desc, url asc); robots gate; 2xx text/html fetch; capped-body
  * link extraction; insert-or-increment). [[ReferenceOracle.run]] only
  * starts from seeds; this starts from any frontier, which is what a
  * re-crawl after `CrawlLoop.retire` needs. */
object Replay {
  type Frontier = Map[String, (String, Long, Boolean)]

  def popRule(f: collection.Map[String, (String, Long, Boolean)], cfg: CrawlConfig): Seq[String] = {
    val order = (c: (String, String, Long)) => (-c._3, c._1)
    val perHost = f.iterator.collect { case (u, (h, p, false)) => (u, h, p) }.toSeq
      .groupBy(_._2).values.flatMap(_.sortBy(order).take(cfg.perHostCap)).toSeq
    val budget = graft.Frontier.perBucketBudget(cfg)
    perHost.groupBy(c => graft.Frontier.bucketOf(c._1, cfg.nBuckets)).values
      .flatMap(_.sortBy(order).take(budget).map(_._1)).toSeq
  }

  def continue(start: Frontier, docs: collection.Map[String, Doc],
               robots: Seq[RobotsEntry], cfg: CrawlConfig,
               supersteps: Int): (Seq[Set[String]], Frontier) = {
    val rules = robots.map(r => r.host -> r.disallow).toMap
    val f = mutable.Map(start.toSeq: _*)
    val pops = Seq.newBuilder[Set[String]]
    var b = 0
    while (b < supersteps) {
      val pop = popRule(f, cfg)
      if (pop.isEmpty) b = supersteps
      else {
        pops += pop.toSet
        pop.foreach(u => f(u) = f(u).copy(_3 = true))
        val incs = pop.flatMap { u =>
          docs.get(u) match {
            case Some(d) if Robots.allowed(u, rules) && d.status >= 200 && d.status < 300 &&
                d.content_type.startsWith("text/html") =>
              Parser.extractLinks(u, Parser.cappedHtmlOf(d.spans, cfg.maxDocumentLen),
                cfg.maxUrlLen, cfg.crossDomainBonus)
            case _ => Nil
          }
        }
        incs.groupMapReduce(_._1)(_._2)(_ + _).foreach { case (u, w) =>
          f.get(u) match {
            case Some((h, p, popped)) => f(u) = (h, p + w, popped)
            case None => f(u) = (UrlOps.host(u).getOrElse(""), w, false)
          }
        }
        b += 1
      }
    }
    (pops.result(), f.toMap)
  }
}

/** The crawl's correctness checks as pure functions over collected
  * outputs, so the self-test can feed each one a perturbed output. */
object CrawlChecks {
  type Frontier = Map[String, (String, Long, Boolean)]

  def popsEqual(name: String, got: Seq[Set[String]], want: Seq[Set[String]]): Check = {
    val f = mutable.ArrayBuffer.empty[String]
    if (got.size != want.size) f += s"batch count ${got.size} != ${want.size}"
    got.zip(want).zipWithIndex.foreach { case ((g, w), b) =>
      if (g != w) f += s"batch $b: extra=${(g -- w).take(3)} missing=${(w -- g).take(3)}"
    }
    Check(name, f.toSeq)
  }

  def frontierEqual(name: String, got: Frontier, want: Frontier): Check = {
    val keys = got.keySet ++ want.keySet
    val bad = keys.iterator.filter(k => got.get(k) != want.get(k)).take(5)
      .map(k => s"$k: ${got.get(k)} != ${want.get(k)}").toSeq
    val sizes = if (got.size != want.size) Seq(s"rows ${got.size} != ${want.size}") else Nil
    Check(name, sizes ++ bad)
  }

  def metricsEqual(name: String, got: Seq[BatchMetrics], want: Seq[BatchMetrics]): Check = {
    val f = mutable.ArrayBuffer.empty[String]
    if (got.size != want.size) f += s"batch count ${got.size} != ${want.size}"
    got.zip(want).foreach { case (g, w) =>
      if (g.copy(elapsedMs = 0L) != w.copy(elapsedMs = 0L)) f += s"batch ${w.batch}: $g != $w"
    }
    Check(name, f.toSeq)
  }

  /** Conservation laws: every seed weight and every admitted link weight
    * (1 each at the default cross-domain bonus) lands in some row's
    * priority; every pop marks one row popped, except rows retired since. */
  def conservation(name: String, prioritySum: Long, poppedRows: Long, seedWeight: Long,
                   metrics: Seq[BatchMetrics], retired: Long): Check = {
    val wantPriority = seedWeight + metrics.map(_.linksAdmitted).sum
    val wantPopped = metrics.map(_.popped).sum - retired
    Check(name,
      (if (prioritySum != wantPriority) Seq(s"sum(priority) $prioritySum != $wantPriority") else Nil) ++
        (if (poppedRows != wantPopped) Seq(s"popped rows $poppedRows != $wantPopped") else Nil))
  }

  /** Pop batches are disjoint (apart from `mayRepeat`, urls retired in
    * between) and respect the per-host cap and the per-bucket budget. */
  def popShape(name: String, batches: Seq[Seq[(String, String)]], cfg: CrawlConfig,
               mayRepeat: Set[String]): Check = {
    val f = mutable.ArrayBuffer.empty[String]
    val seen = mutable.HashSet.empty[String]
    batches.zipWithIndex.foreach { case (batch, b) =>
      val urls = batch.map(_._1)
      if (urls.distinct.size != urls.size) f += s"batch $b repeats a url"
      urls.filter(u => seen.contains(u) && !mayRepeat.contains(u)).take(3)
        .foreach(u => f += s"batch $b re-pops $u")
      seen ++= urls
      batch.groupBy(_._2).foreach { case (h, rows) =>
        if (rows.size > cfg.perHostCap) f += s"batch $b host $h: ${rows.size} > ${cfg.perHostCap}"
      }
      urls.groupBy(graft.Frontier.bucketOf(_, cfg.nBuckets)).foreach { case (k, rows) =>
        val budget = graft.Frontier.perBucketBudget(cfg)
        if (rows.size > budget) f += s"batch $b bucket $k: ${rows.size} > $budget"
      }
    }
    Check(name, f.toSeq)
  }

  /** Every probed url answers `want` (filter membership checks). */
  def probes(name: String, probe: Map[String, Boolean], want: Boolean): Check = {
    val bad = probe.collect { case (u, p) if p != want => u }.take(5).toSeq
    Check(name, bad.map(u => s"$u probes ${!want}") ++
      (if (probe.isEmpty) Seq("nothing probed") else Nil))
  }

  /** Retire keeps every row and priority and clears exactly the retired
    * urls' popped flags. */
  def retireKeeps(name: String, before: Frontier, after: Frontier, retired: Set[String]): Check = {
    val f = mutable.ArrayBuffer.empty[String]
    if (before.keySet != after.keySet) f += s"rows ${before.size} -> ${after.size}"
    before.foreach { case (u, (h, p, popped)) =>
      after.get(u).foreach { case (h2, p2, popped2) =>
        val wantPopped = popped && !retired.contains(u)
        if (h2 != h || p2 != p || popped2 != wantPopped)
          f += s"$u: ($h,$p,$popped) -> ($h2,$p2,$popped2)"
      }
    }
    retired.filterNot(before.contains).take(3).foreach(u => f += s"retired $u not in frontier")
    Check(name, f.take(5).toSeq)
  }
}
