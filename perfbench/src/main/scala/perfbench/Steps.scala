package perfbench

import graft._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The traced superstep. `CrawlLoop.run` composes its phases internally, so
  * a traced run drives supersteps on the committed crawl state itself,
  * calling the same public functions in the loop's order, each phase
  * materialized inside its own span:
  * pop → commit → robots → fetch → (index) → parse → Bloom split → merge →
  * snapshot write → filter delta → commit.
  * The materializations are what the trace costs; the loop fuses them. */
object Steps {

  final case class StepCounts(popped: Long, allowed: Long, fetched: Long, links: Long,
                              seenish: Long, fresh: Long, seenishNew: Long, pops: Set[String])

  private def mat(df: DataFrame): DataFrame = { val p = df.persist(); p.count(); p }

  /** The Bloom book of a committed state: one broadcast delta per filter dir. */
  def loadBook(spark: SparkSession, filtersPaths: Seq[String]): SeenSet.FilterBook =
    filtersPaths.foldLeft(SeenSet.emptyBook()) { (book, p) =>
      SeenSet.appendDelta(spark, book, spark.read.parquet(p)
        .select(col("bucket").cast("int"), col("bloom")).collect()
        .map(r => r.getInt(0) -> r.getAs[Array[Byte]](1)).toMap)
    }

  /** One traced superstep; with `indexDir`, the fetched docs are also
    * indexed into that directory (not the state's own index). */
  def superstep(ctx: Ctx, stateDir: String, docs: DataFrame, robots: DataFrame,
                cfg: CrawlConfig, indexDir: Option[String]): StepCounts = {
    val spark = ctx.spark
    val tr = ctx.tr
    val m = Snapshots.readCurrent(stateDir).get
    val batch = m.batch + 1
    tr("CrawlLoop", "superstep") {
      val frontier = tr("Snapshots", "readFrontier") {
        mat(Snapshots.readFrontier(spark, m.bucketPaths))
      }
      val popPath = Snapshots.popBatchPath(stateDir, batch)
      tr("Frontier", "popBatch") {
        Frontier.popBatch(frontier, cfg).write.mode("overwrite").parquet(popPath)
      }
      val pop = mat(spark.read.schema(Snapshots.popSchema).parquet(popPath))
      tr("Snapshots", "commit") {
        Snapshots.commit(stateDir, m.copy(batch = batch, phase = "pop", frontierPath = "",
          popBatchPath = popPath, metrics = None))
      }
      val allowed = tr("Robots", "allowedBatch") { mat(Robots.allowedBatch(pop, robots)) }
      val fetched = tr("Fetcher", "fetch") { mat(Fetcher.okHtml(Fetcher.fetch(allowed, docs))) }
      indexDir.foreach(d => tr("Indexer", "index") {
        val (postings, docmeta) = Indexer.index(fetched, cfg, epoch = batch)
        Indexer.writePostings(postings, s"$d/postings")
        Indexer.writeDocmeta(docmeta, s"$d/docmeta")
      })
      val links = tr("Parser", "linksOf") {
        mat(Parser.linksOf(fetched, cfg)
          .withColumn("bucket", Frontier.bucketCol(col("url"), cfg.nBuckets)))
      }
      val book = tr("SeenSet", "loadBook") { loadBook(spark, m.filtersPaths) }
      val (seenish, fresh) = tr("SeenSet", "splitByBloomBook") {
        val (s, f) = SeenSet.splitByBloomBook(links, book)
        (mat(s), mat(f))
      }
      val changed = (links.select("bucket").union(pop.select("bucket")).distinct()
        .collect().map(_.getInt(0))).toSeq
      val slice = frontier.filter(col("bucket").isin(changed: _*))
      val merged = tr("Frontier", "merge") {
        val freshRows = fresh.groupBy(col("url"))
          .agg(sum(col("weight")).cast("long").as("priority"), max(col("host")).as("host"),
            count(lit(1)).as("n_links"), first(col("bucket")).as("bucket"))
          .select(col("url"), col("host"), col("priority"), lit(false).as("popped"),
            lit(0).as("was_existing"), lit(1).as("was_incoming"), col("n_links"), col("bucket"))
        mat(Frontier.merge(slice, seenish, pop, cfg).unionByName(freshRows))
      }
      val fPath = Snapshots.frontierPath(stateDir, batch)
      tr("Snapshots", "write") {
        merged.select("url", "host", "bucket", "priority", "popped")
          .repartition(col("bucket"))
          .write.mode("overwrite").partitionBy("bucket").parquet(fPath)
      }
      val filtersPath = Snapshots.filtersPath(stateDir, batch)
      tr("SeenSet", "buildFilters") {
        SeenSet.buildFilters(merged.filter(col("was_existing") === 0).select("url", "bucket"))
          .write.mode("overwrite").parquet(filtersPath)
      }
      val byBucket = merged.groupBy(col("bucket")).agg(count(lit(1)),
        sum(when(col("was_existing") === 1 && col("was_incoming") === 1, 1L).otherwise(0L)),
        sum(when(col("was_existing") === 0, 1L).otherwise(0L))).collect()
      val perBucket = m.perBucketRows ++ byBucket.map(r => r.getInt(0).toString -> r.getLong(1))
      val c = StepCounts(
        popped = pop.count(), allowed = allowed.count(), fetched = fetched.count(),
        links = links.count(), seenish = seenish.count(), fresh = fresh.count(),
        seenishNew = seenish.select("url").distinct()
          .join(slice.select("url"), Seq("url"), "left_anti").count(),
        pops = pop.select("url").collect().map(_.getString(0)).toSet)
      tr("Snapshots", "commit") {
        Snapshots.commit(stateDir, m.copy(batch = batch, phase = "done", frontierPath = fPath,
          popBatchPath = popPath, filtersPaths = m.filtersPaths :+ filtersPath,
          bucketPaths = m.bucketPaths ++ changed.map(_.toString -> fPath),
          perBucketRows = perBucket,
          metrics = Some(BatchMetrics(batch = batch, popped = c.popped,
            robotsDenied = c.popped - c.allowed, fetched = c.fetched, fetchErrors = 0L,
            linksExtracted = c.links, linksAdmitted = c.links,
            duplicateHits = byBucket.map(_.getLong(2)).sum,
            freshUrls = byBucket.map(_.getLong(3)).sum, frontierSize = perBucket.values.sum))))
      }
      SeenSet.destroyBook(book)
      Seq(frontier, pop, allowed, fetched, links, seenish, fresh, merged).foreach(_.unpersist())
      c
    }
  }

  /** Median over a layer's spans of one name, in seconds. */
  def medianS(ctx: Ctx, layer: String, name: String): Double =
    Stats.median(ctx.tr.named(layer, name).map(_.seconds))
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (the 'inclusive' method). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}
