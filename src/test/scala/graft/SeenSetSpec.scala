package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

class SeenSetSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  def urlsDf(n: Int, tag: String) =
    (0 until n).map(i => s"https://h${i % 7}.example/$tag/d$i").toDF("url")
      .withColumn("bucket", Frontier.bucketCol(col("url"), 8))

  test("per-bucket bloom+cuckoo filters: no false negatives via per-partition probe") {
    val seen = urlsDf(3000, "seen")
    val filters = SeenSet.buildFilters(seen).persist()
    assert(filters.count() == 8)

    val bMisses = SeenSet.probeBloom(seen, filters).filter(!col("seenish")).count()
    val cMisses = SeenSet.probeCuckoo(seen, filters).filter(!col("seenish")).count()
    assert(bMisses == 0, "bloom false negative")
    assert(cMisses == 0, "cuckoo false negative")
  }

  test("splitByBloom: 'fresh' side is exact (bloom has no false negatives)") {
    val seen = urlsDf(2000, "seen")
    val filters = SeenSet.buildFilters(seen)
    val incoming = urlsDf(500, "seen").union(urlsDf(800, "new"))
    val (seenish, fresh) = SeenSet.splitByBloom(incoming, filters)
    val freshUrls = fresh.select("url").collect().map(_.getString(0)).toSet
    assert(freshUrls.forall(_.contains("/new/")), "a seen url leaked into fresh")
    assert(seenish.count() + fresh.count() == 1300)
    // bloom fp rate keeps seenish close to the true 500
    assert(seenish.count() >= 500 && seenish.count() <= 560)
  }

  test("probe is a narrow map: no join, no shuffle of the link stream") {
    val seen = urlsDf(1000, "seen")
    val filters = SeenSet.buildFilters(seen)
    val probed = SeenSet.probeBloom(urlsDf(400, "x"), filters)
    val plan = probed.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"probe plan contains a join:\n$plan")
    assert(!plan.contains("Exchange"), s"probe plan shuffles:\n$plan")
  }

  // -- FilterBook: the crawl loop's delta-broadcast seen set ----------------

  private def bloomDeltaOf(urls: org.apache.spark.sql.DataFrame): Map[Int, Array[Byte]] =
    SeenSet.buildFilters(urls).select(col("bucket"), col("bloom"))
      .collect().map(r => r.getInt(0) -> r.getAs[Array[Byte]](1)).toMap

  test("filter book: appendDelta broadcasts ONLY the delta's buckets, membership spans generations") {
    // delta A covers many buckets; delta B is a handful of urls in few buckets
    val a = urlsDf(2000, "olda")
    val bUrls = (0 until 40).map(i => s"https://h0.example/newb/d$i").toDF("url")
      .withColumn("bucket", Frontier.bucketCol(col("url"), 8))
    val dA = bloomDeltaOf(a)
    val dB = bloomDeltaOf(bUrls)
    var book = SeenSet.emptyBook()
    val e0 = book.epoch
    book = SeenSet.appendDelta(spark, book, dA)
    book = SeenSet.appendDelta(spark, book, dB)
    // per-superstep broadcast bytes ∝ delta, not total: the second broadcast
    // carries only delta B's buckets/blobs (and appends keep the epoch, so
    // executors' caches of delta A survive the append)
    assert(book.epoch == e0)
    assert(book.deltas.size == 2)
    assert(book.deltas.last.value.keySet == dB.keySet)
    val bBytes = book.deltas.last.value.values.map(_.length.toLong).sum
    val aBytes = book.deltas.head.value.values.map(_.length.toLong).sum
    assert(bBytes < aBytes / 4,
      s"delta broadcast not delta-sized: $bBytes vs full $aBytes")
    // no false negatives across generations
    val all = a.union(bUrls)
    assert(SeenSet.probeBloomBook(all, book).filter(!col("seenish")).count() == 0)
    // split: fresh side is exact
    val incoming = all.union(urlsDf(300, "fresh"))
    val (_, fresh) = SeenSet.splitByBloomBook(incoming, book)
    assert(fresh.select("url").collect().map(_.getString(0)).forall(_.contains("/fresh/")))
    SeenSet.destroyBook(book)
  }

  test("filter book: compaction leaves ONE live generation and destroys superseded broadcasts") {
    var book = SeenSet.emptyBook()
    book = SeenSet.appendDelta(spark, book, bloomDeltaOf(urlsDf(500, "g1")))
    book = SeenSet.appendDelta(spark, book, bloomDeltaOf(urlsDf(500, "g2")))
    val oldDeltas = book.deltas
    val oldEpoch = book.epoch
    val compacted = bloomDeltaOf(urlsDf(500, "g1").union(urlsDf(500, "g2")))
    book = SeenSet.compactBook(spark, book, compacted)
    assert(book.deltas.size == 1, "compacted book must hold exactly one delta")
    assert(book.epoch > oldEpoch, "compaction must bump the cache epoch")
    // superseded broadcasts are DESTROYED, not left to ContextCleaner chance
    oldDeltas.foreach { bc =>
      val ex = intercept[Exception] { bc.value }
      assert(ex.getMessage.toLowerCase.contains("destroyed"), s"unexpected: $ex")
    }
    // membership intact through the compacted generation
    val all = urlsDf(500, "g1").union(urlsDf(500, "g2"))
    assert(SeenSet.probeBloomBook(all, book).filter(!col("seenish")).count() == 0)
    SeenSet.destroyBook(book)
  }

  test("book probe is a narrow map: no join, no shuffle of the link stream") {
    var book = SeenSet.emptyBook()
    book = SeenSet.appendDelta(spark, book, bloomDeltaOf(urlsDf(500, "seen")))
    val probed = SeenSet.probeBloomBook(urlsDf(200, "x"), book)
    val plan = probed.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"probe plan contains a join:\n$plan")
    assert(!plan.contains("Exchange"), s"probe plan shuffles:\n$plan")
    SeenSet.destroyBook(book)
  }

  test("incremental filter-table merge keeps old membership") {
    val a = SeenSet.buildFilters(urlsDf(1000, "a"))
    val b = SeenSet.buildFilters(urlsDf(1000, "b"))
    val merged = a.unionByName(b).persist()
    val all = urlsDf(1000, "a").union(urlsDf(1000, "b"))
    val misses = SeenSet.probeBloom(all, merged).filter(!col("seenish"))
      .union(SeenSet.probeCuckoo(all, merged).filter(!col("seenish")))
      .count()
    assert(misses == 0)
  }

  test("one-shot table probes equal a book built from the same rows, two rows per bucket") {
    // two filter rows per bucket: the one-shot probeBloom / probeCuckoo must
    // answer exactly as the book path over those rows, member or not
    val a = SeenSet.buildFilters(urlsDf(1000, "a")).collect()
    val b = SeenSet.buildFilters(urlsDf(1000, "b")).collect()
    val table = spark.createDataFrame(spark.sparkContext.parallelize((a ++ b).toSeq),
      a.head.schema)
    assert(table.groupBy("bucket").count().filter(col("count") =!= 2).count() == 0)
    val in = urlsDf(1000, "a").union(urlsDf(1000, "b")).union(urlsDf(1000, "x"))
    Seq("bloom" -> SeenSet.probeBloom(in, table),
        "cuckoo" -> SeenSet.probeCuckoo(in, table)).foreach { case (kind, oneShot) =>
      val book = Seq(a, b).foldLeft(SeenSet.emptyBook()) { (bk, rows) =>
        SeenSet.appendDelta(spark, bk, rows.map(r =>
          r.getAs[Int]("bucket") -> r.getAs[Array[Byte]](kind)).toMap)
      }
      def seen(df: org.apache.spark.sql.DataFrame) =
        df.select("url", "seenish").collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
      val got = seen(oneShot)
      assert(got == seen(SeenSet.probeBook(in, book, kind, "seenish")), kind)
      // members hit; non-members are mostly misses, not a constant answer
      assert(got.filter(_._1.contains("/x/")).count(_._2) < 100, kind)
      assert(got.filter(!_._1.contains("/x/")).forall(_._2), kind)
      SeenSet.destroyBook(book)
    }
  }
}
