package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{Curation, Dedup, MultiModal, Similarity, TextOps}

/** Training-data pipeline operators: parity with independent pure-Scala
  * reimplementations, plus plan-shape assertions (pruning / no-shuffle
  * invariants that matter at 100 TB). */
class OpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val texts = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "the quick brown fox jumps over the lazy cat"),
    (2L, "completely different words appear in this one"),
    (3L, "the quick brown fox jumps over the lazy dog"), // exact dup of 0
    (4L, "short text"))

  private def docs = texts.toDF("doc_id", "text")

  test("hash60: Spark expression == local implementation") {
    val samples = Seq("", "a", "hello world", "0#the quick brown", "ünïcode")
    val sparkVals = samples.toDF("s").select(TextOps.hash60(col("s")))
      .collect().map(_.getLong(0))
    samples.zip(sparkVals).foreach { case (s, v) =>
      assert(v == TextOps.hash60Local(s), s"mismatch for '$s'")
      assert(v >= 0)
    }
  }

  test("shingles: sliding word 3-grams, short docs empty") {
    val out = docs.select(col("doc_id"),
      TextOps.shingles(TextOps.words(col("text")), 3).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(out(0L).head == "the quick brown")
    assert(out(0L).length == 7) // 9 words -> 7 shingles
    assert(out(4L).isEmpty)     // 2 words < k
    // parity with naive sliding window
    val words = texts(1)._2.split(" ")
    assert(out(1L) == words.sliding(3).map(_.mkString(" ")).toSeq)
  }

  test("exact dedup: dup rows marked, keeper is min id") {
    val marks = Dedup.exactDupMarks(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getInt(3)))).toMap
    assert(marks(0L) == ((0L, 0)))
    assert(marks(3L) == ((0L, 1))) // dup of 0
    assert(marks(1L) == ((1L, 0)))
  }

  test("jaccard pairs: matches naive set Jaccard") {
    val sh = Dedup.docShingles(docs, "doc_id", "text", 3)
    val pairs = Dedup.jaccardPairs(sh, minJaccardMicro = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(4)).toMap
    def shingleSet(t: String) = t.split(" ").sliding(3).map(_.mkString(" ")).toSet
    val s0 = shingleSet(texts(0)._2); val s1 = shingleSet(texts(1)._2)
    val expected = s0.intersect(s1).size * 1000000L / s0.union(s1).size
    assert(pairs((0L, 1L)) == expected)
    assert(pairs((0L, 3L)) == 1000000L) // exact dups -> jaccard 1
    assert(!pairs.contains((0L, 2L)))   // no shared shingle
  }

  test("jaccard df-cap: stop-shingle-only pairs dropped, surviving values exact") {
    // 6 docs share the stop-shingle 'aaa bbb ccc' (df=6); docs 0,1 also
    // share a low-df run. With maxShingleDf=3 only (0,1) survives as a
    // candidate — and its Jaccard is computed over the FULL sets.
    val capDocs = (Seq(
      (0L, "aaa bbb ccc xxx yyy zzz p0 q0 r0"),
      (1L, "aaa bbb ccc xxx yyy zzz p1 q1 r1")) ++
      (2L to 5L).map(i => (i, s"aaa bbb ccc m$i n$i o$i")))
      .toDF("doc_id", "text")
    val sh = Dedup.docShingles(capDocs, "doc_id", "text", 3)
    val capped = Dedup.jaccardPairs(sh, minJaccardMicro = 0L, maxShingleDf = 3L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(4)).toMap
    val uncapped = Dedup.jaccardPairs(sh, minJaccardMicro = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(4)).toMap
    assert(uncapped.contains((2L, 3L))) // shares only the stop-shingle
    assert(!capped.contains((2L, 3L))) // ...dropped from candidates
    assert(capped.keySet == Set((0L, 1L)))
    assert(capped((0L, 1L)) == uncapped((0L, 1L)), "survivor value must be full-set exact")
  }

  test("connected min-label: chains and stars resolve to the component minimum") {
    val ids = Seq(1L, 2L, 3L, 10L, 11L, 20L).toDF("id")
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val labels = Dedup.connectedMinLabel(ids, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L, 20L -> 20L))
  }

  test("connectedMinLabelAuto: driver union-find == distributed propagation") {
    val ids = (1L to 40L).toDF("id")
    val edges = (Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L)) ++
      (20L until 30L).map(i => (i, i + 1))).toDF("id_a", "id_b")
    val local = Dedup.connectedMinLabelAuto(ids, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dist = Dedup.connectedMinLabel(ids, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // Auto covers only ids it was given; both must agree on every id
    assert(local == dist)
    assert(local(4L) == 1L && local(12L) == 10L && local(30L) == 20L && local(35L) == 35L)
  }

  test("connectedMinLabelAuto: falls back to distributed past the edge cap, same result") {
    val ids = (1L to 40L).toDF("id")
    val edges = (Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L)) ++
      (20L until 30L).map(i => (i, i + 1))).toDF("id_a", "id_b")
    val expected = Dedup.connectedMinLabel(ids, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // localLimit below the edge count forces the distributed path through
    // the SAME auto entry point (the limit(cap+1) gate must trip)
    val forced = Dedup.connectedMinLabelAuto(ids, edges, localLimit = 3L)
    val got = forced.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected)
  }

  test("connectedMinLabel: result plan size does not grow with the round count") {
    // a 64-id chain needs more propagation rounds than a single edge; each
    // round's lineage is cut, so both results have the same plan shape
    def planNodes(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.analyzed.collect { case n => n }.size
    val chain = Dedup.connectedMinLabel((1L to 64L).toDF("id"),
      (1L until 64L).map(i => (i, i + 1)).toDF("id_a", "id_b"))
    val pair = Dedup.connectedMinLabel(Seq(1L, 2L).toDF("id"),
      Seq((1L, 2L)).toDF("id_a", "id_b"))
    assert(planNodes(chain) == planNodes(pair))
    assert(chain.collect().forall(_.getLong(1) == 1L))
  }

  test("nearDupKeepers: result plan holds the verification subtree at most once") {
    // every pass of shingle -> MinHash -> LSH -> verify explodes rows
    // (Generate nodes); a result whose plan re-runs the verification per
    // side of a union carries twice the verified-pair plan's Generates
    def generates(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.optimizedPlan.collect {
        case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g }.size
    val sh = Dedup.docShingles(docs, "doc_id", "text", 3)
    val verified = Dedup.verifiedNearDups(sh,
      Dedup.lshCandidates(Dedup.minhashSignatures(sh, 8), 8, 2), 10000L)
    assert(generates(verified) > 0)
    val keepers = Dedup.nearDupKeepers(docs, "doc_id", "text",
      shingleK = 3, hashes = 8, bands = 2, minJaccardMicro = 10000L)
    assert(generates(keepers) <= generates(verified))
    val got = keepers.collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got(3L) == ((0L, 1L)) && got(0L) == ((0L, 0L)) && got(2L) == ((2L, 0L)))
  }

  test("LSH bucket cap: degenerate bucket split preserves exact results") {
    // 30 identical vectors pile into one bucket; cap 8 forces the salted
    // subgroup split — results must equal the unbounded join exactly
    val vecs = ((0L until 30L).map(i => (i, Array(1f, 0.5f, 0.25f, 0f))) ++
      (30L until 40L).map(i => (i, Array.tabulate(4)(d => math.sin(i * 13 + d * 7).toFloat))))
      .toDF("vec_id", "embedding")
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))
    val bounded = Similarity.lshTopK(vecs, planes = 3, k = 5, bucketCap = 8)
      .collect().map(key).toSet
    val unbounded = Similarity.lshTopK(vecs, planes = 3, k = 5, bucketCap = 1 << 20)
      .collect().map(key).toSet
    assert(bounded == unbounded)
    val nd = Similarity.embeddingNearDups(vecs, planes = 3, simThreshold = 0.9, bucketCap = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ndU = Similarity.embeddingNearDups(vecs, planes = 3, simThreshold = 0.9, bucketCap = 1 << 20)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(nd == ndU && nd.nonEmpty)
  }

  test("minhash: signature value == naive min over shingle hashes; LSH finds the exact dup") {
    val sh = Dedup.docShingles(docs, "doc_id", "text", 3)
    val sigs = Dedup.minhashSignatures(sh, k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val shingles0 = texts(0)._2.split(" ").sliding(3).map(_.mkString(" ")).toSet
    (0 until 4).foreach { seed =>
      val naive = shingles0
        .map(s => Dedup.minhashPermLocal(seed.toLong, TextOps.hash60Local(s))).min
      assert(sigs((0L, seed.toLong)) == naive)
    }
    val cand = Dedup.lshCandidates(Dedup.minhashSignatures(sh, k = 4), k = 4, bands = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cand.contains((0L, 3L))) // identical docs always collide
  }

  test("simhash: parity with naive bit-vote; near-dups closer than far pairs") {
    val out = Dedup.simhash(docs, "doc_id", "text", bits = 32)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def naive(t: String): Long = {
      val hs = t.split("\\s+").filter(_.nonEmpty).map(TextOps.hash60Local)
      (0 until 32).map { b =>
        val v = hs.map(h => ((h >> b) & 1L) * 2 - 1).sum
        if (v > 0) 1L << b else 0L
      }.sum
    }
    texts.foreach { case (id, t) => assert(out(id) == naive(t), s"doc $id") }
    assert(out(0L) == out(3L))
    val near = java.lang.Long.bitCount(out(0L) ^ out(1L))
    val far = java.lang.Long.bitCount(out(0L) ^ out(2L))
    assert(near < far)
  }

  test("brute cosine top-k: matches naive; ranks deterministic") {
    val vecs = Seq(
      (0L, Array(1f, 0f, 0f)), (1L, Array(0.9f, 0.1f, 0f)),
      (2L, Array(0f, 1f, 0f)), (3L, Array(-1f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.bruteTopK(vecs, vecs, k = 2)
      .collect().map(r => (r.getLong(0), r.getInt(2)) -> r.getLong(1)).toMap
    assert(out((0L, 1)) == 1L) // nearest to e_x is the 0.9/0.1 vector
    assert(out((0L, 2)) == 2L) // then the orthogonal one (0 > -1)
    assert(out((3L, 2)) == 1L)
  }

  test("LSH ANN: identical vectors share a bucket; in-bucket sims exact") {
    val vecs = (0L until 40L).map { i =>
      val base = Array.tabulate(8)(d => math.sin(i * 13 + d * 7).toFloat)
      (i, base)
    }.toDF("vec_id", "embedding")
    val buckets = Similarity.lshBuckets(vecs, planes = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(buckets.size == 40)
    assert(buckets.values.forall(b => b >= 0 && b < 16))
    val topk = Similarity.lshTopK(vecs, planes = 4, k = 3).collect()
    topk.foreach { r =>
      // every reported neighbor must share the query's bucket
      assert(buckets(r.getLong(0)) == buckets(r.getLong(1)))
    }
  }

  test("LSH on an empty vectors frame: empty buckets/top-k, no crash") {
    val empty = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    assert(Similarity.lshBuckets(empty, planes = 4).collect().isEmpty)
    assert(Similarity.lshBuckets(empty, planes = 4, tables = 3).collect().isEmpty)
    assert(Similarity.lshTopK(empty, planes = 4, k = 3).collect().isEmpty)
  }

  test("multi-table LSH: table 0 equals single-table; best sims never drop") {
    val vecs = (0L until 50L).map { i =>
      (i, Array.tabulate(8)(d => math.sin(i * 13 + d * 7).toFloat))
    }.toDF("vec_id", "embedding")
    val single = Similarity.lshBuckets(vecs, planes = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val multi = Similarity.lshBuckets(vecs, planes = 4, tables = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // 3 signatures per vector; table 0 (bucket < 2^4) is bit-identical to
    // the single-table assignment, so multi-table candidates are supersets
    assert(multi.length == 150)
    assert(multi.filter(_._2 < 16).toMap == single)
    // hence each query's best reported sim can only improve
    val best1 = Similarity.lshTopK(vecs, planes = 4, k = 1)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    val bestM = Similarity.lshTopK(vecs, planes = 4, k = 1, tables = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    best1.foreach { case (q, s) => assert(bestM(q) >= s - 1e-9) }
  }

  test("IVF ANN: probing ALL cells equals exact brute-force top-k") {
    val vecs = (0L until 60L).map { i =>
      (i, Array.tabulate(8)(d => math.sin(i * 13 + d * 7).toFloat))
    }.toDF("vec_id", "embedding")
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))
    val ivf = Similarity.ivfTopK(vecs, vecs, kCells = 4, nprobe = 4, k = 3)
      .collect().map(key).toSet
    val brute = Similarity.bruteTopK(vecs, vecs, k = 3)
      .collect().map(key).toSet
    assert(ivf == brute)
    // with nprobe < kCells, recall can drop but never improve: each query's
    // best reported sim is bounded by its exact best
    val bruteBest = Similarity.bruteTopK(vecs, vecs, k = 1)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    val partial = Similarity.ivfTopK(vecs, vecs, kCells = 4, nprobe = 2, k = 1)
      .collect().map(r => r.getLong(0) -> r.getDouble(3))
    assert(partial.nonEmpty)
    partial.foreach { case (q, sim) => assert(sim <= bruteBest(q) + 1e-9) }
  }

  test("k-means codebook: deterministic under repartition; full-probe IVF stays exact") {
    val vecs = (0L until 60L).map { i =>
      (i, Array.tabulate(8)(d => math.sin(i * 13 + d * 7).toFloat))
    }.toDF("vec_id", "embedding")
    def centMap(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Double]] =
      df.collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    // iters = 0 is exactly the deterministic first-k init (floats as doubles)
    val init = centMap(Similarity.kmeansCodebook(vecs, kCells = 4, iters = 0))
    val raw = vecs.filter(col("vec_id") < 4).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble)).toMap
    assert(init == raw)
    // integer-scaled centroid sums are order-independent: an adversarial
    // repartition must yield the bit-identical codebook
    val trained = centMap(Similarity.kmeansCodebook(vecs, kCells = 4, iters = 2))
    val shuffled = centMap(Similarity.kmeansCodebook(
      vecs.repartition(7, col("vec_id")), kCells = 4, iters = 2))
    assert(trained == shuffled)
    assert(trained.keySet == Set(0L, 1L, 2L, 3L))
    assert(trained != init) // training moved at least one centroid
    // the exactness invariant is codebook-independent: probing ALL cells of
    // the TRAINED codebook still equals exact brute-force top-k
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))
    val cents = Similarity.kmeansCodebook(vecs, kCells = 4, iters = 2)
    val full = Similarity.ivfTopKWith(vecs, vecs, cents, nprobe = 4, k = 3)
      .collect().map(key).toSet
    val brute = Similarity.bruteTopK(vecs, vecs, k = 3).collect().map(key).toSet
    assert(full == brute)
  }

  test("k-means codebook: flat lineage — iters=8 runs in bounded time") {
    val vecs = (0L until 60L).map { i =>
      (i, Array.tabulate(8)(d => math.sin(i * 13 + d * 7).toFloat))
    }.toDF("vec_id", "embedding")
    val t0 = System.nanoTime()
    val cents = Similarity.kmeansCodebook(vecs, kCells = 4, iters = 8).collect()
    val sec = (System.nanoTime() - t0) / 1e9
    assert(cents.length == 4)
    assert(cents.forall(_.getSeq[Double](1).size == 8))
    // the pre-flattening form doubled the plan per iteration — at 8
    // iterations it would not finish; materialized centroids keep each
    // iteration's plan constant-size
    assert(sec < 120.0, f"kmeans iters=8 took $sec%.1f s — lineage regrowing?")
  }

  test("PQ-ADC: deterministic under repartition; exact when every vector is a codeword") {
    val vecs = (0L until 60L).map { i =>
      (i, Array.tabulate(8)(d => math.sin(i * 13 + d * 7).toFloat))
    }.toDF("vec_id", "embedding")
    // codebook shape + init: iters=0 is the first-k subvector init
    val books = Similarity.pqTrain(vecs, m = 2, kCodes = 4, iters = 0)
    assert(books.map(b => (b._1, b._2)).toSet ==
      (for (s <- 0 until 2; c <- 0 until 4) yield (s, c.toLong)).toSet)
    assert(books.forall(_._3.size == 4))
    val raw = vecs.filter(col("vec_id") < 4).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble)).toMap
    books.foreach { case (s, c, emb) =>
      assert(emb == raw(c).slice(s * 4, s * 4 + 4)) }
    // integer-scaled training is order-independent: bit-identical books
    // and bit-identical top-k under an adversarial repartition
    val t1 = Similarity.pqTrain(vecs, m = 2, kCodes = 4, iters = 2)
    val t2 = Similarity.pqTrain(
      vecs.repartition(7, col("vec_id")), m = 2, kCodes = 4, iters = 2)
    assert(t1 == t2)
    assert(t1 != books) // training moved at least one codeword
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))
    val pq1 = Similarity.pqTopK(vecs, vecs, m = 2, kCodes = 4, iters = 2, k = 3)
      .collect().map(key).toSet
    val pq2 = Similarity.pqTopK(vecs.repartition(5, col("vec_id")),
        vecs.repartition(7, col("vec_id")), m = 2, kCodes = 4, iters = 2, k = 3)
      .collect().map(key).toSet
    assert(pq1 == pq2)
    assert(pq1.size == 60 * 3)
    // every (vector, subspace) gets exactly one in-range code
    val codes = Similarity.pqEncode(vecs, t1).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(codes.size == 60 * 2)
    assert(codes.values.forall(c => c >= 0 && c < 4))
    // with kCodes = n and iters = 0 every vector IS its own codeword per
    // subspace (distinct subvectors, ties impossible): reconstruction is
    // exact, so ADC sims equal brute-force sims up to the 2^-20 partial
    // rounding — per-rank sims must agree within 1e-4
    val all = Similarity.pqTrain(vecs, m = 2, kCodes = 60, iters = 0)
    val ident = Similarity.pqEncode(vecs, all).collect()
      .forall(r => r.getLong(0) == r.getLong(2))
    assert(ident)
    val pqSims = Similarity.pqTopK(vecs, vecs, m = 2, kCodes = 60, iters = 0, k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(2)) -> r.getDouble(3)).toMap
    val bruteSims = Similarity.bruteTopK(vecs, vecs, k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(2)) -> r.getDouble(3)).toMap
    assert(pqSims.keySet == bruteSims.keySet)
    pqSims.foreach { case (k0, s) =>
      assert(math.abs(s - bruteSims(k0)) <= 1e-4, s"$k0: $s vs ${bruteSims(k0)}") }
  }

  test("ivfpq: nprobe = kCells equals plain PQ; partial probe never beats it") {
    import spark.implicits._
    val vecs = (0L until 60L).map { i =>
      (i, Array.tabulate(8)(d => math.sin(i * 13 + d * 7).toFloat))
    }.toDF("vec_id", "embedding")
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))
    // probing every cell makes the candidate set all non-self vectors, so
    // the composition must reproduce pqTopK exactly (same books, same ADC
    // integer partials) — the ivfTopK==brute assertion's PQ analog
    val full = Similarity.ivfpqTopK(vecs, vecs, kCells = 4, nprobe = 4,
      m = 2, kCodes = 4, iters = 2, k = 3).collect().map(key).toSet
    val pq = Similarity.pqTopK(vecs, vecs, m = 2, kCodes = 4, iters = 2, k = 3)
      .collect().map(key).toSet
    assert(full == pq)
    // a partial probe scans a subset of cells: each query's best ADC sim
    // can only drop or hold, never improve
    val fullBest = Similarity.ivfpqTopK(vecs, vecs, kCells = 4, nprobe = 4,
        m = 2, kCodes = 4, iters = 2, k = 1)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    val partBest = Similarity.ivfpqTopK(vecs, vecs, kCells = 4, nprobe = 2,
        m = 2, kCodes = 4, iters = 2, k = 1)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    partBest.foreach { case (q, s) => assert(s <= fullBest(q) + 1e-9) }
  }

  test("rolling fingerprint: in-range, content-sensitive, dup-invariant") {
    val f0 = TextOps.rollingFingerprint(texts(0)._2, 8)
    assert(f0 >= 0 && f0 < (1L << 31) - 1)
    assert(f0 == TextOps.rollingFingerprint(texts(3)._2, 8))
    assert(f0 != TextOps.rollingFingerprint(texts(2)._2, 8))
    // winnowing property: the min window hash survives content appended AFTER
    val longer = TextOps.rollingFingerprint(texts(0)._2 + " xyz", 8)
    assert(longer <= f0)
  }

  test("quality + lang columns: deterministic and bounded") {
    val out = docs.select(col("doc_id"),
      TextOps.alphaRatioMicro(col("text")).as("ar"),
      TextOps.stopwordRatioMicro(TextOps.words(col("text"))).as("sr"),
      TextOps.langId(TextOps.words(col("text"))).as("lang"))
      .collect()
    out.foreach { r =>
      assert(r.getLong(1) >= 0 && r.getLong(1) <= 1000000)
      assert(r.getLong(2) >= 0 && r.getLong(2) <= 1000000)
      assert(TextOps.langProfiles.map(_._1).contains(r.getString(3)))
    }
    // 'the ... over the ...' text: 'the' is an en-profile token -> en wins
    assert(out.find(_.getLong(0) == 0L).get.getString(3) == "en")
  }

  test("multimodal: metadata projection prunes the payload column at the scan") {
    val assets = MultiModal.assetsFromText(docs, "doc_id", "text")
    val meta = MultiModal.metaOnly(assets)
    val optimized = meta.queryExecution.optimizedPlan.toString
    assert(!optimized.contains("payload"),
      s"payload column must be pruned from the metadata plan:\n$optimized")
    assert(meta.columns.toSeq == Seq("doc_id", "kind", "n_bytes", "codec"))
  }

  test("multimodal: resize fits the target box and preserves aspect ratio") {
    val feats = Seq(
      (1L, "image", 800, 600), (2L, "image", 100, 50), (3L, "video", 200, 1000))
      .toDF("doc_id", "kind", "width", "height")
    val out = MultiModal.resizeToFit(feats, 400, 300)
      .collect().map(r => r.getLong(0) -> ((r.getInt(4), r.getInt(5)))).toMap
    assert(out(1L) == ((400, 300))) // downscale by exactly 1/2
    assert(out(2L) == ((100, 50)))  // already fits: untouched
    assert(out(3L) == ((60, 300)))  // height-bound: 200*300/1000 = 60
    out.values.foreach { case (w, h) => assert(w <= 400 && h <= 300) }
  }

  test("multimodal: stub decode is deterministic; frame sampling bounded by n_frames") {
    val assets = MultiModal.assetsFromText(docs, "doc_id", "text")
    val f1 = MultiModal.extractFeatures(spark, assets).collect().sortBy(_.doc_id)
    val f2 = MultiModal.extractFeatures(spark, assets).collect().sortBy(_.doc_id)
    assert(f1.toSeq == f2.toSeq)
    assert(f1.forall(f => f.width >= 16 && f.height >= 16 && f.n_frames >= 1))
    val sampled = MultiModal.sampleFrames(
      MultiModal.extractFeatures(spark, assets).toDF(), everyN = 10)
      .groupBy(col("doc_id")).agg(max(col("frame_idx")).as("mx"), count(lit(1)).as("n"))
      .collect()
    val frames = f1.map(f => f.doc_id -> f.n_frames).toMap
    sampled.foreach { r =>
      assert(r.getInt(1) < frames(r.getLong(0)), "sampled frame index out of range")
    }
  }

  test("contamination: shared-shingle counts against a benchmark set") {
    val bench = docs.filter(col("doc_id") === 0L)
    val out = Curation.contaminationMarks(docs, "doc_id", "text", bench, "text", k = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out(0L) == ((7L, 1L)))  // the bench doc itself: all 7 shingles
    assert(out(1L) == ((6L, 1L)))  // differs only in the last word -> 6 of 7
    assert(out(2L) == ((0L, 0L)))
    assert(out(3L) == ((7L, 1L)))  // exact dup of the bench doc
    assert(out(4L) == ((0L, 0L)))  // too short for 3-shingles
    assert(out.size == texts.size) // clean docs keep their row (left join)
  }

  test("contamination: benchmark side broadcasts (no corpus-side shuffle before the hit filter)") {
    val bench = docs.filter(col("doc_id") === 0L)
    val plan = Curation.contaminationMarks(docs, "doc_id", "text", bench, "text", 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      s"benchmark join must broadcast:\n$plan")
  }

  test("hash split: deterministic, thresholded, matches the local hash") {
    val out = Curation.hashSplit(docs, "doc_id", "v1", 900000L, 50000L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    out.foreach { case (id, b, split) =>
      assert(b == TextOps.hash60Local(s"$id:v1") % 1000000L)
      val expected =
        if (b < 900000L) "train" else if (b < 950000L) "val" else "test"
      assert(split == expected)
    }
    val again = Curation.hashSplit(docs, "doc_id", "v1", 900000L, 50000L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(out.sortBy(_._1).toSeq == again.sortBy(_._1).toSeq)
  }

  test("pii redaction: emails then phones, counts disjoint, non-PII untouched") {
    val in = Seq(
      (0L, "contact john.doe@mail.example.org or +1 (555) 123-4567 now"),
      (1L, "no pii in this row at all"),
      (2L, "two mails a@b.co c.d@e.org one phone +44 20 7946 0958"))
      .toDF("doc_id", "text")
    val cols = Curation.redactPii(col("text"))
    val out = in.select(col("doc_id") +: cols.map { case (n, c) => c.as(n) }: _*)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(0L) == ((1L, 1L, "contact <EMAIL> or <PHONE> now")))
    assert(out(1L) == ((0L, 0L, "no pii in this row at all")))
    assert(out(2L)._1 == 2L)
    assert(out(2L)._2 == 1L)
    assert(out(2L)._3 == "two mails <EMAIL> <EMAIL> one phone <PHONE>")
  }

  test("chunking: window/stride coverage, content hashes, naive parity") {
    val in = Seq(
      (0L, (1 to 10).map(i => s"w$i").mkString(" ")), // 10 words
      (1L, "a b c d"),                                // exactly one window
      (2L, "x"),                                      // shorter than window
      (3L, ""))                                       // empty -> no chunks
      .toDF("doc_id", "text")
    val out = Curation.chunkTokens(in, "doc_id", "text", window = 4, stride = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // naive chunker: starts 1, 1+stride, ... until a window reaches the end
    def naive(id: Long, ws: Seq[String]): Seq[(Long, Long, Long, Long, Long)] =
      if (ws.isEmpty) Seq.empty
      else Iterator.iterate(1)(_ + 3)
        .takeWhile(s => s == 1 || s - 3 + 4 <= ws.length)
        .zipWithIndex.map { case (s, i) =>
          val chunk = ws.slice(s - 1, s - 1 + 4)
          (id, i.toLong, s.toLong, chunk.length.toLong,
            TextOps.hash60Local(chunk.mkString(" ")))
        }.toSeq
    val expect = Seq(
      0L -> (1 to 10).map(i => s"w$i"),
      1L -> Seq("a", "b", "c", "d"),
      2L -> Seq("x"),
      3L -> Seq.empty[String]).flatMap { case (id, ws) => naive(id, ws) }
    assert(out.sorted.toSeq == expect.sorted)
    // 10 words / window 4 / stride 3 -> starts 1,4,7 (7+4-1=10 reaches the
    // end; start 10 is NOT emitted), last chunk full width here
    assert(out.count(_._1 == 0L) == 3)
    // chunking is a narrow op: no exchange anywhere in the plan
    val plan = Curation.chunkTokens(in, "doc_id", "text", 4, 3)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"chunking must not shuffle:\n$plan")
  }

  test("packing: per-shard concat-and-cut, boundary crossing, repartition-stable") {
    // 40 docs of 7 tokens, budget 10 -> most docs cross a cut point
    val in = (0L until 40L).map(i =>
      (i, (1 to 7).map(j => s"t${i}_$j").mkString(" "))).toDF("doc_id", "text")
    val rows = Curation.packSequences(in, "doc_id", "text",
      budget = 10L, nShards = 4, salt = "pack1")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(rows.length == 40)
    // local replay: shard by hash, order by id, running token offsets
    val byShard = (0L until 40L).groupBy(i => TextOps.hash60Local(s"$i:pack1") % 4)
    val expect = byShard.flatMap { case (shard, ids) =>
      ids.sorted.zipWithIndex.map { case (id, k) =>
        val begin = 7L * k
        (id, shard, 7L, begin, begin / 10L, (begin + 6L) / 10L,
          (begin + 6L) / 10L - begin / 10L + 1L)
      }
    }.toSeq
    assert(rows.sorted.toSeq == expect.sorted)
    // docs spanning a cut point report n_seqs = 2
    assert(rows.exists(_._7 == 2L))
    // assignment is a function of (id, tokens) alone - partitioning-invariant
    val re = Curation.packSequences(in.repartition(13), "doc_id", "text", 10L, 4, "pack1")
      .collect().map(r => (r.getLong(0), r.getLong(3))).sorted.toSeq
    assert(re == rows.map(r => (r._1, r._4)).sorted.toSeq)
  }

  test("mixture sampling: per-key weights, default fallback, local-hash parity") {
    val in = Seq((0L, "keep"), (1L, "keep"), (2L, "drop"), (3L, "half"),
      (4L, "half"), (5L, "keep")).toDF("doc_id", "source")
    val out = Curation.mixtureSample(in, "doc_id", "source",
      Seq("keep" -> 1000000L, "drop" -> 0L), defaultMicro = 500000L,
      salt = "mix1")
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out.size == 6)
    out.foreach { case (id, (key, bucket, weight, kept)) =>
      assert(bucket == TextOps.hash60Local(s"$id:mix1") % 1000000L)
      val expectW = key match {
        case "keep" => 1000000L; case "drop" => 0L; case _ => 500000L
      }
      assert(weight == expectW)
      assert(kept == (if (bucket < weight) 1L else 0L))
    }
    assert(out(0L)._4 == 1L && out(2L)._4 == 0L) // weight 1e6 keeps, 0 drops
    // narrow projection: no exchange
    val plan = Curation.mixtureSample(in, "doc_id", "source",
      Seq("keep" -> 1000000L), 500000L, "mix1")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"sampling must not shuffle:\n$plan")
  }

  test("repetition stats: dup-word ratio and top-bigram share in micro-units") {
    val in = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"), // 9 words, 8 distinct
      (1L, "a b a b a b"),                                 // heavy repetition
      (2L, "single"),                                      // no bigrams
      (3L, "short text"))                                  // exactly 1 bigram
      .toDF("doc_id", "text")
    val out = Curation.repetitionStats(in, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(0L) == ((9L, 1000000L / 9L, 1000000L / 8L)))
    // 6 words 2 distinct -> floor(4e6/6); 5 bigrams, "a b" x3 -> floor(3e6/5)
    assert(out(1L) == ((6L, 4000000L / 6L, 600000L)))
    assert(out(2L) == ((1L, 0L, 0L))) // no bigrams: share defaults to 0
    assert(out(3L) == ((2L, 0L, 1000000L)))
  }
}
