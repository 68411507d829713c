package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.GraftColumns.column
import org.apache.spark.sql.classic.ColumnConversions.expression
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{Codebooks, Dot, NearestCodeword}

/** Approximate-nearest-neighbor search over an embedding column
  * (array<float>).
  *
  * Two tiers:
  *  - [[bruteTopK]]: exact cosine top-k via a (queries × corpus) join —
  *    the correctness baseline. The join is a broadcast of the (small) query
  *    side against the corpus scan, so the corpus never shuffles; cost is
  *    O(|Q|·|C|·d) compute, embarrassingly parallel.
  *  - [[lshBuckets]] + [[lshTopK]]: the scale path — random-hyperplane LSH
  *    (Charikar 2002). Sign-pattern bucket per vector; candidates only meet
  *    within a bucket, turning the quadratic join into a per-bucket join.
  *    Hyperplanes are ±1 Rademacher vectors derived from the portable
  *    md5 hash, so bucket assignment is engine-reproducible (no RNG state).
  *
  * Every dot product and norm is the native `graft_dot` kernel
  * ([[graft.functions.Dot]]): double precision, summed left to right from
  * 0.0, one codegen'd loop per row, no UDF — bit-identical to the
  * `aggregate(zip_with(...))` fold it replaced, whose interpreted lambdas
  * got no codegen. Nearest-codeword assignment (IVF cells, PQ codes) is the
  * [[graft.functions.NearestCodeword]] kernel over a codebook held on the
  * driver: one narrow pass, no join and no shuffle.
  */
object Similarity {

  /** Sum of elementwise products, double precision, left to right from 0.0
    * (`graft_dot`). */
  def dot(a: Column, b: Column): Column = column(Dot(expression(a), expression(b)))

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Exact top-k neighbors for each vector of `queries` within `corpus`.
    * Output: (vec_id, nn_id, rank, sim) — sim rounded to 4 dp for
    * cross-engine comparison; rank ties broken by nn_id asc.
    * `queries` is broadcast: the corpus side stays un-shuffled.
    *
    * Norms are computed ONCE PER SIDE before the join (an O(dim) fold per
    * pair otherwise — at |Q|·|C| pairs the per-pair renormalization was
    * the dominant term). sim = dot/(qn·cn) is the same operands in the
    * same order as cosine(), so values are bit-identical. */
  def bruteTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = broadcast(queries.select(col("vec_id").as("qid"),
      col("embedding").as("qe"), norm(col("embedding")).as("qn")))
    val c = corpus.select(col("vec_id").as("cid"),
      col("embedding").as("ce"), norm(col("embedding")).as("cn"))
    val scored = c.join(q, col("qid") =!= col("cid"))
      .withColumn("sim", dot(col("qe"), col("ce")) / (col("qn") * col("cn")))
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("cid").asc)))
      .filter(col("rank") <= k)
      .select(col("qid").as("vec_id"), col("cid").as("nn_id"), col("rank"),
        round(col("sim"), 4).as("sim"))
  }

  /** Rademacher ±1 hyperplane weight for (plane p, dimension d), driver
    * side: the value the old in-plan expression computed per corpus
    * element — hash60("p|d")'s parity mapped to ±1. */
  private def planeWeightLocal(p: Int, d: Int): Double =
    ((TextOps.hash60Local(s"$p|$d") & 1L) * 2L - 1L).toDouble

  /** LSH bucket id for each vector: `planes` sign bits packed into a long.
    * Pure Catalyst: explodes (vector × plane), one groupBy(vec_id) —
    * shuffle carries one long per (vec, plane).
    *
    * The Rademacher weight matrix depends only on (plane, dim) — tables ×
    * planes × dim values, a few KB — so it is PRECOMPUTED on the driver
    * and shipped as one literal array-of-arrays. The previous form
    * evaluated an md5 per (vector, plane, dimension) inside the projection
    * — at n vectors that is n·planes·dim md5s of work that never changes,
    * and it dominated the bucket phase (measured ~5× on the q28 path).
    * Values are bit-identical: hash60Local == hash60 (test-pinned).
    *
    * With `tables` > 1 (OR-amplification, the classical multi-table LSH
    * recall fix): `tables` independent plane sets, one signature per
    * (vector, table), output rows (vec_id, bucket) where bucket packs
    * (table << planes | signature) — so every downstream per-bucket join
    * works unchanged on the composite key. Table 0's planes are the same
    * global plane ids as the single-table form, so multi-table candidate
    * sets are supersets of single-table ones (test-pinned). */
  def lshBuckets(vectors: DataFrame, planes: Int, tables: Int = 1): DataFrame = {
    // one-row peek for the dimensionality (the matrix must be sized before
    // the plan is built; the action reads a single row, not the table);
    // an empty input yields an empty (vec_id, bucket) frame, not a crash
    val peek = vectors.select(size(col("embedding"))).limit(1).collect()
    if (peek.isEmpty)
      return vectors.select(col("vec_id"), lit(0L).as("bucket")).limit(0)
    val dim = peek(0).getInt(0)
    val weights: Seq[Seq[Double]] = Seq.tabulate(tables * planes, dim)(planeWeightLocal)
    val wLit = typedLit(weights)
    val byPlane = vectors
      .select(col("vec_id"), col("embedding"),
        explode(sequence(lit(0), lit(tables * planes - 1), lit(1))).as("plane"))
      .withColumn("proj", dot(col("embedding"), element_at(wLit, col("plane") + 1)))
      .withColumn("table", (col("plane") / planes).cast("int"))
      .withColumn("bitval",
        when(col("proj") > 0,
          expr(s"shiftleft(CAST(1 AS BIGINT), plane % $planes)")).otherwise(lit(0L)))
    byPlane.groupBy(col("vec_id"), col("table"))
      .agg(sum(col("bitval")).as("sig"))
      .select(col("vec_id"),
        (col("table").cast("long") * (1L << planes) + col("sig")).as("bucket"))
  }

  /** All intra-bucket ordered pairs with BOUNDED task input — the guard
    * against a pathological LSH bucket (a pile of near-identical vectors
    * hashes into one bucket, whose full pair-cross would otherwise land in
    * one join task). Buckets over `cap` rows split into s = ceil(pop/cap)
    * salted subgroups; side A replicates each row to keys (g_a, j) for all
    * j, side B to (i, g_b), and the equi-join on (bucket, key1, key2)
    * matches every pair EXACTLY once — per-task input ≤ ~2·cap rows, output
    * ≤ cap². Exactness preserved; the s-fold replication is paid only by
    * oversized buckets (s = 1 elsewhere, zero overhead).
    * Output: (bucket, qid, qe, qn, cid, ce, cn) for all qid ≠ cid pairs —
    * each side's norm precomputed once (see [[pairSim]]). */
  private def boundedBucketPairs(withBucket: DataFrame, cap: Int): DataFrame = {
    val pops = withBucket.groupBy(col("bucket")).agg(count(lit(1)).as("pop"))
    // each side's norm rides the pair join as a precomputed column:
    // renormalizing per candidate pair is an O(dim) fold times the whole
    // candidate volume, and it was a major slice of the LSH-ANN path
    val withS = withBucket
      .withColumn("nrm", norm(col("embedding")))
      .join(pops, "bucket")
      .withColumn("s", ceil(col("pop").cast("double") / cap).cast("int"))
      .withColumn("g", pmod(xxhash64(col("vec_id")), col("s")).cast("int"))
    val aSide = withS.select(col("bucket"), col("g").as("k1"),
      explode(sequence(lit(0), col("s") - 1)).as("k2"),
      col("vec_id").as("qid"), col("embedding").as("qe"), col("nrm").as("qn"))
    val bSide = withS.select(col("bucket"),
      explode(sequence(lit(0), col("s") - 1)).as("k1"), col("g").as("k2"),
      col("vec_id").as("cid"), col("embedding").as("ce"), col("nrm").as("cn"))
    aSide.join(bSide, Seq("bucket", "k1", "k2"))
      .filter(col("qid") =!= col("cid"))
      .drop("k1", "k2")
  }

  /** sim over [[boundedBucketPairs]] output — the same operands in the
    * same order as cosine(qe, ce), with norms from the carried columns,
    * so the value is bit-identical. */
  private def pairSim: Column = dot(col("qe"), col("ce")) / (col("qn") * col("cn"))

  /** Bucketed ANN: exact cosine top-k but only within each LSH bucket.
    * Output: (vec_id, nn_id, rank, sim). The pairwise join is per-bucket —
    * with p planes, expected bucket population is n/2^p, so the quadratic
    * term collapses by 4^p/… versus brute force; `bucketCap` bounds the
    * degenerate-bucket case (see [[boundedBucketPairs]]). */
  def lshTopK(vectors: DataFrame, planes: Int, k: Int,
              bucketCap: Int = 4096, tables: Int = 1): DataFrame = {
    val withBucket = vectors.join(lshBuckets(vectors, planes, tables), "vec_id")
    // a pair sharing buckets in several tables appears once per table:
    // dedup on the compact (qid, cid, sim) triple BEFORE ranking (sims of
    // duplicate pairs are bit-identical, so distinct is exact)
    boundedBucketPairs(withBucket, bucketCap)
      .withColumn("sim", pairSim)
      .select(col("qid"), col("cid"), col("sim")).distinct()
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("cid").asc)))
      .filter(col("rank") <= k)
      .select(col("qid").as("vec_id"), col("cid").as("nn_id"), col("rank"),
        round(col("sim"), 4).as("sim"))
  }

  /** Number of DISTINCT ordered candidate pairs an LSH setting generates
    * (after multi-table dedup) — the recall/cost denominator `AnnSweep`
    * reports. Routed through [[boundedBucketPairs]] with the same default
    * cap as [[lshTopK]], so even this diagnostic carries the
    * degenerate-bucket guard (no unbounded bucket self-join anywhere);
    * column pruning drops the carried embedding columns before the join,
    * and the pair set counted is identical to the production candidates. */
  def lshCandidatePairCount(vectors: DataFrame, planes: Int,
                            tables: Int = 1, bucketCap: Int = 4096): Long = {
    val withBucket = vectors.join(lshBuckets(vectors, planes, tables), "vec_id")
    boundedBucketPairs(withBucket, bucketCap)
      .select(col("qid"), col("cid"))
      .distinct().count()
  }

  /** A codebook held on the driver: (id, components), components null when
    * the embedding is null or holds a null (its dot products are null). */
  private type Codewords = Seq[(Long, Array[Double])]

  /** The centroid frame's rows, collected — one small action, in place of
    * the broadcast the codebook join needed. */
  private def collectCodewords(centroids: DataFrame): Codewords =
    centroids.select(col("vec_id").cast("long"), col("embedding").cast("array<double>"))
      .collect().toSeq.map { r =>
        val v = if (r.isNullAt(1)) null else r.getSeq[Any](1)
        (r.getLong(0),
          if (v == null || v.contains(null)) null else v.map(_.asInstanceOf[Double]).toArray)
      }

  private case class Codeword(cid: Long, ce: Option[Seq[Double]])

  /** The codewords as one literal array<struct<cid, ce>>, for plans that
    * fan a row out over every codeword (probes, ADC tables). */
  private def codewordsLit(cws: Codewords): Column =
    typedLit(cws.map { case (id, v) => Codeword(id, Option(v).map(_.toSeq)) })

  /** Id of `vector`'s best codeword in group `group` of `books`, or null
    * when that group is empty ([[NearestCodeword]]). */
  private def nearest(vector: Column, group: Column, books: Codebooks): Column =
    column(NearestCodeword(expression(vector), expression(group), books))

  /** `vectors` plus `cell`, its nearest centroid: argmax cosine, ties to the
    * lowest id, computed in place by the nearest-codeword kernel. A narrow
    * projection: no join against the codebook, no shuffle. Rows drop only
    * when there are no centroids. */
  private def withCell(vectors: DataFrame, cents: Codewords): DataFrame =
    vectors.withColumn("cell", nearest(col("embedding"), lit(0), Codebooks(Seq(cents), cosine = true)))
      .filter(col("cell").isNotNull)

  /** IVF cell assignment: (vec_id, cell), each vector's nearest centroid
    * (argmax cosine, ties to the lowest centroid id). The centroids are
    * collected to the driver and every vector takes its argmax in place —
    * one narrow pass over `vectors`, no join, no shuffle. */
  def ivfAssign(vectors: DataFrame, centroids: DataFrame): DataFrame =
    withCell(vectors, collectCodewords(centroids)).select(col("vec_id"), col("cell"))

  /** Lloyd's k-means codebook for IVF, spherical flavor (assignment by
    * cosine, as [[ivfAssign]]). Init = the first `kCells` corpus vectors;
    * each iteration reassigns every vector to its nearest centroid and
    * recomputes each centroid as the elementwise mean of its members.
    *
    * DETERMINISM AT SCALE: the mean is computed over integer-scaled
    * components (round(x * 2^20) summed as longs) — integer addition is
    * order-independent, so the trained codebook is bit-identical however
    * Spark partitions or reorders the corpus (a double-sum mean would drift
    * with partitioning), and a SQL twin can replay it exactly. The shuffle
    * per iteration carries only (cell, pos, partial-sum) after map-side
    * combine — O(parts * kCells * dim), never the embeddings themselves.
    * Cells that lose all members keep their previous centroid.
    *
    * LINEAGE: the centroids are kCells×dim — tiny — so they live on the
    * driver between iterations, and each iteration's assignment takes them
    * as a literal codebook ([[withCell]]): every iteration's plan is the
    * same size, one narrow assignment pass plus the mean aggregate's one
    * shuffle. The collected doubles round-trip exactly.
    * Output: (vec_id = cell id 0..kCells-1, embedding array<double>). */
  def kmeansCodebook(vectors: DataFrame, kCells: Int, iters: Int): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val Scale = 1048576L // 2^20: float components scale exactly in a double
    // centroids live driver-side between iterations: id -> components
    var cents: Seq[(Long, Seq[Double])] = vectors.filter(col("vec_id") < kCells)
      .select(col("vec_id").cast("long"), col("embedding").cast("array<double>"))
      .collect().toSeq
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
      .sortBy(_._1)
    for (_ <- 0 until iters) {
      val trained = withCell(vectors, cents.map { case (id, v) => (id, v.toArray) })
        .select(col("cell"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy(col("cell"), col("pos"))
        .agg(sum(round(col("v").cast("double") * Scale).cast("long")).as("s"),
          count(lit(1)).as("n"))
        // the same double math as the pre-flattening form: s / n / Scale
        .select(col("cell"), col("pos"),
          (col("s").cast("double") / col("n") / Scale).as("v"))
        .collect()
        .groupBy(_.getLong(0))
        .map { case (cell, rows) =>
          cell -> rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq }
      // keep the old centroid for any cell that lost all members
      cents = cents.map { case (id, old) => (id, trained.getOrElse(id, old)) }
    }
    cents.toDF("vec_id", "embedding")
  }

  /** IVF probe: each query's `nprobe` nearest cells by cosine, ties to the
    * lowest cell id. Output (qid, qe, qn, cell) — qn = ‖query‖, computed
    * once per query. The query fans out over the literal codebook (no
    * join); the ranking window shuffles only (query × cell) rows. */
  private def ivfProbes(queries: DataFrame, cents: Codewords, nprobe: Int): DataFrame =
    queries.select(col("vec_id").as("qid"), col("embedding").as("qe"),
        norm(col("embedding")).as("qn"), explode(codewordsLit(cents)).as("c"))
      .withColumn("csim", dot(col("qe"), col("c.ce")) / (col("qn") * norm(col("c.ce"))))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("csim").desc, col("c.cid").asc)))
      .filter(col("rk") <= nprobe)
      .select(col("qid"), col("qe"), col("qn"), col("c.cid").as("cell"))

  /** [[ivfTopK]] against an explicit codebook (e.g. [[kmeansCodebook]]).
    * Same assignment / probe / per-cell-join plan — the codebook only
    * changes which vectors share a cell, i.e. recall. */
  def ivfTopKWith(queries: DataFrame, corpus: DataFrame, centroids: DataFrame,
                  nprobe: Int, k: Int): DataFrame = {
    val cents = collectCodewords(centroids)
    // norms once per side (query / member), not once per probe/candidate
    // row — same operands and order as cosine(), bit-identical sims
    val members = withCell(corpus, cents)
      .select(col("cell"), col("vec_id").as("nid"), col("embedding").as("ne"),
        norm(col("embedding")).as("nn"))
    ivfProbes(queries, cents, nprobe).join(members, Seq("cell"))
      .filter(col("qid") =!= col("nid"))
      .withColumn("sim", dot(col("qe"), col("ne")) / (col("qn") * col("nn")))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid").asc)))
      .filter(col("rank") <= k)
      .select(col("qid").as("vec_id"), col("nid").as("nn_id"), col("rank"),
        round(col("sim"), 4).as("sim"))
  }

  /** IVF-flat ANN: the inverted-file scale path (Sivic-Zisserman 2003 /
    * FAISS IVF). The corpus is partitioned into `kCells` cells by nearest
    * centroid; a query ranks the centroids, probes its `nprobe` closest
    * cells, and computes exact cosine only against those cells' members —
    * scanning nprobe/kCells of the corpus instead of all of it.
    *
    * The codebook here is DETERMINISTIC (the first kCells corpus vectors) so
    * the driver's DuckDB oracle reproduces the result bit-exactly; the
    * [[kmeansCodebook]]-trained variant ([[ivfTopKWith]]) shares the
    * assignment / probe / per-cell-join plan, which is the part that matters
    * at 100 TB. With nprobe = kCells the result equals exact brute-force
    * top-k (test-asserted). Output: (vec_id, nn_id, rank, sim). */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, kCells: Int,
              nprobe: Int, k: Int): DataFrame =
    ivfTopKWith(queries, corpus, corpus.filter(col("vec_id") < kCells),
      nprobe, k)

  // ---- Product quantization (PQ-ADC) --------------------------------
  //
  // The memory-bound ANN path at 100 TB (Jégou, Douze, Schmid 2011,
  // "Product Quantization for Nearest Neighbor Search"): the embedding is
  // split into `m` subspaces, each quantized against its own k-codeword
  // codebook, and a corpus vector is stored as m SMALL INTS — at m=4,
  // k=16 over 64 float dims that is a 64× compression of the column the
  // scoring pass has to move. Queries stay exact; scoring is ADC
  // (asymmetric distance computation): one tiny per-query lookup table
  // (m·k partial dot products) broadcast against the narrow code table —
  // the full embeddings never shuffle and never rejoin the hot path.
  //
  // DETERMINISM, same discipline as [[kmeansCodebook]]: codebooks train
  // with integer-scaled order-independent mean updates; ADC partials are
  // integer-scaled longs summed over m subspaces (long addition is
  // order-independent where double addition is not), so scores — and
  // therefore ranks — are bit-identical under any partitioning and
  // exactly replayable by the DuckDB oracle twin (O:q53).

  private val PqScale = 1048576L // 2^20, same exact-in-double scale as k-means

  /** (vectors × subspaces) exploded frame: (vec_id, sub, se) where se is
    * the d0-component double subvector. One narrow projection — the shape
    * every PQ pass (train / encode / LUT) shares. */
  private def pqSubbed(vectors: DataFrame, m: Int, d0: Int): DataFrame =
    vectors.select(col("vec_id"),
        explode(sequence(lit(0), lit(m - 1), lit(1))).as("sub"),
        col("embedding").cast("array<double>").as("de"))
      .select(col("vec_id"), col("sub"),
        slice(col("de"), col("sub") * d0 + 1, lit(d0)).as("se"))

  /** The books' codewords grouped by subspace: index s holds subspace s's. */
  private def bySub(books: Seq[(Int, Long, Seq[Double])]): Seq[Codewords] =
    Seq.tabulate(books.map(_._1).max + 1)(s =>
      books.filter(_._1 == s).map(b => (b._2, b._3.toArray)))

  /** `subbed` plus `code`: each (vector, subspace) row's nearest codeword
    * in Euclidean distance — argmin ‖x−c‖² = argmax dot(x,c) − ‖c‖²/2 for
    * fixed x, ‖c‖²/2 computed once per codeword — ties to the lowest
    * codeword id. In place per row by the nearest-codeword kernel: no
    * join, no shuffle. */
  private def withCode(subbed: DataFrame, books: Seq[(Int, Long, Seq[Double])]): DataFrame =
    subbed.withColumn("code", nearest(col("se"), col("sub"), Codebooks(bySub(books), cosine = false)))
      .filter(col("code").isNotNull)

  /** Lloyd's-trained PQ codebooks: for each of `m` subspaces, `kCodes`
    * codewords refined over `iters` Euclidean k-means iterations — ALL
    * subspaces train in the same per-iteration job (one narrow assignment
    * pass + one integer-scaled mean aggregate over the exploded frame,
    * collected at m·kCodes·d0 rows — driver-literal codebooks, flat lineage
    * like [[kmeansCodebook]]). Init: codeword j of subspace s = vector j's
    * subvector — which PRESUMES vec_ids are dense from 0 (the same
    * convention [[kmeansCodebook]] and [[ivfTopK]] use for their
    * first-k init); a sparse or offset id space is rejected below rather
    * than silently training fewer codewords. A codeword that loses all
    * members keeps its previous components.
    * Returns (sub, cid, components) rows. */
  def pqTrain(vectors: DataFrame, m: Int, kCodes: Int,
              iters: Int): Seq[(Int, Long, Seq[Double])] = {
    val peek = vectors.select(size(col("embedding"))).limit(1).collect()
    require(peek.nonEmpty, "pqTrain: empty corpus")
    val dim = peek(0).getInt(0)
    require(dim % m == 0, s"pqTrain: dim $dim not divisible by m=$m")
    val d0 = dim / m
    val subbed = pqSubbed(vectors, m, d0)
    var books: Seq[(Int, Long, Seq[Double])] =
      subbed.filter(col("vec_id") < kCodes)
        .select(col("vec_id").cast("long"), col("sub"), col("se"))
        .collect().toSeq
        .map(r => (r.getInt(1), r.getLong(0), r.getSeq[Double](2)))
        .sortBy(b => (b._1, b._2))
    require(books.size == m * kCodes,
      s"pqTrain: init found ${books.size / m} of $kCodes codewords — " +
        "vec_ids must be dense from 0 (kmeansCodebook/ivfTopK convention)")
    for (_ <- 0 until iters) {
      val trained = withCode(subbed, books)
        .select(col("sub"), col("code"), posexplode(col("se")).as(Seq("pos", "v")))
        .groupBy(col("sub"), col("code"), col("pos"))
        .agg(sum(round(col("v") * PqScale).cast("long")).as("s"),
          count(lit(1)).as("n"))
        .select(col("sub"), col("code"), col("pos"),
          (col("s").cast("double") / col("n") / PqScale).as("v"))
        .collect()
        .groupBy(r => (r.getInt(0), r.getLong(1)))
        .map { case (key, rows) =>
          key -> rows.sortBy(_.getInt(2)).map(_.getDouble(3)).toSeq }
      books = books.map { case (s, c, old) =>
        (s, c, trained.getOrElse((s, c), old)) }
    }
    books
  }

  /** PQ codes for every corpus vector: (vec_id, sub, code) — the narrow
    * persisted representation (m small ints per vector) the ADC scoring
    * pass reads instead of the embedding column. */
  def pqEncode(vectors: DataFrame,
               books: Seq[(Int, Long, Seq[Double])]): DataFrame = {
    val m = books.map(_._1).max + 1
    val d0 = books.head._3.size
    withCode(pqSubbed(vectors, m, d0), books).select(col("vec_id"), col("sub"), col("code"))
  }

  /** ADC lookup table: for every query, subspace and codeword, the
    * integer-scaled partial dot `dotm` and codeword norm² `n2m` —
    * (qid, sub, code, dotm, n2m), m·kCodes rows per query. Each (query,
    * subspace) row fans out over its subspace's literal codebook (no
    * join). */
  private def adcTable(queries: DataFrame, books: Seq[(Int, Long, Seq[Double])]): DataFrame = {
    val subs = bySub(books)
    pqSubbed(queries, subs.size, books.head._3.size)
      .select(col("vec_id").as("qid"), col("sub"), col("se"),
        explode(element_at(array(subs.map(codewordsLit): _*), col("sub") + 1)).as("c"))
      .select(col("qid"), col("sub"), col("c.cid").as("code"),
        round(dot(col("se"), col("c.ce")) * PqScale).cast("long").as("dotm"),
        round(dot(col("c.ce"), col("c.ce")) * PqScale).cast("long").as("n2m"))
  }

  /** ADC top-k over (qid, vec_id, dotm, n2m) candidate rows, one per
    * (query, candidate, subspace): the integer-scaled partials sum per
    * pair, approx sim = dot(q, x̂) / (‖q‖·‖x̂‖), self excluded, rank ties
    * by nn_id asc. */
  private def adcTopK(partials: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val qnorms = queries.select(col("vec_id").as("qid"),
      norm(col("embedding")).as("qn"))
    partials
      .groupBy(col("qid"), col("vec_id"))
      .agg(sum(col("dotm")).as("dots"), sum(col("n2m")).as("n2s"))
      .filter(col("qid") =!= col("vec_id"))
      .join(broadcast(qnorms), "qid")
      .withColumn("sim",
        (col("dots").cast("double") / PqScale) /
          (col("qn") * sqrt(col("n2s").cast("double") / PqScale)))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("vec_id").asc)))
      .filter(col("rank") <= k)
      .select(col("qid").as("vec_id"), col("vec_id").as("nn_id"), col("rank"),
        round(col("sim"), 4).as("sim"))
  }

  /** PQ-ADC approximate top-k: train codebooks on `corpus`, encode it,
    * then score every query against the CODES ONLY — per query a LUT of
    * m·kCodes integer-scaled partial dots broadcasts against the code
    * table; approx sim = dot(q, x̂) / (‖q‖·‖x̂‖) where x̂ is the
    * reconstruction (so ‖x̂‖² = Σ_sub ‖c_code‖², also carried as scaled
    * longs in the LUT). Output: (vec_id, nn_id, rank, sim) — sim rounded
    * to 4 dp, rank ties by nn_id asc, self excluded. */
  def pqTopK(queries: DataFrame, corpus: DataFrame, m: Int, kCodes: Int,
             iters: Int, k: Int): DataFrame = {
    val books = pqTrain(corpus, m, kCodes, iters)
    adcTopK(pqEncode(corpus, books).join(broadcast(adcTable(queries, books)), Seq("sub", "code")),
      queries, k)
  }

  /** IVF-PQ composed ANN, IVFADC-style (after Jégou et al. 2011 §V):
    * IVF restricts the scan to `nprobe` cells' members, PQ-ADC scores
    * those candidates from their CODES. Unlike the paper (and FAISS
    * IVFPQ), the codes quantize the RAW vectors with one codebook shared
    * by every cell, not the residuals (vector minus its assigned
    * centroid); the q54 oracle twin encodes the same way. Both halves
    * already exist ([[ivfProbes]], [[adcTable]]); the composition
    * inserts the probe join before the ADC join, so the scoring pass
    * touches nprobe/kCells of the code table and the raw embeddings
    * never enter the hot path at all. Same determinism discipline:
    * integer-scaled LUT partials summed as longs, broadcast probes/LUT/
    * norms, codes never shuffle. Output: (vec_id, nn_id, rank, sim) —
    * sim rounded to 4 dp, rank ties by nn_id asc, self excluded. */
  def ivfpqTopK(queries: DataFrame, corpus: DataFrame, kCells: Int,
                nprobe: Int, m: Int, kCodes: Int, iters: Int,
                k: Int): DataFrame = {
    val cents = collectCodewords(corpus.filter(col("vec_id") < kCells))
    val cells = withCell(corpus, cents).select(col("vec_id"), col("cell"))
    val books = pqTrain(corpus, m, kCodes, iters)
    val probes = ivfProbes(queries, cents, nprobe).select(col("qid"), col("cell"))
    adcTopK(pqEncode(corpus, books).join(cells, "vec_id")
        .join(broadcast(probes), Seq("cell"))
        .join(broadcast(adcTable(queries, books)), Seq("qid", "sub", "code")),
      queries, k)
  }

  /** Embedding-cosine near-duplicate pairs: (id_a, id_b, sim) with
    * sim ≥ threshold, id_a < id_b — brute within LSH buckets, degenerate
    * buckets bounded by `bucketCap`. */
  def embeddingNearDups(vectors: DataFrame, planes: Int, simThreshold: Double,
                        bucketCap: Int = 4096): DataFrame = {
    val withBucket = vectors.join(lshBuckets(vectors, planes), "vec_id")
    boundedBucketPairs(withBucket, bucketCap)
      .filter(col("qid") < col("cid"))
      .withColumn("sim", pairSim)
      .filter(col("sim") >= simThreshold)
      .select(col("qid").as("id_a"), col("cid").as("id_b"),
        round(col("sim"), 4).as("sim"))
  }
}
