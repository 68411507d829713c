package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

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
  * Dot products are computed with built-in higher-order functions
  * (zip_with + aggregate) in double precision, left-to-right — codegen'd,
  * no UDF, and bit-reproducible.
  */
object Similarity {

  /** Sum of elementwise products, double precision, sequential. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column =
    sqrt(aggregate(transform(a, x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, x) => acc + x))

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
      .withColumn("proj",
        aggregate(
          zip_with(col("embedding"), element_at(wLit, col("plane") + 1),
            (x, w) => x.cast("double") * w),
          lit(0.0), (acc, x) => acc + x))
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

  /** IVF cell assignment: each vector joins its nearest centroid (argmax
    * cosine, ties to the lowest centroid id). The codebook broadcasts; the
    * corpus side is one narrow pass + a map-side-partial argmax aggregate —
    * no shuffle of the embeddings. */
  def ivfAssign(vectors: DataFrame, centroids: DataFrame): DataFrame =
    vectors
      // one norm per vector, not one per (vector, centroid) — the argmax
      // fans each vector out kCells ways and the renorm fold was O(dim)
      // on every fanned row (same operands/order, bit-identical sims)
      .withColumn("vn", norm(col("embedding")))
      .crossJoin(broadcast(
        centroids.select(col("vec_id").as("cid"), col("embedding").as("ce"),
          norm(col("embedding")).as("cn"))))
      .withColumn("sim", dot(col("embedding"), col("ce")) / (col("vn") * col("cn")))
      .groupBy(col("vec_id"))
      .agg(max(struct(col("sim"), (col("cid") * -1).as("ncid"), col("cid"))).as("m"))
      .select(col("vec_id"), col("m.cid").as("cell"))

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
    * LINEAGE: the centroid frame is kCells×dim — tiny — so each iteration
    * COLLECTS it to the driver and rebuilds a literal DataFrame for the
    * next assignment pass. Without that, iteration i's plan references
    * iteration i−1's unmaterialized frame twice (assignment + the
    * empty-cell coalesce) and the logical plan grows geometrically with
    * `iters` (fine at 2, pathological at 10+). One extra tiny action per
    * iteration buys flat lineage; values are bit-identical (the collected
    * doubles round-trip exactly).
    * Output: (vec_id = cell id 0..kCells-1, embedding array<double>). */
  def kmeansCodebook(vectors: DataFrame, kCells: Int, iters: Int): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val Scale = 1048576L // 2^20: float components scale exactly in a double
    // centroids live driver-side between iterations: id -> components
    var cents: Seq[(Long, Seq[Double])] = vectors.filter(col("vec_id") < kCells)
      .select(col("vec_id").cast("long"),
        transform(col("embedding"), x => x.cast("double")))
      .collect().toSeq
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
      .sortBy(_._1)
    def centsDf: DataFrame = cents.toDF("vec_id", "embedding")
    for (_ <- 0 until iters) {
      val asg = ivfAssign(vectors, centsDf)
      val trained = vectors.join(asg, "vec_id")
        .select(col("cell"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy(col("cell"), col("pos"))
        .agg(sum(round(col("v").cast("double") * Scale).cast("long")).as("s"),
          count(lit(1)).as("n"))
        // the same double math as the pre-flattening form: s / n / Scale
        .select(col("cell").cast("long"), col("pos"),
          (col("s").cast("double") / col("n") / Scale).as("v"))
        .collect()
        .groupBy(_.getLong(0))
        .map { case (cell, rows) =>
          cell -> rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq }
      // keep the old centroid for any cell that lost all members
      cents = cents.map { case (id, old) => (id, trained.getOrElse(id, old)) }
    }
    centsDf
  }

  /** [[ivfTopK]] against an explicit codebook (e.g. [[kmeansCodebook]]).
    * Same assignment / probe / per-cell-join plan — the codebook only
    * changes which vectors share a cell, i.e. recall. */
  def ivfTopKWith(queries: DataFrame, corpus: DataFrame, centroids: DataFrame,
                  nprobe: Int, k: Int): DataFrame = {
    val cells = ivfAssign(corpus, centroids)
    // norms once per side (query / member), not once per probe/candidate
    // row — same operands and order as cosine(), bit-identical sims
    val probes = queries
      .withColumn("qn", norm(col("embedding")))
      .crossJoin(broadcast(
        centroids.select(col("vec_id").as("cid"), col("embedding").as("ce"),
          norm(col("embedding")).as("cn"))))
      .withColumn("csim", dot(col("embedding"), col("ce")) / (col("qn") * col("cn")))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("vec_id")).orderBy(col("csim").desc, col("cid").asc)))
      .filter(col("rk") <= nprobe)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        col("qn"), col("cid").as("cell"))
    val members = cells.join(corpus, "vec_id")
      .select(col("cell"), col("vec_id").as("nid"), col("embedding").as("ne"),
        norm(col("embedding")).as("nn"))
    probes.join(members, Seq("cell"))
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
        transform(col("embedding"), x => x.cast("double")).as("de"))
      .select(col("vec_id"), col("sub"),
        slice(col("de"), col("sub") * d0 + 1, lit(d0)).as("se"))

  /** Euclidean assignment of every (vector, subspace) row to its nearest
    * codeword: argmin ||x−c||² = argmax dot(x,c) − ||c||²/2 for fixed x —
    * a broadcast of the tiny codebook, one map-side-partial argmax
    * aggregate, no embedding shuffle (the IVF-assign shape per subspace).
    * Ties go to the lowest codeword id. Output: (vec_id, sub, code). */
  private def pqAssign(subbed: DataFrame, books: DataFrame): DataFrame =
    subbed.join(broadcast(books), "sub")
      .withColumn("score",
        dot(col("se"), col("ce")) - dot(col("ce"), col("ce")) / 2)
      .groupBy(col("vec_id"), col("sub"))
      .agg(max(struct(col("score"), (col("cid") * -1).as("nc"), col("cid"))).as("mx"))
      .select(col("vec_id"), col("sub"), col("mx.cid").as("code"))

  private def pqBooksDf(spark: org.apache.spark.sql.SparkSession,
                        books: Seq[(Int, Long, Seq[Double])]): DataFrame = {
    import spark.implicits._
    books.toDF("sub", "cid", "ce")
  }

  /** Lloyd's-trained PQ codebooks: for each of `m` subspaces, `kCodes`
    * codewords refined over `iters` Euclidean k-means iterations — ALL
    * subspaces train in the same per-iteration job (one assignment pass +
    * one integer-scaled mean aggregate over the exploded frame, collected
    * at m·kCodes·d0 rows — driver-literal codebooks, flat lineage like
    * [[kmeansCodebook]]). Init: codeword j of subspace s = vector j's
    * subvector — which PRESUMES vec_ids are dense from 0 (the same
    * convention [[kmeansCodebook]] and [[ivfTopK]] use for their
    * first-k init); a sparse or offset id space is rejected below rather
    * than silently training fewer codewords. A codeword that loses all
    * members keeps its previous components.
    * Returns (sub, cid, components) rows. */
  def pqTrain(vectors: DataFrame, m: Int, kCodes: Int,
              iters: Int): Seq[(Int, Long, Seq[Double])] = {
    val spark = vectors.sparkSession
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
      val asg = pqAssign(subbed, pqBooksDf(spark, books))
      val trained = subbed.join(asg, Seq("vec_id", "sub"))
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
    pqAssign(pqSubbed(vectors, m, d0), pqBooksDf(vectors.sparkSession, books))
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
    val d0 = books.head._3.size
    val codes = pqEncode(corpus, books)
    val lut = pqSubbed(queries, m, d0)
      .join(broadcast(pqBooksDf(queries.sparkSession, books)), "sub")
      .select(col("vec_id").as("qid"), col("sub"), col("cid").as("code"),
        round(dot(col("se"), col("ce")) * PqScale).cast("long").as("dotm"),
        round(dot(col("ce"), col("ce")) * PqScale).cast("long").as("n2m"))
    val qnorms = queries.select(col("vec_id").as("qid"),
      norm(col("embedding")).as("qn"))
    codes.join(broadcast(lut), Seq("sub", "code"))
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

  /** IVF-PQ composed ANN, IVFADC-style (after Jégou et al. 2011 §V):
    * IVF restricts the scan to `nprobe` cells' members, PQ-ADC scores
    * those candidates from their CODES. Unlike the paper (and FAISS
    * IVFPQ), the codes quantize the RAW vectors with one codebook shared
    * by every cell, not the residuals (vector minus its assigned
    * centroid); the q54 oracle twin encodes the same way. Both halves
    * already exist ([[ivfTopK]]'s probe plan, [[pqTopK]]'s LUT plan); the composition
    * inserts the probe join before the ADC join, so the scoring pass
    * touches nprobe/kCells of the code table and the raw embeddings
    * never enter the hot path at all. Same determinism discipline:
    * integer-scaled LUT partials summed as longs, broadcast probes/LUT/
    * norms, codes never shuffle. Output: (vec_id, nn_id, rank, sim) —
    * sim rounded to 4 dp, rank ties by nn_id asc, self excluded. */
  def ivfpqTopK(queries: DataFrame, corpus: DataFrame, kCells: Int,
                nprobe: Int, m: Int, kCodes: Int, iters: Int,
                k: Int): DataFrame = {
    val centroids = corpus.filter(col("vec_id") < kCells)
    val cells = ivfAssign(corpus, centroids)
    val books = pqTrain(corpus, m, kCodes, iters)
    val d0 = books.head._3.size
    val codes = pqEncode(corpus, books)
    val probes = queries
      .withColumn("qn", norm(col("embedding")))
      .crossJoin(broadcast(
        centroids.select(col("vec_id").as("cid"), col("embedding").as("ce"),
          norm(col("embedding")).as("cn"))))
      .withColumn("csim", dot(col("embedding"), col("ce")) / (col("qn") * col("cn")))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("vec_id")).orderBy(col("csim").desc, col("cid").asc)))
      .filter(col("rk") <= nprobe)
      .select(col("vec_id").as("qid"), col("cid").as("cell"))
    val lut = pqSubbed(queries, m, d0)
      .join(broadcast(pqBooksDf(queries.sparkSession, books)), "sub")
      .select(col("vec_id").as("qid"), col("sub"), col("cid").as("code"),
        round(dot(col("se"), col("ce")) * PqScale).cast("long").as("dotm"),
        round(dot(col("ce"), col("ce")) * PqScale).cast("long").as("n2m"))
    val qnorms = queries.select(col("vec_id").as("qid"),
      norm(col("embedding")).as("qn"))
    codes.join(cells, "vec_id")
      .join(broadcast(probes), Seq("cell"))
      .join(broadcast(lut), Seq("qid", "sub", "code"))
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
