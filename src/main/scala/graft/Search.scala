package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Conjunctive top-k search with the reference's exact integer score math.
  *
  * Reference query path (src/bin/query.rs): per shard, fetch postings for all
  * query terms (ANY missing ⇒ shard skipped — AND semantics), compute integer
  * IDFs and shift denominators, then a SIMD fold that zeroes docs missing a
  * term and accumulates shifted u8 scores; global top-20 min-heap; results
  * gated on term_count >= 8. The query server loads every shard's term
  * header once at start (src/indexshard.rs:22-74) and reads only the query
  * terms' postings per request.
  *
  * Spark: an [[Search.Index]] is opened once over (postings, docmeta) and
  * holds the per-(shard, term) stats table in the header's role; a
  * persisted index also holds a copy of that table on the driver, as the
  * reference holds its headers. A query decides on the driver which shards
  * take part, with their shift vectors and the scanned count, from the
  * query terms' stats rows, and then runs a top-k over the postings of
  * those terms and shards: groupBy(epoch, doc) AND-check → the same fold as
  * a deterministic array fold → docmeta join → TakeOrderedAndProject. Over
  * a persisted index the top-k is the query's one Spark job, and a query
  * that no shard fully holds runs none.
  */
object Search {

  /** Integer score math, shared by the Spark path and unit tests
    * (SURVEY §7.4 risk 5: u32/u8 formulas as Long + clamps). */
  object ScoreMath {
    /** src/bin/query.rs:59-73 */
    def idf(df: Long, shardSize: Long): Long = {
      val normalized = df * 65536L / math.max(shardSize, 1L)
      val logIdf = 64 - java.lang.Long.numberOfLeadingZeros(normalized) // 0 when normalized==0
      1L << (logIdf / 2)
    }

    /** shift = position of next_power_of_two(d)'s bit (src/bin/query.rs:78) */
    def shiftOf(d: Long): Int = {
      val np = java.lang.Long.highestOneBit(math.max(d, 1L))
      val npow = if (np == d) d else np << 1
      63 - java.lang.Long.numberOfLeadingZeros(npow)
    }

    /** Per-shard shift vector for query terms, given (df, max) per term
      * (src/bin/query.rs:119-136 add_scores preamble). */
    def shifts(dfs: Seq[Long], maxs: Seq[Long], shardSize: Long): Seq[Int] = {
      val idfs0 = dfs.map(idf(_, shardSize))
      val minIdf = idfs0.min
      val idfs = idfs0.map(_ / minIdf)
      val termMaxs = maxs.zip(idfs).map { case (m, i) => m / i }
      val denominator = termMaxs.sum / 255L + 1L
      idfs.map(i => shiftOf(i * denominator))
    }

    /** The u8 SIMD fold (src/bin/query.rs:75-104): base = last term's shifted
      * score; for each earlier term in order: zero the doc if its shifted
      * posting is zero, else accumulate with wrapping u8 addition. */
    def fold(scores: Seq[Int], shiftVec: Seq[Int]): Int = {
      var s = (scores.last >> shiftVec.last) & 0xff
      var t = 0
      while (t < scores.length - 1) {
        val p = (scores(t) >> shiftVec(t)) & 0xff
        if (p == 0) s = 0
        else if (s != 0) s = (s + p) & 0xff
        t += 1
      }
      s
    }
  }

  /** Whitespace split + lowercase (src/bin/query.rs:294-299). */
  def splitQuery(q: String): Seq[String] =
    q.split("\\s+").filter(_.nonEmpty).map(_.toLowerCase).toSeq

  /** One row of the header: shard `epoch`'s docs with a non-zero score for
    * `term` (`df`), its max score (`mx`), and the shard's doc count. */
  final case class TermStats(epoch: Int, term: String, df: Long, mx: Long, shardSize: Long)

  /** An opened index, the role of the reference's loaded shards
    * (src/indexshard.rs:22-74). `postings` (epoch, term, doc_id, score) and
    * `docmeta` (epoch, doc_id, url, term_count) are both hash-partitioned by
    * (epoch, doc_id) into the session's shuffle-partition count, so a query's
    * per-doc aggregate and its url join need no exchange. `stats`
    * (epoch, term, df, mx, shard_size) is the header: per shard and term the
    * docs with a non-zero score and the max score, plus the shard's doc count.
    *
    * [[Index.open]] runs no job and builds the same plans for the same
    * tables, so an index opened over tables whose index was [[persist]]ed
    * reads the cached data: Spark's cache manager matches plans, not objects.
    * [[persist]] also collects `stats` to the driver ([[header]]), one row
    * per (epoch, term), which [[unpersist]] drops; only the index object
    * that was persisted holds it. */
  final case class Index(postings: DataFrame, docmeta: DataFrame, stats: DataFrame) {
    @volatile private var held: Option[Map[String, Array[TermStats]]] = None

    /** The driver-held header by term, while this index is persisted. */
    def header: Option[Map[String, Array[TermStats]]] = held

    /** Cache all three and compute them now; `stats` last, so it reads the
      * other two from the cache, and its one pass also fills [[header]]. */
    def persist(): Index = {
      Seq(postings, docmeta, stats).foreach(_.persist())
      Seq(postings, docmeta).foreach(_.count())
      held = Some(statsRows(stats).groupBy(_.term))
      this
    }

    /** Drop the header and the cached data; `stats` first, since its cache
      * was built from the other two. */
    def unpersist(): Unit = {
      held = None
      Seq(stats, docmeta, postings).foreach(_.unpersist())
    }
  }

  private def statsRows(stats: DataFrame): Array[TermStats] =
    stats.select("epoch", "term", "df", "mx", "shard_size").collect()
      .map(r => TermStats(r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))

  object Index {
    def open(postings: DataFrame, docmeta: DataFrame): Index = {
      val parts = postings.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
      val epoch = col("epoch").cast("int").as("epoch")
      val p = postings.select(epoch, col("term"), col("doc_id"), col("score"))
        .repartition(parts, col("epoch"), col("doc_id"))
      val d = docmeta.select(epoch, col("doc_id"), col("url"), col("term_count"))
        .repartition(parts, col("epoch"), col("doc_id"))
      val stats = p.groupBy(col("epoch"), col("term")).agg(
          count(when(col("score") > 0, 1)).as("df"),
          max(col("score")).cast("long").as("mx"))
        .join(d.groupBy(col("epoch")).agg(count(lit(1)).as("shard_size")), Seq("epoch"))
      Index(p, d, stats)
    }
  }

  /** Top-k conjunctive query over (postings, docmeta): [[answer]] over an
    * index opened for this call and not persisted (so it reads a persisted
    * index of the same tables, if there is one). */
  def search(spark: SparkSession, postings: DataFrame, docmeta: DataFrame,
             query: String, topK: Int = 20, termCountGate: Int = 8): DataFrame =
    answer(Index.open(postings, docmeta), query, topK, termCountGate)._2

  /** One query over an opened index: the reference's result-page `count`
    * and the top-k frame (url, score, term_count), best first.
    * `termCountGate` is the reference's `term_counts[id] >= 8`
    * (src/bin/query.rs:97) — parameterized because small test corpora have
    * log2(doc length) < 8.
    *
    * `count` is the number of docs SCANNED = the sizes of the shards that
    * hold every query term — the reference accumulates
    * `count += SHARD_SIZE * shards_scored` (src/bin/query.rs:158-172,260-263;
    * every doc of a participating shard goes through the scoring fold,
    * zeros included).
    *
    * The query terms' stats rows come from the index's [[Index.header]]
    * when it is persisted, and otherwise from one action that collects them
    * from `stats`. The stats table holds one row per (epoch, term), so that
    * is at most |epochs| × |distinct query terms| rows whatever the corpus
    * size — the data the reference reads from its shard headers. On the
    * driver the call keeps the shards that hold every term (AND semantics,
    * src/bin/query.rs:163-170), computes their shift vectors (the
    * add_scores preamble, src/bin/query.rs:119-136) and sums their sizes.
    * The top-k frame runs its one job when the caller collects it; if no
    * shard takes part it is empty and runs no job. */
  def answer(index: Index, query: String, topK: Int = 20,
             termCountGate: Int = 8): (Long, DataFrame) = {
    val terms = splitQuery(query)
    require(terms.nonEmpty, "empty query")
    val termsD = terms.distinct

    val termStats = index.header match {
      case Some(h) => termsD.flatMap(h.getOrElse(_, Array.empty[TermStats]))
      case None => statsRows(index.stats.filter(col("term").isin(termsD: _*))).toSeq
    }
    // the shards holding every query term, with their shift vectors
    val shards = termStats.groupBy(_.epoch).filter(_._2.length == termsD.size)
    val scanned = shards.values.map(_.head.shardSize).sum
    val shifts = shards.map { case (e, rows) =>
      val byTerm = rows.map(r => r.term -> r).toMap
      e -> ScoreMath.shifts(terms.map(byTerm(_).df), terms.map(byTerm(_).mx),
        rows.head.shardSize)
    }

    val foldUdf = udf((e: Int, m: Map[String, Int]) =>
      ScoreMath.fold(terms.map(t => m.getOrElse(t, 0)), shifts(e)))
    val perDoc = index.postings
      .filter(col("term").isin(termsD: _*) && col("epoch").isin(shifts.keys.toSeq: _*))
      .groupBy(col("epoch"), col("doc_id"))
      .agg(map_from_entries(collect_list(struct(col("term"), col("score")))).as("m"))
      .filter(size(col("m")) === termsD.size) // conjunctive AND (J4)
      .withColumn("score", foldUdf(col("epoch"), col("m")))
      .filter(col("score") > 0)
      .select("epoch", "doc_id", "score")

    val results = perDoc.hint("shuffle_hash") // co-partitioned: no exchange, no broadcast job
      .join(index.docmeta, Seq("epoch", "doc_id")) // J5: url lookup for winners
      .filter(col("term_count") >= termCountGate) // F10
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(if (shifts.isEmpty) 0 else topK) // limit 0 plans as an empty relation
      .select(col("url"), col("score"), col("term_count"))
    (scanned, results)
  }
}
