package perfbench

import graft._
import graft.ops.{Dedup, Similarity}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Workload `curate`: the training-data operators through
  * `SparkEntry.queries` on generated `documents` / `embeddings` tables —
  * q39 near-dup keepers, q22 exact Jaccard pairs, and the ANN top-k
  * queries q28 (LSH), q42 (IVF), q53 (PQ) and q54 (IVF-PQ). The tables are
  * written by the runner from the seed; their rows are checked against the
  * DuckDB twins in `SparkEntry.oracleSql` by the runner. */
object CurateBench {
  val NearDup = "q39_near_dup_pipeline"
  val Jaccard = "q22_jaccard_pairs"
  val Ann = Seq("q28_lsh_ann_topk", "q42_ivf_ann_topk", "q53_pq_ann", "q54_ivfpq_ann")
  val Keys: Seq[String] = NearDup +: Jaccard +: Ann
  val AnnQueries = 40 // the ANN queries ask for the neighbours of vec_id < 40

  /** recall@3 of an ANN result against brute force, over vec_id < AnnQueries. */
  def recall(approx: DataFrame, brute: Map[Long, Set[Long]]): Double = {
    val got = approx.filter(col("vec_id") < AnnQueries).select("vec_id", "nn_id").collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    brute.map { case (q, want) => (got.getOrElse(q, Set.empty) & want).size.toDouble / want.size }
      .sum / brute.size
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val data = ctx.dir("curate-in")
    def query(k: String, tables: String = data): DataFrame = SparkEntry.queries(k)(spark, tables)
    val nDocs = spark.read.parquet(s"$data/documents.parquet").count()

    ctx.note("spark up")
    // priming: every query once, on small tables of their own
    Keys.foreach(k => query(k, ctx.dir("curate-prime")).write.format("noop").mode("overwrite").save())
    ctx.note("primed")

    // timed rounds; each writes its rows, and the first round's are checked
    var rounds = Seq.empty[Map[String, Double]]
    val start = System.nanoTime()
    while (rounds.isEmpty || (System.nanoTime() - start) / 1e9 < ctx.seconds)
      rounds :+= Keys.map { k =>
        val layer = if (Ann.contains(k)) "Similarity" else "Dedup"
        val out = ctx.dir(s"curate-out/${rounds.size}/$k")
        k -> ctx.timed(ctx.tr(layer, k) {
          query(k).write.mode("overwrite").parquet(out)
        })._2
      }.toMap
    ctx.note("rounds: " + rounds.map(r => Keys.map(k => f"${r(k)}%.2f").mkString(" ")).mkString(" | "))

    val e2e = Map(
      "throughput_per_s" -> Stats.median(rounds.map(r => 2 * nDocs / (r(NearDup) + r(Jaccard)))),
      "latency_p50_ms" -> Stats.median(rounds.flatMap(r => Ann.map(r(_) * 1000))),
      "round_s" -> Stats.median(rounds.map(_.values.sum)))

    val layer = if (!ctx.tr.enabled) Map.empty[String, Double] else {
      val tr = ctx.tr
      def mat(df: DataFrame): DataFrame = { val p = df.persist(); p.count(); p }
      val docs = spark.read.parquet(s"$data/documents.parquet")
      val sh = tr("Dedup", "shingle") { mat(Dedup.docShingles(docs, "doc_id", "text", 3)) }
      val sigs = tr("Dedup", "minhash") { mat(Dedup.minhashSignatures(sh, k = 8)) }
      val cand = tr("Dedup", "lsh") { mat(Dedup.lshCandidates(sigs, k = 8, bands = 2)) }
      val dups = tr("Dedup", "verify") { mat(Dedup.verifiedNearDups(sh, cand, 10000L)) }
      tr("Dedup", "cc") {
        val ids = dups.select(col("id_a").as("id")).union(dups.select(col("id_b"))).distinct()
        Dedup.connectedMinLabelAuto(ids, dups).count()
      }
      val e = spark.read.parquet(s"$data/embeddings.parquet")
      val brute = Similarity.bruteTopK(e.filter(col("vec_id") < AnnQueries), e, k = 3)
        .select("vec_id", "nn_id").collect().groupBy(_.getLong(0))
        .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
      val annNames = Seq("lsh", "ivf", "pq", "ivfpq")
      def spanS(layer: String, k: String) = Stats.median(tr.named(layer, k).map(_.seconds))
      val nearDupSpans = tr.named("Dedup", NearDup)
      Map(
        "Dedup.shingle_s" -> spanS("Dedup", "shingle"),
        "Dedup.minhash_s" -> spanS("Dedup", "minhash"),
        "Dedup.lsh_s" -> spanS("Dedup", "lsh"),
        "Dedup.verify_s" -> spanS("Dedup", "verify"),
        "Dedup.cc_s" -> spanS("Dedup", "cc"),
        "Dedup.candidate_pairs" -> cand.count().toDouble,
        "Dedup.verified_pairs" -> dups.count().toDouble,
        "Dedup.input_rows" -> nearDupSpans.map(_.inRecords).sum.toDouble / nearDupSpans.size,
        "Dedup.table_rows" -> nDocs.toDouble,
        "curate.neardup_s" -> spanS("Dedup", NearDup),
        "curate.jaccard_s" -> spanS("Dedup", Jaccard)) ++
        annNames.zip(Ann).flatMap { case (n, k) => Seq(
          s"Similarity.${n}_s" -> spanS("Similarity", k),
          s"Similarity.${n}_recall" -> recall(spark.read.parquet(ctx.dir(s"curate-out/0/$k")), brute))
        }
    }
    Outcome(e2e, layer, attempted = Keys.size.toLong * rounds.size, failed = 0L, checks = Nil,
      forPython = Map("curate" -> Map(
        "tables" -> data,
        "ann" -> Ann,
        "outputs" -> Keys.map(k => k -> ctx.dir(s"curate-out/0/$k")).toMap,
        "oracle_sql" -> Keys.map(k => k -> SparkEntry.oracleSql(k)).toMap)))
  }
}
