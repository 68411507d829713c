package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Forward/inverted index build.
  *
  * Reference (src/main.rs:256-280 + src/index.rs): per document, term
  * frequencies over the body-section token stream; docs under min_n_tokens
  * dropped; TF quantized to u8 as min(count*2550/n_terms, 255); doc length
  * stat = floor(log2(n_terms)); flushed in 100k-doc shards of RLE postings.
  *
  * Spark: postings are rows (epoch, term, doc_id, score) written as parquet
  * partitioned by epoch and sorted within partitions by term — parquet's
  * dictionary/RLE encoding replaces the hand-rolled RunEncoder
  * (src/runencoder.rs). The sorted binary-searchable header file
  * (src/index.rs:88-98) is replaced by the in-memory per-(epoch, term)
  * stats table of [[Search.Index]], computed once and held on the driver
  * when the index is persisted.
  * Parquet's term min/max row-group stats do not take its place: at crawl
  * sizes each file is one row group whose term range spans the vocabulary,
  * so a term-predicate scan reads every row.
  */
object Indexer {

  /** Quantized TF (src/main.rs:273-275), reproduced with Long math + clamp
    * (SURVEY §7.4 risk 5: unsigned u32 formulas as signed Long + clamps). */
  def quantize(count: Long, nTerms: Long): Int =
    math.min(count * 2550L / nTerms, 255L).toInt

  /** Doc-length stat: floor(log2(n_terms)) as u8 (src/main.rs:276). */
  def logTermCount(nTerms: Long): Int =
    if (nTerms <= 0) 0 else 63 - java.lang.Long.numberOfLeadingZeros(nTerms)

  /** Pure-Scala single-doc indexing (shared with tests). */
  def indexDoc(html: String, minTokens: Int): Option[(Int, Map[String, Int])] = {
    val terms = Parser.extractTerms(html)
    val n = terms.size.toLong
    if (n < minTokens) None
    else Some((logTermCount(n),
      terms.groupBy(identity).map { case (t, xs) => t -> quantize(xs.size.toLong, n) }))
  }

  /** fetched ok-HTML docs (url, spans) → (postings, docmeta) for one epoch:
    * [[fromTerms]] over [[docTerms]]. */
  def index(okHtml: DataFrame, cfg: CrawlConfig, epoch: Int): (DataFrame, DataFrame) =
    fromTerms(docTerms(okHtml, cfg), epoch)

  /** fetched ok-HTML docs (url, spans) → one row per doc that passes the
    * min-token gate: (url, terms, n_terms, doc_id). The term array and its
    * length are computed narrow, by the Catalyst regex pipeline with no
    * UDF. Both sinks read this frame, so a caller that writes both persists
    * it, or each write extracts the terms again. */
  def docTerms(okHtml: DataFrame, cfg: CrawlConfig): DataFrame =
    okHtml
      .withColumn("html", Parser.cappedHtmlCol(col("spans"), cfg.maxDocumentLen))
      .select(col("url"), Parser.termsCol(col("html")).as("terms"))
      .withColumn("n_terms", size(col("terms")).cast("long"))
      .filter(col("n_terms") >= cfg.minTokens) // F8 min-token gate
      .withColumn("doc_id", xxhash64(col("url")))

  /** [[docTerms]] rows → (postings, docmeta) for one epoch.
    *
    * One shuffle total: a single groupBy(doc, term) hash aggregate (map-side
    * partial agg) produces TFs; n_terms rides along as max() so no second
    * shuffle/window is needed.
    */
  def fromTerms(withTerms: DataFrame, epoch: Int): (DataFrame, DataFrame) = {
    val tf = withTerms
      .select(col("doc_id"), col("n_terms"), explode(col("terms")).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("cnt"), max(col("n_terms")).as("n_terms"))

    val postings = tf.select(
      lit(epoch).as("epoch"),
      col("term"),
      col("doc_id"),
      least(col("cnt") * 2550L / col("n_terms"), lit(255L)).cast("int").as("score"))

    val docmeta = withTerms.select(
      lit(epoch).as("epoch"),
      col("doc_id"),
      col("url"),
      floor(log2(col("n_terms"))).cast("int").as("term_count"))

    (postings, docmeta)
  }

  /** Postings sink (S6): partitioned by epoch, term-sorted within files, so
    * row-group stats can prune term predicates once a file holds several
    * row groups.
    *
    * Dynamic partition OVERWRITE (not append): each crawl superstep is one
    * epoch, so a replayed superstep (crash after the index write, before the
    * 'done' manifest commit) REPLACES its epoch partition instead of
    * appending duplicate (epoch, doc_id, term) rows — which would break
    * Search's map_from_entries and double-count df stats. This makes the
    * index sink idempotent per epoch, like every other per-superstep write. */
  def writePostings(postings: DataFrame, path: String): Unit =
    postings
      .repartition(col("epoch"), col("term"))
      .sortWithinPartitions(col("term"), col("doc_id"))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("epoch").parquet(path)

  /** Docmeta sink — same epoch-idempotent dynamic-overwrite contract. */
  def writeDocmeta(docmeta: DataFrame, path: String): Unit =
    docmeta.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("epoch").parquet(path)

  /** Shard merge (the preprocessor binary, preprocessor/src/main.rs:29-60):
    * doc ids are globally unique hashes here, so the merge is a pure union. */
  def mergeShards(shards: Seq[DataFrame]): DataFrame =
    shards.reduce(_.unionByName(_))
}
