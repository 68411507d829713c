package graft

/** Core data model for the Spark-native crawl engine.
  *
  * Shapes derive from the reference's structs (re-expressed relationally,
  * not ported):
  *   - Job { url, priority }            → [[Job]]            (reference: src/job.rs:8-11)
  *   - Page entries (url, count, popped) → [[FrontierEntry]] (reference: src/page.rs:9-14)
  *   - robots cache BTreeMap<host, Option<Vec<prefix>>> → [[RobotsEntry]]
  *     (reference: src/robots.rs:14)
  *   - the graft input_hint interleaved document:
  *     (doc_id, spans: array<struct<kind,text,media_ref,offset>>) → [[Doc]]/[[Span]]
  */
final case class Span(kind: String, text: String, media_ref: String, offset: Int)

/** Interleaved text+media document; `doc_id` is the canonical URL.
  * Side columns model fetch semantics (HTTP status / content type) that the
  * reference observes on the wire (src/main.rs:179-186).
  */
final case class Doc(
    doc_id: String,
    spans: Seq[Span],
    status: Int,
    content_type: String)

/** A frontier work item (reference: src/job.rs:8-11). */
final case class Job(url: String, priority: Long)

/** One frontier row. The reference stores (url, count, popped) triples inside
  * 16KiB B-tree pages (src/page.rs:9-14); relationally the page is a storage
  * artifact, so the frontier is just the flat set of entries, hash-bucketed
  * by url for scale-out merging.
  *
  * Invariant (src/page.rs:33-50): increments on a popped entry bump priority
  * but never clear `popped`; popped entries never re-enter the pop set.
  */
final case class FrontierEntry(
    url: String,
    host: String,
    bucket: Int,
    priority: Long,
    popped: Boolean)

/** robots.txt rules for one host; absent host ⇒ allow all
  * (reference: src/robots.rs:45-57). */
final case class RobotsEntry(host: String, disallow: Seq[String])

/** Seed URL with initial weight (reference: inc_url(root_set, 1),
  * src/main.rs:337-339). */
final case class Seed(url: String, weight: Long)

/** One extracted, admitted link with its increment weight
  * (cross-domain bonus: src/main.rs:250-253). */
final case class Link(url: String, host: String, weight: Long)

/** Per-superstep crawl metrics (reference monitor counters,
  * src/monitor.rs:7-22; north_rule: frontier/fetched/duplicate-hit metrics
  * committed per batch). */
final case class BatchMetrics(
    batch: Int,
    popped: Long,
    robotsDenied: Long,
    fetched: Long,
    fetchErrors: Long,
    linksExtracted: Long,
    linksAdmitted: Long,
    duplicateHits: Long,
    freshUrls: Long,
    frontierSize: Long,
    // F9 megasite log filter analog (src/main.rs:189-193): fetched html
    // docs whose UNCAPPED body exceeds megasiteLen (the reference only
    // logs these; default 0 so old manifests deserialize cleanly)
    megasites: Long = 0L,
    elapsedMs: Long = 0L)

/** One bucket's serialized seen-filters (a row of the filter-delta table). */
final case class FilterShard(bucket: Int, bloom: Array[Byte], cuckoo: Array[Byte])

/** A posting: quantized term score for a document within an epoch shard
  * (reference: src/index.rs:12-20, score quantization src/main.rs:273-275). */
final case class Posting(epoch: Int, term: String, doc_id: Long, score: Int)

/** Per-document index metadata (reference: urls file + term-counts file,
  * src/indexshard.rs:22-28; term_count = floor(log2(n_terms)),
  * src/main.rs:276). */
final case class DocMeta(epoch: Int, doc_id: Long, url: String, term_count: Int)

/** Crawl configuration. Mirrors the reference's Config constants
  * (src/config.rs:35-78) where they still make sense for a BSP engine. */
final case class CrawlConfig(
    batchSize: Int = 1000,          // pop budget per superstep
    perHostCap: Int = 8,            // politeness: max fetches per host per batch
    maxUrlLen: Int = 250,           // src/config.rs:44
    maxDocumentLen: Int = 256000,   // src/config.rs:42 (S3 capped body read)
    megasiteLen: Long = 100000000L, // F9 log threshold (src/main.rs:190)
    minTokens: Int = 200,           // src/config.rs:72 (min_n_tokens)
    crossDomainBonus: Long = 1L,    // src/config.rs:74
    nBuckets: Int = 64,             // frontier hash shards (src/config.rs:71 n_pqueues)
    saltBuckets: Int = 16,          // hot-host salting for the pop window
    hostTopKSpillBound: Int = 65536, // caps above this use the spill-safe window pop
    maxBatches: Int = 1000,
    indexWhileCrawling: Boolean = false,
    academicOnly: Boolean = false)  // F11 gate (src/main-old.rs:180), off in current gen
