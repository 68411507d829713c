package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.json4s._
import org.json4s.jackson.Serialization

/** Snapshot manifests: atomic commit + per-partition lineage + resume.
  *
  * The reference gets durability from fsync-per-write of 16 KiB pages
  * (src/pqueuethread.rs:86); the rebuild gets it from immutable parquet
  * snapshot directories plus a manifest JSON committed by atomic rename —
  * the same semantics an Iceberg snapshot commit would give (no Iceberg
  * runtime jar in this sandbox, SURVEY §7 note; the interface is
  * table-format-agnostic so a real catalog can slot in).
  *
  * Two-phase commit per superstep (SURVEY §7.4 risk 6): the pop batch is
  * committed (phase="pop") BEFORE fetch results are applied, so a crash
  * between pop and merge replays at most one politeness window and a resumed
  * run re-fetches nothing beyond it.
  */
final case class Manifest(
    batch: Int,
    phase: String, // "pop" | "done"
    frontierPath: String, // frontier dir WRITTEN this batch (delta buckets)
    popBatchPath: String,
    // Seen-filter deltas, oldest -> newest: each dir holds per-bucket
    // bloom+cuckoo rows for the urls that batch inserted; the probe checks
    // ANY delta, and the loop compacts to one dir every few supersteps.
    filtersPaths: Seq[String] = Seq.empty,
    // The authoritative frontier view: bucket id -> the batch-frontier dir
    // holding that bucket's current rows. A superstep rewrites only the
    // buckets it changed (delta snapshot — the reference's dirty-page
    // analog, src/pqueuethread.rs:58-87); unchanged buckets stay referenced
    // at their last-written dir, so snapshot IO is O(delta), not O(frontier).
    bucketPaths: Map[String, String] = Map.empty,
    perBucketRows: Map[String, Long], // lineage: frontier rows per bucket
    metrics: Option[BatchMetrics],
    seed: Long,
    nDocs: Int,
    // Pending-retired urls (parquet dir, url column): retired from the
    // cuckoo "currently live" view and awaiting re-crawl. The loop restores
    // a url's cuckoo liveness when it is next popped (fetched again) and
    // drops it from this record; compaction excludes still-pending urls
    // when it rebuilds the filters from the frontier. None = no pending
    // retirements (the steady state; absent in pre-retire manifests).
    retiredPath: Option[String] = None)

object Snapshots {
  implicit val formats: Formats = Serialization.formats(NoTypeHints)

  def batchDir(root: String, batch: Int): String = s"$root/batch=$batch"
  def frontierPath(root: String, batch: Int): String = s"${batchDir(root, batch)}/frontier"
  def popBatchPath(root: String, batch: Int): String = s"${batchDir(root, batch)}/popbatch"
  def filtersPath(root: String, batch: Int): String = s"${batchDir(root, batch)}/filters"
  def postingsPath(root: String): String = s"$root/index/postings"
  def docmetaPath(root: String): String = s"$root/index/docmeta"

  /** Atomic manifest commit: write sidecar history file, then rename a temp
    * over the MANIFEST.json pointer (the parquet files it references are
    * already fully written — rename is the commit point). */
  def commit(root: String, m: Manifest): Unit = {
    Files.createDirectories(Paths.get(root))
    val json = Serialization.writePretty(m)
    Files.writeString(Paths.get(s"$root/manifest-${m.batch}-${m.phase}.json"), json)
    val tmp = Paths.get(s"$root/.MANIFEST.tmp")
    Files.writeString(tmp, json)
    Files.move(tmp, Paths.get(s"$root/MANIFEST.json"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  def readCurrent(root: String): Option[Manifest] = {
    val p = Paths.get(s"$root/MANIFEST.json")
    if (!Files.exists(p)) None
    else Some(Serialization.read[Manifest](Files.readString(p)))
  }

  /** The frontier snapshot's fixed schema, declared at read so every
    * superstep skips parquet schema inference (per-dir footer sampling is
    * driver-serial latency paid on EVERY pop otherwise). `bucket` is the
    * partitionBy column. */
  val frontierSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("url", StringType), StructField("host", StringType),
      StructField("priority", LongType), StructField("popped", BooleanType),
      StructField("bucket", IntegerType)))
  }

  /** Committed pop-batch schema (see [[frontierSchema]] for why declared). */
  val popSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("url", StringType), StructField("host", StringType),
      StructField("bucket", IntegerType), StructField("priority", LongType)))
  }

  /** Materialize the frontier from a delta-snapshot bucket map: one
    * partition-pruned parquet scan per distinct batch dir (each dir is
    * partitionBy("bucket"), so the isin filter prunes to exactly the bucket
    * subdirs this view owns), unioned. At most nBuckets branches. */
  def readFrontier(spark: org.apache.spark.sql.SparkSession,
                   bucketPaths: Map[String, String]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    // an empty bucket map is a legal state (e.g. resume of a run whose
    // frontier drained): the frontier is simply empty and the crawl
    // terminates with zero pops
    if (bucketPaths.isEmpty) return Frontier.empty(spark)
    bucketPaths.groupBy(_._2).map { case (dir, owned) =>
      val bs = owned.keys.map(_.toInt).toSeq
      spark.read.schema(frontierSchema).parquet(dir)
        .filter(col("bucket").isin(bs: _*))
        .select("url", "host", "bucket", "priority", "popped")
    }.reduce(_.unionByName(_))
  }

  /** Metrics history = the metrics field of every committed "done" manifest,
    * sorted by batch. The manifest sidecar files ARE the durable per-batch
    * metrics sink (no extra write job per superstep). */
  def readMetricsHistory(root: String): Seq[BatchMetrics] = {
    val dir = Paths.get(root)
    if (!Files.isDirectory(dir)) return Seq.empty
    import scala.jdk.CollectionConverters._
    Files.list(dir).iterator().asScala
      .filter(p => p.getFileName.toString.matches("manifest-\\d+-done\\.json"))
      .flatMap(p => Serialization.read[Manifest](Files.readString(p)).metrics)
      .toSeq.sortBy(_.batch)
  }
}
