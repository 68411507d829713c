package perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** One correctness check: its name and what failed (empty = passed). */
final case class Check(name: String, failures: Seq[String]) {
  def ok: Boolean = failures.isEmpty
}

/** What one workload run hands back: end-to-end metrics (untraced runs),
  * per-layer metrics (traced runs), the operation counts, the JVM-side
  * checks, and inputs for the Python-side checks. */
final case class Outcome(
    e2e: Map[String, Double],
    layer: Map[String, Double],
    attempted: Long,
    failed: Long,
    checks: Seq[Check],
    forPython: Map[String, Any] = Map.empty)

/** Shared run context. `t0Ms` is the wall-clock instant the benchmark
  * started setting up (before input generation), so `setup_s` covers JVM
  * and Spark start, input generation and priming. */
final class Ctx(val spark: SparkSession, val work: String, val seed: Long,
                val seconds: Int, val tr: Tracer, t0Ms: Long) {
  private var setup: Option[Double] = None
  def setupSeconds: Double = setup.getOrElse(sys.error("no timed call was made"))

  /** Wall seconds of `body`; the first call also fixes `setup_s`. */
  def timed[T](body: => T): (T, Double) = {
    if (setup.isEmpty) setup = Some((System.currentTimeMillis() - t0Ms) / 1000.0)
    val t = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t) / 1e9)
  }

  def dir(name: String): String = s"$work/$name"

  private val born = System.nanoTime()
  /** A progress line for the run log (the runner echoes these). */
  def note(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - born) / 1e9}%7.2f s  $msg")
}

object Main {

  private def arg(args: Array[String], k: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`k`, v) => v }

  def session(work: String, threads: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$threads]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.default.parallelism", threads.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      // keep the politeness top-k hash-based with many hosts per task
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "8000000")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Resident-memory high-water mark of this process, in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse(sys.error("no VmHWM in /proc/self/status"))
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "--workload").getOrElse(sys.error("--workload"))
    val seed = arg(args, "--seed").getOrElse("1").toLong
    val seconds = arg(args, "--seconds").getOrElse("10").toInt
    val trace = arg(args, "--trace").contains("1")
    val work = arg(args, "--work").getOrElse(sys.error("--work"))
    val threads = arg(args, "--threads").getOrElse("4").toInt
    val t0Ms = arg(args, "--t0-ms").map(_.toLong).getOrElse(System.currentTimeMillis())
    val out = Paths.get(arg(args, "--out").getOrElse(sys.error("--out")))

    if (workload == "selftest") {
      Files.writeString(out, Json.obj(Seq(
        "checks" -> SelfTest.run().map(c =>
          Map("name" -> c.name, "ok" -> c.ok, "detail" -> c.failures.mkString("; "))),
        "q39_sql" -> graft.SparkEntry.oracleSql(CurateBench.NearDup))))
      return
    }
    val spark = session(work, threads)
    val tr = new Tracer(spark.sparkContext, trace)
    val ctx = new Ctx(spark, work, seed, seconds, tr, t0Ms)
    val o = workload match {
      case "crawl" => CrawlBench.run(ctx)
      case "curate" => CurateBench.run(ctx)
      case w => sys.error(s"unknown workload $w")
    }
    val layer =
      if (!trace) Map.empty[String, Double]
      else Tracer.Layers.flatMap(tr.layerCounters).toMap ++ o.layer
    arg(args, "--trace-out").filter(_ => trace).foreach(p => tr.dump(Paths.get(p)))
    val setup = ctx.setupSeconds
    spark.stop()
    val e2e = o.e2e ++ Map("setup_s" -> setup, "peak_rss_mb" -> peakRssMb())
    Files.writeString(out, Json.obj(Seq(
      "attempted" -> o.attempted, "failed" -> o.failed,
      "e2e" -> e2e, "layer" -> layer,
      "checks" -> o.checks.map(c => Map("name" -> c.name, "ok" -> c.ok,
        "detail" -> c.failures.take(5).mkString("; "))),
      "python" -> o.forPython)))
  }
}
