package graft

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scaling benchmark: the durable crawl loop's steady-state urls/s (the
  * reference monitor's metric, src/monitor.rs:141-156) and the frontier
  * kernel's urls/s at N and 4N cores, plus the per-query timing map.
  *
  * The levels come from the box ([[BenchReport.Levels]]): 4N =
  * SPARK_GRAFT_CPUS (else the JVM's processor count), N = 4N/4. Every
  * measurement runs in its own child JVM, capped with
  * -XX:ActiveProcessorCount and given half this JVM's heap, so the parent
  * and a child fit together. Phases, within SPARK_GRAFT_BENCH_BUDGET_SEC
  * (default 1200 s):
  *
  *  1. [[LoopPairs]] ABBA (N, 4N) loop pairs. Each child runs an untimed
  *     priming crawl, then times ONE steady superstep over a shared
  *     corpus. The no-Spark string control brackets every pair; the
  *     headline is the median pair ratio over clean-bracketed pairs.
  *  2. [[KernelPairs]] ABBA kernel pairs: pop + merge over a skewed
  *     frontier, with the string and cpu controls.
  *  3. The query child at full width: rep 1 of every query always runs;
  *     rep 2s run, and then the ANN recall, only while [[AnnReserveSec]]
  *     of its sub-budget is left.
  *
  * Work sizes scale with N, so one loop pair takes about 2–3 min at any
  * box size. A loop or kernel unit starts only if the budget still holds
  * the previous unit's wall plus the fixed reserves of the later phases;
  * a skipped unit is named in the line's `notes`. The compact line
  * re-prints after every unit, and a shutdown hook kills the children
  * and re-prints it on SIGTERM (BenchReport).
  */
object Bench {
  import BenchReport._

  private val LoopPairs = 4
  private val KernelPairs = 2
  // work per N core
  private val LoopDocsPerCore = 160000 // docs popped by the timed superstep
  private val KernelFrontierPerCore = 1000000L
  private val CpuCtlRowsPerCore = 20000000L
  private val CtlDocsPerCore = 40000
  // seconds kept for the later phases while earlier units run
  private val KernelReserveSec = 120.0
  private val QueriesReserveSec = 200.0
  private val AnnReserveSec = 60.0

  private def sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
    sys.props("user.home") + "/testdata/sf0.1")

  private def tmpRoot: Path =
    if (Files.isDirectory(Paths.get("/dev/shm"))) Paths.get("/dev/shm")
    else Paths.get(System.getProperty("java.io.tmpdir"))

  private def deleteTree(dir: String): Unit = {
    val root = Paths.get(dir)
    if (Files.exists(root)) {
      val walk = Files.walk(root)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.deleteIfExists(p))
      finally walk.close()
    }
  }

  private def session(p: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$p]")
      .appName(s"graft-bench-$p")
      .config("spark.sql.shuffle.partitions", p.toString)
      // shuffle and spill under the work dir: tmpfs, when the box has one
      .config("spark.local.dir", s"$work/spark")
      // v2 commit: atomicity rests on the manifest pointer rename
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      // keep the politeness top-k hash-based with many hosts per task
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "8000000")
      // parquet zstd; shuffle lz4, AQE on and G1 stay Spark's and the JVM's
      // defaults: each measured best against its alternatives (BENCH.md §0)
      .config("spark.sql.parquet.compression.codec", "zstd")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  // ---- measurements (child side) ----------------------------------------

  /** Frontier-throughput KERNEL (the BASELINE metric's dataflow): pop +
    * link-dedup + merge over a skewed frontier, no checkpoint IO. */
  private def timedKernel(spark: SparkSession, f: Long, l: Long,
                          reps: Int): (Long, Double) = {
    // perHostCap stays realistic (politeness): hot host ≤ 16*cap rows
    val cfg = CrawlConfig(batchSize = (f / 10).toInt, perHostCap = 1000,
      nBuckets = 64, saltBuckets = 16)
    val id = col("id")
    val host = when(pmod(id, lit(10)) < 3, lit("hot.example"))
      .otherwise(concat(lit("h"), pmod(id, lit(997)).cast("string"), lit(".example")))
    val frontier = spark.range(f).select(
        concat(lit("https://"), host, lit("/d"), id.cast("string")).as("url"),
        host.as("host"),
        pmod(id * 2654435761L, lit(1000)).cast("long").as("priority"),
        (pmod(id, lit(5)) === 0).as("popped"))
      .withColumn("bucket", Frontier.bucketCol(col("url"), cfg.nBuckets))
      .persist()
    frontier.count()
    val tid = pmod(xxhash64(id), lit(f * 2)) // ~50% hit existing frontier urls
    val lhost = when(pmod(tid, lit(10)) < 3, lit("hot.example"))
      .otherwise(concat(lit("h"), pmod(tid, lit(997)).cast("string"), lit(".example")))
    val links = spark.range(l).select(
        concat(lit("https://"), lhost, lit("/d"), tid.cast("string")).as("url"),
        lhost.as("host"),
        (pmod(id, lit(3)) + 1).cast("long").as("weight"))
      .persist()
    links.count()

    def runOnce(): Unit = {
      val pop = Frontier.popBatch(frontier, cfg)
      val merged = Frontier.merge(frontier, links, pop.select("url", "host"), cfg)
      merged.select("url", "host", "bucket", "priority", "popped")
        .write.format("noop").mode("overwrite").save()
    }
    runOnce() // warm (codegen, AQE planning), then best-of-reps
    val sec = bestOf(reps)(runOnce())
    frontier.unpersist(); links.unpersist()
    (l + cfg.batchSize, sec)
  }

  private def bestOf(reps: Int)(f: => Unit): Double =
    (1 to reps).map { _ =>
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }.min

  private val ctlDocsCache = // probe fixtures: generation is setup
    new java.util.concurrent.ConcurrentHashMap[Int, Array[(String, String)]]()

  /** Pure string/parse scaling control — NO Spark: the loop's per-doc
    * work (regex links + URI admission) on a plain thread pool; its N→4N
    * efficiency is the MACHINE's same-window ceiling (BENCH.md §0). */
  private def timedParseControl(nDocs: Int, threads: Int, reps: Int): Double = {
    val docs = ctlDocsCache.computeIfAbsent(nDocs, n =>
      (0L until n.toLong).toArray.map { i =>
        val d = Corpus.genDoc(42L, i, n)
        (d.doc_id, Parser.htmlOf(d.spans))
      })
    def once(): Unit = {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
      val chunk = math.max(1, docs.length / (threads * 8))
      val futures = docs.grouped(chunk).map { g =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long =
            g.map { case (u, h) => Parser.extractLinks(u, h, 250, 1L).length.toLong }.sum
        })
      }.toSeq
      futures.foreach(_.get())
      pool.shutdown()
    }
    once()
    bestOf(reps)(once())
  }

  /** Pure-CPU scaling control (chained-hash aggregate, no shuffle/IO):
    * the machine's thread-scaling ceiling. */
  private def timedCpuControl(spark: SparkSession, n: Long, reps: Int): Double = {
    var c: org.apache.spark.sql.Column = col("id")
    (0 until 16).foreach(i => c = xxhash64(c, lit(i)))
    // mask before summing: ANSI mode would overflow a sum of full-range longs
    val df = spark.range(n).select(sum(c.bitwiseAND(lit(0xffffL))))
    df.first()
    bestOf(reps)(df.first())
  }

  /** A two-superstep crawl of `docs` on a fresh state dir. Superstep 0 pops
    * the seeds (one full batch) and bootstraps the filters; superstep 1 is
    * the steady one returned. */
  private def crawl(spark: SparkSession, docs: DataFrame, nDocs: Int,
                    batch: Int, work: String): Step = {
    import spark.implicits._
    val stateDir = Files.createTempDirectory(Paths.get(work), "crawl").toString
    // perHostCap = batch: politeness off; hostTopKSpillBound raised so the
    // heap pop — the politeness-sized production path — stays the measured
    // form (the library default is conservative, Frontier.popBatch)
    val cfg = CrawlConfig(batchSize = batch, perHostCap = batch,
      hostTopKSpillBound = Int.MaxValue, maxBatches = 2,
      nBuckets = 64, saltBuckets = 16, minTokens = 50)
    val seeds = spark.range(batch).map(i => Seed(Corpus.urlFor(i, nDocs), 1L)).toDF()
    val res = CrawlLoop.run(spark, docs, Corpus.robots(spark).toDF(), seeds, cfg,
      stateDir, seed = 42L, nDocs = nDocs)
    deleteTree(stateDir)
    val b = res.batches(1)
    Step(b.popped + b.linksExtracted, b.elapsedMs / 1e3)
  }

  /** Per-query timings (full materialization through a noop sink) and the
    * ANN recall, within `budgetSec` of this child's start. */
  private def runQueries(s: SparkSession, budgetSec: Double, w: java.io.PrintWriter): Unit = {
    val t0 = System.nanoTime()
    def left: Double = budgetSec - (System.nanoTime() - t0) / 1e9
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      def once(): Double = {
        val t = System.nanoTime()
        try fn(s, sfDir).write.format("noop").mode("overwrite").save()
        catch { case e: Throwable => System.err.println(s"[bench] $name: ${e.getMessage}") }
        (System.nanoTime() - t) / 1e9
      }
      val r1 = once()
      val sec = if (left - r1 > AnnReserveSec) math.min(r1, once()) else r1
      w.println(f"q=$name,$sec%.6f")
    }
    if (left <= AnnReserveSec) System.err.println("[bench] ann_recall skipped: reserve spent")
    else {
      import graft.ops.Similarity
      val e = s.read.parquet(s"$sfDir/embeddings.parquet")
      val queriesDf = e.filter(col("vec_id") < 40)
      def pairs(df: DataFrame): Set[(Long, Long)] =
        df.filter(col("vec_id") < 40).select("vec_id", "nn_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      val brute = pairs(Similarity.bruteTopK(queriesDf, e, k = 3))
      // each recall in its own guard: one failing index must not erase the
      // others from the artifact (-1 marks a failure)
      def recall(tag: String)(df: => DataFrame): Double =
        try (pairs(df) & brute).size.toDouble / brute.size
        catch { case ex: Throwable =>
          System.err.println(s"[bench] $tag recall: ${ex.getMessage}"); -1.0 }
      val rs = Seq(
        // q28's sweep-chosen setting (SURVEY §8.3): 8 tables x 5 planes
        recall("lsh")(Similarity.lshTopK(e, planes = 5, k = 3, tables = 8)),
        recall("ivf")(Similarity.ivfTopK(queriesDf, e, kCells = 16, nprobe = 4, k = 3)),
        recall("pq")(Similarity.pqTopK(queriesDf, e, m = 16, kCodes = 64, iters = 2, k = 3)),
        recall("ivfpq")(Similarity.ivfpqTopK(queriesDf, e,
          kCells = 16, nprobe = 4, m = 16, kCodes = 64, iters = 2, k = 3)))
      w.println(rs.map(r => f"$r%.6f").mkString("ann=", ",", ""))
    }
  }

  /** Child entry: ONE phase at ONE parallelism level `p`, results to `out`. */
  private def runChild(phase: String, p: Int, pLow: Int, work: String,
                       extra: Seq[String], w: java.io.PrintWriter): Unit = {
    val batch = pLow * LoopDocsPerCore
    // the string control runs before any Spark thread exists
    val str = if (phase == "kernel") timedParseControl(CtlDocsPerCore * pLow, p, reps = 2) else 0.0
    val s = session(p, work)
    try phase match {
      case "corpus" => // generated once, full width; both levels crawl these files
        Corpus.documents(s, 42L, 2 * batch).write.parquet(s"$work/corpus")
      case "loop" =>
        // untimed priming through every superstep path (codegen, JIT)
        crawl(s, Corpus.documents(s, 42L, batch / 16).toDF(), batch / 16, batch / 32, work)
        val st = crawl(s, s.read.parquet(s"$work/corpus"), 2 * batch, batch, work)
        w.println(f"step=${st.urls},${st.secs}%.6f")
      case "kernel" =>
        val kf = KernelFrontierPerCore * pLow
        val (ku, kt) = timedKernel(s, kf, kf * 2, reps = 2)
        val cpu = timedCpuControl(s, CpuCtlRowsPerCore * pLow, reps = 2)
        w.println(f"kernel=$str%.6f,$ku,$kt%.6f,$cpu%.6f")
      case "queries" => runQueries(s, extra.head.toDouble, w)
    } finally s.stop()
  }

  // ---- orchestration (parent side) ---------------------------------------

  /** Run one child JVM and return its result lines. Its merged output goes
    * to a file replayed CAPPED onto our stderr: stdout carries only the
    * artifact lines. */
  private def spawn(phase: String, p: Int, pLow: Int, work: String,
                    extra: String*): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val out = Files.createTempFile(Paths.get(work), phase, ".out")
    val log = Files.createTempFile(Paths.get(work), phase, ".log")
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq
      .filterNot(a => a.startsWith("-Xmx") || a.startsWith("-XX:ActiveProcessorCount"))
    val heapMb = Runtime.getRuntime.maxMemory / 2 / (1 << 20)
    val cmd = Seq(System.getProperty("java.home") + "/bin/java") ++ jvmArgs ++
      Seq(s"-Xmx${heapMb}m", s"-XX:ActiveProcessorCount=$p",
        "-cp", System.getProperty("java.class.path"),
        "graft.Bench", "level", phase, p.toString, pLow.toString, work, out.toString) ++ extra
    val proc = startChild(new ProcessBuilder(cmd.asJava)
      .redirectErrorStream(true).redirectOutput(log.toFile))
    val rc = try proc.waitFor() finally childDone(proc)
    val logged = new String(Files.readAllBytes(log), "UTF-8")
    System.err.print(if (logged.length <= 4000) logged
      else s"...[child log ${logged.length - 4000} B trimmed]...\n" + logged.takeRight(4000))
    require(rc == 0, s"bench $phase-$p child JVM exited $rc")
    new String(Files.readAllBytes(out), "UTF-8").split("\n").toSeq
  }

  private def field(lines: Seq[String], key: String): Array[String] =
    lines.find(_.startsWith(key + "=")).getOrElse(sys.error(s"child wrote no $key"))
      .drop(key.length + 1).split(",")

  /** A failed unit LOGS AND CONTINUES: one broken child must not cost the
    * run its artifact. */
  private def phaseTry(what: String)(body: => Unit): Boolean =
    try { body; true } catch { case e: Throwable =>
      System.err.println(s"[bench] $what FAILED: ${e.getMessage}"); false
    }

  def main(args: Array[String]): Unit = args match {
    case Array("level", phase, p, pLow, work, out, extra @ _*) =>
      val w = new java.io.PrintWriter(out)
      try runChild(phase, p.toInt, pLow.toInt, work, extra, w) finally w.close()
    case _ => orchestrate()
  }

  private def orchestrate(): Unit = {
    val t0 = System.nanoTime()
    val budgetSec = sys.env.get("SPARK_GRAFT_BENCH_BUDGET_SEC").map(_.toDouble).getOrElse(1200.0)
    def remaining: Double = budgetSec - (System.nanoTime() - t0) / 1e9
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val lv = Levels(cpus)
    val (n, n4) = (lv.pLow, lv.pHigh)
    val state = new State(lv, sfDir, budgetSec)
    val work = Files.createTempDirectory(tmpRoot, "graft-bench").toString
    val hook = installShutdownHook(() => deleteTree(work))
    emit(state) // a line exists from second 0

    /** Whether a unit needing `need` seconds still fits; a skip is noted. */
    def fits(what: String, need: Double): Boolean = {
      val ok = remaining > need
      if (!ok) {
        state.notes :+= f"$what skipped: ${remaining}%.0f s left < $need%.0f s"
        System.err.println(s"[bench] ${state.notes.last}")
      }
      ok
    }
    /** Run `unit` up to `count` times while the previous run's wall plus
      * `reserve` fits, emitting the line after each. */
    def units(what: String, count: Int, reserve: Double)(unit: Int => Unit): Unit = {
      var last = 0.0
      var i = 1
      while (i <= count && fits(s"$what $i", last + reserve)) {
        val t = System.nanoTime()
        phaseTry(s"$what $i")(unit(i))
        last = (System.nanoTime() - t) / 1e9
        emit(state)
        i += 1
      }
    }
    /** ABBA order: odd pairs run N first, even pairs 4N first. */
    def abba[T](i: Int)(run: Int => T): (T, T) =
      if (i % 2 == 1) { val lo = run(n); (lo, run(n4)) }
      else { val hi = run(n4); (run(n), hi) }

    lv.why match {
      case Some(why) => state.notes :+= why
      case None =>
        // window probe: the no-Spark string control at both levels; each
        // pair's brackets are the probes before and after it (shared)
        def ctlWindowEff(): Double = {
          val docs = CtlDocsPerCore * n
          (timedParseControl(docs, n, reps = 3) / timedParseControl(docs, n4, reps = 3)) / 4.0
        }
        // ---- 1. loop pairs ----
        if (fits("loop pairs", KernelReserveSec + QueriesReserveSec) &&
            phaseTry("corpus")(spawn("corpus", cpus, n, work))) {
          state.loopBatch = n * LoopDocsPerCore
          ctlWindowEff() // discarded: warms the probe after the corpus write
          var lastCtl = ctlWindowEff()
          units("loop pair", LoopPairs, KernelReserveSec + QueriesReserveSec) { i =>
            val (lo, hi) = abba(i) { p =>
              val Array(u, t) = field(spawn("loop", p, n, work), "step")
              Step(u.toLong, t.toDouble)
            }
            val post = ctlWindowEff()
            System.err.println(f"[bench] loop pair $i ctl brackets $lastCtl%.3f/$post%.3f")
            state.loopPairs :+= LoopPair(lo, hi, math.min(lastCtl, post), math.max(lastCtl, post))
            lastCtl = post
          }
          deleteTree(s"$work/corpus")
        }
        // ---- 2. kernel pairs ----
        units("kernel pair", KernelPairs, QueriesReserveSec) { i =>
          state.kernelPairs :+= abba(i) { p =>
            val Array(str, ku, kt, cpu) = field(spawn("kernel", p, n, work), "kernel")
            KernelRun(str.toDouble, ku.toLong, kt.toDouble, cpu.toDouble)
          }
        }
    }

    // ---- 3. queries, full width, in what is left of the budget ----
    if (fits("queries", AnnReserveSec)) {
      phaseTry("queries") {
        val lines = spawn("queries", cpus, n, work, f"${remaining - 20}%.0f")
        state.queries = lines.filter(_.startsWith("q=")).map { l =>
          val Array(q, t) = l.drop(2).split(","); (q, t.toDouble)
        }
        state.ann = lines.find(_.startsWith("ann=")).toSeq
          .flatMap(_.drop(4).split(",").map(_.toDouble))
      }
    }
    emit(state)
    Runtime.getRuntime.removeShutdownHook(hook)
    deleteTree(work)
    System.err.println(f"[bench] done in ${budgetSec - remaining}%.0f s (budget $budgetSec%.0f s)")
  }
}
