package graft

/** [[Bench]]'s artifact: the levels derived from the box, the measured
  * state, and the ONE compact JSON line the driver parses. The driver
  * keeps only the last ~2 KB of output, so the line is re-printed after
  * every phase unit and once more by the shutdown hook, and it must stay
  * under [[MaxLineBytes]].
  */
private[graft] object BenchReport {

  val MaxLineBytes = 1850

  /** Window gate (BENCH.md §0): a pair is clean when both no-Spark
    * string-control brackets read in [CtlClean, CtlCleanHi]. The band is
    * two-sided: a superlinear bracket means the load squeezed the N level,
    * the direction that inflates ratios. */
  val CtlClean = 0.88
  val CtlCleanHi = 1.05

  /** The scaling levels: 4N is the largest multiple of 4 within `cpus` and
    * N = 4N / 4, so each level fits the box. Below 4 cpus there is no
    * (N, 4N) pair and the artifact says why instead of headlining a ratio. */
  final case class Levels(cpus: Int) {
    val pLow: Int = cpus / 4
    val pHigh: Int = 4 * pLow
    def why: Option[String] =
      if (pLow >= 1) None else Some(s"$cpus cpus: N = 4N/4 < 1, no scaling pair")
  }

  /** One child's timed steady superstep: urls (popped + links extracted). */
  final case class Step(urls: Long, secs: Double)

  /** One ABBA loop pair with the string-control brackets around it. */
  final case class LoopPair(lo: Step, hi: Step, ctlLo: Double, ctlHi: Double) {
    def ratio: Double = (hi.urls / hi.secs) / (lo.urls / lo.secs) / 4.0
    def clean: Boolean = ctlLo >= CtlClean && ctlHi <= CtlCleanHi
    /** The decisive bracket: the out-of-band one when dirty, else the lower. */
    def ctl: Double = if (ctlHi > CtlCleanHi) ctlHi else ctlLo
  }

  /** One kernel child: string control, kernel urls and seconds, cpu control. */
  final case class KernelRun(str: Double, urls: Long, secs: Double, cpu: Double)

  /** Everything measured so far. */
  final class State(val levels: Levels, val sfDir: String, val budgetSec: Double) {
    var loopBatch = 0
    var loopPairs = Vector.empty[LoopPair]
    var kernelPairs = Vector.empty[(KernelRun, KernelRun)]
    var queries = Seq.empty[(String, Double)]
    var ann = Seq.empty[Double] // recall@3: lsh q28, ivf q42, pq q53, ivfpq q54
    var notes = Vector.empty[String]
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  private def arr(xs: Seq[Double], digits: Int = 3): String =
    xs.map(x => s"%.${digits}f".format(x)).mkString("[", ",", "]")

  /** The compact line. Query keys are short ("q39"); the criteria come
    * last, so a truncated tail loses the query map before them. */
  def render(s: State): String = {
    val lv = s.levels
    val qs = s.queries.map { case (k, v) => "\"" + k.takeWhile(_ != '_') + f"\":$v%.2f" }
      .mkString("{", ",", "}")
    val ann = if (s.ann.isEmpty) "" else {
      val Seq(l, i, p, c) = s.ann
      f""","ann_recall":{"lsh_q28":$l%.3f,"ivf_q42":$i%.3f,"pq_q53":$p%.3f,"ivfpq_q54":$c%.3f}"""
    }
    val notes = if (s.notes.isEmpty) "" else
      s.notes.map("\"" + _.replace("\"", "'") + "\"").mkString(""","notes":[""", ",", "]")

    val (value, kernel) = if (s.kernelPairs.isEmpty) (0.0, "") else {
      val (los, his) = s.kernelPairs.unzip
      val ratios = s.kernelPairs.map { case (lo, hi) => (lo.secs / hi.secs) / 4.0 }
      val urls = his.head.urls
      val (sN, s4) = (los.map(_.secs).min, his.map(_.secs).min)
      def ctlEff(f: KernelRun => Double) = (los.map(f).min / his.map(f).min) / 4.0
      (urls / s4, f""","kernel_scaling":{"urls":$urls,"sec_pN":$sN%.2f,"sec_p4N":$s4%.2f,"thr_pN":${urls / sN}%.1f,"thr_p4N":${urls / s4}%.1f,"pair_ratios":${arr(ratios)},"str_ctl":${ctlEff(_.str)}%.3f,"cpu_ctl":${ctlEff(_.cpu)}%.3f,"efficiency":${median(ratios)}%.3f}""")
    }

    val loop = if (s.loopPairs.isEmpty) "" else {
      val ps = s.loopPairs
      val ratios = ps.map(_.ratio)
      val clean = ps.filter(_.clean).map(_.ratio)
      // a median needs >= 2 clean pairs; else the all-pair median headlines
      val eff = if (clean.size >= 2) median(clean) else median(ratios)
      val thr4 = ps.map(p => p.hi.urls / p.hi.secs).max
      f""","loop_scaling":{"long":{"batch":${s.loopBatch},"urls_steady":${ps.head.lo.urls},"sec_pN":${arr(ps.map(_.lo.secs), 1)},"sec_p4N":${arr(ps.map(_.hi.secs), 1)},"pair_ratios":${arr(ratios)},"pair_ctls":${arr(ps.map(_.ctl))},"ctl_clean":$CtlClean%.2f,"ctl_clean_hi":$CtlCleanHi%.2f,"clean_pairs":${clean.size},"efficiency_all_pairs":${median(ratios)}%.3f,"efficiency":$eff%.3f},"thr_p4N":$thr4%.1f,"efficiency":$eff%.3f}"""
    }

    f"""{"metric":"frontier_throughput_urls_per_sec","value":$value%.1f,"unit":"urls/sec","cpus":${lv.cpus},"p_low":${lv.pLow},"p_high":${lv.pHigh},"budget_sec":${s.budgetSec}%.0f,"sf":"${s.sfDir}"$notes,"queries":$qs$ann,"queries_total_sec":${s.queries.map(_._2).sum}%.2f$kernel$loop}"""
  }

  private val emitLock = new Object
  private var latest = ""
  private var stopping = false

  /** Print the cumulative line — after EVERY completed phase unit. Once
    * the shutdown hook has started, only the hook prints. */
  def emit(s: State): Unit = emitLock.synchronized {
    latest = render(s)
    if (latest.length > MaxLineBytes)
      System.err.println(s"[bench] WARNING compact line ${latest.length} B > $MaxLineBytes B")
    if (!stopping) { println(latest); System.out.flush() }
  }

  private val liveChildren = scala.collection.mutable.Set.empty[Process]

  /** Start a child unless shutdown has begun; the hook kills every child
    * registered here, so none outlives a SIGTERM of this JVM. */
  def startChild(pb: ProcessBuilder): Process = emitLock.synchronized {
    if (stopping) sys.error("bench is shutting down")
    val p = pb.start()
    liveChildren += p
    p
  }

  def childDone(p: Process): Unit = emitLock.synchronized { liveChildren -= p }

  /** On SIGTERM: stop new children, kill and reap the live ones, run
    * `cleanup`, and re-print the newest line as stdout's last content.
    * Returns the hook, for removal once the run completes. */
  def installShutdownHook(cleanup: () => Unit): Thread = {
    val hook = new Thread(() => {
      val kids = emitLock.synchronized { stopping = true; liveChildren.toList }
      kids.foreach(_.destroy())
      kids.foreach { p =>
        if (!p.waitFor(20, java.util.concurrent.TimeUnit.SECONDS)) p.destroyForcibly().waitFor()
      }
      cleanup()
      emitLock.synchronized {
        if (latest.nonEmpty) { println(latest); System.out.flush() }
      }
    })
    Runtime.getRuntime.addShutdownHook(hook)
    hook
  }
}
