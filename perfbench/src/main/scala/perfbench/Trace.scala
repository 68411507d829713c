package perfbench

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** One span: one call from the benchmark into one engine layer. Spark
  * counters are attributed to the innermost open span, so a layer's totals
  * are the sum over its spans with no double counting. */
final class TraceSpan(val id: Int, val parent: Int, val layer: String, val name: String,
                 val startNs: Long) {
  val startMs: Long = System.currentTimeMillis()
  var endNs, endMs = 0L
  var jobs, tasks, shuffleWrite, spill, gcMs, inBytes, inRecords, outBytes = 0L
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Disabled, it only runs the body: untraced runs
  * attach no listener and record nothing. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val Key = "perfbench.span"
  private val all = mutable.ArrayBuffer.empty[TraceSpan]
  private var open = List.empty[TraceSpan]
  private val stageSpan = new ConcurrentHashMap[Int, TraceSpan]()
  // Jobs started by threads that do not inherit Spark's local properties
  // (the JDK HTTP server's dispatcher): held here, each with a counter of
  // its own, and given at read time to the innermost span open when the
  // job started.
  private val orphans = mutable.ArrayBuffer.empty[(Long, TraceSpan)]
  private var resolved = false

  if (enabled) sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val s = Option(e.properties).flatMap(p => Option(p.getProperty(Key))) match {
        case Some(id) => all.synchronized(all(id.toInt))
        case None =>
          val o = new TraceSpan(-1, -1, "", "", 0L)
          orphans.synchronized(orphans += (e.time -> o))
          o
      }
      s.synchronized { s.jobs += 1 }
      e.stageIds.foreach(stageSpan.put(_, s))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = stageSpan.get(e.stageId)
      val m = e.taskMetrics
      if (s != null && m != null) s.synchronized {
        s.tasks += 1
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.gcMs += m.jvmGCTime
        s.inBytes += m.inputMetrics.bytesRead
        s.inRecords += m.inputMetrics.recordsRead
        s.outBytes += m.outputMetrics.bytesWritten
      }
    }
  })

  def apply[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = all.synchronized {
        val s = new TraceSpan(all.size, open.headOption.fold(-1)(_.id), layer, name, System.nanoTime())
        all += s; s
      }
      open = s :: open
      val prev = sc.getLocalProperty(Key)
      sc.setLocalProperty(Key, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        open = open.tail
        sc.setLocalProperty(Key, prev)
      }
    }

  /** Every finished span, after the listener has seen every event. */
  def spans: Seq[TraceSpan] = {
    if (enabled && !resolved) {
      org.apache.spark.PerfbenchBus.drain(sc)
      orphans.foreach { case (t, o) =>
        all.filter(s => s.startMs <= t && t <= s.endMs).maxByOption(_.startNs).foreach { s =>
          s.jobs += o.jobs; s.tasks += o.tasks; s.shuffleWrite += o.shuffleWrite
          s.spill += o.spill; s.gcMs += o.gcMs; s.inBytes += o.inBytes
          s.inRecords += o.inRecords; s.outBytes += o.outBytes
        }
      }
      resolved = true
    }
    all.toSeq
  }

  def named(layer: String, name: String): Seq[TraceSpan] =
    spans.filter(s => s.layer == layer && s.name == name)

  /** Per-layer Spark counters summed over the layer's spans. */
  def layerCounters(layer: String): Map[String, Double] = {
    val ss = spans.filter(_.layer == layer)
    Map(
      s"$layer.spark_jobs" -> ss.map(_.jobs).sum.toDouble,
      s"$layer.spark_tasks" -> ss.map(_.tasks).sum.toDouble,
      s"$layer.shuffle_write_bytes" -> ss.map(_.shuffleWrite).sum.toDouble,
      s"$layer.spill_bytes" -> ss.map(_.spill).sum.toDouble,
      s"$layer.gc_ms" -> ss.map(_.gcMs).sum.toDouble)
  }

  /** The span table as JSON lines (self time = duration minus the part
    * covered by child spans). */
  def dump(path: java.nio.file.Path): Unit = {
    val ss = spans
    val childNs = ss.groupBy(_.parent).view.mapValues(_.map(c => c.endNs - c.startNs).sum).toMap
    val t0 = ss.headOption.fold(0L)(_.startNs)
    val lines = ss.map { s =>
      val self = (s.endNs - s.startNs) - childNs.getOrElse(s.id, 0L)
      Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "layer" -> s.layer, "name" -> s.name,
        "start_ms" -> (s.startNs - t0) / 1e6, "dur_ms" -> (s.endNs - s.startNs) / 1e6,
        "self_ms" -> self / 1e6, "jobs" -> s.jobs, "tasks" -> s.tasks,
        "shuffle_write_bytes" -> s.shuffleWrite, "spill_bytes" -> s.spill, "gc_ms" -> s.gcMs,
        "input_bytes" -> s.inBytes, "input_records" -> s.inRecords, "output_bytes" -> s.outBytes))
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}

object Tracer {
  val Layers: Seq[String] = Seq("CrawlLoop", "Frontier", "SeenSet", "Robots", "Fetcher",
    "Parser", "Snapshots", "Indexer", "Search", "SearchServer", "Dedup", "Similarity")
}

/** Minimal JSON rendering for the result file and the trace. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }
  def value(v: Any): String = v match {
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case null => "null"
    case o => str(o.toString)
  }
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
}
