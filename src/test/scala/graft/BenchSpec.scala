package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.BenchReport._

/** The bench's contract with its driver, without starting a child JVM:
  * the levels it derives from the box and the compact line it prints. */
class BenchSpec extends AnyFunSuite {

  test("levels: 4N is the box, N = 4N/4; below 4 cpus no headline, with a reason") {
    assert((Levels(4).pLow, Levels(4).pHigh) == ((1, 4)))
    assert((Levels(32).pLow, Levels(32).pHigh) == ((8, 32)))
    assert(Levels(4).why.isEmpty && Levels(32).why.isEmpty)
    assert(Levels(2).pLow == 0 && Levels(2).why.exists(_.contains("2 cpus")))
  }

  test("compact line: one JSON line with every driver key, under the tail limit") {
    val s = new State(Levels(32), "/data/sf0.1", 1200)
    s.loopBatch = 1600000
    // brackets: three pairs in band, the last one superlinear (dirty)
    s.loopPairs = Vector((0.90, 0.95), (0.91, 1.00), (0.93, 1.02), (0.95, 1.10))
      .zipWithIndex.map { case ((lo, hi), i) =>
        LoopPair(Step(8800000L, 120.0 + i), Step(8800000L, 33.3 - i), lo, hi) }
    s.kernelPairs = Vector.fill(2)((KernelRun(9.1, 16800000L, 75.4, 10.2),
      KernelRun(2.4, 16800000L, 19.9, 2.7)))
    s.queries = SparkEntry.queries.keys.toSeq.sorted.map(_ -> 123.456)
    s.ann = Seq(0.9, 0.8, 0.7, 0.6)
    s.notes = Vector("kernel pair 2 skipped: 100 s left < 300 s")
    val line = render(s)
    assert(!line.contains("\n") && line.length < MaxLineBytes, s"${line.length} B")

    val json = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    assert(json.get("metric").asText == "frontier_throughput_urls_per_sec")
    assert(json.get("value").asDouble > 0 && json.get("unit").asText == "urls/sec")
    assert(json.get("cpus").asInt == 32 && json.get("p_low").asInt == 8 &&
      json.get("p_high").asInt == 32)
    assert(json.get("queries").size == SparkEntry.queries.size)
    assert(json.get("queries").has("q39"))
    assert(json.get("kernel_scaling").get("efficiency").asDouble > 0)
    val loop = json.get("loop_scaling")
    assert(loop.get("efficiency").asDouble > 0)
    assert(loop.get("long").get("clean_pairs").asInt == 3)
  }
}
