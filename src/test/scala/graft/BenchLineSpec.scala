package graft

import org.scalatest.funsuite.AnyFunSuite

import com.fasterxml.jackson.databind.ObjectMapper

/** Pins the bench driver contract's COMPACT line: it must fit the
  * harness's 2000-char tail capture (budget 1850 — the round-20
  * verdict found every BENCH_r01–r20 had `parsed: null` because the
  * old line always inlined the full per-query state map), stay valid
  * JSON, and keep the fields the driver grades on. Runs against a
  * worst-case synthetic result set (every query slow enough to print
  * 4 significant chars, failures present) so adding queries can't
  * silently regress the contract again.
  */
class BenchLineSpec extends AnyFunSuite {

  private val mapper = new ObjectMapper()

  // every registered query, at pessimistic widths: values like 44.2 /
  // 9.75 print 4 chars; failures print -1 and are ALWAYS named
  private def worstCase: Seq[(String, Double)] =
    SparkEntry.queries.keys.toSeq.sorted.zipWithIndex.map {
      case (n, i) => n -> (if (i % 97 == 13) -1.0 else 10.0 + (i % 90) / 10.0)
    }

  test("compact line fits the 2000-char capture with headroom") {
    val (_, _, compact) =
      Bench.contractLines(worstCase, "/root/testdata/sf0.1", "32")
    assert(compact.length <= 1850,
      s"compact contract line is ${compact.length} chars — the " +
        "driver's 2000-char tail capture would truncate it " +
        "(the r01–r20 failure mode)")
    assert(!compact.contains("\n"))
  }

  test("compact line is valid JSON carrying the graded fields") {
    val (fullJson, fullPath, compact) =
      Bench.contractLines(worstCase, "/root/testdata/sf0.1", "32")
    val c = mapper.readTree(compact)
    assert(c.get("metric").asText == "total")
    assert(c.get("unit").asText == "sec")
    assert(c.get("sf").asText == "sf0.1")
    assert(c.get("cpus").asInt == 32)
    assert(c.get("nq").asInt == SparkEntry.queries.size)
    assert(c.get("value").isNumber)
    assert(c.get("base46").isNumber)
    assert(c.get("state_total").isNumber)
    // the 46 recorded-baseline queries stay inline per-query — the
    // judge compares them against BENCH_r01
    assert(c.get("queries").size == 46)
    assert(c.get("queries").has("q01_scan_project"))
    assert(c.get("queries_scope").asText == "base46")
    // failures always named in their section's map
    val failedNames = worstCase.filter(_._2 < 0).map(_._1)
    assert(failedNames.nonEmpty) // the synthetic set must exercise it
    failedNames.foreach { n =>
      assert(c.get("state_slowest").has(n) || c.get("slowest_rest").has(n)
        || c.get("queries").has(n), s"failed query $n not named")
    }
    assert(c.get("full").asText == fullPath)
    assert(fullPath == "BENCH_FULL_c32.json")
    // the full JSON carries the complete per-query map
    val f = mapper.readTree(fullJson)
    assert(f.get("queries").size == SparkEntry.queries.size)
    assert(f.get("cpus").asInt == 32)
  }

  test("all-green result set still fits and parses") {
    val green = SparkEntry.queries.keys.toSeq.sorted.map(_ -> 0.123)
    val (_, _, compact) =
      Bench.contractLines(green, "/root/testdata/sf0.01", "8")
    assert(compact.length <= 1850)
    val c = mapper.readTree(compact)
    assert(c.get("sf").asText == "sf0.01")
    assert(c.get("full").asText == "BENCH_FULL_c8.json")
  }

  test("per-cpu full path lies beside an overridden full path") {
    val green = SparkEntry.queries.keys.toSeq.sorted.map(_ -> 0.123)
    val (_, fullPath, compact) = Bench.contractLines(green,
      "/root/testdata/sf0.01", "4", "/tmp/bench-out/full.json")
    assert(fullPath == "/tmp/bench-out/BENCH_FULL_c4.json")
    assert(compact.length <= 1850)
    assert(mapper.readTree(compact).get("full").asText == fullPath)
  }
}
