package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench record's pinned-threshold self-audit (round-5 verdict
  * #1): pins parsing and suspect flagging, including the real
  * checked-in BENCH_PINS.json. */
class BenchAuditSpec extends AnyFunSuite {

  test("parsePins reads the real checked-in BENCH_PINS.json") {
    val txt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("BENCH_PINS.json")), "UTF-8")
    val pins = Bench.parsePins(txt)
    // every pin is a gate query with a sane ceiling; wrapper keys
    // (_comment, sf) never parse as pins
    assert(pins.size === SparkEntry.queries.size,
      s"pins (${pins.size}) out of sync with queries (${SparkEntry.queries.size})")
    assert(pins.keySet === SparkEntry.queries.keySet)
    assert(pins.values.forall(v => v >= 2.0 && v < 60.0))
  }

  test("suspects flags only pinned queries whose best-of exceeds the pin") {
    val pins = Map("q01" -> 2.0, "q44" -> 10.0)
    val best = Seq(
      "q01" -> 1.5,   // under pin
      "q44" -> 23.97, // the round-5 contamination case — must flag
      "q02" -> 99.0,  // unpinned — never flags
      "q03" -> -1.0)  // failed — never flags
    assert(Bench.suspects(best, pins) === Seq("q44"))
  }

  test("malformed or missing pins degrade to an empty audit, never a crash") {
    assert(Bench.parsePins("not json at all") === Map.empty)
    assert(Bench.parsePins("") === Map.empty)
    assert(Bench.suspects(Seq("q44" -> 23.97), Map.empty) === Seq.empty)
  }

  test("a failed query makes the suite total null and is named, never dropped") {
    val best = Seq("q01" -> 1.5, "q02" -> -1.0, "q03" -> 2.25)
    assert(Bench.totalJson(best) === "null")
    assert(Bench.totalsJson(best) ===
      "\"n_failed\":1,\"failed\":[\"q02\"],\"total_ok\":3.750000,\"total_best\":null")
    val clean = Seq("q01" -> 1.5, "q03" -> 2.25)
    assert(Bench.totalJson(clean) === "3.750000")
    assert(Bench.totalsJson(clean) ===
      "\"n_failed\":0,\"failed\":[],\"total_ok\":3.750000,\"total_best\":3.750000")
  }
}
