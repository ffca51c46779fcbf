package graft

import org.scalatest.funsuite.AnyFunSuite

/** Synthetic-burst pins for [[Bench.burstAdopts]] — the per-key
  * adoption rule that closes the hole the median regime stamp
  * leaves (BENCH_r15: a mid-sweep burst ran the graph family 8-13x
  * inflated at byte-identical shuffles while the stamp read 0.993).
  */
class BenchAdoptionSpec extends AnyFunSuite {
  test("the r15 burst signature adopts: >2x collapse at identical bytes") {
    // g02's measured figures from BENCH_r15's own recheck block
    assert(Bench.burstAdopts(44.95, 5.14, 123456789L, 123456789L))
    assert(Bench.burstAdopts(36.2, 3.8, 42L, 42L))
  }

  test("mild inflation does NOT adopt: the 2x bar separates regime " +
    "from same-day variance") {
    assert(!Bench.burstAdopts(6.0, 5.0, 42L, 42L))
    assert(!Bench.burstAdopts(10.0, 5.0, 42L, 42L), "exactly 2x stays")
  }

  test("byte drift does NOT adopt even at huge inflation — a plan " +
    "change must stand in the map") {
    assert(!Bench.burstAdopts(44.95, 5.14, 123456789L, 99999999L))
    assert(!Bench.burstAdopts(100.0, 1.0, 1L, 2L))
  }
}

/** Pins for the r17 driver-visible per-query output (VERDICT r16
  * task 1): the final stdout line must stay inside the driver's
  * tail-bounded capture, carry the most expensive keys first, and
  * the chunked lines must carry the COMPLETE map.
  */
class BenchLineSpec extends AnyFunSuite {
  private val pairs = (1 to 225).map(i => (f"q$i%03d_some_query_name", i / 10.0))

  test("inlineTopPairs keeps the line within budget and picks the " +
    "most expensive keys first") {
    val overhead = 150
    val m = Bench.inlineTopPairs(pairs, overhead, 1700)
    assert(overhead + m.length <= 1700)
    assert(m.contains("\"q225_some_query_name\":22.50"), "top key present")
    assert(m.contains("\"q200_some_query_name\":20.00"))
    assert(!m.contains("\"q001_some_query_name\""), "cheapest key omitted")
    // parseable fragment: balanced braces, name:number pairs only
    val pairRe = """"[a-z0-9_]+":[0-9]+\.[0-9]+""".r
    assert(pairRe.findAllIn(m).size >= 50, "at least ~50 keys reach the driver")
  }

  test("inlineTopPairs emits the full map when everything fits") {
    val m = Bench.inlineTopPairs(pairs.take(5), 100, 1700)
    assert("""":""".r.findAllIn(m).size == 5)
  }

  test("chunkLines carry the complete map, each line under budget, " +
    "cheapest keys in the last chunk") {
    val lines = Bench.chunkLines(pairs, 1500)
    assert(lines.forall(_.length <= 1500 + 100), "chunk overhead bounded")
    val pairRe = """"(q[0-9]+_some_query_name)":""".r
    val seen = lines.flatMap(l => pairRe.findAllMatchIn(l).map(_.group(1)))
    assert(seen.toSet.size == 225, "every key appears exactly once across chunks")
    assert(seen.size == 225)
    assert(lines.last.contains("\"q001_some_query_name\":0.100"),
      "cheapest key lands in the final chunk, nearest a tail capture")
    assert(lines.head.contains("\"q225_some_query_name\":22.500"))
  }
}

/** Pins for [[Bench.committedBaseline]]: a committed map is a
  * vs_committed baseline only for a run at the same SF on the same
  * core count, recorded at an idle regime stamp.
  */
class BenchBaselineSpec extends AnyFunSuite {
  private val sf = "/data/sf0.1"
  private def artifact(fields: String): String =
    s"""{"metric":"total","value":1.500,"queries":{"q01_pricing_summary":1.250,""" +
      s""""not_a_key":0.250},"errors":[],"sf":"$sf"$fields}"""

  test("a same-SF same-cpus map is adopted, known keys only") {
    assert(Bench.committedBaseline(artifact(""","cpus":"8""""), sf, "8") ==
      Map("q01_pricing_summary" -> 1.25))
    assert(Bench.committedBaseline(artifact(""","cpus":"8""""), sf + "/", "8")
      .nonEmpty, "sf paths compare normalized")
  }

  test("a map from another core count, or with none recorded, is refused") {
    assert(Bench.committedBaseline(artifact(""","cpus":"8""""), sf, "32").isEmpty)
    assert(Bench.committedBaseline(artifact(""), sf, "32").isEmpty)
  }

  test("the SF and regime guards still refuse") {
    assert(Bench.committedBaseline(artifact(""","cpus":"8""""), "/data/sf1", "8")
      .isEmpty)
    assert(Bench.committedBaseline(
      artifact(""","cpus":"8","regime_ratio":1.300"""), sf, "8").isEmpty)
    assert(Bench.committedBaseline(
      artifact(""","cpus":"8","regime_ratio":0.990"""), sf, "8").nonEmpty)
  }
}
