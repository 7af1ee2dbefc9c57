package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins [[Bench.over2xResiduals]] — the r17-verdict gate that makes a
  * silent >2×-of-best-known bench residual impossible. The driver's
  * official run ends with this list in the JSON line; these tests are
  * the schema/semantics contract for it. Also pins the reference file's
  * key (data dir and core count). */
class BenchSpec extends AnyFunSuite {

  private val best = Map("a" -> 1.0, "b" -> 0.951, "c" -> 2.606)

  test("clean run yields an empty list") {
    assert(Bench.over2xResiduals(
      Map("a" -> 1.2, "b" -> 1.1, "c" -> 3.0), best.get).isEmpty)
  }

  test("a median over 2x its best-known ships with that best-known") {
    assert(Bench.over2xResiduals(Map("c" -> 6.03), best.get) ==
      Vector(("c", 6.03, 2.606)))
  }

  test("sub-0.5s medians and queries without a best-known are excluded") {
    // 0.4 s is 4x of 0.05 but inside scheduling jitter — floored out
    assert(Bench.over2xResiduals(
      Map("a" -> 0.4), (_: String) => Some(0.05)).isEmpty)
    // no best-known: nothing to be 2x OF
    assert(Bench.over2xResiduals(
      Map("new_query" -> 9.0), best.get).isEmpty)
  }

  test("the 0.2s absolute guard keeps near-threshold jitter out") {
    // 2x of 0.5 = 1.0; 1.15 is over 2x but under 2x + 0.2
    assert(Bench.over2xResiduals(
      Map("a" -> 1.15), (_: String) => Some(0.5)).isEmpty)
    assert(Bench.over2xResiduals(
      Map("a" -> 1.25), (_: String) => Some(0.5)).nonEmpty)
  }

  test("output is name-sorted (stable across runs for diffing)") {
    val r = Bench.over2xResiduals(
      Map("z" -> 9.0, "a" -> 9.0, "m" -> 9.0), (_: String) => Some(1.0))
    assert(r.map(_._1) == Vector("a", "m", "z"))
  }

  test("references are keyed by data dir and core count; local[32] keeps " +
    "the committed names") {
    assert(Bench.referencePath("/data/sf0.1", "32").toString ==
      "bench_reference_sf0.1.json")
    assert(Bench.referencePath("/data/sf0.1", "4").toString ==
      "bench_reference_sf0.1_c4.json")
    assert(Bench.referencePath("testdata-sf1.0", "8").toString ==
      "bench_reference_testdata-sf1.0_c8.json")
    // the committed local[32] reference is still found (cwd = repo root)
    assert(java.nio.file.Files.isReadable(Bench.referencePath("sf0.1", "32")))
  }
}
