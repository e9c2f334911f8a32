package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  test("the headline sums the drain and the successful query walls") {
    val (total, failed) = Bench.headline(10.0, Map("q01_a" -> 1.5, "q02_b" -> 2.25))
    assert(total == 13.75)
    assert(failed.isEmpty)
  }

  test("a failed query (-1) is left out of the headline and named as failed") {
    val (total, failed) = Bench.headline(10.0,
      Map("q01_a" -> 1.5, "q03_c" -> -1.0, "q02_b" -> -1.0))
    assert(total == 11.5)
    assert(failed == Seq("q02_b", "q03_c"))
  }

  test("no queries: the headline is the drain alone") {
    assert(Bench.headline(4.0, Map.empty) == ((4.0, Seq.empty)))
  }
}
