package perfbench

import org.scalatest.funsuite.AnyFunSuite

class IngestCheckSpec extends AnyFunSuite {
  private val tracer = new Tracer(enabled = false)

  test("a planted wrong triangle total is caught as a failed op") {
    val planted = IngestPath.trianglesOp(() => 42L, () => 41L)
    val (_, outcome, failure) = Op.attempt(planted, tracer)
    assert(outcome.exists(_.fp.hash == 42L))
    assert(failure.exists(_.startsWith("wrong result")))
  }

  test("a matching triangle total passes") {
    val (_, _, failure) = Op.attempt(IngestPath.trianglesOp(() => 41L, () => 41L), tracer)
    assert(failure.isEmpty)
  }

  test("an op that throws is a failed op") {
    val (_, outcome, failure) =
      Op.attempt(IngestPath.trianglesOp(() => sys.error("store lost"), () => 0L), tracer)
    assert(outcome.isEmpty && failure.exists(_.contains("store lost")))
  }

  test("the final invariant needs running total, recount and own count to agree") {
    assert(IngestPath.trianglesAgree(7, 7, 7))
    assert(!IngestPath.trianglesAgree(8, 7, 7))
    assert(!IngestPath.trianglesAgree(7, 7, 6))
  }

  test("the benchmark's own triangle count matches a brute-force count") {
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "a"), ("b", "d"))
    assert(Reference.triangles(edges) == 4)
  }
}
