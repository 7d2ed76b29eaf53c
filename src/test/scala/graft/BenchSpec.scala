package graft

import org.scalatest.funsuite.AnyFunSuite

/** `Bench.timeAll`: a query that throws is reported as failed, never
  * as a (fast) time, and fatal errors are not swallowed. */
class BenchSpec extends AnyFunSuite {
  test("a failing query is named in failed and kept out of the timings") {
    var calls = Map.empty[String, Int]
    val (timed, failed) = Bench.timeAll(Seq("a", "boom", "b"), { name =>
      calls = calls.updated(name, calls.getOrElse(name, 0) + 1)
      if (name == "boom") throw new IllegalStateException("query failed")
    })
    assert(timed.map(_._1) === Seq("a", "b"))
    assert(timed.forall { case (_, (t1, t2)) => t1 >= 0 && t2 >= 0 })
    assert(failed === Seq("boom"))
    // two legs per good query; a failed first leg skips the second
    assert(calls === Map("a" -> 2, "boom" -> 1, "b" -> 2))
  }

  test("a fatal error stops the bench instead of being recorded") {
    intercept[StackOverflowError] {
      Bench.timeAll(Seq("a"), _ => throw new StackOverflowError())
    }
  }
}
