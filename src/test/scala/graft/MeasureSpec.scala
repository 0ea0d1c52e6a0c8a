package graft

import org.scalatest.funsuite.AnyFunSuite

/** The one sampling policy, without Spark: an untimed warm-up, then three
  * timed runs, and a failing run is never turned into a time. */
class MeasureSpec extends AnyFunSuite {

  test("sample runs its body 4 times and returns the last 3 results") {
    var calls = 0
    val out = Measure.sample { calls += 1; calls }
    assert(calls == 4)
    assert(out == Seq(2, 3, 4))
  }

  test("sample lets an exception out, so a failed query counts as a failure, not a time") {
    for (failing <- 1 to 4) {
      var calls = 0
      val e = intercept[IllegalStateException] {
        Measure.sample {
          calls += 1
          if (calls == failing) throw new IllegalStateException(s"run $failing failed")
          calls.toDouble
        }
      }
      assert(e.getMessage == s"run $failing failed")
      assert(calls == failing, "no run after the failing one")
    }
  }
}
