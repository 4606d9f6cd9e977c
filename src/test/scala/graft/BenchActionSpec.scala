package graft

import org.scalatest.funsuite.AnyFunSuite

/** The timed action's env switch: a bad value must refuse with its own
  * message (Bench forces the name before its per-query catch-all). */
class BenchActionSpec extends AnyFunSuite {

  test("GRAFT_BENCH_ACTION: unset is noop, count is kept, anything else refuses") {
    assert(BenchAction.fromEnv(None) == "noop")
    assert(BenchAction.fromEnv(Some("noop")) == "noop")
    assert(BenchAction.fromEnv(Some("count")) == "count")
    val e = intercept[RuntimeException](BenchAction.fromEnv(Some("collect")))
    assert(e.getMessage == "GRAFT_BENCH_ACTION must be noop|count, got collect")
  }
}
