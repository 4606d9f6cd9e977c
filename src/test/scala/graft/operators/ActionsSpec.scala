package graft.operators

import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

class ActionsSpec extends AnyFunSuite {

  test("two failures: the first by argument order is thrown, the second rides as suppressed") {
    val e = intercept[IllegalArgumentException] {
      Actions.inParallel(
        // finishes last, still thrown first: order is by argument
        () => { Thread.sleep(100); throw new IllegalArgumentException("first") },
        () => throw new IllegalStateException("second"),
        () => ())
    }
    assert(e.getMessage == "first")
    assert(e.getSuppressed.toSeq.map(s => (s.getClass, s.getMessage)) ==
      Seq((classOf[IllegalStateException], "second")))
  }

  test("one failure keeps its own type and carries nothing suppressed") {
    val e = intercept[java.io.FileNotFoundException] {
      Actions.inParallel(() => (),
        () => throw new java.io.FileNotFoundException("gone"), () => ())
    }
    assert(e.getMessage == "gone" && e.getSuppressed.isEmpty)
  }

  test("all succeed: every action ran") {
    val ran = new AtomicInteger()
    Actions.inParallel(Seq.fill(4)(() => { ran.incrementAndGet(); () }): _*)
    assert(ran.get == 4)
  }
}
