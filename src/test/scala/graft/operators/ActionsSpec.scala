package graft.operators

import java.util.concurrent.atomic.AtomicInteger

import graft.SparkSpecBase

class ActionsSpec extends SparkSpecBase {

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

  test("the first failure cancels a running sibling's Spark job; the real failure is thrown") {
    val sc = spark.sparkContext
    val t0 = System.nanoTime()
    val e = intercept[IllegalStateException] {
      Actions.inParallel(
        // one task per core, each sleeping a minute unless interrupted
        () => sc.parallelize(1 to 4, 4).foreach(_ => Thread.sleep(60000)),
        () => { Thread.sleep(3000); throw new IllegalStateException("real") })
    }
    val secs = (System.nanoTime() - t0) / 1e9
    assert(e.getMessage == "real")
    assert(secs < 30, s"the sibling's job ran on: the call took $secs s")
    assert(e.getSuppressed.length == 1 &&
      e.getSuppressed.head.getMessage.contains("a sibling action failed"),
      e.getSuppressed.toSeq.map(_.getMessage))
    // the tag was the action threads' own: the caller's jobs carry none
    assert(sc.getJobTags().isEmpty)
    assert(sc.parallelize(1 to 4).count() == 4)
  }
}
