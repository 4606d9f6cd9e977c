package graft.operators

import org.apache.spark.sql.SparkSession

/** Driver-side overlap of INDEPENDENT Spark actions (optimization
  * guide §2.6): Spark's scheduler happily runs several jobs at once —
  * actions are only sequential because driver code calls them
  * sequentially. The index lifecycles here (BM25 build/append/delete,
  * hash-band builds) each run a handful of independent artifact
  * writes/collects back to back, and r17 job profiling measured
  * ~30–50% of their wall in INTER-JOB DRIVER GAPS (per-action
  * analysis/planning/commit on a single thread). Submitting the
  * independent actions from a small thread pool overlaps one action's
  * driver-side gap with another's executor work — same artifacts,
  * same contents, strictly less wall.
  *
  * Correctness preconditions (the callers' responsibility, stated
  * here once):
  *  - the actions must be mutually independent — no action may read
  *    a file another writes, and rename-swaps must stay WITHIN one
  *    action closure (write tmp → rename is one action here);
  *  - shared LAZY cached frames are safe: BlockManager's per-block
  *    locks make a partition compute exactly once, with concurrent
  *    readers blocking until it lands (no duplicated work);
  *  - callers that bracket multi-artifact mutations with a loud
  *    incomplete-marker (the BM25 append/delete device) keep the
  *    SAME guarantee: a failure in any concurrent action leaves the
  *    marker in place, so partial states stay refused — ordering
  *    between the actions inside the bracket was never load-bearing.
  *
  * Failure semantics: the first failure dooms the call, so it
  * cancels the siblings' running Spark jobs — every action thread
  * tags its jobs with one per-call job tag (interrupt-on-cancel) and
  * the first failure cancels that tag. Jobs a sibling starts after
  * the cancel still run. The helper then waits for every action to
  * finish and rethrows the FIRST REAL failure (by argument order)
  * with its original type, so callers' require()/
  * IllegalArgumentException contracts hold unchanged; a sibling's
  * failure that is the helper's own cancellation never takes its
  * place. Every other failure — later real ones, then the cancelled
  * siblings — rides along as a suppressed exception of the first, so
  * none is lost. Without an active SparkSession nothing is tagged or
  * cancelled. Scale posture: pure driver-side concurrency — the
  * cluster sees the same jobs; FIFO scheduling backfills executor
  * slots exactly as guide §2.6 describes. */
object Actions {
  def inParallel(actions: (() => Unit)*): Unit = {
    require(actions.nonEmpty, "inParallel needs at least one action")
    if (actions.lengthCompare(1) == 0) { actions.head(); return }
    val sc = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext)
    val tag = s"graft-actions-${java.util.UUID.randomUUID()}"
    // every job this call cancels fails with this reason in its
    // message, which is how the rethrow tells those failures apart
    val reason = s"because a sibling action failed ($tag)"
    val cancelled = new java.util.concurrent.atomic.AtomicBoolean()
    val results = Array.fill[Option[Throwable]](actions.length)(None)
    val threads = actions.zipWithIndex.map { case (a, i) =>
      val t = new Thread(() => {
        sc.foreach { c => c.addJobTag(tag); c.setInterruptOnCancel(true) }
        try a() catch { case e: Throwable =>
          results(i) = Some(e)
          if (!cancelled.getAndSet(true))
            sc.filterNot(_.isStopped).foreach(_.cancelJobsWithTag(tag, reason))
        }
      }, s"graft-actions-$i")
      // job groups/descriptions/tags are inheritable thread-locals, so
      // each thread keeps the caller's labels and its tag stays its
      // own; non-daemon so a caller cannot exit with a write
      // half-committed
      t.start()
      t
    }
    threads.foreach(_.join())
    def ours(e: Throwable): Boolean = Iterator.iterate(e)(_.getCause)
      .takeWhile(_ != null).exists(c => Option(c.getMessage).exists(_.contains(reason)))
    // a stable sort: real failures first, each group in argument order
    results.flatten.toList.sortBy(ours) match {
      case first :: rest =>
        rest.foreach(first.addSuppressed)
        throw first
      case Nil => ()
    }
  }
}
