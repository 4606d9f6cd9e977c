package graft.operators

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
  * Failure semantics: waits for every action to finish, then rethrows
  * the FIRST failure (by argument order) with its original type, so
  * callers' require()/IllegalArgumentException contracts hold
  * unchanged; every later failure rides along as a suppressed
  * exception of the first, so none is lost. Scale posture: pure driver-side concurrency — the
  * cluster sees the same jobs; FIFO scheduling backfills executor
  * slots exactly as guide §2.6 describes. */
object Actions {
  def inParallel(actions: (() => Unit)*): Unit = {
    require(actions.nonEmpty, "inParallel needs at least one action")
    if (actions.lengthCompare(1) == 0) { actions.head(); return }
    val results = Array.fill[Option[Throwable]](actions.length)(None)
    val threads = actions.zipWithIndex.map { case (a, i) =>
      val t = new Thread(() => {
        results(i) = (try { a(); None }
        catch { case e: Throwable => Some(e) })
      }, s"graft-actions-$i")
      // job groups/descriptions are inheritable thread-locals, so each
      // thread keeps the caller's labels; non-daemon so a caller
      // cannot exit with a write half-committed
      t.start()
      t
    }
    threads.foreach(_.join())
    results.flatten.toList match {
      case first :: rest =>
        rest.foreach(first.addSuppressed)
        throw first
      case Nil => ()
    }
  }
}
