package graft

import org.apache.spark.sql.DataFrame

/** THE timed action shared by Bench, TimeQueries and JobProfile — one
  * definition so the scored sweep, the floors gate and the profiler
  * always measure the same work.
  *
  * Default is the noop sink (optimization guide §1.4): it eagerly
  * computes EVERY column of every row and discards the result, so the
  * optimizer cannot prune columns or whole subtrees the way it can
  * under `.count()` — which flattered some of the pure-relational
  * queries (q01–q29) for 17 rounds. Switched in r18 WITHOUT
  * re-recording the floors: `bench_floors.json` still holds `.count()`
  * timings. `GRAFT_BENCH_ACTION=count` reproduces the legacy action
  * for cross-round comparisons. The Bench artifact carries an
  * `action` field, which the floors tools read
  * (`TimeQueries.recordedAction`): the `--assert-floor` gate refuses
  * floors recorded under another action than the run's, and
  * `MergeFloors` refuses to mix actions, so floors and sweeps of
  * different actions are never silently compared. */
object BenchAction {
  val name: String = fromEnv(sys.env.get("GRAFT_BENCH_ACTION"))

  /** The action a `GRAFT_BENCH_ACTION` value selects (unset = noop);
    * anything else refuses. Callers that catch per-query failures
    * (Bench.once) must force `name` first, or the refusal reads as
    * failed queries instead of stopping the run. */
  private[graft] def fromEnv(v: Option[String]): String = v.getOrElse("noop") match {
    case a @ ("noop" | "count") => a
    case other => sys.error(s"GRAFT_BENCH_ACTION must be noop|count, got $other")
  }
  def run(df: DataFrame): Unit = name match {
    case "count" => df.count(); ()
    case _ => df.write.format("noop").mode("overwrite").save()
  }
}
