package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Logs the engine's observed metrics (hot-key drop counts from
  * HotKeys.cap et al.) after every action — the distributed-plan
  * analogue of the reference's stderr counters. Drops are WARNs so a
  * capped bucket is visible in default logging. */
private class GraftMetricsListener extends QueryExecutionListener {
  private val log = org.slf4j.LoggerFactory.getLogger("graft.metrics")
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    qe.observedMetrics.foreach { case (name, row) =>
      if (name.startsWith("graft_")) {
        val dropped = try Option(row.getAs[Any]("dropped_rows"))
          .map(_.toString.toLong).getOrElse(0L) catch { case _: Exception => 0L }
        if (dropped > 0) log.warn(s"$name: $row") else log.info(s"$name: $row")
      }
    }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** One place for session construction so Verify / Bench / tests / CLI
  * agree on configs.
  *
  * Scale posture: these settings are sized for local[32] smoke runs,
  * but every query in the engine is written shuffle-clean (AQE on,
  * broadcast-friendly) so the same plans hold on a multi-executor
  * cluster — shuffle.partitions is the only knob a deployment resizes.
  */
object GraftSession {
  /** The session configs `build` applies — exposed as data so a spec
    * can pin the perf-critical knobs (codegen cache size, plan-string
    * cap: r17 A/B-verified wins) against accidental reverts without
    * constructing a second session in the test JVM. */
  def configs(cpus: String): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cpus,
    // r17 (guide §1/§7.3): driver thread dumps during the multi-job
    // facade queries showed Janino whole-stage-codegen COMPILATION
    // on the hot path between jobs — the default codegen cache (100
    // entries, JVM-global LRU) cannot hold one facade query's worth
    // of distinct generated sources, so every re-run recompiles.
    // 10k entries holds the whole suite; the knob is scale-neutral
    // (executors carry the same cache).
    // A/B evidence: 0.72x on the 10 heavies (OPTIMIZATION_r17.md).
    "spark.sql.codegen.cache.maxEntries" -> "10000",
    // r17 (guide §7.3): driver samples during the facade queries
    // caught plan-STRINGIFICATION (PlanStringConcat/TreeNode.nodeName)
    // between jobs — SQL listener events carry a full plan
    // description built eagerly even with the UI off, and AQE posts
    // one per re-planned stage. Cap the string; the cap only
    // truncates diagnostics (explain/UI and event logs — engine-wide,
    // documented in README §perf knobs), never affects results.
    // It is a runtime conf: PlanCheck raises it per-session for full
    // plan dumps.
    "spark.sql.maxPlanStringLength" -> "16384",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.sql.adaptive.enabled" -> "true",
    // the driver-generated events table stores TIMESTAMP(NANOS);
    // Spark's TimestampType is micros-only, so surface ns as long
    // and convert explicitly (queries use timestamp_micros(ns/1000)).
    "spark.sql.legacy.parquet.nanosAsLong" -> "true")

  def build(appName: String = "graft"): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = configs(cpus)
      .foldLeft(SparkSession.builder()
        .master(s"local[$cpus]")
        .appName(appName)
        // native expressions + the version-interval join rewrite Rule
        // (a deployment sets spark.sql.extensions; here it rides the
        // builder so Verify/Bench/tests exercise the same injection)
        .withExtensions(new functions.GraftExtensions)) {
        case (b, (k, v)) => b.config(k, v)
      }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    functions.VulFunctions.register(spark)
    // register the metrics logger once per underlying session
    // (getOrCreate can hand back an existing one)
    if (spark.conf.getOption("graft.metricsListener").isEmpty) {
      spark.listenerManager.register(new GraftMetricsListener)
      spark.conf.set("graft.metricsListener", "true")
    }
    spark
  }
}
