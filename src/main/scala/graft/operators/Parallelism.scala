package graft.operators

import org.apache.spark.sql.DataFrame

/** Input-parallelism floor for CPU-dense batch facades (guide §2.5/§6).
  *
  * A small parquet input (one file, one row group) plans as ONE scan
  * partition, and every facade branch that re-executes the per-row
  * work — normalize, tokenize, shingle/minhash, image/GIF decode —
  * then runs single-threaded, once per consumer branch. Job profiling
  * (r17) showed q131-style prep chains spending 4+ seconds in
  * back-to-back ONE-task jobs on a 32-core host while 31 cores idled.
  * Raising `spark.sql.files.minPartitionNum` cannot help: a single
  * row group is not splittable, so the extra scan splits come back
  * empty.
  *
  * `widen` round-robin repartitions a frame up to the session's
  * default parallelism ONLY when its planned partition count is below
  * it. At scale the input already carries >= cores partitions and
  * this is a no-op (no exchange added); locally it costs one shuffle
  * of the raw rows (KBs here) and parallelizes every downstream
  * branch. Deterministic: round-robin repartition sorts within input
  * partitions first (sortBeforeRepartition, Spark default) and every
  * engine operator is partition-count-independent (canonical sorts,
  * keyed aggregations) — results are unchanged, which the oracle
  * rows pin.
  *
  * WHERE it pays (measured r17, interleaved A/B): at the CALLER,
  * before a pinned per-row media encode/decode (synthetic image/GIF
  * fixtures feeding the signature tiers: q138 0.83x, q142 0.59x).
  * NOT at the facade entry for thin text chains — there the 32-task
  * per-stage overhead (deserializing the large generated task
  * binaries, broadcast fetch contention) costs more than the
  * parallelism wins (q131 1.32x, q140 1.28x slower when it was
  * tried), and the facade's concurrent AQE stage materialization
  * already overlaps the serial branches.
  *
  * Batch-only: `.rdd` on a streaming frame would throw; stream
  * facades size their tasks from the micro-batch source instead.
  *
  * HARD CONTRACT — scan-level inputs only (r17 advice): `df.rdd` on a
  * plan that contains an Exchange would, under AQE, MATERIALIZE every
  * query stage (run the real shuffle jobs) just to ask the partition
  * count, and `repartition()` would then re-execute the whole plan
  * from scratch — a silent double execution. And the pre-AQE
  * partition count of such a plan lies anyway (AQE coalescing decides
  * it at runtime). `widen` therefore returns exchange-bearing plans
  * UNCHANGED — the guarded fast path only ever fires on scan-level
  * frames, where `.rdd` is plan-only (no exchanges → no stage jobs;
  * the file listing it forces is work the downstream action pays
  * either way). */
object Parallelism {
  def widen(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (hasExchange(df)) df
    else if (df.rdd.getNumPartitions < target) df.repartition(target)
    else df
  }

  /** Does the planned physical tree contain an Exchange — or any
    * adaptive wrapper at all? AQE also wraps a plan whose only reason
    * is a subquery, and `.rdd` on any `AdaptiveSparkPlanExec`
    * finalizes it (runs the subquery jobs): a hidden extra execution,
    * so every adaptive plan disqualifies. Never runs a job. */
  private def hasExchange(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.exists {
      case _: org.apache.spark.sql.execution.exchange.Exchange => true
      case _: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => true
      case _ => false
    }
}
