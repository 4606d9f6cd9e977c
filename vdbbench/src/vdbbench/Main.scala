package vdbbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Metric catalogue: every name the harness prints, with its unit.
  * BENCHMARK.json lists the same names (checked by test_bench.py). */
object Metrics {
  val prepQueries: Seq[String] = Seq("q131_prep_end_to_end")

  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_s" -> "s", "peak_heap_mb" -> "MB")

  private val feeds = Seq("ubuntu", "debian", "alpine", "rhel", "nvd", "ghsa", "go")

  val perLayer: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count", "spark.tasks" -> "count", "spark.exec_run_s" -> "s",
    "spark.shuffle_write_mb" -> "MB", "spark.driver_gap_s" -> "s",
    "spark.core_busy_frac" -> "frac") ++
    feeds.flatMap(f => Seq(s"sources.$f.load_s" -> "s", s"sources.$f.parse_s" -> "s",
      s"sources.$f.rows" -> "count")) ++
    Seq("namespacing.s" -> "s", "namespacing.rows_in" -> "count",
      "namespacing.rows_out" -> "count", "app_postfilters.s" -> "s",
      "app_postfilters.rows_out" -> "count", "enrich.distro_s" -> "s",
      "enrich.app_s" -> "s", "enrich.rows_out" -> "count",
      "pipeline.transform_s" -> "s", "pipeline.upsert_self_s" -> "s",
      "sink.write_s" -> "s", "sink.project_s" -> "s", "sink.encode_s" -> "s",
      "sink.jobs" -> "count", "sink.plain_mb" -> "MB", "sink.artifact_mb" -> "MB",
      "vulnmatch.fix_ranges_s" -> "s", "vulnmatch.fix_ranges_rows" -> "count",
      "vulnmatch.affected_s" -> "s", "vulnmatch.rows_out" -> "count",
      "vulnmatch.hit_frac" -> "frac", "functions.version_cmp_ns" -> "ns") ++
    prepQueries.flatMap(q => Seq(s"prep.$q.s" -> "s", s"prep.$q.jobs" -> "count",
      s"prep.$q.driver_gap_s" -> "s", s"prep.$q.shuffle_mb" -> "MB")) ++
    Seq("trace.wall_s" -> "s", "trace.untraced_s" -> "s", "trace.overhead_s" -> "s",
      "trace.layer_sum_s" -> "s", "trace.accounted_frac" -> "frac")
}

/** Peak live heap over the timed section: the largest heap occupancy
  * right after a garbage collection, from the collectors' notifications.
  * Unlike sampled used-heap it does not depend on how much garbage the
  * young generation happens to hold when sampled. */
final class HeapPeak {
  import java.lang.management.ManagementFactory
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import com.sun.management.GarbageCollectionNotificationInfo
  import scala.jdk.CollectionConverters._

  private val peak = new java.util.concurrent.atomic.AtomicLong()
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  private val listener = new NotificationListener {
    def handleNotification(n: Notification, hb: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
        val after = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        peak.accumulateAndGet(after, (a: Long, b: Long) => math.max(a, b))
      }
  }
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: NotificationEmitter => e }
  emitters.foreach(_.addNotificationListener(listener, null, null))

  def finish(): Double = {
    emitters.foreach(_.removeNotificationListener(listener))
    peak.get / 1048576.0
  }
}

/** The benchmark harness. It calls the engine as a library and times
  * the calls from outside; see vdbbench/README.md. Usage:
  *
  *   Main --workload W --seed N --seconds S --trace 0|1 --inputs DIR
  *        --work DIR [--manifest FILE] [--record FILE] [--trace-out FILE]
  *   Main --list-metrics
  *   Main --check-inputs --workload W --inputs DIR --work DIR
  *
  * The last stdout line is the result JSON object. */
object Main {

  def main(argv: Array[String]): Unit = {
    if (argv.contains("--list-metrics")) {
      val out = Json.obj()
      Seq("end_to_end" -> Metrics.endToEnd, "per_layer" -> Metrics.perLayer).foreach {
        case (key, ms) =>
          val a = out.putArray(key)
          ms.foreach { case (n, u) => a.addObject().put("name", n).put("unit", u) }
      }
      println(Json.write(out))
      return
    }
    val args = argv.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = args("workload")
    val seed = args.getOrElse("seed", "1").toLong
    val seconds = args.getOrElse("seconds", "10").toDouble
    val traced = args.getOrElse("trace", "0") == "1"
    val (inDir, workDir) = (args("inputs"), args("work"))
    val manifest = args.get("manifest").map(Json.read)
      .flatMap(m => Option(m.get(workload)))
      .filter(m => workload == "prep_heavy" || m.path("seed").asLong(-1) == seed)

    val t0 = System.nanoTime()
    implicit val spark: SparkSession = graft.GraftSession.build("vdbbench")
    spark.sparkContext.setLogLevel("ERROR")
    val sched = new SchedListener(spark.sparkContext)
    spark.sparkContext.addSparkListener(sched)
    try {
      val expected = Workload.stringMap(manifest.map(_.get("digests")).orNull)
      val w: Workload = workload match {
        case "build_daily" => new BuildWorkload(inDir, workDir, seed, expected)
        case "prep_heavy" => new PrepWorkload(inDir, workDir, Metrics.prepQueries, expected)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      if (argv.contains("--check-inputs")) {
        val rows = w.inputRows()
        rows.foreach { case (n, c) => System.err.println(s"[vdbbench] $workload input $n: $c rows") }
        val out = Json.obj()
        rows.foreach { case (n, c) => out.put(n, c) }
        println(Json.write(out))
        if (rows.exists(_._2 <= 0)) sys.exit(1)
        return
      }
      val result = run(w, workload, seconds, traced, t0, sched, args.get("trace-out"))
      args.get("record").foreach { path =>
        val body = Json.obj().put("seed", seed)
        val digests = body.putObject("digests")
        w.digests.toSeq.sorted.foreach { case (k, v) => digests.put(k, v) }
        Json.writeFile(path, body)
      }
      println(result)
    } finally spark.stop()
  }

  private def run(w: Workload, workload: String, seconds: Double, traced: Boolean,
      t0: Long, sched: SchedListener, traceOut: Option[String]): String = {
    var attempted = 0
    var failed = 0
    def attempt(what: String)(body: => Seq[String]): Unit = {
      val errs = try body catch { case e: Exception => Seq(s"$what threw $e") }
      if (errs.nonEmpty) {
        failed += 1
        errs.foreach(e => System.err.println(s"[vdbbench] FAILED $workload: $e"))
      }
    }

    // set-up: session (above) plus one untimed warm-up operation
    attempted += 1
    attempt("warm-up") { w.op(); w.check() }
    val setupS = (System.nanoTime() - t0) / 1e9
    def progress(what: String) = System.err.println(
      f"[vdbbench] $workload: $what at ${(System.nanoTime() - t0) / 1e9}%.1f s")
    progress("set-up done")

    // timed closed loop: the next operation starts when the last ended
    val walls = mutable.ArrayBuffer.empty[Double]
    val windows = mutable.ArrayBuffer.empty[sched.Window]
    val heap = new HeapPeak
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    while (walls.length < w.minOps || (elapsed < seconds && elapsed < 150)) {
      var n = 1
      val (_, win) = sched.measure {
        attempt("operation") { n = w.op(); Nil }
      }
      attempted += n
      walls += win.wallS
      windows += win
      attempt("output check") { w.check() }
    }
    val peakHeapMb = heap.finish()
    progress(s"timed operations done, walls ${walls.map(x => f"$x%.2f").mkString(" ")} s")
    attempt("final check") {
      val (ops, errs) = w.finalCheck()
      attempted += ops
      errs
    }
    progress("final check done")
    val opS = Stats.median(walls.toSeq)

    val metrics: Seq[(String, Double)] =
      if (!traced) Seq("setup_s" -> setupS, "op_s" -> opS, "peak_heap_mb" -> peakHeapMb)
      else {
        val t = new Trace
        val layers = mutable.Map.empty[String, Double]
        attempted += 1
        attempt("traced operation") {
          val (ms, errs) = w.traced(t, sched)
          layers ++= ms
          errs
        }
        // The traced op does the untraced op's work, split into one span
        // per layer call. Its layer self-times are compared with the
        // untraced median of this run, a separate measurement: the ratio
        // moves off 1 by the tracing overhead (split plans, cache writes)
        // and by work that no layer span covers.
        val root = t.root("op")
        val layerSum = t.layerSelfSeconds(root)
        def med(f: sched.Window => Double) = Stats.median(windows.map(f).toSeq)
        layers ++= Seq(
          "spark.jobs" -> med(_.jobs.toDouble), "spark.tasks" -> med(_.tasks.toDouble),
          "spark.exec_run_s" -> med(_.execRunS), "spark.shuffle_write_mb" -> med(_.shuffleWriteMb),
          "spark.driver_gap_s" -> med(_.driverGapS), "spark.core_busy_frac" -> med(_.coreBusyFrac),
          "trace.wall_s" -> root.seconds, "trace.untraced_s" -> opS,
          "trace.overhead_s" -> (root.seconds - opS), "trace.layer_sum_s" -> layerSum,
          "trace.accounted_frac" -> layerSum / opS)
        traceOut.foreach { path =>
          val body = Json.obj().put("workload", workload)
          val ms = body.putObject("metrics")
          Metrics.perLayer.foreach { case (n, _) => ms.put(n, layers.getOrElse(n, 0.0)) }
          body.set("spans", t.toJson)
          Json.writeFile(path, body)
        }
        // layers this workload does not exercise report 0
        Metrics.perLayer.map { case (n, _) => n -> layers.getOrElse(n, 0.0) }
      }
    val units = (Metrics.endToEnd ++ Metrics.perLayer).toMap
    val result = Json.obj().put("correct", failed == 0).put("attempted", attempted)
      .put("failed", failed)
    val ms = result.putObject("metrics")
    metrics.foreach { case (n, v) => ms.putObject(n).put("value", v).put("unit", units(n)) }
    Json.write(result)
  }
}
