package graft
import org.apache.spark.sql.SparkSession

/** Driver-run benchmark. One untimed warmup pass primes JIT, codegen
  * caches, and file listings; each query is then timed over
  * `GRAFT_BENCH_ITERS` (default 3) passes and scored as the per-query
  * MIN — the standard noise-floor estimator, immune to host contention
  * that a median cannot reject when every sample lands in a slow
  * window (observed: a query recorded at 8.3s median under sustained
  * contention reran at 0.54s). If a query's median still exceeds
  * 2x its min, it is resampled up to `GRAFT_BENCH_RERUNS` (default 3)
  * extra times so the floor is taken from a quiet window. The medians
  * are published alongside for transparency. Prints one JSON line:
  * {"metric":"total","value":N,"unit":"sec","queries":{...},
  *  "medians":{...},"spread":{...},"sf":...} — `spread` is each
  * query's in-run median/min band, consumed by the floors gate
  * (`TimeQueries --assert-floor`) to widen volatile queries' allowed
  * factor. The same line is also written to `GRAFT_BENCH_OUT`
  * (default /tmp/graft_bench.json) AND to repo-relative
  * `bench_last.json`, so the scored artifact never depends on
  * scraping the JSON out of a log tail (sbt's [info] prefixing +
  * tail-window truncation lost it in three prior rounds). Queries run in two phases: every small query is
  * warmed and fully sampled BEFORE the multi-second multi-job tail
  * executes, so the heavy queries' JIT/GC pressure cannot bleed into
  * small-query timings — the cross-round drift isolation r8's bench
  * watch asked for. The heavy list is DERIVED, not static: one
  * classification pass (which doubles as the global warmup) times
  * every query once, and anything over `GRAFT_BENCH_HEAVY_SECS`
  * (default 1.0) joins the heavy phase — so a new multi-second query
  * cannot silently land in the small phase and re-introduce the
  * drift. Provisional heavies are re-timed warm (min of three) and
  * demote only below `GRAFT_BENCH_DEMOTE_FRAC` (default 0.9) of the
  * threshold — the hysteresis band keeps borderline queries from
  * flip-flopping phases on classify-vs-score noise. `GRAFT_BENCH_HEAVY`
  * (comma-separated names) force-ADDS queries to the heavy phase on
  * top of the derived set. `GRAFT_BENCH_ONLY` (comma-separated
  * names) restricts the sweep to a subset — smoke/A-B mode; the
  * artifact then carries a `subset` field so a partial total can't
  * read as a full-sweep score.
  *
  * CONTENTION SENTINEL: a contaminated run must self-report instead
  * of costing a forensics round (r15: uniform 1.0-2.1x inflation on
  * untouched queries under sustained host load — min-of-3 cannot
  * reject contention when every sample lands in a busy window). Two
  * independent signals ride the output JSON as `sentinel`:
  *  - `load_*`: `getSystemLoadAverage` sampled before every timed
  *    query execution (1-min loadavg; includes THIS process, so a
  *    healthy run sits near the query parallelism — what matters is
  *    drift and the max, normalized by `ncpus`);
  *  - `calib_first_sec`/`calib_last_sec`: a FIXED-COST calibration
  *    job (pure codegen'd range-sum, no IO, data-independent) timed
  *    (median of 3) right after session warmup and again after the
  *    last scored query. `calib_ratio` far from 1.0 means the host's
  *    available CPU changed across the run, and the per-query floors
  *    straddle different conditions — re-run on a quiet host before
  *    reading anything into cross-round deltas. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val iters = math.max(1, sys.env.getOrElse("GRAFT_BENCH_ITERS", "3").toInt)
    val maxReruns = math.max(0, sys.env.getOrElse("GRAFT_BENCH_RERUNS", "3").toInt)
    // resolved before the session and the timing loop: `once` turns
    // any Throwable into -1, which would swallow a bad action name
    val action = s""""action":"${BenchAction.name}","""
    val spark = GraftSession.build("graft-bench")

    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    val loadSamples = scala.collection.mutable.ArrayBuffer.empty[Double]

    // Timed action (guide §1.4): BenchAction — noop sink by default
    // since r18 (floors re-recorded at that boundary; the artifact's
    // `action` field marks which action produced it), count() before.
    def once(name: String): Double = {
      val l = osBean.getSystemLoadAverage
      if (l >= 0) loadSamples += l
      val t0 = System.nanoTime()
      try BenchAction.run(SparkEntry.queries(name)(spark, sfDir))
      catch { case _: Throwable => return -1.0 }
      (System.nanoTime() - t0) / 1e9
    }

    // Fixed-cost calibration: a pure whole-stage-codegen range scan —
    // no file IO, no shuffle, data-independent — so its time moves
    // ONLY with available CPU. Median of 3 (a min would reject
    // exactly the contention this exists to observe).
    def calibOnce(): Double = {
      val t0 = System.nanoTime()
      spark.range(2000000000L).selectExpr("sum(id * (id % 7))").collect()
      (System.nanoTime() - t0) / 1e9
    }
    def calib(): Double =
      Seq(calibOnce(), calibOnce(), calibOnce()).sorted.apply(1)

    // The multi-second, multi-job queries run in their own phase AFTER
    // every small query is fully sampled: their JIT/GC/executor-memory
    // pressure otherwise bleeds into whichever small queries share the
    // JVM window (observed as a broad ~1.2x drift on untouched queries
    // in two consecutive rounds). Warmup, passes, and rerun guard all
    // stay phase-local. Membership is measured, not hand-listed: the
    // classification pass below is the global warmup (every query runs
    // once, cold), and its per-query time decides the phase — with the
    // env override only able to ADD heavies, a new expensive query
    // can't hide in the small phase.
    val heavySecs = sys.env.getOrElse("GRAFT_BENCH_HEAVY_SECS", "1.0").toDouble
    val forcedHeavy = sys.env.getOrElse("GRAFT_BENCH_HEAVY", "")
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
      .filter(SparkEntry.queries.contains)
    // GRAFT_BENCH_ONLY (comma-separated names): restrict the sweep —
    // for smoke-testing the artifact end-to-end and for A/B'ing a
    // handful of queries through the SAME warm/min-of-3/rerun
    // machinery the scored runs use (a single-pass timer reads ~2x
    // noise between windows; this doesn't). Unknown names are
    // ignored; the artifact marks the run "subset" so a partial
    // total can never be mistaken for a full-sweep score.
    val only = sys.env.getOrElse("GRAFT_BENCH_ONLY", "")
      .split(",").map(_.trim).filter(_.nonEmpty).toSet
    val allNames = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.isEmpty || only.contains(n))
    // Throwaway warm query (not scored, not classifying): pays the
    // session-global init — JIT of the Spark submit/codegen paths,
    // Hadoop FS + parquet footer caches — OUTSIDE any measurement.
    // Without it the first queries of the alphabet absorb that cost in
    // their cold time and misclassify as heavy (observed r10: four
    // sub-second relational queries led the heavy list).
    allNames.headOption.foreach(once)
    // sentinel leg 1: fixed-cost calibration on the freshly-warmed
    // JVM, BEFORE any scored work. One untimed pass first — the
    // calibration plan's own codegen compile must not read as "the
    // host was slower at the start" (observed: first-vs-last ratio
    // 0.43 on an idle host without it).
    calibOnce()
    val calibFirst = calib()
    val coldTimes = allNames.map(n => n -> once(n)).toMap
    // Cold-start bias guard, second layer: re-time the provisional
    // heavies TWICE — the JVM is warm now — and classify on the min of
    // all samples (r10 showed a single re-time can still land in the
    // warmup window); an erroring query (-1) stays heavy so its
    // failure cannot perturb small-phase timings.
    val provisional = allNames.filter(n =>
      coldTimes(n) > heavySecs || coldTimes(n) < 0)
    val classTimes = coldTimes ++ provisional.map { n =>
      val c = coldTimes(n)
      n -> (if (c < 0) c else Seq(c, once(n), once(n), once(n)).min)
    }
    // Hysteresis: a provisional heavy DEMOTES to the small phase only
    // when its warm re-timed min (three samples — the scored phase,
    // warmer still, routinely finds a ~10% lower floor than a single
    // re-time) falls below GRAFT_BENCH_DEMOTE_FRAC (default 0.9) of
    // the threshold. The [0.9x, 1.0x] band stays heavy: membership
    // there is classify-vs-score noise, and the conservative
    // direction IS heavy — an extra heavy member cannot contaminate
    // small-phase timings since the heavy phase runs last, while a
    // misfiled small member can. This also stops borderline queries
    // flip-flopping phases round to round.
    val demoteFrac = sys.env.getOrElse("GRAFT_BENCH_DEMOTE_FRAC", "0.9").toDouble
    // > 1 would INVERT the hysteresis: a still-over-threshold query
    // would demote into the small phase and contaminate its timings —
    // the exact failure the phase split exists to prevent
    require(demoteFrac > 0.0 && demoteFrac <= 1.0,
      s"GRAFT_BENCH_DEMOTE_FRAC must be in (0, 1], got $demoteFrac")
    val demoteBelow = heavySecs * demoteFrac
    val heavyList = allNames.filter(n =>
      forcedHeavy.contains(n) || classTimes(n) < 0 ||
        (coldTimes(n) > heavySecs && classTimes(n) >= demoteBelow))
    val smallNames = allNames.filterNot(heavyList.contains)

    def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.length / 2)

    def benchPhase(names: Seq[String]): Seq[(String, Double, Double)] = {
      names.foreach(once) // warmup pass (untimed)
      // Interleave queries across passes (q1..qN, q1..qN, ...) rather
      // than timing one query's samples back-to-back, so a transient
      // contention burst cannot poison every sample of the same query.
      val passes: Seq[Seq[(String, Double)]] =
        (1 to iters).map(_ => names.map(n => n -> once(n)))
      val bySample: Map[String, Seq[Double]] =
        names.map(n => n -> passes.map(_.toMap.apply(n))).toMap
      names.map { n =>
        var xs = bySample(n)
        if (!xs.contains(-1.0)) {
          // Contention guard: a clean query's median sits near its min;
          // if the spread exceeds 2x, the samples straddled a noisy
          // window — resample until the floor stabilizes or the rerun
          // budget is spent.
          var reruns = 0
          while (median(xs) > 2.0 * xs.min && reruns < maxReruns) {
            xs = xs :+ once(n); reruns += 1
          }
        }
        if (xs.contains(-1.0)) (n, -1.0, -1.0) else (n, xs.min, median(xs))
      }
    }
    val firstPass: Seq[(String, Double, Double)] =
      benchPhase(smallNames) ++ benchPhase(heavyList)
    // Post-score correction, dangerous direction only: a small-phase
    // query whose SCORED min still exceeds the threshold was misfiled
    // (classification caught a quiet window, scoring a contended one
    // — both phases ran on the same host, so this is noise around the
    // threshold, but the artifact must not publish a multi-second
    // query as small). Re-score it in an appended heavy-style phase
    // and publish it as heavy; its small-phase samples are discarded.
    // The opposite direction (a heavy member scoring inside the
    // hysteresis band) is left alone by design: it ran in the heavy
    // phase, where it could not contaminate anything.
    val misfiled = firstPass
      .filter(r => !heavyList.contains(r._1) && r._2 > heavySecs).map(_._1)
    val results =
      if (misfiled.isEmpty) firstPass
      else firstPass.filterNot(r => misfiled.contains(r._1)) ++ benchPhase(misfiled)
    val publishedHeavy = heavyList ++ misfiled

    // sentinel leg 2: same fixed-cost job AFTER the last scored query
    val calibLast = calib()
    val loads = loadSamples.toSeq.sorted
    def r3(x: Double): Double = math.rint(x * 1000) / 1000
    val sentinel = {
      val ncpus = Runtime.getRuntime.availableProcessors
      val (lMin, lMed, lMax) =
        if (loads.isEmpty) (-1.0, -1.0, -1.0)
        else (loads.head, loads(loads.length / 2), loads.last)
      s""""sentinel":{"ncpus":$ncpus,"load_min":${r3(lMin)},""" +
        s""""load_median":${r3(lMed)},"load_max":${r3(lMax)},""" +
        s""""calib_first_sec":${r3(calibFirst)},""" +
        s""""calib_last_sec":${r3(calibLast)},""" +
        s""""calib_ratio":${r3(calibLast / math.max(calibFirst, 1e-9))}}"""
    }

    def jmap(kv: Seq[(String, Double)]): String =
      kv.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val qs = jmap(results.map(r => r._1 -> r._2))
    val meds = jmap(results.map(r => r._1 -> r._3))
    // Per-query in-run spread (median/min): the observed sample band
    // for THIS run. The floors gate (TimeQueries --assert-floor)
    // widens a query's allowed factor to its recorded band, so the
    // volatile lifecycle heavies (multi-job temp-dir chains swinging
    // 2-3x between windows) don't false-positive a gate tuned for
    // the stable 140+.
    val spreads = jmap(results.map(r =>
      r._1 -> (if (r._2 <= 0) -1.0 else r3(r._3 / r._2))))
    val total = results.map(_._2).filter(_ >= 0).sum
    // publish the DERIVED heavy list so the phase split is auditable
    // from the artifact alone
    val heavyJson = publishedHeavy.map("\"" + _ + "\"").mkString("[", ",", "]")
    val subset =
      if (only.isEmpty) "" else s""""subset":${allNames.length},"""
    val line = s"""{"metric":"total","value":$total,"unit":"sec",$subset$action"queries":$qs,"medians":$meds,"spread":$spreads,"heavy":$heavyJson,$sentinel,"sf":"$sfDir"}"""
    // compact total BEFORE the giant per-query line too: whichever
    // side of the log a bounded tail window lands on, one parseable
    // summary line is inside it — the sentinel rides it so even a
    // tail-truncated artifact shows whether the run was contaminated
    println(s"""{"metric":"total","value":$total,"unit":"sec",$action$sentinel,"sf":"$sfDir"}""")
    println(line)
    // Write the full artifact to GRAFT_BENCH_OUT AND to a stable
    // repo-relative path: the round artifact stays self-contained
    // even when a log-scraping driver truncates the giant per-query
    // line's tail (three rounds of "parsed": null recovered by hand
    // from /tmp — this retires that failure mode). SUBSET runs skip
    // the stable path — an A/B smoke must never clobber the last
    // full-sweep artifact (it did, once).
    val outFiles = Seq(
      Some(sys.env.getOrElse("GRAFT_BENCH_OUT", "/tmp/graft_bench.json")),
      if (only.isEmpty) Some("bench_last.json") else None).flatten
    outFiles.distinct.foreach { outFile =>
      try {
        val w = new java.io.PrintWriter(outFile, "UTF-8")
        try w.println(line) finally w.close()
      } catch { case e: java.io.IOException =>
        System.err.println(s"bench: could not write $outFile: ${e.getMessage}")
      }
    }
    spark.stop()
    // LAST stdout line, after spark.stop() so no shutdown logging can
    // follow it: a SHORT summary the driver's tail-window scraper can
    // always land on — the full per-query line above is one giant JSON
    // line that a bounded tail window front-truncates.
    println(s"""{"metric":"total","value":$total,"unit":"sec",$action$sentinel,"sf":"$sfDir"}""")
  }
}
