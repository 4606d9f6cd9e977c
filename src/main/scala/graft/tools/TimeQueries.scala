package graft.tools

/** Dev-only: time a handful of SparkEntry queries at a given SF dir —
  * a focused slice of Bench for iterating on one query's plan without
  * paying the full 100+-query sweep. Usage:
  *   runMain graft.tools.TimeQueries <sfDir> <queryName>...
  *
  * REGRESSION-GATE mode (`--assert-floor=<benchJson> [--factor=N]`):
  * turns a recorded clean Bench artifact (the one-line JSON Bench
  * writes to GRAFT_BENCH_OUT — its `queries` map IS the per-query
  * floor table; a flat {"name": secs} object works too) into a gate
  * the builder can run before handing a round to the driver: each
  * named query (default: every query present in BOTH the floors file
  * and SparkEntry) is warmed once and timed as the min of two passes,
  * and the run FAILS (exit 1) when any query exceeds its allowed
  * band above its floor.
  *
  * The band is PER-QUERY, not one global knob: the limit is
  * `max(factor, recorded spread) x floor`, where `spread` is the
  * artifact's per-query median/min from the recording run (Bench
  * writes it alongside `queries`). The stable 140+ queries keep the
  * tight default (factor 2.0 — inside it is established
  * window-to-window noise on this host, beyond it is a real plan
  * regression or a contaminated host), while the volatile
  * lifecycle heavies (multi-job temp-dir chains observed swinging
  * 1.8-2.7x between SAME-CODE windows, r16 forensics) carry the
  * wider band their own recording measured — so the gate stays
  * usable on a busy host without hand-exempting the volatile tail,
  * and a seeded 3x plan regression on a stable query still fails.
  * Sub-second floors additionally get an ABSOLUTE grace (the limit
  * never drops below `MinGateSec`): full-sweep floors for tiny
  * queries reflect a JIT depth a fresh subset JVM cannot reach, so
  * a ratio there would gate codegen warmth, not the plan.
  * The report prints the 1-min loadavg per query so a hot-host
  * failure is distinguishable from a plan regression at a glance:
  * floors are only meaningful on a quiet host, same as the Bench
  * runs that record them. */
object TimeQueries {

  /** One gate verdict: measured vs `allowedFactor x floor`, where
    * allowedFactor = max(cli factor, the query's recorded band). */
  final case class GateRow(name: String, measuredSec: Double,
      floorSec: Double, allowedFactor: Double, pass: Boolean)

  /** Sub-second absolute grace: the gate limit never drops below
    * this. Floors come from full-sweep Bench runs whose small
    * queries are far deeper into JIT than a fresh subset JVM can
    * get (measured r17: q01 at 0.96 s min-of-passes vs a 0.33 s
    * full-sweep floor on a quiet host), so a RATIO gate on a
    * sub-second floor measures codegen warmth, not the plan. The
    * cost is honest and bounded: a sub-second query can drift to
    * 1 s without tripping the gate — plan shape for those is pinned
    * by PlanCheck/specs, and full-sweep artifacts still expose the
    * drift round-over-round. Queries with floors >= 0.5 s are
    * unaffected (their factor x floor already exceeds this). */
  val MinGateSec = 1.0

  /** The pure gate decision — separated from the timing loop so a
    * spec can pin it against a doctored floors table. `bands` maps a
    * query to its recorded spread (median/min at recording time);
    * absent or sub-1 entries fall back to the global factor alone.
    * A negative floor means "recorded as erroring" — never gated. */
  def gate(floors: Map[String, Double], bands: Map[String, Double],
      factor: Double, measured: Seq[(String, Double)]): Seq[GateRow] =
    measured.map { case (name, sec) =>
      val floor = floors(name)
      val band = bands.getOrElse(name, 1.0)
      val allowed = math.max(factor, if (band >= 1.0) band else 1.0)
      GateRow(name, sec, floor, allowed,
        pass = floor < 0 || sec <= math.max(allowed * floor, MinGateSec))
    }

  /** Parse a floors file: either a Bench artifact (floors under
    * `queries`, per-query bands under `spread`) or a flat
    * {"name": secs} map (no bands — the global factor alone gates).
    * Jackson rides Spark's classpath. */
  def loadFloors(file: String): (Map[String, Double], Map[String, Double]) = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(new java.io.File(file))
    def numMap(node: com.fasterxml.jackson.databind.JsonNode):
        Map[String, Double] = {
      val b = Map.newBuilder[String, Double]
      node.fields().forEachRemaining { e =>
        if (e.getValue.isNumber) b += e.getKey -> e.getValue.asDouble()
      }
      b.result()
    }
    val floors =
      numMap(if (root.has("queries")) root.get("queries") else root)
    val bands =
      if (root.has("spread")) numMap(root.get("spread"))
      else Map.empty[String, Double]
    require(floors.nonEmpty, s"no numeric floors found in $file")
    (floors, bands)
  }

  /** The action a Bench artifact or floors file was recorded under:
    * its `action` field, else `count` — the action of every artifact
    * written before the field existed, `bench_floors.json` included. */
  def recordedAction(root: com.fasterxml.jackson.databind.JsonNode): String =
    Option(root.get("action")).map(_.asText).getOrElse("count")

  /** Refuses a floors file recorded under another timed action than
    * `runAction`: a noop-sink run gated on `.count()` floors measures
    * the action change, not the plan. */
  def requireAction(file: String, runAction: String): Unit = {
    val recorded = recordedAction(
      new com.fasterxml.jackson.databind.ObjectMapper().readTree(new java.io.File(file)))
    require(recorded == runAction,
      s"$file was recorded under the '$recorded' bench action but this run " +
        s"times '$runAction' — re-record the floors under '$runAction', or " +
        s"run with GRAFT_BENCH_ACTION=$recorded")
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: TimeQueries <sfDir> [--assert-floor=<benchJson>] " +
        "[--factor=N] <queryName>...")
    val sfDir = args.head
    val opts = args.tail.filter(_.startsWith("--"))
    val names = args.tail.filterNot(_.startsWith("--")).toSeq
    val floorsFile = opts.collectFirst {
      case o if o.startsWith("--assert-floor=") =>
        o.stripPrefix("--assert-floor=")
    }
    val factor = opts.collectFirst {
      case o if o.startsWith("--factor=") =>
        o.stripPrefix("--factor=").toDouble
    }.getOrElse(2.0)
    require(factor > 0, s"--factor must be > 0, got $factor")
    val unknownOpts = opts.filterNot(o =>
      o.startsWith("--assert-floor=") || o.startsWith("--factor="))
    require(unknownOpts.isEmpty, s"unknown options: ${unknownOpts.mkString(" ")}")
    floorsFile.foreach(requireAction(_, graft.BenchAction.name))

    val spark = graft.GraftSession.build("graft-timeq")
    spark.sparkContext.setLogLevel("ERROR")
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean

    def time(name: String): Double = {
      val fn = graft.SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query $name"))
      // same timed action as Bench (BenchAction: noop sink by default
      // since r18) — the floors this gates against are recorded by
      // Bench under the same action
      graft.BenchAction.run(fn(spark, sfDir)) // warm
      def pass(): Double = {
        val t0 = System.nanoTime()
        graft.BenchAction.run(fn(spark, sfDir))
        (System.nanoTime() - t0) / 1e9
      }
      // fast queries get extra passes: a fresh subset JVM is far
      // less JIT-warm than the full Bench sweep that recorded the
      // floors, and on a sub-2 s query the extra passes cost almost
      // nothing while closing most of that gap
      val first = pass()
      if (first < 2.0) (first +: Seq.fill(3)(pass())).min
      else math.min(first, pass())
    }

    floorsFile match {
      case None =>
        names.foreach { name =>
          val s = time(name)
          println(f"[timeq] $name: ${s}%.2f s")
        }

      case Some(file) =>
        val (floors, bands) = loadFloors(file)
        val toCheck =
          if (names.nonEmpty) names
          else floors.keys.toSeq.sorted.filter(graft.SparkEntry.queries.contains)
        val missing = toCheck.filterNot(floors.contains)
        require(missing.isEmpty,
          s"no recorded floor for: ${missing.mkString(", ")} — re-record " +
            s"the floors file from a clean Bench run before gating on it")
        var failed = 0
        toCheck.foreach { name =>
          val load = osBean.getSystemLoadAverage
          val row = gate(floors, bands, factor, Seq(name -> time(name))).head
          if (!row.pass) failed += 1
          val limit = math.max(row.allowedFactor * row.floorSec, MinGateSec)
          println(f"[timeq] ${if (row.pass) "PASS" else "FAIL"} $name: " +
            f"${row.measuredSec}%.2f s (floor ${row.floorSec}%.2f s, " +
            f"limit ${limit}%.2f s = ${row.allowedFactor}%.1fx, " +
            f"loadavg ${load}%.1f)")
        }
        if (failed > 0) {
          println(s"[timeq] $failed of ${toCheck.size} queries exceeded " +
            "their allowed band over the recorded floor — a real plan " +
            "regression, or a contaminated host (check the loadavg " +
            "column; floors are only meaningful on a quiet host)")
          spark.stop()
          sys.exit(1)
        }
        println(s"[timeq] all ${toCheck.size} queries within their " +
          "allowed bands of the recorded floors")
    }
    spark.stop()
  }
}
