package graft.operators

/** Unified compaction-cadence policy for the standing-index families
  * (BM25 postings, IVF inverted lists, hash-band signature lists —
  * the positional GIF variant shares the hash-band layout and stats,
  * so it rides the same policy). The stats twins deliberately share one `rows`
  * definition (on-disk rows; servable = rows − tombstonedRows), so a
  * single policy can feed on all of them — this object is that policy
  * turned into code, replacing the SCALE.md cadence paragraph's
  * prose with something operators can schedule. The on-disk lifecycle
  * the families share (lock, version swap, tombstones, the stats
  * walk) lives in `StandingIndex`; this object only dispatches to
  * each family's own entry points.
  *
  * The three compact-now signals, each traced to a real cost:
  *  - STRIPES: every append adds a file per touched bucket/list, and
  *    probe cost grows ~linearly in files-opened-per-list — compact
  *    when the worst list approaches the per-list read parallelism.
  *  - STALE rows (BM25 only): whole lists the df-gate excludes at
  *    probe time but whose bytes still ride every scan.
  *  - TOMBSTONED rows: deletions probes must anti-join away on every
  *    read until a compaction removes them materially (and the ids
  *    stay un-re-addable until then).
  *
  * Everything here is driver-side arithmetic over one stats call (one
  * fs walk + one artifact read — no corpus access), so a daily
  * health check over hundreds of standing indexes is trivially
  * schedulable. */
object IndexMaintenance {

  /** Thresholds; defaults are conservative starting points, not
    * magic — size `maxStripes` to the deployment's per-list read
    * parallelism. */
  final case class CompactPolicy(
      maxStripes: Long = 8,
      maxStaleFraction: Double = 0.2,
      maxTombstonedFraction: Double = 0.1)

  /** The family-neutral health view the policy consumes — built by
    * the `healthOf` adapters, one per stats twin. */
  final case class IndexHealth(family: String, dir: String, rows: Long,
      maxStripes: Long, staleRows: Long,
      tombstonedIds: Long, tombstonedRows: Long, bytes: Long)

  def healthOf(s: TextStats.Bm25IndexStats): IndexHealth =
    IndexHealth("bm25", s.postingsDir, s.rows, s.maxStripesPerBucket,
      s.staleRows, s.tombstonedIds, s.tombstonedRows, s.bytes)

  /** IVF has no stale-row class (no df-gate analogue): staleRows 0. */
  def healthOf(s: Similarity.IvfIndexStats): IndexHealth =
    IndexHealth("ivf", s.indexDir, s.rows, s.maxStripesPerList,
      0L, s.tombstonedIds, s.tombstonedRows, s.bytes)

  /** The hash-band index is not partition-pruned (a probe's read
    * re-collects the whole bands frame), so its stripe count is the
    * TOTAL file count — same probe-cost meaning, whole-index scope.
    * Writes and compactions BOUND that count (`outFiles`, default 4),
    * so the default stripe threshold is meaningful: a fresh or
    * freshly-compacted index sits under it, and the signal clears
    * after a compaction instead of re-firing forever. */
  def healthOf(s: Dedup.HashBandIndexStats): IndexHealth =
    IndexHealth("hashband", s.indexDir, s.rows, s.files,
      0L, s.tombstonedIds, s.tombstonedRows, s.bytes)

  final case class CompactAdvice(compact: Boolean, reasons: Seq[String])

  def shouldCompact(h: IndexHealth,
      p: CompactPolicy = CompactPolicy()): CompactAdvice = {
    require(p.maxStripes >= 1 && p.maxStaleFraction >= 0 &&
      p.maxTombstonedFraction >= 0, s"nonsensical policy $p")
    val reasons = Seq(
      (h.maxStripes > p.maxStripes) ->
        s"maxStripes ${h.maxStripes} > ${p.maxStripes} (probe opens that many files per list)",
      (h.rows > 0 && h.staleRows.toDouble / h.rows > p.maxStaleFraction) ->
        f"staleRows ${h.staleRows} = ${h.staleRows.toDouble / math.max(h.rows, 1)}%.2f of rows (df-gated bytes every probe still scans)",
      (h.rows > 0 && h.tombstonedRows.toDouble / h.rows > p.maxTombstonedFraction) ->
        f"tombstonedRows ${h.tombstonedRows} = ${h.tombstonedRows.toDouble / math.max(h.rows, 1)}%.2f of rows (anti-joined on every read; ids not re-addable)")
      .collect { case (true, r) => r }
    CompactAdvice(reasons.nonEmpty, reasons)
  }

  /** Evaluate AND log through the same `graft.metrics` logger the
    * GraftSession listener uses for observed metrics, so lifecycle
    * drift shows up in ordinary run logs on the same channel as
    * hot-key drops: WARN when the policy says compact (with the
    * reasons), INFO otherwise. Returns the advice so callers can act
    * on it in the same breath. */
  def logHealth(h: IndexHealth,
      p: CompactPolicy = CompactPolicy()): CompactAdvice = {
    val log = org.slf4j.LoggerFactory.getLogger("graft.metrics")
    val adv = shouldCompact(h, p)
    if (adv.compact)
      log.warn(s"graft_index_health family=${h.family} dir=${h.dir} " +
        s"COMPACT: ${adv.reasons.mkString("; ")} | $h")
    else
      log.info(s"graft_index_health family=${h.family} dir=${h.dir} healthy | $h")
    adv
  }

  /** One row of `healthSweep`'s report: what was found at the path,
    * what the policy said, or why the index could not be read.
    * `layout` refines the family where a family has more than one
    * on-disk layout: the hash-band family reports `classic` vs
    * `positional` (the GIF index — `_meta.pos_col`, already in the
    * stats read, zero extra IO), so a fleet report over mixed roots
    * can tell which indexes hold animations without opening each
    * `_meta`; single-layout families (bm25, ivf) repeat the family
    * name, unreadable/unknown roots report `unknown`. `signal` is
    * the SOURCE column the index's signatures were computed from
    * (`_meta.hash_col`, already in the hash-band stats read — zero
    * extra IO), so a mixed fleet can tell the text SimHash index
    * from the image dHash one from the gif/audio positional ones by
    * column name; families that don't record it (bm25, ivf,
    * pre-r16 hash-band artifacts) report empty. */
  final case class SweepRow(path: String, family: String, layout: String,
      signal: String, compact: Boolean, reasons: Seq[String],
      error: Option[String])

  /** Detect which standing-index family wrote a root, from the layout
    * alone: hash-band indexes are versioned from birth (`bands_vN`),
    * BM25 carries its `df`/`meta` table dirs, IVF carries `index_vN`
    * after a compaction or `cid=...` list partitions while flat. */
  private def detectFamily(
      fs: org.apache.hadoop.fs.FileSystem, path: String): Option[String] = {
    val p = new org.apache.hadoop.fs.Path(path)
    if (!fs.exists(p)) return None
    val names = fs.listStatus(p).map(_.getPath.getName).toSet
    if (names.exists(_.startsWith("bands_v"))) Some("hashband")
    else if (names.contains("df") && names.contains("meta")) Some("bm25")
    else if (names.exists(_.startsWith("index_v")) ||
        names.exists(_.startsWith("cid="))) Some("ivf")
    else None
  }

  /** The daily-cron shape this object's scaladoc promises, as one
    * call: map a set of index roots (family auto-detected from the
    * on-disk layout) through stats → healthOf → logHealth and return
    * the advice as a small DataFrame — (path, family, compact,
    * reasons, error). Per-path failures become ERROR ROWS instead of
    * killing the sweep (the crash-after-pointer hash-band state, for
    * example, reports its named repair path here while the other
    * indexes still get their verdicts), and an unrecognized layout
    * reports `unknown` rather than guessing. Driver-side arithmetic
    * over one stats call per index; the corpora are never touched. */
  def healthSweep(spark: org.apache.spark.sql.SparkSession,
      paths: Seq[String],
      p: CompactPolicy = CompactPolicy()): org.apache.spark.sql.DataFrame = {
    val rows = paths.map { path =>
      // the WHOLE per-path body is guarded — detectFamily's listing
      // (ACL denial, unreachable filesystem) and even Path parsing
      // (malformed URI) fail per-path, or one bad root would kill
      // the report for every healthy index
      var fam = "unknown"
      try {
        val fs = StandingIndex.fs(spark, path)
        detectFamily(fs, path) match {
          case None =>
            SweepRow(path, fam, "unknown", "", compact = false, Nil,
              Some("unrecognized layout — not a graft index root " +
                "(or the dir is missing)"))
          case Some(f) =>
            fam = f
            val (h, layout, signal) = fam match {
              case "hashband" =>
                val st = Dedup.hashBandIndexStats(spark, path)
                (healthOf(st),
                  if (st.posCol.nonEmpty) "positional" else "classic",
                  st.hashCol)
              case "bm25" =>
                (healthOf(TextStats.bm25IndexStats(spark, path)), "bm25", "")
              case _ =>
                (healthOf(Similarity.indexStats(spark, path)), "ivf", "")
            }
            val adv = logHealth(h, p)
            SweepRow(path, fam, layout, signal, adv.compact, adv.reasons,
              None)
        }
      } catch {
        case e: Exception =>
          org.slf4j.LoggerFactory.getLogger("graft.metrics")
            .warn(s"graft_index_health family=$fam dir=$path " +
              s"UNREADABLE: ${e.getMessage}")
          SweepRow(path, fam, "unknown", "", compact = false, Nil,
            Some(Option(e.getMessage).getOrElse(e.getClass.getName)))
      }
    }
    import spark.implicits._
    rows.toDF()
  }

  /** Family-dispatched compaction — the ACT half of the maintenance
    * story (`healthSweep` says WHICH roots to compact; this runs the
    * right compaction without the caller naming the family). Detects
    * the family from the on-disk layout like the sweep does, then
    * calls that family's own entry point — all of their guarantees
    * (versioned swap, snapshot-safe tombstone clear, lock refusal on
    * a racing compaction) apply unchanged, because this IS that call.
    * The positional (GIF) hash-band layout detects as `hashband` and
    * compacts through the shared entry point — the position column
    * rides the data rows. An unrecognized layout is refused loudly
    * (compacting a guess would be worse than a no-op). Returns the
    * detected family. */
  def compactNow(spark: org.apache.spark.sql.SparkSession,
      path: String): String = {
    detectFamily(StandingIndex.fs(spark, path), path) match {
      case Some(fam) => compactAs(spark, path, fam); fam
      case None => throw new IllegalArgumentException(
        s"$path is not a recognizable graft index root (unknown layout) — " +
          "refusing to compact a guess; pass a root written by " +
          "writeBm25Index, Similarity.writeIndex, writeHashBandIndex or " +
          "writeGifHashBandIndex")
    }
  }

  /** Dispatch with the family already known — the sweep detected it
    * one filesystem listing ago; re-detecting per flagged root would
    * pay a redundant remote listing each on a fleet pass. Unknown
    * family strings REFUSE (a wildcard falling through to one
    * family's compaction would run a destructive version rewrite
    * against the wrong layout the day a fourth detectable family is
    * added here but forgotten below). */
  private def compactAs(spark: org.apache.spark.sql.SparkSession,
      path: String, family: String): Unit = family match {
    case "hashband" => Dedup.compactHashBandIndex(spark, path)
    case "bm25" => TextStats.compactBm25Index(spark, path)
    case "ivf" => Similarity.compactIndex(spark, path)
    case other => throw new IllegalArgumentException(
      s"no compaction dispatch for family '$other' at $path — " +
        "detectFamily and compactAs are out of sync; refusing to guess")
  }

  /** The WHOLE daily-cron body as one call: sweep the roots, compact
    * exactly the ones the policy flags, then re-sweep every root the
    * action phase TOUCHED (successfully or not — a compaction that
    * crashed after its atomic swap left a NEW live version, so the
    * pre-action verdict would be stale either way) and report the
    * POST-action state; `compacted` records what ran to completion.
    * Per-path failures stay error rows at both phases — a crashed
    * compaction (its named lock-recovery message lands in `error`)
    * must not kill the pass for the healthy indexes, which is the
    * property that makes this schedulable unattended. Duplicate
    * paths are deduplicated up front (compacting the same root twice
    * in one pass would be a wasted artifact rewrite). Two more
    * unattended-cron honesty rules: a root whose compaction RAN but
    * whose verdict did not clear gets a NON-CONVERGENCE error naming
    * the way out (the known case is a fully-tombstoned hash-band
    * index, whose compaction is a documented no-op — the exit is a
    * rebuild), so the cron cannot silently re-compact a dead index
    * forever; and when the post-action re-sweep itself errors, the
    * row keeps the family the first sweep detected and carries the
    * re-sweep error rather than regressing to `unknown` — the
    * verdict columns are then explicitly unknowable (compact=false,
    * reasons empty, error set). Compactions run sequentially on the
    * driver (each is one artifact-sized Spark job; the fleet case
    * wants them serialized against one cluster anyway).
    *
    * `maxActions` bounds the ACT phase: at most that many flagged
    * roots compact per pass, in report order — the first pass after
    * a policy tightening would otherwise rewrite every index in one
    * unschedulable go. Roots flagged but over the bound report
    * `deferred = true` with their first-sweep verdict standing
    * (still flagged — the next pass picks them up); they are not
    * re-swept, because nothing touched them. */
  def sweepAndCompact(spark: org.apache.spark.sql.SparkSession,
      paths: Seq[String],
      p: CompactPolicy = CompactPolicy(),
      maxActions: Int = Int.MaxValue): org.apache.spark.sql.DataFrame = {
    require(maxActions >= 0, s"maxActions must be >= 0, got $maxActions")
    val log = org.slf4j.LoggerFactory.getLogger("graft.metrics")
    // dedup on the FS-QUALIFIED path (scheme + authority + Hadoop
    // Path canonicalization), not the raw string: "/data/idx",
    // "/data/idx/" and "file:/data/idx" are one physical root and
    // must compact once — makeQualified resolves the bare spelling
    // against the path's own filesystem, so scheme-qualified and
    // bare spellings of one root collapse BEFORE the act phase
    // (compactHashBandIndex rewrites a full new version whenever
    // data is non-empty, so a duplicate pass is a real artifact
    // rewrite, not a no-op). A path that cannot parse or resolve
    // keeps its raw spelling (healthSweep's per-path guard owns it).
    val normed = paths.map { raw =>
      try {
        val hp = new org.apache.hadoop.fs.Path(raw)
        hp.getFileSystem(spark.sessionState.newHadoopConf())
          .makeQualified(hp).toString
      } catch { case _: Exception => raw }
    }.distinct
    val before = healthSweep(spark, normed, p).collect()
    // the act budget, spent in report order
    val flaggedOrder = before.collect {
      case r if r.getAs[Boolean]("compact") => r.getAs[String]("path")
    }.toSeq
    val actSet = flaggedOrder.take(maxActions).toSet
    val deferredSet = flaggedOrder.drop(maxActions).toSet
    deferredSet.foreach(path => log.warn(
      s"graft_index_health dir=$path DEFERRED: flagged but over " +
        s"maxActions=$maxActions this pass"))
    // path -> (compaction ran to completion, action-phase error)
    val acted: Map[String, (Boolean, Option[String])] = before.map { r =>
      val path = r.getAs[String]("path")
      if (!actSet.contains(path)) path -> ((false, Option.empty[String]))
      else {
        try {
          compactAs(spark, path, r.getAs[String]("family"))
          path -> ((true, Option.empty[String]))
        } catch { case e: Exception =>
          log.warn(s"graft_index_health dir=$path COMPACT FAILED: " +
            s"${e.getMessage}")
          path -> ((false, Some(Option(e.getMessage).getOrElse(
            e.getClass.getName))))
        }
      }
    }.toMap
    // re-sweep everything the action phase TOUCHED (ran OR failed
    // mid-flight): untouched rows' verdicts are already current, and
    // a second stats pass over them is waste — deferred roots are
    // untouched by construction
    val touched = before.collect {
      case r if actSet.contains(r.getAs[String]("path")) =>
        r.getAs[String]("path")
    }.toSeq
    val after = healthSweep(spark, touched, p).collect()
      .map(r => r.getAs[String]("path") -> r).toMap
    import spark.implicits._
    before.map { r =>
      val path = r.getAs[String]("path")
      val famBefore = r.getAs[String]("family")
      val layoutBefore = r.getAs[String]("layout")
      val sigBefore = r.getAs[String]("signal")
      val deferred = deferredSet.contains(path)
      val (didCompact, actErr) = acted(path)
      after.get(path) match {
        case None => // never acted on: the first sweep's row stands
          (path, famBefore, layoutBefore, sigBefore,
            r.getAs[Boolean]("compact"), r.getSeq[String](
              r.fieldIndex("reasons")), didCompact, deferred,
            actErr.orElse(Option(r.getAs[String]("error"))))
        case Some(cur) if cur.getAs[String]("error") != null =>
          // post-action re-sweep errored: verdict unknowable — keep
          // the family the first sweep detected, surface the error
          (path, famBefore, layoutBefore, sigBefore, false,
            Seq.empty[String], didCompact, deferred,
            actErr.orElse(Option(cur.getAs[String]("error"))))
        case Some(cur) if didCompact && cur.getAs[Boolean]("compact") =>
          // ran to completion, verdict did NOT clear: the policy
          // would re-fire every pass with no progress — surface it
          // instead of letting the cron churn silently. The message
          // states the GENERIC facts (family + the re-fired reasons)
          // and adds the one diagnosis this code actually knows —
          // the fully-tombstoned hash-band no-op — only when the
          // evidence matches; anything else (a policy tighter than
          // the write fan-out, a delete racing the re-sweep) is the
          // operator's to read from the reasons, and a transient
          // re-fire clears itself on the next pass.
          val reasons = cur.getSeq[String](cur.fieldIndex("reasons"))
          val fam = cur.getAs[String]("family")
          val diag =
            if (fam == "hashband" && reasons.exists(_.contains("tombstonedRows")))
              " — a fully-tombstoned hash-band index compacts as a " +
                "documented no-op: if this persists across passes, " +
                "rebuild the index (its write entry point's root reset) " +
                "or retire the root"
            else
              " — check the reasons against the policy (e.g. a " +
                "maxStripes below the write fan-out re-fires forever) " +
                "and whether a racing delete re-tripped the signal " +
                "(clears next pass)"
          val msg = s"compaction ran but did not clear the $fam verdict (" +
            reasons.mkString("; ") + ")" + diag
          log.warn(s"graft_index_health dir=$path NON-CONVERGENT: $msg")
          (path, cur.getAs[String]("family"), cur.getAs[String]("layout"),
            cur.getAs[String]("signal"), true,
            cur.getSeq[String](cur.fieldIndex("reasons")), didCompact,
            deferred, Some(msg): Option[String])
        case Some(cur) =>
          (path, cur.getAs[String]("family"), cur.getAs[String]("layout"),
            cur.getAs[String]("signal"), cur.getAs[Boolean]("compact"),
            cur.getSeq[String](cur.fieldIndex("reasons")), didCompact,
            deferred, actErr.orElse(Option(cur.getAs[String]("error"))))
      }
    }.toSeq
      .toDF("path", "family", "layout", "signal", "compact", "reasons",
        "compacted", "deferred", "error")
  }
}
