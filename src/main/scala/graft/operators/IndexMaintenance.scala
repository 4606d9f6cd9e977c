package graft.operators

/** Unified compaction-cadence policy for the standing-index families
  * (BM25 postings, IVF inverted lists, hash-band signature lists —
  * the positional GIF variant shares the hash-band layout and stats,
  * so it rides the same policy). The stats twins deliberately share one `rows`
  * definition (on-disk rows; servable = rows − tombstonedRows), so a
  * single policy can feed on all of them — this object is that policy
  * turned into code, replacing the SCALE.md cadence paragraph's
  * prose. The caller reads a family's stats, asks `shouldCompact` (or
  * `logHealth`) and runs that family's own compaction entry point; the
  * on-disk lifecycle the families share (lock, version swap,
  * tombstones, the stats walk) lives in `StandingIndex`.
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
  * fs walk + one artifact read — no corpus access). */
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
}
