package graft.operators

import graft.SparkSpecBase

/** The unified compact-now policy: one set of thresholds feeding on
  * all three stats twins (rows aligned by construction). */
class IndexMaintenanceSpec extends SparkSpecBase {

  import spark.implicits._
  import IndexMaintenance._

  test("policy arithmetic: each signal fires alone, healthy stays quiet") {
    val base = IndexHealth("bm25", "/x", rows = 100, maxStripes = 1,
      staleRows = 0, tombstonedIds = 0, tombstonedRows = 0, bytes = 1000)
    assert(!shouldCompact(base).compact)
    val striped = shouldCompact(base.copy(maxStripes = 9))
    assert(striped.compact && striped.reasons.exists(_.contains("maxStripes")))
    val stale = shouldCompact(base.copy(staleRows = 21))
    assert(stale.compact && stale.reasons.exists(_.contains("staleRows")))
    val tomb = shouldCompact(base.copy(tombstonedRows = 11))
    assert(tomb.compact && tomb.reasons.exists(_.contains("tombstonedRows")))
    // exactly at the threshold = not yet (strict >)
    assert(!shouldCompact(base.copy(maxStripes = 8, staleRows = 20,
      tombstonedRows = 10)).compact)
    // an empty index divides nothing
    assert(!shouldCompact(base.copy(rows = 0)).compact)
    intercept[IllegalArgumentException] {
      shouldCompact(base, CompactPolicy(maxStripes = 0))
    }
  }

  test("end-to-end on a real hash-band index: delete trips the policy, compaction clears it") {
    withTempDir("im-hbi") { dir =>
      val path = dir.getAbsolutePath
      val standing = Seq(
        (1L, 0x0123456789ABCDEFL), (2L, 0x00FF00FF00FF00FFL),
        (3L, 0xFEDCBA9876543210L), (4L, 0x0F0F0F0F0F0F0F0FL))
        .toDF("vid", "sig")
      Dedup.writeHashBandIndex(standing, "sig", "vid", path)
      // the DEFAULT policy must hold on a fresh index: writes bound
      // their file count (outFiles), so the stripe signal is quiet
      val healthy = healthOf(Dedup.hashBandIndexStats(spark, path))
      assert(!shouldCompact(healthy).compact,
        s"fresh index should be healthy under the default policy: $healthy")
      // delete half the docs: tombstoned fraction crosses the default 0.1
      Dedup.deleteFromHashBandIndex(spark, path,
        Seq(1L, 2L).toDF("vid"), "vid")
      val adv = logHealth(healthOf(Dedup.hashBandIndexStats(spark, path)))
      assert(adv.compact &&
        adv.reasons.exists(_.contains("tombstonedRows")), s"$adv")
      Dedup.compactHashBandIndex(spark, path)
      // and compaction CLEARS the signal under the same default policy
      // (the rewrite re-bounds the file count — no warn/compact churn)
      val after = healthOf(Dedup.hashBandIndexStats(spark, path))
      assert(!shouldCompact(after).compact,
        s"compacted index should be healthy under the default policy: $after")
      assert(after.tombstonedRows == 0 && after.rows == 8)
    }
  }

  test("adapters align the rows/tombstone semantics across the three families") {
    val bm = healthOf(TextStats.Bm25IndexStats("/p", buckets = 4, files = 12,
      maxStripesPerBucket = 3, bytes = 99, rows = 50, staleRows = 5,
      ndocs = 10.0, avglen = 4.0, tombstonedIds = 2, tombstonedRows = 7))
    assert(bm.family == "bm25" && bm.maxStripes == 3 && bm.staleRows == 5 &&
      bm.tombstonedRows == 7)
    val ivf = healthOf(Similarity.IvfIndexStats("/q", lists = 8, files = 16,
      maxStripesPerList = 2, bytes = 99, rows = 40, tombstonedIds = 1,
      tombstonedRows = 3))
    assert(ivf.family == "ivf" && ivf.staleRows == 0 && ivf.maxStripes == 2)
    val hb = healthOf(Dedup.HashBandIndexStats("/r", bands = 16, rows = 32,
      files = 4, bytes = 99, tombstonedIds = 0, tombstonedRows = 0,
      capDroppedBands = 1, maxBucket = 100000, ndocs = 8))
    assert(hb.family == "hashband" && hb.maxStripes == 4)
  }
}
