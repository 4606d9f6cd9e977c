package graft.operators

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

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

  test("healthSweep: families auto-detected from layout; error rows don't kill the sweep; unknown reported honestly") {
    withTempDir("im-sweep") { dir =>
      val root = dir.getAbsolutePath
      Dedup.writeHashBandIndex(
        Seq((1L, 0x0123456789ABCDEFL), (2L, 0x00FF00FF00FF00FFL))
          .toDF("vid", "sig"), "sig", "vid", s"$root/hbi")
      TextStats.writeBm25Index(
        Seq((1L, "the cat sat on the mat"), (2L, "a dog ran very fast today"))
          .toDF("doc_id", "text"), "text", "doc_id", s"$root/bm")
      Similarity.writeIndex(
        Similarity.ivfAssign(
          Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.9, 0.1)), (3L, Seq(0.0, 1.0)))
            .toDF("vec_id", "e"),
          Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0))), "e"),
        s"$root/ivf")
      // the positional (GIF) fourth family shares the hash-band
      // layout — the sweep must detect it and stats must serve it
      Multimodal.writeGifHashBandIndex(
        Seq((1L, Multimodal.syntheticGrayGif(9, 8,
            Seq(Array.tabulate(72)(i => (i * 7) % 256),
              Array.tabulate(72)(i => (i * 11) % 256)))))
          .toDF("gid", "anim"), "anim", "gid", s"$root/gifi")(spark)
      // the audio positional sibling (same layout family, different
      // signal column) — the signal column must tell them apart
      Multimodal.writeAudioSegmentHashBandIndex(
        Seq((1L, Multimodal.syntheticPcmWav(
            Array.tabulate[Short](16640)(i => (i * 37 % 2003 - 1001).toShort))))
          .toDF("aid", "clip"), "clip", "aid", s"$root/audi")(spark)
      // the keyframe-sampled video index (round 17): same positional
      // layout by design — the sweep must serve it exactly like the
      // gif/audio roots, with its own signal column
      Multimodal.writeVideoKeyframeHashBandIndex(
        Seq((1L, Multimodal.syntheticMjpegMp4Keyframed(9, 8,
            (1 to 6).map(n => Array.tabulate(72)(i => (i * n * 7) % 256)),
            Seq(1, 3, 5))))
          .toDF("kid", "clip"), "clip", "kid", s"$root/kfi")(spark)
      // a hash-band sibling whose served generation lost its record:
      // probes fine, stats refuses — the sweep must report it and keep
      // going
      Dedup.writeHashBandIndex(Seq((9L, 42L)).toDF("vid", "sig"),
        "sig", "vid", s"$root/crashed")
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sessionState.newHadoopConf())
      fs.delete(new org.apache.hadoop.fs.Path(s"${StandingIndex.currentDir(fs,
        s"$root/crashed", StandingIndex.HashBand)}/_meta"), true)
      fs.mkdirs(new org.apache.hadoop.fs.Path(s"$root/stranger"))
      val rows = IndexMaintenance.healthSweep(spark, Seq(
          s"$root/hbi", s"$root/bm", s"$root/ivf", s"$root/gifi",
          s"$root/audi", s"$root/kfi", s"$root/crashed", s"$root/stranger",
          "::not a uri::"))
        .collect()
        .map(r => r.getString(0).split('/').last ->
          ((r.getString(1), r.getString(2), r.getString(3),
            r.getBoolean(4), Option(r.getString(6)))))
        .toMap
      // the layout column tells classic from positional WITHIN the
      // shared hashband family, and the signal column (the _meta
      // hash_col record) tells the gif index from the audio one —
      // a fleet report over mixed roots can see which indexes hold
      // what without opening each _meta
      assert(rows("hbi") == (("hashband", "classic", "sig", false, None)),
        s"${rows("hbi")}")
      assert(rows("gifi") == (("hashband", "positional", "anim", false,
        None)), s"${rows("gifi")}")
      assert(rows("audi") == (("hashband", "positional", "clip", false,
        None)), s"${rows("audi")}")
      assert(rows("kfi") == (("hashband", "positional", "clip", false,
        None)), s"${rows("kfi")}")
      assert(rows("bm") == (("bm25", "bm25", "", false, None)),
        s"${rows("bm")}")
      assert(rows("ivf") == (("ivf", "ivf", "", false, None)),
        s"${rows("ivf")}")
      val crashed = rows("crashed")
      assert(crashed._1 == "hashband" && !crashed._4 &&
        crashed._5.exists(_.contains("writeHashBandIndex")),
        s"crashed index must surface its named repair path: $crashed")
      assert(rows("stranger")._1 == "unknown" && rows("stranger")._5.isDefined)
      // even Path PARSING failures stay per-path error rows — one bad
      // root must not kill the report for the healthy indexes
      assert(rows("::not a uri::")._1 == "unknown" &&
        rows("::not a uri::")._5.isDefined)
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

  test("compactNow dispatches by layout; sweepAndCompact acts on exactly the flagged roots and reports post-action state") {
    withTempDir("im-act") { dir =>
      val root = dir.getAbsolutePath
      // two hash-band indexes: one tripped (half its docs deleted),
      // one healthy — the act pass must touch ONLY the tripped one
      Dedup.writeHashBandIndex(
        Seq((1L, 0x0123456789ABCDEFL), (2L, 0x00FF00FF00FF00FFL),
          (3L, 0xFEDCBA9876543210L), (4L, 0x0F0F0F0F0F0F0F0FL))
          .toDF("vid", "sig"), "sig", "vid", s"$root/tripped")
      Dedup.deleteFromHashBandIndex(spark, s"$root/tripped",
        Seq(1L, 2L).toDF("vid"), "vid")
      Dedup.writeHashBandIndex(
        Seq((1L, 42L), (2L, 4242L)).toDF("vid", "sig"), "sig", "vid",
        s"$root/healthy", metricName = "graft_im_act_healthy_cap")
      // an unreadable root must not kill the act pass
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sessionState.newHadoopConf())
      fs.mkdirs(new org.apache.hadoop.fs.Path(s"$root/stranger"))
      val report = IndexMaintenance.sweepAndCompact(spark,
          Seq(s"$root/tripped", s"$root/healthy", s"$root/stranger"))
        .collect()
        .map(r => r.getAs[String]("path").split('/').last ->
          ((r.getAs[Boolean]("compact"), r.getAs[Boolean]("compacted"),
            Option(r.getAs[String]("error")))))
        .toMap
      // tripped: compaction RAN and the post-action verdict is clear
      assert(report("tripped") == ((false, true, None)),
        s"tripped: ${report("tripped")}")
      // tombstones really left (the compaction was the real one)
      val st = Dedup.hashBandIndexStats(spark, s"$root/tripped")
      assert(st.tombstonedRows == 0 && st.rows == 8, s"$st")
      // healthy: untouched
      assert(report("healthy") == ((false, false, None)),
        s"healthy: ${report("healthy")}")
      // stranger: error row, no action
      val stranger = report("stranger")
      assert(!stranger._1 && !stranger._2 && stranger._3.isDefined,
        s"stranger: $stranger")
      // compactNow refuses an unrecognized layout loudly
      val e = intercept[IllegalArgumentException](
        IndexMaintenance.compactNow(spark, s"$root/stranger"))
      assert(e.getMessage.contains("refusing"), e.getMessage)
      // NON-CONVERGENCE honesty: a fully-tombstoned hash-band index
      // compacts as a documented no-op, so its verdict cannot clear —
      // the report must say so (with the named way out) instead of
      // letting a cron re-compact a dead index forever. Duplicate
      // paths are deduplicated (one row, one compaction attempt).
      Dedup.writeHashBandIndex(
        Seq((1L, 7L), (2L, 777L)).toDF("vid", "sig"), "sig", "vid",
        s"$root/dead", metricName = "graft_im_act_dead_cap")
      Dedup.deleteFromHashBandIndex(spark, s"$root/dead",
        Seq(1L, 2L).toDF("vid"), "vid")
      // duplicate SPELLINGS of one root collapse BEFORE the act phase
      // — trailing slash AND scheme-qualified vs bare (makeQualified
      // resolves both against the path's own filesystem, so the
      // duplicate never pays a second full artifact rewrite)
      val dead = IndexMaintenance.sweepAndCompact(spark,
          Seq(s"$root/dead", s"$root/dead/", s"file:$root/dead")).collect()
      assert(dead.length == 1, s"duplicate paths must collapse: ${dead.length}")
      val d = dead(0)
      assert(d.getAs[Boolean]("compacted"), "the compaction DID run")
      assert(d.getAs[Boolean]("compact"),
        "the verdict cannot clear on a dead index")
      assert(Option(d.getAs[String]("error")).exists(_.contains("did not clear")),
        s"non-convergence must be surfaced: ${Option(d.getAs[String]("error"))}")
      // and dispatches the positional (GIF) layout through the shared
      // hashband entry point
      Multimodal.writeGifHashBandIndex(
        Seq((7L, Multimodal.syntheticGrayGif(9, 8,
            Seq(Array.tabulate(72)(i => (i * 5) % 256)))))
          .toDF("gid", "anim"), "anim", "gid", s"$root/gifi",
        metricName = "graft_im_act_gif_cap")(spark)
      assert(IndexMaintenance.compactNow(spark, s"$root/gifi") == "hashband")
      assert(Multimodal.readGifHashBandIndex(spark, s"$root/gifi").count() > 0)
      // the FIFTH family end-to-end through the sweep: a tripped
      // AUDIO positional root (half its clips deleted) is flagged,
      // compacted by the act phase, its verdict clears, and the
      // compacted artifact still SERVES a probe — the same pin the
      // GIF root has, so the audio family cannot drift out of the
      // sweep contract
      // clips whose per-segment envelope fingerprints realize
      // PRESCRIBED hashes (the AudioSegmentSpec device: amp walk from
      // 128 stepping by the hash bits, window-constant magnitude) —
      // two uniform-noise waves would fingerprint near-identically
      // (the envelope is an ENERGY profile) and the probe could not
      // tell the clips apart
      def wave(h1: Long, h2: Long): Array[Byte] = {
        def amps(h: Long): Array[Int] = {
          val a = new Array[Int](65); a(0) = 128
          (0 until 64).foreach(i =>
            a(i + 1) = a(i) + (if (((h >>> i) & 1L) == 1L) 1 else -1))
          a
        }
        val samples = new Array[Short](2 * 520)
        Seq(h1, h2).zipWithIndex.foreach { case (h, s) =>
          val as = amps(h)
          for (w <- 0 until 65; j <- 0 until 8) {
            val gi = s * 520 + w * 8 + j
            val m = as(w) * 77
            samples(gi) = (if (gi % 2 == 0) m else -m).toShort
          }
        }
        Multimodal.syntheticPcmWav(samples)
      }
      val clipA = wave(0x0123456789ABCDEFL, 0x00FF00FF00FF00FFL)
      val clipB = wave(0xFEDCBA9876543210L, 0x0F0F0F0F0F0F0F0FL)
      Multimodal.writeAudioSegmentHashBandIndex(
        Seq((1L, clipA), (2L, clipB)).toDF("aid", "clip"),
        "clip", "aid", s"$root/audi", segmentFrames = 520L,
        maxSegments = 4, metricName = "graft_im_act_audio_cap")(spark)
      Dedup.deleteFromHashBandIndex(spark, s"$root/audi",
        Seq(1L).toDF("aid"), "aid")
      val audioReport = IndexMaintenance.sweepAndCompact(spark,
        Seq(s"$root/audi")).collect()(0)
      assert(audioReport.getAs[String]("layout") == "positional" &&
        audioReport.getAs[Boolean]("compacted") &&
        !audioReport.getAs[Boolean]("compact") &&
        audioReport.getAs[String]("error") == null,
        s"audio act row: $audioReport")
      assert(Dedup.hashBandIndexStats(spark, s"$root/audi")
        .tombstonedRows == 0, "tombstones really left the audio artifact")
      // the swept artifact still answers (filterAgainst KEEPS rows
      // that miss the index): a probe of the deleted clip keeps —
      // its standing twin is really gone — while a probe of the
      // surviving clip is filtered out as a near-dup
      val audiIdx = Multimodal.readAudioSegmentHashBandIndex(
        spark, s"$root/audi", segmentFrames = 520L)
      val kept = Multimodal.audioNearDupFilterAgainst(
          Seq((10L, clipA), (20L, clipB)).toDF("pid", "clip"),
          "clip", "pid", audiIdx, segmentFrames = 520L,
          maxSegments = 4, minSegmentMatches = 2)(spark)
        .select("pid").collect().map(_.getLong(0)).toSet
      assert(kept == Set(10L),
        s"post-compaction filter must keep only the deleted clip's probe: $kept")
    }
  }

  test("sweepAndCompact maxActions: the act phase is bounded per pass, deferred roots stay flagged and compact next pass") {
    withTempDir("im-budget") { dir =>
      val root = dir.getAbsolutePath
      // three tripped roots (half their docs deleted each)
      val names = Seq("a", "b", "c")
      names.foreach { n =>
        Dedup.writeHashBandIndex(
          Seq((1L, 0x0123456789ABCDEFL), (2L, 0x00FF00FF00FF00FFL),
            (3L, 0xFEDCBA9876543210L), (4L, 0x0F0F0F0F0F0F0F0FL))
            .toDF("vid", "sig"), "sig", "vid", s"$root/$n",
          metricName = s"graft_im_budget_${n}_cap")
        Dedup.deleteFromHashBandIndex(spark, s"$root/$n",
          Seq(1L, 2L).toDF("vid"), "vid")
      }
      val pass1 = IndexMaintenance.sweepAndCompact(spark,
          names.map(n => s"$root/$n"), maxActions = 1).collect()
        .map(r => r.getAs[String]("path").split('/').last ->
          ((r.getAs[Boolean]("compact"), r.getAs[Boolean]("compacted"),
            r.getAs[Boolean]("deferred"), Option(r.getAs[String]("error")))))
        .toMap
      // exactly ONE compaction ran; the two deferred rows keep their
      // flagged verdict (next pass's input) and carry no error —
      // deferral is a budget decision, not a failure
      val compacted1 = pass1.values.count(_._2)
      val deferred1 = pass1.values.count(_._3)
      assert(compacted1 == 1 && deferred1 == 2, s"$pass1")
      pass1.values.filter(_._3).foreach { v =>
        assert(v._1 && !v._2 && v._4.isEmpty,
          s"deferred row must stay flagged with no error: $v")
      }
      // the acted root's verdict cleared, and it is not deferred
      val acted1 = pass1.values.find(_._2).get
      assert(!acted1._1 && !acted1._3 && acted1._4.isEmpty, s"$acted1")
      // second pass at the same budget: one of the deferred two
      // compacts; nothing re-compacts the already-clean root
      val pass2 = IndexMaintenance.sweepAndCompact(spark,
          names.map(n => s"$root/$n"), maxActions = 1).collect()
        .map(r => (r.getAs[Boolean]("compacted"), r.getAs[Boolean]("deferred")))
      assert(pass2.count(_._1) == 1 && pass2.count(_._2) == 1, s"${pass2.toSeq}")
      // maxActions = 0 is a pure dry-run sweep: flags, acts on nothing
      val dry = IndexMaintenance.sweepAndCompact(spark,
          names.map(n => s"$root/$n"), maxActions = 0).collect()
      assert(dry.forall(r => !r.getAs[Boolean]("compacted")),
        "dry run must not compact")
      assert(dry.count(_.getAs[Boolean]("deferred")) == 1,
        "the one still-flagged root defers under a zero budget")
      intercept[IllegalArgumentException] {
        IndexMaintenance.sweepAndCompact(spark, Seq(s"$root/a"),
          maxActions = -1)
      }
    }
  }
}
