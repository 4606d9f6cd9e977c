package graft.operators

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

/** Deletion lifecycle of the persisted hash-band index — the third
  * standing-index family (image dHash / audio fingerprint / SimHash)
  * brought up to the BM25/IVF takedown contract: write-with-ids,
  * tombstone delete applied at read, material compaction with the
  * snapshot-safe tombstone clear, stats from the artifact alone. */
class HashBandIndexSpec extends SparkSpecBase {

  import spark.implicits._

  // standing signatures: 201/202 SHARE a hash (the sharing that makes
  // delete-by-id non-trivial for this family), 203 is alone, 204 far
  private val standingRows = Seq(
    (201L, 0x0123456789ABCDEFL),
    (202L, 0x0123456789ABCDEFL), // same hash as 201
    (203L, 0x00FF00FF00FF00FFL),
    (204L, 0xFEDCBA9876543210L))

  private def standing = standingRows.toDF("vid", "sig")

  // batch: 1 near the shared hash, 2 near 203, 3 near 204, 4 far
  private def batch = Seq(
    (1L, 0x0123456789ABCDEEL),
    (2L, 0x00FF00FF00FF00FEL),
    (3L, 0xFEDCBA9876543211L),
    (4L, 0x0F0F0F0F00000000L))
    .toDF("vid", "sig")

  private def keptAgainst(path: String): Set[Long] =
    Dedup.hashNearDupFilterAgainst(batch, "sig",
        Dedup.readHashBandIndex(spark, path), maxHamming = 3)
      .select("vid").collect().map(_.getLong(0)).toSet

  test("write/read roundtrip equals the in-memory index; probes agree") {
    withTempDir("hbi-rt") { dir =>
      val path = dir.getAbsolutePath
      Dedup.writeHashBandIndex(standing, "sig", "vid", path)
      val mem = Dedup.hashBandIndex(standing, "sig")
        .collect().map(r => (r.getInt(0), r.getLong(1)) ->
          r.getSeq[Long](2).sorted).toMap
      val back = Dedup.readHashBandIndex(spark, path)
        .collect().map(r => (r.getInt(0), r.getLong(1)) ->
          r.getSeq[Long](2).sorted).toMap
      assert(back == mem, s"roundtrip diverged: $back vs $mem")
      assert(keptAgainst(path) == Set(4L))
    }
  }

  test("delete: shared-hash semantics, idempotency, probe-at-once, stream parity") {
    withTempDir("hbi-del") { dir =>
      val path = dir.getAbsolutePath
      Dedup.writeHashBandIndex(standing, "sig", "vid", path)
      // delete ONE of the two docs sharing the hash: batch 1 must STAY
      // suppressed (202 still holds the signature) — removing a doc is
      // not removing a hash
      Dedup.deleteFromHashBandIndex(spark, path,
        Seq(201L).toDF("vid"), "vid")
      assert(keptAgainst(path) == Set(4L), "surviving sharer must keep suppressing")
      // delete the second sharer and 203: their near-twins resurface
      Dedup.deleteFromHashBandIndex(spark, path,
        Seq(202L, 203L).toDF("vid"), "vid")
      assert(keptAgainst(path) == Set(1L, 2L, 4L))
      // re-deleting already-deleted ids is harmless
      Dedup.deleteFromHashBandIndex(spark, path,
        Seq(202L, 203L).toDF("vid"), "vid")
      assert(keptAgainst(path) == Set(1L, 2L, 4L))
      // the read index is the facades' imageIndex/audioIndex shape —
      // the SAME filter is append-legal on a stream, tombstones applied
      withTempDir("hbi-stream") { sdir =>
        batch.coalesce(1).write.mode("overwrite").parquet(s"$sdir/in")
        val stream = spark.readStream.schema("vid BIGINT, sig BIGINT")
          .parquet(s"$sdir/in")
        val q = Dedup.hashNearDupFilterAgainst(stream, "sig",
            Dedup.readHashBandIndex(spark, path), maxHamming = 3)
          .writeStream.format("memory").queryName("hbi_stream")
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination(120000)
        val got = spark.table("hbi_stream")
          .select("vid").collect().map(_.getLong(0)).toSet
        assert(got == Set(1L, 2L, 4L), s"stream diverged: $got")
      }
    }
  }

  test("compaction: material removal, probe-bit-identical, snapshot clear, crash boundaries") {
    withTempDir("hbi-cmp") { dir =>
      val path = dir.getAbsolutePath
      Dedup.writeHashBandIndex(standing, "sig", "vid", path)
      Dedup.deleteFromHashBandIndex(spark, path,
        Seq(201L, 202L).toDF("vid"), "vid")
      val before = keptAgainst(path)
      assert(before == Set(1L, 4L))
      // versioned FROM BIRTH: the write itself published v1
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sessionState.newHadoopConf())
      assert(fs.exists(new org.apache.hadoop.fs.Path(s"$path/_current_v1")))
      Dedup.compactHashBandIndex(spark, path)
      assert(keptAgainst(path) == before, "compaction changed probe results")
      assert(fs.exists(new org.apache.hadoop.fs.Path(s"$path/bands_v2")))
      assert(fs.exists(new org.apache.hadoop.fs.Path(s"$path/_current_v2")))
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/bands_v1")))
      // tombstones cleared (snapshot applied materially)
      val stats = Dedup.hashBandIndexStats(spark, path)
      assert(stats.tombstonedIds == 0 && stats.tombstonedRows == 0)
      // the deleted docs' rows are gone for real: only 203/204 remain,
      // 4 band rows each
      assert(stats.rows == 8, s"rows ${stats.rows}")
      // a delete LANDING between a compaction's snapshot and its clear
      // must survive — simulated by the public contract: tombstones
      // written after the compaction stay pending and bite at read
      Dedup.deleteFromHashBandIndex(spark, path, Seq(203L).toDF("vid"), "vid")
      assert(keptAgainst(path) == Set(1L, 2L, 4L))
      // second compaction: v3 swap, old version swept
      Dedup.compactHashBandIndex(spark, path)
      assert(keptAgainst(path) == Set(1L, 2L, 4L))
      assert(fs.exists(new org.apache.hadoop.fs.Path(s"$path/_current_v3")))
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/_current_v2")))
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/bands_v2")))
      // writer lock: a live (or crashed) compaction refuses deletes,
      // further compactions AND rebuilds, loudly
      fs.createNewFile(new org.apache.hadoop.fs.Path(s"$path/_compact_inprogress"))
      intercept[IllegalArgumentException] {
        Dedup.deleteFromHashBandIndex(spark, path, Seq(204L).toDF("vid"), "vid")
      }
      intercept[IllegalArgumentException] {
        Dedup.compactHashBandIndex(spark, path)
      }
      intercept[IllegalArgumentException] {
        Dedup.writeHashBandIndex(standing, "sig", "vid", path)
      }
      fs.delete(new org.apache.hadoop.fs.Path(s"$path/_compact_inprogress"), false)
    }
  }

  test("all-deleted index: compaction skips, probes stay correct, rebuild is the way out") {
    withTempDir("hbi-all") { dir =>
      val path = dir.getAbsolutePath
      Dedup.writeHashBandIndex(standing, "sig", "vid", path)
      Dedup.deleteFromHashBandIndex(spark, path,
        standingRows.map(_._1).toDF("vid"), "vid")
      // every signature tombstoned: nothing suppresses
      assert(keptAgainst(path) == Set(1L, 2L, 3L, 4L))
      Dedup.compactHashBandIndex(spark, path)
      // rewrite skipped (empty-dir corner), tombstones kept, probes correct
      val stats = Dedup.hashBandIndexStats(spark, path)
      assert(stats.tombstonedIds == 4 && stats.tombstonedRows == stats.rows)
      assert(keptAgainst(path) == Set(1L, 2L, 3L, 4L))
      // rebuild resets the root: tombstones cleared, ids re-addable
      Dedup.writeHashBandIndex(standing, "sig", "vid", path)
      assert(keptAgainst(path) == Set(4L))
      assert(Dedup.hashBandIndexStats(spark, path).tombstonedIds == 0)
    }
  }

  test("stats + cap honesty: capDroppedBands recorded; dropped bands do not resurrect on delete") {
    withTempDir("hbi-cap") { dir =>
      val path = dir.getAbsolutePath
      // cap 1: the shared-hash docs (201, 202) overload all four of
      // their bands, which drop WHOLE at build
      Dedup.writeHashBandIndex(standing, "sig", "vid", path, maxBucket = 1,
        metricName = "graft_hbi_cap_spec")
      val stats = Dedup.hashBandIndexStats(spark, path)
      assert(stats.capDroppedBands == 4, s"capDropped ${stats.capDroppedBands}")
      assert(stats.maxBucket == 1 && stats.ndocs == 4)
      assert(stats.rows == 8 && stats.bands == 8) // 203 + 204 only
      // batch 1 (near the dropped bands' hash) is NOT suppressed — the
      // documented cap-recall trade, auditable via capDroppedBands
      assert(keptAgainst(path) == Set(1L, 4L))
      // deleting 201 does NOT resurrect the dropped bands (the artifact
      // no longer has those rows)
      Dedup.deleteFromHashBandIndex(spark, path, Seq(201L).toDF("vid"), "vid")
      assert(keptAgainst(path) == Set(1L, 4L))
    }
  }

  test("rebuildHashBandIndex: grow-then-probe == fresh-build-over-union; tombstones materialize; cap inherited; guards") {
    withTempDir("hbi-grow") { dir =>
      val path = s"${dir.getAbsolutePath}/idx"
      val freshPath = s"${dir.getAbsolutePath}/fresh"
      Dedup.writeHashBandIndex(standing, "sig", "vid", path)
      // tombstone 203, then grow from the artifact alone: 301 lands
      // within hamming 1 of batch 4's signature, 302 within hamming 3
      // of batch 2's (covering the hole the 203 delete opened)
      Dedup.deleteFromHashBandIndex(spark, path, Seq(203L).toDF("vid"), "vid")
      val grow = Seq(
        (301L, 0x0F0F0F0F00000001L),
        (302L, 0x00FF00FF00FF00F0L)).toDF("vid", "sig")
      Dedup.rebuildHashBandIndex(spark, path, grow, "sig", "vid")
      // the reference: a fresh build over (standing minus deleted) ∪ grow
      Dedup.writeHashBandIndex(
        standing.filter(col("vid") =!= 203L).unionByName(grow),
        "sig", "vid", freshPath)
      def indexMap(p: String) = Dedup.readHashBandIndex(spark, p)
        .collect().map(r => (r.getInt(0), r.getLong(1)) ->
          r.getSeq[Long](2).sorted).toMap
      assert(indexMap(path) == indexMap(freshPath),
        "grown index diverged from the fresh-over-union build")
      // NON-DESTRUCTIVE: the rebuild is a versioned swap — v2
      // published, v1 (its only source) swept only AFTER, lock gone,
      // tombstone snapshot cleared
      val fsg = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sessionState.newHadoopConf())
      assert(fsg.exists(new org.apache.hadoop.fs.Path(s"$path/_current_v2")))
      assert(!fsg.exists(new org.apache.hadoop.fs.Path(s"$path/_current_v1")))
      assert(!fsg.exists(new org.apache.hadoop.fs.Path(s"$path/bands_v1")))
      assert(!fsg.exists(new org.apache.hadoop.fs.Path(s"$path/_compact_inprogress")))
      // a held lock (live compaction/rebuild) refuses a new rebuild
      fsg.createNewFile(new org.apache.hadoop.fs.Path(s"$path/_compact_inprogress"))
      intercept[IllegalArgumentException] {
        Dedup.rebuildHashBandIndex(spark, path, grow, "sig", "vid")
      }
      fsg.delete(new org.apache.hadoop.fs.Path(s"$path/_compact_inprogress"), false)
      // probes agree: every batch doc is now suppressed (1 by the
      // shared 201/202 hash, 2 by grown 302, 3 by 204, 4 by grown 301)
      assert(keptAgainst(path) == Set.empty[Long])
      assert(keptAgainst(freshPath) == Set.empty[Long])
      // the tombstone left for real; meta reflects the grown frame
      val stats = Dedup.hashBandIndexStats(spark, path)
      assert(stats.tombstonedIds == 0 && stats.ndocs == 5, s"$stats")
      // same-id-same-hash resubmission is a no-op (the (id, _h) dedup)
      Dedup.rebuildHashBandIndex(spark, path,
        Seq((301L, 0x0F0F0F0F00000001L)).toDF("vid", "sig"), "sig", "vid")
      assert(indexMap(path) == indexMap(freshPath), "resubmission not a no-op")
      // cap inherited from _meta when not overridden
      val capPath = s"${dir.getAbsolutePath}/capped"
      Dedup.writeHashBandIndex(standing, "sig", "vid", capPath, maxBucket = 1,
        metricName = "graft_hbi_grow_cap_spec")
      Dedup.rebuildHashBandIndex(spark, capPath, grow, "sig", "vid",
        metricName = "graft_hbi_grow_cap_spec2")
      val capStats = Dedup.hashBandIndexStats(spark, capPath)
      assert(capStats.maxBucket == 1, s"cap not inherited: $capStats")
      // guards: wrong idCol; no _meta (never-built path)
      intercept[IllegalArgumentException] {
        Dedup.rebuildHashBandIndex(spark, path,
          grow.withColumnRenamed("vid", "other"), "sig", "other")
      }
      intercept[IllegalArgumentException] {
        Dedup.rebuildHashBandIndex(spark, s"${dir.getAbsolutePath}/nothere",
          grow, "sig", "vid")
      }
    }
  }

  test("the build is one action: _meta stats ride the write as observed metrics (job-count pinned, values exact)") {
    withTempDir("hbi-jobs") { dir =>
      val path = s"${dir.getAbsolutePath}/idx"
      val group = "hbi_build_jobs"
      spark.sparkContext.setJobGroup(group, group)
      try Dedup.writeHashBandIndex(standing, "sig", "vid", path,
        metricName = "graft_hbi_jobs_spec")
      finally spark.sparkContext.clearJobGroup()
      val jobs = spark.sparkContext.statusTracker
        .getJobIdsForGroup(group).length
      // one data-write action (AQE materializes its exchanges as a
      // few stage-jobs) plus the one-row meta write. The pre-fold
      // shape ran three MORE actions (input recount, un-capped
      // explode+distinct, artifact read-back) — each at least one
      // job — and trips this bound
      assert(jobs <= 6,
        s"writeHashBandIndex ran $jobs jobs — separate stats actions crept back?")
      // the observe-derived meta is exact, not an estimate: 4 docs,
      // 16 band rows, 12 distinct bands (201/202 share all four), none
      // capped — cross-checked against the artifact recount
      val stats = Dedup.hashBandIndexStats(spark, path)
      assert(stats.ndocs == 4 && stats.capDroppedBands == 0,
        s"meta diverged: $stats")
      val totalBands = spark.read.parquet(s"${stats.indexDir}/_meta")
        .select("total_bands").collect()(0).getLong(0)
      assert(totalBands == stats.bands,
        s"observe-derived total_bands $totalBands != recounted ${stats.bands}")
    }
  }

  test("zero-survivor builds are refused, not published: all-over-cap and empty inputs; a corrected rerun recovers") {
    withTempDir("hbi-zero") { dir =>
      val path = dir.getAbsolutePath
      // two docs share every band: at cap 1 the whole index would drop
      val twins = Seq((1L, 42L), (2L, 42L)).toDF("vid", "sig")
      val e1 = intercept[IllegalArgumentException] {
        Dedup.writeHashBandIndex(twins, "sig", "vid", path, maxBucket = 1,
          metricName = "graft_hbi_zero_spec")
      }
      assert(e1.getMessage.contains("maxBucket"), e1.getMessage)
      // the refusal leaves the loud crashed-rebuild state, never a
      // published pointer at an unreadable (footer-less) artifact
      intercept[IllegalArgumentException] {
        Dedup.readHashBandIndex(spark, path)
      }
      val e2 = intercept[IllegalArgumentException] {
        Dedup.writeHashBandIndex(
          Seq((1L, null.asInstanceOf[java.lang.Long])).toDF("vid", "sig"),
          "sig", "vid", path, metricName = "graft_hbi_zero_spec2")
      }
      assert(e2.getMessage.contains("no indexable rows"), e2.getMessage)
      // a corrected rerun over the same root succeeds
      Dedup.writeHashBandIndex(twins, "sig", "vid", path,
        metricName = "graft_hbi_zero_spec3")
      assert(Dedup.hashBandIndexStats(spark, path).ndocs == 2)
    }
  }

  test("rebuild reset is name-scoped: a co-located stranger survives; stats refuses the crash-after-pointer state loudly") {
    withTempDir("hbi-scope") { dir =>
      val path = dir.getAbsolutePath
      Dedup.writeHashBandIndex(standing, "sig", "vid", path)
      Dedup.deleteFromHashBandIndex(spark, path, Seq(201L).toDF("vid"), "vid")
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sessionState.newHadoopConf())
      // a user co-locates an unrelated artifact at the index root
      fs.createNewFile(new org.apache.hadoop.fs.Path(s"$path/_user_notes"))
      fs.mkdirs(new org.apache.hadoop.fs.Path(s"$path/_other_artifact"))
      Dedup.writeHashBandIndex(standing, "sig", "vid", path)
      // the rebuild reset cleared ITS layout (tombstones gone — 201
      // re-addable) but never touched the strangers
      assert(fs.exists(new org.apache.hadoop.fs.Path(s"$path/_user_notes")),
        "rebuild reset ate a co-located file")
      assert(fs.exists(new org.apache.hadoop.fs.Path(s"$path/_other_artifact")),
        "rebuild reset ate a co-located dir")
      assert(Dedup.hashBandIndexStats(spark, path).tombstonedIds == 0)
      assert(keptAgainst(path) == Set(4L))
      // the served generation's record removed by hand (the state of a
      // root written before each generation held its own): classic
      // probes still serve; stats, delete and growth refuse through
      // the one record reader with the repair path named (not a raw
      // parquet path-not-found)
      val gen = StandingIndex.currentDir(fs, path, StandingIndex.HashBand)
      fs.delete(new org.apache.hadoop.fs.Path(s"$gen/_meta"), true)
      assert(keptAgainst(path) == Set(4L), "classic probes must survive a lost _meta")
      val refusals = Seq(
        intercept[IllegalArgumentException] {
          Dedup.hashBandIndexStats(spark, path)
        },
        intercept[IllegalArgumentException] {
          Dedup.deleteFromHashBandIndex(spark, path, Seq(202L).toDF("vid"), "vid")
        },
        intercept[IllegalArgumentException] {
          Dedup.rebuildHashBandIndex(spark, path, batch, "sig", "vid")
        })
      refusals.foreach { e =>
        assert(e.getMessage.contains("_meta") &&
          e.getMessage.contains("writeHashBandIndex"),
          s"refusal must come from the record reader and name the repair path: ${e.getMessage}")
      }
      // nothing was written by the refused calls
      assert(StandingIndex.tombstoneFiles(fs, path).isEmpty)
      assert(StandingIndex.currentDir(fs, path, StandingIndex.HashBand) == gen)
    }
  }

  /** The served generation's `_meta` record, after asserting the index
    * root carries none of its own. */
  private def servedRecord(path: String): Map[String, Any] = {
    val fs = StandingIndex.fs(spark, path)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/_meta")),
      s"a root-level _meta exists under $path")
    val gen = StandingIndex.currentDir(fs, path, StandingIndex.HashBand)
    val rows = spark.read.parquet(s"$gen/_meta").collect()
    assert(rows.length == 1, s"record of $gen has ${rows.length} rows")
    rows(0).getValuesMap[Any](rows(0).schema.fieldNames)
  }

  test("every generation holds its own record: write, growth, compaction and the positional writes put _meta inside bands_vN") {
    withTempDir("hbi-record") { dir =>
      val path = s"${dir.getAbsolutePath}/classic"
      Dedup.writeHashBandIndex(standing, "sig", "vid", path)
      val built = servedRecord(path)
      assert(built == Map("ndocs" -> 4L, "total_bands" -> 12L,
        "cap_dropped_bands" -> 0L, "max_bucket" -> HotKeys.DefaultBucketCap.toLong,
        "id_col" -> "vid", "pos_col" -> "", "sample_cap" -> -1L,
        "hash_col" -> "sig"), s"$built")
      // growth writes the grown generation's record (batch doc 4 has
      // four bands of its own; 1-3 each share some with the standing)
      Dedup.rebuildHashBandIndex(spark, path, batch, "sig", "vid",
        maxBucket = Some(9))
      val grown = servedRecord(path)
      val grownStats = Dedup.hashBandIndexStats(spark, path)
      assert(grownStats.indexDir.endsWith("bands_v2"), grownStats.indexDir)
      assert(grown("ndocs") == 8L && grown("max_bucket") == 9L &&
        grown("total_bands") == grownStats.bands, s"$grown vs $grownStats")
      // compaction carries the served record over unchanged
      Dedup.deleteFromHashBandIndex(spark, path, Seq(4L).toDF("vid"), "vid")
      Dedup.compactHashBandIndex(spark, path)
      assert(Dedup.hashBandIndexStats(spark, path).indexDir.endsWith("bands_v3"))
      assert(servedRecord(path) == grown)
      // the positional writes (GIF frames, audio segments) record
      // their layout and width the same way
      val gifPath = s"${dir.getAbsolutePath}/gif"
      Multimodal.writeGifHashBandIndex(
        Seq((1L, Multimodal.syntheticGrayGif(9, 8,
            Seq(Array.tabulate(72)(i => (i * 7) % 256),
              Array.tabulate(72)(i => (i * 11) % 256)))))
          .toDF("gid", "anim"), "anim", "gid", gifPath,
        metricName = "graft_hbi_record_gif")(spark)
      val gif = servedRecord(gifPath)
      assert(gif("id_col") == "gid" && gif("pos_col") == "sample_pos" &&
        gif("sample_cap") == 4L && gif("hash_col") == "anim", s"$gif")
      val audPath = s"${dir.getAbsolutePath}/audio"
      Multimodal.writeAudioSegmentHashBandIndex(
        Seq((1L, Multimodal.syntheticPcmWav(
            Array.tabulate[Short](16640)(i => (i * 37 % 2003 - 1001).toShort))))
          .toDF("aid", "clip"), "clip", "aid", audPath,
        metricName = "graft_hbi_record_audio")(spark)
      val aud = servedRecord(audPath)
      assert(aud("id_col") == "aid" && aud("pos_col") == "sample_pos" &&
        aud("sample_cap") == 8320L && aud("hash_col") == "clip", s"$aud")
    }
  }

  test("maxBucket < 1 is refused on the driver before any job, in the write and growth cores") {
    withTempDir("hbi-cap0") { dir =>
      val path = dir.getAbsolutePath
      Dedup.writeHashBandIndex(standing, "sig", "vid", path)
      val (e1, writeJobs) = countJobs(intercept[IllegalArgumentException] {
        Dedup.writeHashBandIndex(standing, "sig", "vid", path, maxBucket = 0)
      })
      val (e2, growJobs) = countJobs(intercept[IllegalArgumentException] {
        Dedup.rebuildHashBandIndex(spark, path, batch, "sig", "vid",
          maxBucket = Some(0))
      })
      Seq(e1, e2).foreach(e =>
        assert(e.getMessage.contains("maxBucket must be >= 1"), e.getMessage))
      assert(writeJobs == 0 && growJobs == 0,
        s"refusal ran jobs first: write $writeJobs, growth $growJobs")
      // the served index is untouched
      assert(Dedup.hashBandIndexStats(spark, path).indexDir.endsWith("bands_v1"))
      assert(keptAgainst(path) == Set(4L))
    }
  }

  test("a rebuild-by-write whose job fails leaves the old index serving the same survivors") {
    withTempDir("hbi-fail") { dir =>
      val path = dir.getAbsolutePath
      Dedup.writeHashBandIndex(standing, "sig", "vid", path)
      Dedup.deleteFromHashBandIndex(spark, path, Seq(201L).toDF("vid"), "vid")
      val before = keptAgainst(path)
      val statsBefore = Dedup.hashBandIndexStats(spark, path)
      // one row's signature fails on the executors, inside the band job
      val poisoned = standing.withColumn("sig",
        when(col("vid") === 203L, raise_error(lit("poisoned signature")).cast("long"))
          .otherwise(col("sig")))
      intercept[Exception] {
        Dedup.writeHashBandIndex(poisoned, "sig", "vid", path)
      }
      assert(keptAgainst(path) == before, "the failed rebuild took the index down")
      // meta, tombstones and the writer lock are as they were
      assert(Dedup.hashBandIndexStats(spark, path) == statsBefore)
      // a corrected rebuild then replaces it (the tombstones clear)
      Dedup.writeHashBandIndex(standing, "sig", "vid", path)
      assert(keptAgainst(path) == Set(4L))
      assert(Dedup.hashBandIndexStats(spark, path).tombstonedIds == 0)
    }
  }

  test("guards: band-column tombstones refused; mismatched tombstone columns refused") {
    withTempDir("hbi-guards") { dir =>
      val path = dir.getAbsolutePath
      Dedup.writeHashBandIndex(standing, "sig", "vid", path)
      intercept[IllegalArgumentException] {
        Dedup.deleteFromHashBandIndex(spark, path,
          Seq(0L).toDF("_band"), "_band")
      }
      intercept[IllegalArgumentException] {
        Dedup.writeHashBandIndex(standing.withColumnRenamed("vid", "_h"),
          "sig", "_h", s"$path/nested")
      }
      Dedup.deleteFromHashBandIndex(spark, path, Seq(201L).toDF("vid"), "vid")
      intercept[IllegalArgumentException] {
        Dedup.deleteFromHashBandIndex(spark, path,
          Seq(202L).toDF("other_id"), "other_id")
      }
    }
  }
}
