package graft.operators

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

/** Lifecycle of the persisted POSITIONAL (GIF) hash-band index — the
  * fourth standing-index family: write-with-ids keyed by sampled
  * frame position, probe parity with the in-memory form, tombstone
  * delete applied at read, growth rebuild from the artifact's own
  * rows, and the schema-derived classic/positional mix-up refusals.
  * Delete/compact/stats are the classic family's functions verbatim
  * (same layout) — exercised here over the positional artifact. */
class GifHashBandIndexSpec extends SparkSpecBase {

  import spark.implicits._

  private val a = Array.tabulate(72)(i => (i * 7) % 256)
  private val b = a.map(v => (v + 96) % 256)
  private val c = a.map(v => (v + 160) % 256)
  private val d = Array.tabulate(72)(i => 255 - (i * 7) % 256)
  private val e = d.map(v => (v + 96) % 256)
  private val f = d.map(v => (v + 160) % 256)
  // flips exactly dHash bit 0 of a frame whose (0,0)->(0,1) gradient
  // ascends: 1-bit Hamming distance from the original
  private def flip1(fr: Array[Int]): Array[Int] = {
    val g = fr.clone(); g(0) = 255; g(1) = 0; g
  }
  private def gif(frames: Array[Int]*): Array[Byte] =
    Multimodal.syntheticGrayGif(9, 8, frames)

  // standing: 201/202 share every frame hash (the sharing that makes
  // delete-by-id non-trivial), 203 is a distinct animation
  private def standing = Seq(
    (201L, gif(a, b, c)),
    (202L, gif(a, b, c)),
    (203L, gif(d, e, f))).toDF("gid", "anim")

  // batch: 1 a 1-bit-per-frame re-encode of 201/202, 2 near 203,
  // 3 shares frames with 203 but POSITIONALLY SHIFTED (must keep),
  // 4 far from everything
  private def batch = Seq(
    (1L, gif(flip1(a), flip1(b), flip1(c))),
    (2L, gif(flip1(d), flip1(e), flip1(f))),
    (3L, gif(f, d, e)),
    (4L, gif(a.reverse, b.reverse, c.reverse))).toDF("gid", "anim")

  private def keptAgainst(idx: org.apache.spark.sql.DataFrame): Set[Long] =
    Multimodal.gifNearDupFilterAgainst(batch, "anim", "gid", idx)(spark)
      .select("gid").collect().map(_.getLong(0)).toSet

  private def keptAgainstPath(path: String): Set[Long] =
    keptAgainst(Multimodal.readGifHashBandIndex(spark, path))

  test("write/read roundtrip equals the in-memory positional index; probes agree; positional semantics hold") {
    withTempDir("gifidx-rt") { dir =>
      val path = dir.getAbsolutePath
      Multimodal.writeGifHashBandIndex(standing, "anim", "gid", path)(spark)
      val mem = Multimodal.gifHashBandIndex(standing, "anim")(spark)
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2)) ->
          r.getSeq[Long](3).sorted).toMap
      val back = Multimodal.readGifHashBandIndex(spark, path)
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2)) ->
          r.getSeq[Long](3).sorted).toMap
      assert(back == mem, s"roundtrip diverged: $back vs $mem")
      // in-memory and persisted probes agree; the position-shifted
      // animation (3) and the far one (4) keep
      assert(keptAgainst(Multimodal.gifHashBandIndex(standing, "anim")(spark))
        == Set(3L, 4L))
      assert(keptAgainstPath(path) == Set(3L, 4L))
    }
  }

  test("classic/positional mix-ups are refused schema-derivedly, read and growth") {
    withTempDir("gifidx-mix") { dir =>
      val gifPath = s"${dir.getAbsolutePath}/gif"
      val classicPath = s"${dir.getAbsolutePath}/classic"
      Multimodal.writeGifHashBandIndex(standing, "anim", "gid", gifPath)(spark)
      Dedup.writeHashBandIndex(
        Seq((1L, 42L), (2L, 43L)).toDF("gid", "sig"), "sig", "gid",
        classicPath)
      val e1 = intercept[IllegalArgumentException](
        Dedup.readHashBandIndex(spark, gifPath))
      assert(e1.getMessage.contains("POSITIONAL"), e1.getMessage)
      val e2 = intercept[IllegalArgumentException](
        Multimodal.readGifHashBandIndex(spark, classicPath))
      assert(e2.getMessage.contains("classic"), e2.getMessage)
      // growth mix-ups are refused from the build-time meta record
      // (earlier and louder than the schema check — before the lock)
      val e3 = intercept[IllegalArgumentException](
        Dedup.rebuildHashBandIndex(spark, gifPath,
          Seq((9L, 7L)).toDF("gid", "sig"), "sig", "gid"))
      assert(e3.getMessage.contains("position column"), e3.getMessage)
      val e4 = intercept[IllegalArgumentException](
        Multimodal.rebuildGifHashBandIndex(spark, classicPath,
          batch, "anim", "gid"))
      assert(e4.getMessage.contains("position column"), e4.getMessage)
      // growing a positional index at a DIFFERENT frame-sampling
      // width is refused (mixed sampling would shift what positions
      // mean between old and new animations)
      val e5 = intercept[IllegalArgumentException](
        Multimodal.rebuildGifHashBandIndex(spark, gifPath,
          batch, "anim", "gid", nFrames = 8))
      assert(e5.getMessage.contains("sample width"), e5.getMessage)
      // ...and so is PROBING at a different width (the read validates
      // against _meta.sample_cap — the probe path is the common one)
      val e6 = intercept[IllegalArgumentException](
        Multimodal.readGifHashBandIndex(spark, gifPath, nFrames = 8))
      assert(e6.getMessage.contains("sample width"), e6.getMessage)
      // an all-undecodable standing frame refuses with the decode
      // diagnosis, not the classic null-hash one
      val e7 = intercept[IllegalArgumentException](
        Multimodal.writeGifHashBandIndex(
          Seq((1L, Array[Byte](9, 9, 9))).toDF("gid", "anim"),
          "anim", "gid", s"${dir.getAbsolutePath}/junk",
          metricName = "graft_gif_index_junk_cap")(spark))
      assert(e7.getMessage.contains("decoded"), e7.getMessage)
      // the refusals released the rewrite lock: a legitimate growth
      // still runs on both artifacts afterwards
      Multimodal.rebuildGifHashBandIndex(spark, gifPath,
        Seq((301L, gif(a.reverse, b.reverse, c.reverse))).toDF("gid", "anim"),
        "anim", "gid")
      assert(keptAgainstPath(gifPath) == Set(3L), "growth after refusal")
      Dedup.rebuildHashBandIndex(spark, classicPath,
        Seq((9L, 7L)).toDF("gid", "sig"), "sig", "gid")
      // the width check is never skipped: with the served
      // generation's record removed by hand, a positional read cannot
      // validate its width and refuses, naming the rebuild —
      // destructive, so LAST
      val fs = new org.apache.hadoop.fs.Path(gifPath)
        .getFileSystem(spark.sessionState.newHadoopConf())
      val gen = StandingIndex.currentDir(fs, gifPath, StandingIndex.HashBand)
      fs.delete(new org.apache.hadoop.fs.Path(s"$gen/_meta"), true)
      val e8 = intercept[IllegalArgumentException](
        Multimodal.readGifHashBandIndex(spark, gifPath))
      assert(e8.getMessage.contains("_meta") &&
        e8.getMessage.contains("writeHashBandIndex"), e8.getMessage)
    }
  }

  test("mixed sampling width refused at the PROBE: the index frame carries its build width, gifNearDupFilterAgainst validates it") {
    withTempDir("gifidx-width") { dir =>
      val path = dir.getAbsolutePath
      Multimodal.writeGifHashBandIndex(standing, "anim", "gid", path,
        nFrames = 8, metricName = "graft_gifidx_w8_cap")(spark)
      // read at the BUILD width (the read-side _meta check passes),
      // then probe at a different width: the read alone cannot catch
      // this — the width rides the frame as _hs metadata and the
      // filter refuses the mix where the two widths actually meet
      val idx8 = Multimodal.readGifHashBandIndex(spark, path, nFrames = 8)
      val e = intercept[IllegalArgumentException](
        Multimodal.gifNearDupFilterAgainst(batch, "anim", "gid", idx8,
          nFrames = 4)(spark))
      assert(e.getMessage.contains("sample width"), e.getMessage)
      // the in-memory form carries the width the same way
      val mem2 = Multimodal.gifHashBandIndex(standing, "anim", nFrames = 2,
        metricName = "graft_gifidx_w2_cap")(spark)
      val e2 = intercept[IllegalArgumentException](
        Multimodal.gifNearDupFilterAgainst(batch, "anim", "gid", mem2)(spark))
      assert(e2.getMessage.contains("sample width"), e2.getMessage)
      // matching widths probe fine, and the metadata survives persist
      // (the read-once-cache-across-micro-batches contract)
      val kept = Multimodal.gifNearDupFilterAgainst(batch, "anim", "gid",
          idx8.persist(), nFrames = 8)(spark)
        .select("gid").collect().map(_.getLong(0)).toSet
      idx8.unpersist()
      assert(kept == Set(3L, 4L), s"got $kept")
    }
  }

  test("gifNearDupFilterAgainst maxShift: the standing probe tolerates bounded position shift") {
    withTempDir("gifidx-shift") { dir =>
      val path = dir.getAbsolutePath
      // frames REALIZING prescribed dHashes (gray walk +1/-1 per
      // target bit) so every cross-frame distance is engineered far
      // (the a..f family above sits 3-4 bits apart WITHIN a family —
      // fine for exact-positional fixtures, fatal for shift ones)
      def gridFor(h: Long): Array[Int] = {
        val g = new Array[Int](72)
        for (y <- 0 until 8) {
          g(y * 9) = 128
          for (x <- 0 until 8) {
            val bit = (h >>> (y * 8 + x)) & 1L
            g(y * 9 + x + 1) = g(y * 9 + x) + (if (bit == 1L) 1 else -1)
          }
        }
        g
      }
      val hs = Seq(0xFFFFL, 0xFFFF0000L, 0xFFFF00000000L,
        0xFFFF000000000000L, 0x00FF00FF00FF00FFL, 0xFF00FF00FF00FF00L,
        0x0F0F0F0F0F0F0F0FL, 0xF0F0F0F0F0F0F0F0L, 0x3333333333333333L,
        0xCCCCCCCCCCCCCCCCL)
      for (i <- hs.indices; j <- hs.indices if i < j)
        assert(java.lang.Long.bitCount(hs(i) ^ hs(j)) > 3,
          s"fixture hashes $i/$j too close")
      val g = hs.map(gridFor)
      val stand = Seq((500L, gif(g(0), g(1), g(2), g(3))))
        .toDF("gid", "anim")
      Multimodal.writeGifHashBandIndex(stand, "anim", "gid", path,
        metricName = "graft_gifidx_shift_cap")(spark)
      val idx = Multimodal.readGifHashBandIndex(spark, path)
      // X shifts every frame ONE position (trimmed intro: 3 of 4
      // frames one step off), Z shifts every frame TWO, W is far
      val probes = Seq(
        (1L, gif(g(1), g(2), g(3), g(4))),
        (2L, gif(g(2), g(3), g(0), g(1))),
        (3L, gif(g(6), g(7), g(8), g(9)))).toDF("gid", "anim")
      def kept(shift: Int): Set[Long] =
        Multimodal.gifNearDupFilterAgainst(probes, "anim", "gid", idx,
            maxShift = shift)(spark)
          .select("gid").collect().map(_.getLong(0)).toSet
      assert(kept(0) == Set(1L, 2L, 3L), s"shift 0: ${kept(0)}")
      assert(kept(1) == Set(2L, 3L), s"shift 1: ${kept(1)}")
      assert(kept(2) == Set(3L), s"shift 2: ${kept(2)}")
    }
  }

  test("delete: shared-frame semantics, probe-at-once, compaction parity, position-aware stats") {
    withTempDir("gifidx-del") { dir =>
      val path = dir.getAbsolutePath
      Multimodal.writeGifHashBandIndex(standing, "anim", "gid", path)(spark)
      // delete ONE of the two animations sharing every frame: batch 1
      // must STAY suppressed (202 still holds the signatures)
      Dedup.deleteFromHashBandIndex(spark, path,
        Seq(201L).toDF("gid"), "gid")
      assert(keptAgainstPath(path) == Set(3L, 4L))
      // delete the survivor too: batch 1 resurfaces immediately (no
      // compaction needed), 2 still suppressed by 203
      Dedup.deleteFromHashBandIndex(spark, path,
        Seq(202L).toDF("gid"), "gid")
      assert(keptAgainstPath(path) == Set(1L, 3L, 4L))
      val statsBefore = Dedup.hashBandIndexStats(spark, path)
      assert(statsBefore.tombstonedIds == 2L)
      assert(statsBefore.tombstonedRows == 24L) // 2 gifs x 3 frames x 4 bands
      // bands are position-aware: 3 animations x 3 frames x 4 slots,
      // every (pos, slot, value) distinct except 201/202's full
      // overlap -> 2 x 3 x 4 = 24 distinct band keys
      assert(statsBefore.bands == 24L, s"got ${statsBefore.bands}")
      assert(statsBefore.ndocs == 9L) // meta ndocs counts FRAMES
      // compaction: material removal, probe bit-identical, tombstones
      // cleared
      Dedup.compactHashBandIndex(spark, path)
      assert(keptAgainstPath(path) == Set(1L, 3L, 4L))
      val statsAfter = Dedup.hashBandIndexStats(spark, path)
      assert(statsAfter.tombstonedIds == 0L && statsAfter.tombstonedRows == 0L)
      assert(statsAfter.rows == 12L) // 203's 3 frames x 4 bands
      // tombstoning by the position column is refused
      val e = intercept[IllegalArgumentException](
        Dedup.deleteFromHashBandIndex(spark, path,
          Seq(0L).toDF("sample_pos"), "sample_pos"))
      assert(e.getMessage.contains("position"), e.getMessage)
    }
  }

  test("growth rebuild: grown probe == fresh-over-union probe; tombstoned ids leave for real; standing never re-decoded") {
    withTempDir("gifidx-grow") { dir =>
      val path = s"${dir.getAbsolutePath}/grown"
      val freshPath = s"${dir.getAbsolutePath}/fresh"
      Multimodal.writeGifHashBandIndex(standing, "anim", "gid", path)(spark)
      Dedup.deleteFromHashBandIndex(spark, path,
        Seq(201L, 202L).toDF("gid"), "gid")
      val growth = Seq((301L, gif(a.reverse, b.reverse, c.reverse)))
        .toDF("gid", "anim")
      Multimodal.rebuildGifHashBandIndex(spark, path, growth, "anim", "gid")
      // fresh reference over (standing minus deleted) union growth
      Multimodal.writeGifHashBandIndex(
        standing.filter(col("gid") === 203L).unionByName(growth),
        "anim", "gid", freshPath,
        metricName = "graft_gif_index_write_cap_fresh")(spark)
      assert(keptAgainstPath(path) == keptAgainstPath(freshPath))
      // batch 4 (the reverse animation's 1-bit twin would be needed to
      // drop it — exact same frames DO drop it now)
      assert(keptAgainstPath(path) == Set(1L, 3L), keptAgainstPath(path))
      // the artifacts agree row-for-row on (pos, k, band, hs)
      val g = Multimodal.readGifHashBandIndex(spark, path)
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2)) ->
          r.getSeq[Long](3).sorted).toMap
      val fr = Multimodal.readGifHashBandIndex(spark, freshPath)
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2)) ->
          r.getSeq[Long](3).sorted).toMap
      assert(g == fr, "grown artifact diverged from fresh-over-union")
      // deleted ids are re-addable after the rebuild cleared their
      // tombstones (fresh-minus-deleted semantics)
      Multimodal.rebuildGifHashBandIndex(spark, path,
        standing.filter(col("gid") === 201L), "anim", "gid",
        metricName = "graft_gif_index_rebuild_cap_readd")
      assert(keptAgainstPath(path) == Set(3L))
    }
  }
}
