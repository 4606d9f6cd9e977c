package graft.operators

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

/** A toy big-endian "RAWA" container no JDK codec recognizes —
  * 4-byte magic, 4-byte BE frame count, BE int16 mono samples at
  * 8 kHz — implementing the `PcmDecoder` seam from outside
  * `Multimodal`: the proof that an external audio codec (MP3, AAC,
  * Opus via JNI/FFmpeg) is exactly one plug-in away from the WHOLE
  * audio stack. Top-level object so tasks serialize it without
  * capturing the suite. */
object RawaDecoder extends Multimodal.PcmDecoder {
  def open(bytes: Array[Byte]): Option[Multimodal.OpenedPcm] = {
    if (bytes == null || bytes.length < 8 || bytes(0) != 'R' ||
        bytes(1) != 'A' || bytes(2) != 'W' || bytes(3) != 'A') return None
    val n = java.nio.ByteBuffer.wrap(bytes, 4, 4).getInt
    if (n < 0 || 8 + n * 2 > bytes.length) return None
    Some(new Multimodal.OpenedPcm {
      private var pos = 0
      val declaredFrames: Long = n.toLong
      val frameRate: Double = 8000.0
      def read(out: Array[Double], want: Int): Int = {
        var i = 0
        while (i < want && pos < n) {
          val off = 8 + pos * 2
          val s = (((bytes(off) & 0xff) << 8) | (bytes(off + 1) & 0xff)).toShort
          out(i) = s / 32768.0
          i += 1
          pos += 1
        }
        i
      }
      def close(): Unit = ()
    })
  }
}

/** Segmented audio near-dup tier — the audio twin of the video-like
  * tier through the SAME positional machinery: per-segment 65-window
  * envelope fingerprints (`audioSegmentHashes`), the positional
  * banded pair search with bounded shift tolerance
  * (`audioNearDupPairsSegmented`), the standing probe
  * (`audioNearDupFilterAgainst`) and the persisted positional index
  * lifecycle (write/read/delete/rebuild, width refusals). Fixtures
  * REALIZE prescribed segment hashes: window amplitudes walk up/down
  * per fingerprint bit (a(0)=128, a(i+1)=a(i)±1), so every expected
  * hash is a construction, not an observation. */
class AudioSegmentSpec extends SparkSpecBase {

  import spark.implicits._

  private val SegFrames = 520L // 65 windows x 8 frames — test-sized

  /** Window amplitudes realizing `hash`: bit i set <=> a(i+1)>a(i). */
  private def ampsOf(hash: Long): Array[Int] = {
    val a = new Array[Int](65)
    a(0) = 128
    var i = 0
    while (i < 64) {
      a(i + 1) = a(i) + (if (((hash >>> i) & 1L) == 1L) 1 else -1)
      i += 1
    }
    assert(a.forall(v => v >= 64 && v <= 192)) // the walk stays legal
    a
  }

  /** The sample grid realizing `hashes` segment-wise: window-constant
    * magnitude amp*77 (energy is monotone in amp and the per-window
    * double sums are exact — the fingerprinter's determinism
    * contract), sign alternating so it looks wave-like. */
  private def samplesOf(hashes: Seq[Long]): Array[Short] = {
    val samples = new Array[Short](hashes.length * SegFrames.toInt)
    hashes.zipWithIndex.foreach { case (h, s) =>
      val amps = ampsOf(h)
      var w = 0
      while (w < 65) {
        val m = amps(w) * 77
        var j = 0
        while (j < 8) {
          val gi = s * SegFrames.toInt + w * 8 + j
          samples(gi) = (if (gi % 2 == 0) m else -m).toShort
          j += 1
        }
        w += 1
      }
    }
    samples
  }

  /** Mono 16-bit WAV whose segment s fingerprints to hashes(s). */
  private def clip(hashes: Long*): Array[Byte] =
    Multimodal.syntheticPcmWav(samplesOf(hashes))

  /** The SAME samples in the toy RAWA container (see `RawaDecoder`). */
  private def rawa(hashes: Long*): Array[Byte] = {
    val samples = samplesOf(hashes)
    val out = new Array[Byte](8 + samples.length * 2)
    out(0) = 'R'; out(1) = 'A'; out(2) = 'W'; out(3) = 'A'
    java.nio.ByteBuffer.wrap(out, 4, 4).putInt(samples.length)
    var i = 0
    while (i < samples.length) {
      out(8 + i * 2) = ((samples(i) >> 8) & 0xff).toByte
      out(8 + i * 2 + 1) = (samples(i) & 0xff).toByte
      i += 1
    }
    out
  }

  private def hOf(label: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    java.nio.ByteBuffer.wrap(md.digest(label.getBytes("UTF-8"))).getLong
  }

  // pairwise-DISTANT segment hashes (md5-derived; distance asserted
  // below, so a fixture drift fails loudly instead of silently
  // weakening the negative cases)
  private val Seq(h1, h2, h3, h4, h5, h6, h7, h8, hX) =
    Seq("s1", "s2", "s3", "s4", "s5", "s6", "s7", "s8", "sX").map(hOf)

  test("fixture sanity: prescribed hashes are pairwise distant") {
    val all = Seq(h1, h2, h3, h4, h5, h6, h7, h8, hX)
    for (a <- all; b <- all if a != b)
      assert(java.lang.Long.bitCount(a ^ b) >= 10,
        s"fixture hashes too close: ${java.lang.Long.bitCount(a ^ b)}")
  }

  test("audioSegmentHashes realizes prescribed hashes; caps; zero-segment payloads emit no rows") {
    val df = Seq(
      (1L, clip(h1, h2, h3, h4)),
      (2L, clip(h5, h6)),
      (3L, Multimodal.syntheticPcmWav(new Array[Short](519))), // < 1 segment
      (4L, Array.empty[Byte]),
      (5L, "not audio".getBytes("UTF-8"))).toDF("id", "aud")
    val got = Multimodal.audioSegmentHashes(df, "aud", SegFrames, 16)(spark)
      .select("id", "sample_pos", "n_segments", "seg_fp")
      .collect().map(r => (r.getLong(0), r.getInt(1)) ->
        (r.getInt(2), r.getLong(3))).toMap
    assert(got.size == 6)
    assert(got((1L, 0)) == (4, h1) && got((1L, 1)) == (4, h2) &&
      got((1L, 2)) == (4, h3) && got((1L, 3)) == (4, h4))
    assert(got((2L, 0)) == (2, h5) && got((2L, 1)) == (2, h6))
    // maxSegments caps positions (it never MOVES them)
    val capped = Multimodal.audioSegmentHashes(
        df.filter(col("id") === 1L), "aud", SegFrames, 2)(spark)
      .select("sample_pos", "n_segments", "seg_fp")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSet
    assert(capped == Set((0, 2, h1), (1, 2, h2)))
    // the ragged tail is ignored: 4 segments + half a segment = 4
    val ragged = Seq((9L, {
      // the 4-segment fixture with 260 extra frames of silence
      val samples = new Array[Short](4 * SegFrames.toInt + 260)
      val amps = Seq(h1, h2, h3, h4).map(ampsOf)
      for (s <- 0 until 4; w <- 0 until 65; j <- 0 until 8) {
        val gi = s * SegFrames.toInt + w * 8 + j
        val m = amps(s)(w) * 77
        samples(gi) = (if (gi % 2 == 0) m else -m).toShort
      }
      Multimodal.syntheticPcmWav(samples)
    })).toDF("id", "aud")
    val rg = Multimodal.audioSegmentHashes(ragged, "aud", SegFrames, 16)(spark)
      .select("sample_pos", "n_segments").collect()
      .map(r => (r.getInt(0), r.getInt(1))).toSet
    assert(rg == Set((0, 4), (1, 4), (2, 4), (3, 4)))
  }

  test("pairs: twins, 1-bit re-encodes, shift tolerance at maxShift=1 only, adaptive short gate") {
    val df = Seq(
      (10L, clip(h1, h2, h3, h4)),          // base
      (11L, clip(h1, h2, h3, h4)),          // twin
      (12L, clip(h1 ^ 1L, h2 ^ 1L, h3 ^ 1L, h4 ^ 1L)), // 1-bit re-encode
      (13L, clip(hX, h1, h2, h3)),          // prepended intro: shift +1
      (14L, clip(h5, h6)),                  // short pair...
      (15L, clip(h5, h6)),                  // ...its twin
      (16L, clip(h5, h6, h7, h8))           // shares a short clip's prefix
    ).toDF("id", "aud")
    def pairs(maxShift: Int): Map[(Long, Long), Long] =
      Multimodal.audioNearDupPairsSegmented(df, "aud", "id",
          SegFrames, 16, maxShift = maxShift,
          metricName = s"graft_audio_seg_spec_$maxShift")(spark)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val p0 = pairs(0)
    // twins match all 4; the re-encode matches at hamming 1/segment;
    // the short twins pair through the equal-length all-matched gate;
    // 14/15 vs 16 do NOT pair (different-length clips are different
    // clips); the shifted 13 does NOT pair at exact positions
    assert(p0 == Map((10L, 11L) -> 4L, (10L, 12L) -> 4L, (11L, 12L) -> 4L,
      (14L, 15L) -> 2L))
    val p1 = pairs(1)
    // shift 1 adds the prepended-intro pairs (3 covered positions on
    // each side) and never relaxes the hamming rule or the gate
    assert(p1((10L, 13L)) == 3L && p1((11L, 13L)) == 3L &&
      p1((12L, 13L)) == 3L)
    assert(!p1.contains((14L, 16L)) && !p1.contains((15L, 16L)))
    assert(p1((10L, 11L)) == 4L && p1((14L, 15L)) == 2L)
  }

  test("filter: in-memory index, shift tolerance, width guard at the probe") {
    val standing = Seq((100L, clip(h1, h2, h3, h4))).toDF("id", "aud")
    val batch = Seq(
      (1L, clip(h1 ^ 1L, h2 ^ 1L, h3 ^ 1L, h4 ^ 1L)), // drop (re-encode)
      (2L, clip(hX, h1, h2, h3)),                      // shifted: keep@0 drop@1
      (3L, clip(h5, h6, h7, h8)),                      // keep
      (4L, "not audio".getBytes("UTF-8"))              // zero segments: keep
    ).toDF("id", "aud")
    val idx = Multimodal.audioSegmentHashBandIndex(standing, "aud",
      SegFrames, 16, metricName = "graft_audio_seg_spec_idx")(spark)
    def kept(maxShift: Int): Set[Long] =
      Multimodal.audioNearDupFilterAgainst(batch, "aud", "id", idx,
          SegFrames, 16, maxShift = maxShift)(spark)
        .select("id").collect().map(_.getLong(0)).toSet
    assert(kept(0) == Set(2L, 3L, 4L))
    assert(kept(1) == Set(3L, 4L))
    // a probe at a different segment duration is DIFFERENT math, not
    // a shifted position — refused from the width riding the frame
    val err = intercept[IllegalArgumentException] {
      Multimodal.audioNearDupFilterAgainst(batch, "aud", "id", idx,
        segmentFrames = 650L)(spark)
    }
    assert(err.getMessage.contains("segment width"), err.getMessage)
    // maxSegments may differ freely: positions are absolute
    val fewer = Multimodal.audioNearDupFilterAgainst(batch, "aud", "id",
        idx, SegFrames, maxSegments = 3)(spark)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(fewer == Set(2L, 3L, 4L))
  }

  test("persisted index lifecycle: roundtrip parity, delete, growth rebuild, width refusals") {
    withTempDir("audidx") { dir =>
      val path = dir.getAbsolutePath + "/idx"
      val standing = Seq(
        (100L, clip(h1, h2, h3, h4)),
        (101L, clip(h5, h6, h7, h8))).toDF("id", "aud")
      Multimodal.writeAudioSegmentHashBandIndex(standing, "aud", "id",
        path, SegFrames, 16,
        metricName = "graft_audio_seg_spec_wr")(spark)
      val batch = Seq(
        (1L, clip(h1 ^ 1L, h2 ^ 1L, h3 ^ 1L, h4 ^ 1L)), // near 100
        (2L, clip(h5 ^ 1L, h6 ^ 1L, h7 ^ 1L, h8 ^ 1L)), // near 101
        (3L, clip(hX, hX, hX, hX))                       // new
      ).toDF("id", "aud")
      def keptVs(idx: org.apache.spark.sql.DataFrame): Set[Long] =
        Multimodal.audioNearDupFilterAgainst(batch, "aud", "id", idx,
            SegFrames)(spark)
          .select("id").collect().map(_.getLong(0)).toSet
      val disk = Multimodal.readAudioSegmentHashBandIndex(spark, path,
        SegFrames)
      // parity with the in-memory form
      val mem = Multimodal.audioSegmentHashBandIndex(standing, "aud",
        SegFrames, 16, metricName = "graft_audio_seg_spec_mem")(spark)
      assert(keptVs(disk) == keptVs(mem) && keptVs(disk) == Set(3L))
      // a mismatched read width is refused from _meta.sample_cap
      val err = intercept[IllegalArgumentException] {
        Multimodal.readAudioSegmentHashBandIndex(spark, path, 650L)
      }
      assert(err.getMessage.contains("sample"), err.getMessage)
      // takedown: delete 101 -> its re-encode (2) keeps at next read
      Dedup.deleteFromHashBandIndex(spark, path,
        Seq(101L).toDF("id"), "id")
      val afterDel = Multimodal.readAudioSegmentHashBandIndex(spark, path,
        SegFrames)
      assert(keptVs(afterDel) == Set(2L, 3L))
      // growth: rebuild with clip 3's audio == fresh index over the
      // surviving union (100 only, 101 tombstoned) + the new clip
      Multimodal.rebuildAudioSegmentHashBandIndex(spark, path,
        Seq((300L, clip(hX, hX, hX, hX))).toDF("id", "aud"), "aud", "id",
        SegFrames, 16)
      val grown = Multimodal.readAudioSegmentHashBandIndex(spark, path,
        SegFrames)
      assert(keptVs(grown) == Set(2L))
      // growth at a different width is refused from the build record
      val gerr = intercept[IllegalArgumentException] {
        Multimodal.rebuildAudioSegmentHashBandIndex(spark, path,
          Seq((301L, clip(hX))).toDF("id", "aud"), "aud", "id",
          segmentFrames = 650L)
      }
      assert(gerr.getMessage.contains("width"), gerr.getMessage)
    }
  }

  test("a bad segment width refuses at call time, before a write can reset the standing index") {
    withTempDir("audbadw") { dir =>
      val path = dir.getAbsolutePath + "/idx"
      val standing = Seq(
        (100L, clip(h1, h2, h3, h4)),
        (101L, clip(h5, h6, h7, h8))).toDF("id", "aud")
      Multimodal.writeAudioSegmentHashBandIndex(standing, "aud", "id",
        path, SegFrames, metricName = "graft_audio_seg_spec_badw")(spark)
      val batch = Seq(
        (1L, clip(h1 ^ 1L, h2 ^ 1L, h3 ^ 1L, h4 ^ 1L)), // near 100
        (3L, clip(hX, hX, hX, hX))                       // new
      ).toDF("id", "aud")
      def kept(): Set[Long] =
        Multimodal.audioNearDupFilterAgainst(batch, "aud", "id",
            Multimodal.readAudioSegmentHashBandIndex(spark, path, SegFrames),
            SegFrames)(spark)
          .select("id").collect().map(_.getLong(0)).toSet
      assert(kept() == Set(3L))
      // 100 is not a multiple of 65: refused on the driver, no job run
      val err = intercept[IllegalArgumentException] {
        Multimodal.writeAudioSegmentHashBandIndex(standing, "aud", "id",
          path, segmentFrames = 100L)(spark)
      }
      assert(err.getMessage.contains("segmentFrames"), err.getMessage)
      assert(kept() == Set(3L), "the refused write must leave the index serving")
      intercept[IllegalArgumentException] {
        Multimodal.audioSegmentHashes(batch, "aud", segmentFrames = 100L)(spark)
      }
    }
  }

  test("stream intake: audioNearDupMicroBatch over micro-batches == the batch filter; width guard at stream build") {
    val standing = Seq(
      (100L, clip(h1, h2, h3, h4)),
      (101L, clip(h5, h6, h7, h8))).toDF("id", "aud")
    val batchOne = Seq(
      (1L, clip(h1 ^ 1L, h2 ^ 1L, h3 ^ 1L, h4 ^ 1L)), // drop
      (3L, clip(hX, hX, hX, hX))).toDF("id", "aud")   // keep
    val batchTwo = Seq(
      (2L, clip(h5 ^ 1L, h6 ^ 1L, h7 ^ 1L, h8 ^ 1L)), // drop
      (4L, clip(h4, h3, h2, h1))).toDF("id", "aud")   // permuted: keep
    withTempDir("aud-stream") { dir =>
      val root = dir.getAbsolutePath
      Multimodal.writeAudioSegmentHashBandIndex(standing, "aud", "id",
        s"$root/idx", SegFrames,
        metricName = "graft_audio_seg_stream_idx")(spark)
      batchOne.coalesce(1).write.parquet(s"$root/in")
      batchTwo.coalesce(1).write.mode("append").parquet(s"$root/in")
      val idx = Multimodal.readAudioSegmentHashBandIndex(spark,
        s"$root/idx", SegFrames).persist()
      val keptIds = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
      var batches = 0
      val body = Multimodal.audioNearDupMicroBatch("aud", "id", idx,
        SegFrames) { (kept, _) =>
          batches += 1
          kept.select("id").collect().foreach(r => keptIds.add(r.getLong(0)))
          ()
        }(spark)
      val q = spark.readStream
        .schema("id BIGINT, aud BINARY")
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$root/in")
        .writeStream
        .foreachBatch(body)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
      val batchKept = Multimodal.audioNearDupFilterAgainst(
          batchOne.unionByName(batchTwo), "aud", "id", idx, SegFrames)(spark)
        .select("id").collect().map(_.getLong(0)).toSet
      import scala.jdk.CollectionConverters._
      assert(keptIds.asScala.toSet == batchKept,
        s"stream kept ${keptIds.asScala.toSet} vs batch kept $batchKept")
      assert(batchKept == Set(3L, 4L), s"fixture truth drift: $batchKept")
      assert(batches >= 2, s"fixture must exercise >1 micro-batch: $batches")
      idx.unpersist()
      val err = intercept[IllegalArgumentException] {
        Multimodal.audioNearDupMicroBatch("aud", "id", idx,
          segmentFrames = 650L) { (_, _) => () }(spark)
      }
      assert(err.getMessage.contains("segment width"), err.getMessage)
    }
  }

  test("PcmDecoder seam: an external container decodes identically to the JDK path; firstOf mixes corpora; unrecognized payloads keep") {
    // identity: the SAME samples through WAV/JDK and RAWA/external
    // produce bit-identical whole-clip fingerprints and segment
    // hashes — the seam is a pure transport boundary
    val wavDf = Seq((1L, clip(h1, h2, h3, h4))).toDF("id", "aud")
    val rawDf = Seq((1L, rawa(h1, h2, h3, h4))).toDF("id", "aud")
    def segs(df: org.apache.spark.sql.DataFrame,
        dec: Multimodal.PcmDecoder): Seq[(Int, Long)] =
      Multimodal.audioSegmentHashes(df, "aud", SegFrames, 16,
          decoder = dec)(spark)
        .select("sample_pos", "seg_fp").collect()
        .map(r => (r.getInt(0), r.getLong(1))).toSeq.sorted
    assert(segs(wavDf, Multimodal.JdkPcmDecoder) == segs(rawDf, RawaDecoder))
    def fp(df: org.apache.spark.sql.DataFrame,
        dec: Multimodal.PcmDecoder): java.lang.Long =
      Multimodal.withAudioFingerprint(df, "aud", "fp",
          decoder = dec)(spark)
        .select("fp").collect()(0).getLong(0)
    assert(fp(wavDf, Multimodal.JdkPcmDecoder) == fp(rawDf, RawaDecoder))
    // the JDK decoder does NOT accept RAWA (zero segments), and the
    // external one does not accept WAV — the seam refuses rather
    // than misreads
    assert(segs(rawDf, Multimodal.JdkPcmDecoder).isEmpty)
    assert(segs(wavDf, RawaDecoder).isEmpty)
    // firstOf: a mixed WAV + RAWA corpus near-dups ACROSS containers
    // (the q149 mixed-container argument, audio edition); garbage
    // payloads open as None everywhere and keep
    val mixed = Seq(
      (1L, clip(h1, h2, h3, h4)),
      (2L, rawa(h1, h2, h3, h4)),
      (3L, rawa(h1 ^ 1L, h2 ^ 1L, h3 ^ 1L, h4 ^ 1L)),
      (4L, rawa(h5, h6, h7, h8)),
      (5L, "neither container".getBytes("UTF-8"))).toDF("id", "aud")
    val both = Multimodal.PcmDecoders.firstOf(
      Multimodal.JdkPcmDecoder, RawaDecoder)
    val pairs = Multimodal.audioNearDupPairsSegmented(mixed, "aud", "id",
        SegFrames, 16, metricName = "graft_audio_seam_cap",
        decoder = both)(spark)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs == Map((1L, 2L) -> 4L, (1L, 3L) -> 4L, (2L, 3L) -> 4L),
      s"mixed pairs: $pairs")
    // the index lifecycle rides the plugged decoder too: standing
    // RAWA corpus, WAV probe — drop the cross-container re-encode
    val idx = Multimodal.audioSegmentHashBandIndex(
      Seq((100L, rawa(h1, h2, h3, h4))).toDF("id", "aud"), "aud",
      SegFrames, 16, metricName = "graft_audio_seam_idx",
      decoder = RawaDecoder)(spark)
    val kept = Multimodal.audioNearDupFilterAgainst(
        Seq((10L, clip(h1 ^ 1L, h2 ^ 1L, h3 ^ 1L, h4 ^ 1L)),
          (11L, clip(h5, h6, h7, h8))).toDF("id", "aud"),
        "aud", "id", idx, SegFrames, 16,
        decoder = Multimodal.JdkPcmDecoder)(spark)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(11L), s"cross-container filter kept $kept")
    // the facade routes the seam: Config.audioDecoder drives a RAWA
    // corpus through run() with no other change
    val docs = Seq(
      (1L, "first facade document about deep sea thermal vent ecosystems", rawa(h1, h2, h3, h4)),
      (2L, "second facade text on medieval manuscript preservation methods", rawa(h1 ^ 1L, h2 ^ 1L, h3 ^ 1L, h4 ^ 1L)),
      (3L, "third facade entry regarding alpine glacier mass measurements", rawa(h5, h6, h7, h8))
    ).toDF("doc_id", "text", "aud")
    val keptRun = CorpusPrep.run(docs,
        cfg = CorpusPrep.Config(audioSegCol = Some("aud"),
          audioSegmentFrames = 520L, audioMaxSegments = 4,
          audioDecoder = RawaDecoder))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptRun == Set(1L, 3L), s"facade kept $keptRun")
  }

  test("CafPcmDecoder: the second real container decodes bit-identically to WAV; endianness; the honest subset refuses") {
    def segsOf(payload: Array[Byte],
        dec: Multimodal.PcmDecoder): Seq[(Int, Long)] =
      Multimodal.audioSegmentHashes(
          Seq((1L, payload)).toDF("id", "aud"), "aud", SegFrames, 16,
          decoder = dec)(spark)
        .select("sample_pos", "seg_fp").collect()
        .map(r => (r.getInt(0), r.getLong(1))).toSeq.sorted
    val samples = samplesOf(Seq(h1, h2, h3, h4))
    val wav = Multimodal.syntheticPcmWav(samples)
    val caf = Multimodal.syntheticPcmCaf(samples)
    // bit-identical segment hashes across containers — CAF LPCM is
    // lossless, so the q150 oracle arithmetic carries verbatim
    val viaWav = segsOf(wav, Multimodal.JdkPcmDecoder)
    assert(viaWav.nonEmpty && viaWav == segsOf(caf, Multimodal.CafPcmDecoder))
    // whole-clip fingerprint identity too
    def fpOf(payload: Array[Byte], dec: Multimodal.PcmDecoder) =
      Multimodal.withAudioFingerprint(Seq((1L, payload)).toDF("id", "aud"),
          "aud", "fp", decoder = dec)(spark)
        .select("fp").collect()(0).getLong(0)
    assert(fpOf(wav, Multimodal.JdkPcmDecoder) ==
      fpOf(caf, Multimodal.CafPcmDecoder))
    // the JDK chain does not read CAF; the CAF decoder does not read
    // WAV — firstOf resolves the mix
    assert(segsOf(caf, Multimodal.JdkPcmDecoder).isEmpty)
    assert(segsOf(wav, Multimodal.CafPcmDecoder).isEmpty)
    val both = Multimodal.PcmDecoders.firstOf(
      Multimodal.JdkPcmDecoder, Multimodal.CafPcmDecoder)
    assert(segsOf(caf, both) == viaWav && segsOf(wav, both) == viaWav)
    // little-endian leg: flip the desc flag and byte-swap the samples
    // — same decoded signal, same hashes
    val le = caf.clone()
    le(35) = 2 // desc formatFlags -> kAudioFormatFlagIsLittleEndian
    var i = 68
    while (i + 1 < le.length) {
      val t = le(i); le(i) = le(i + 1); le(i + 1) = t; i += 2
    }
    assert(segsOf(le, Multimodal.CafPcmDecoder) == viaWav)
    // the honest subset: a float-flagged desc is refused, not guessed
    val fl = caf.clone(); fl(35) = 1
    assert(segsOf(fl, Multimodal.CafPcmDecoder).isEmpty)
    // a data chunk before desc is refused (the spec requires desc to
    // describe what data carries)
    val headless = caf.clone()
    // overwrite the desc fourcc so the walk meets data undescribed
    headless(8) = 'x'
    assert(segsOf(headless, Multimodal.CafPcmDecoder).isEmpty)
    // truncated payload (declared data size past EOF) is refused
    val trunc = java.util.Arrays.copyOf(caf, caf.length - 100)
    assert(segsOf(trunc, Multimodal.CafPcmDecoder).isEmpty)
    // unsized data chunk (-1: "to EOF", the stream-recorded form)
    val unsized = caf.clone()
    java.util.Arrays.fill(unsized, 56, 64, 0xff.toByte)
    assert(segsOf(unsized, Multimodal.CafPcmDecoder) == viaWav)
  }
}
