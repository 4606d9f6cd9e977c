package graft.operators

import java.util.concurrent.atomic.AtomicInteger

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

/** Pins the mapPartitions decode contract: the decoder factory runs
  * once per partition (never per row), decode per row, schema
  * appended, nulls handled. Local mode shares one JVM, so a static
  * counter observes executor-side constructions. */
object MultimodalSpec {
  val inits = new AtomicInteger(0)
  val decodes = new AtomicInteger(0)

  final class CountingDecoder extends Multimodal.MediaDecoder {
    inits.incrementAndGet()
    private val real = new Multimodal.StubDecoder
    def decode(bytes: Array[Byte]): Multimodal.MediaMeta = {
      decodes.incrementAndGet()
      real.decode(bytes)
    }
  }
}

class MultimodalSpec extends SparkSpecBase {

  test("decoder is constructed once per partition, invoked once per row") {
    import spark.implicits._
    MultimodalSpec.inits.set(0)
    MultimodalSpec.decodes.set(0)
    val docs = (1 to 90).map(i => (i.toLong, s"payload number $i"))
      .toDF("id", "text")
      .withColumn("blob", col("text").cast("binary"))
      .repartition(3)
    val out = Multimodal.withMediaMeta(docs, "blob",
      decoderFactory = () => new MultimodalSpec.CountingDecoder)(spark)
    assert(out.count() == 90)
    assert(MultimodalSpec.inits.get() == 3,
      s"decoder built ${MultimodalSpec.inits.get()} times for 3 partitions")
    assert(MultimodalSpec.decodes.get() == 90)
  }

  test("ImageDecoder reads real PNG dimensions from the checked-in fixture") {
    import spark.implicits._
    val pngBytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
      getClass.getResource("/fixtures/media/rgb_8x5.png").toURI))
    val docs = Seq((1L, pngBytes), (2L, "not an image".getBytes("UTF-8")),
        (3L, null.asInstanceOf[Array[Byte]]))
      .toDF("id", "blob")
    val rows = Multimodal.withMediaMeta(docs, "blob",
        decoderFactory = () => new Multimodal.ImageDecoder)(spark)
      .select(col("id"), col("media.ok"), col("media.width"), col("media.height"),
        col("media.channels"), col("media.byteLen"))
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(1), r.getInt(2), r.getInt(3), r.getInt(4), r.getLong(5))).toMap
    assert(rows(1L) == ((true, 8, 5, 3, pngBytes.length.toLong)), s"got ${rows(1L)}")
    assert(!rows(2L)._1 && rows(2L)._5 == 12L) // non-image: ok=false, bytes still counted
    assert(!rows(3L)._1)
  }

  test("ImageDecoder handles JPEG via an imageio round trip") {
    val img = new java.awt.image.BufferedImage(12, 7, java.awt.image.BufferedImage.TYPE_INT_RGB)
    img.setRGB(3, 4, 0xff8800)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", bos)
    val m = new Multimodal.ImageDecoder().decode(bos.toByteArray)
    assert(m.ok && m.width == 12 && m.height == 7 && m.channels == 3)
  }

  test("AudioDecoder reads real WAV format from the checked-in fixture") {
    import spark.implicits._
    val wavBytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
      getClass.getResource("/fixtures/media/sine_8k_mono.wav").toURI))
    val docs = Seq((1L, wavBytes), (2L, "not audio at all".getBytes("UTF-8")),
        (3L, null.asInstanceOf[Array[Byte]]))
      .toDF("id", "blob")
    val rows = Multimodal.withAudioMeta(docs, "blob")(spark)
      .select(col("id"), col("audio.ok"), col("audio.sampleRate"),
        col("audio.channels"), col("audio.frames"), col("audio.encoding"))
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(1), r.getDouble(2), r.getInt(3), r.getLong(4), r.getString(5))).toMap
    // 8 kHz mono 16-bit PCM, 160 frames (20 ms) — all from the header
    assert(rows(1L) == ((true, 8000.0, 1, 160L, "PCM_SIGNED")), s"got ${rows(1L)}")
    assert(!rows(2L)._1, "non-audio payload must come back ok=false")
    assert(!rows(3L)._1)
  }

  test("AudioDecoder handles AIFF via an AudioSystem round trip") {
    // stereo 16-bit 22.05 kHz, 50 frames, written by the JDK itself
    val fmt = new javax.sound.sampled.AudioFormat(22050f, 16, 2, true, true)
    val pcm = new Array[Byte](50 * fmt.getFrameSize)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, 50L)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.AIFF, bos)
    val m = new Multimodal.AudioDecoder().decode(bos.toByteArray)
    assert(m.ok && m.sampleRate == 22050.0 && m.channels == 2 && m.frames == 50L,
      s"got $m")
  }

  // --- ISO-BMFF assembly helpers: hand-built boxes, spec layouts ---
  private def be32(v: Long): Array[Byte] =
    Array(((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
      ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
  private def be64(v: Long): Array[Byte] = be32(v >>> 32) ++ be32(v & 0xffffffffL)
  private def bmffBox(tpe: String, payload: Array[Byte]*): Array[Byte] = {
    val body = payload.flatten.toArray
    be32(body.length + 8L) ++ tpe.getBytes("ISO-8859-1") ++ body
  }
  private def mvhdV0(timescale: Long, duration: Long): Array[Byte] =
    bmffBox("mvhd", new Array[Byte](4) /* v0 + flags */,
      be32(0), be32(0) /* ctime, mtime */, be32(timescale), be32(duration),
      new Array[Byte](80) /* rate..next_track_id */)
  private def mvhdV1(timescale: Long, duration: Long): Array[Byte] =
    bmffBox("mvhd", Array(1.toByte, 0, 0, 0),
      be64(0), be64(0), be32(timescale), be64(duration), new Array[Byte](80))
  private def trak(handler: String, w: Int, h: Int): Array[Byte] =
    bmffBox("trak",
      // tkhd v0: 76 bytes of header/matrix, then width/height 16.16
      bmffBox("tkhd", new Array[Byte](76), be32(w.toLong << 16), be32(h.toLong << 16)),
      bmffBox("mdia", bmffBox("hdlr", new Array[Byte](8),
        handler.getBytes("ISO-8859-1"), new Array[Byte](13))))

  test("VideoDecoder parses duration, dimensions and track census from MP4 boxes") {
    import spark.implicits._
    // 5.4 s movie (timescale 1000), one 640x360 video track, one audio
    val mp4 = bmffBox("ftyp", "isom".getBytes("ISO-8859-1"), be32(512),
        "isomavc1".getBytes("ISO-8859-1")) ++
      bmffBox("moov", mvhdV0(1000, 5400),
        trak("vide", 640, 360), trak("soun", 0, 0))
    val docs = Seq((1L, mp4), (2L, "definitely not an mp4".getBytes("UTF-8")),
        (3L, null.asInstanceOf[Array[Byte]]))
      .toDF("id", "blob")
    val rows = Multimodal.withVideoMeta(docs, "blob")(spark)
      .select(col("id"), col("video.ok"), col("video.width"), col("video.height"),
        col("video.durationMs"), col("video.timescale"), col("video.videoTracks"),
        col("video.audioTracks"), col("video.brand"))
      .collect().map(r => r.getLong(0) -> (r.getBoolean(1), r.getInt(2), r.getInt(3),
        r.getLong(4), r.getLong(5), r.getInt(6), r.getInt(7), r.getString(8))).toMap
    assert(rows(1L) == ((true, 640, 360, 5400L, 1000L, 1, 1, "isom")), s"got ${rows(1L)}")
    assert(!rows(2L)._1, "non-BMFF payload must come back ok=false")
    assert(!rows(3L)._1)
  }

  test("VideoDecoder handles the 64-bit mvhd v1 layout and picks the largest video track") {
    val mp4 = bmffBox("ftyp", "mp42".getBytes("ISO-8859-1"), be32(0)) ++
      bmffBox("moov", mvhdV1(90000, 90000L * 7200 /* 2 h */),
        trak("vide", 320, 180), trak("vide", 1920, 1080))
    val m = new Multimodal.VideoDecoder().decode(mp4)
    assert(m.ok && m.durationMs == 7200000L && m.timescale == 90000L, s"got $m")
    assert(m.width == 1920 && m.height == 1080 && m.videoTracks == 2 && m.audioTracks == 0)
  }

  test("EbmlVideoDecoder parses WebM metadata; AutoVideoDecoder serves a mixed corpus") {
    import spark.implicits._
    // 12.5 s movie at the default 1 ms tick, 1280x720 video + 1 audio
    val webm = Multimodal.syntheticWebmMeta(1280, 720, durationTicks = 12500.0)
    val m = new Multimodal.EbmlVideoDecoder().decode(webm)
    assert(m.ok && m.brand == "webm" && m.width == 1280 && m.height == 720 &&
      m.durationMs == 12500L && m.timescale == 1000L &&
      m.videoTracks == 1 && m.audioTracks == 1, s"got $m")
    // non-default timestamp scale: 1 us ticks -> timescale 1e6/s,
    // duration converts through the scale
    val us = new Multimodal.EbmlVideoDecoder().decode(
      Multimodal.syntheticWebmMeta(640, 360, durationTicks = 2500000.0,
        tsScaleNs = 1000L, docType = "matroska", audioTracks = 2))
    assert(us.ok && us.brand == "matroska" && us.durationMs == 2500L &&
      us.timescale == 1000000L && us.audioTracks == 2, s"got $us")
    // honest refusals: BMFF is not EBML and vice versa; truncation
    // reports ok=false, never a throw
    val mp4 = bmffBox("ftyp", "isom".getBytes("ISO-8859-1"), be32(0)) ++
      bmffBox("moov", mvhdV0(1000, 5400), trak("vide", 640, 360))
    assert(!new Multimodal.EbmlVideoDecoder().decode(mp4).ok)
    assert(!new Multimodal.VideoDecoder().decode(webm).ok)
    assert(!new Multimodal.EbmlVideoDecoder().decode(webm.dropRight(10)).ok)
    assert(!new Multimodal.EbmlVideoDecoder().decode(
      "EBML? not really".getBytes("UTF-8")).ok)
    // the auto decoder routes each payload to its container; digest
    // and byteLen still report for the unparseable row
    val docs = Seq((1L, mp4), (2L, webm), (3L, Array[Byte](1, 2, 3)))
      .toDF("id", "blob")
    val rows = Multimodal.withVideoMeta(docs, "blob",
        decoderFactory = () => new Multimodal.AutoVideoDecoder)(spark)
      .select(col("id"), col("video.ok"), col("video.brand"),
        col("video.width"), col("video.durationMs"))
      .collect().map(r => r.getLong(0) ->
        ((r.getBoolean(1), r.getString(2), r.getInt(3), r.getLong(4)))).toMap
    assert(rows(1L) == ((true, "isom", 640, 5400L)), s"got ${rows(1L)}")
    assert(rows(2L) == ((true, "webm", 1280, 12500L)), s"got ${rows(2L)}")
    assert(!rows(3L)._1)
  }

  test("Mp3MetaDecoder / FlacMetaDecoder: exact duration from the header walk; AutoAudioMetaDecoder routes a mixed corpus") {
    import spark.implicits._
    val mp3 = Multimodal.syntheticMp3(100)
    val m = new Multimodal.Mp3MetaDecoder().decode(mp3)
    assert(m.ok && m.sampleRate == 44100.0 && m.channels == 2 &&
      m.frames == 100L * 1152 && m.encoding == "MPEG1-L3", s"got $m")
    // ID3v2 skipped by its syncsafe declared size; ID3v1 trailer legal
    val tagged = new Multimodal.Mp3MetaDecoder().decode(
      Multimodal.syntheticMp3(10, id3v2 = true, id3v1 = true))
    assert(tagged.ok && tagged.frames == 10L * 1152, s"got $tagged")
    // ID3v2.4 footer flag: the declared syncsafe size EXCLUDES the
    // 10-byte "3DI" trailer — the skip must add it or the walk lands
    // mid-footer and refuses a valid file
    val footed = new Multimodal.Mp3MetaDecoder().decode(
      Multimodal.syntheticMp3(10, id3v2Footer = true))
    assert(footed.ok && footed.frames == 10L * 1152, s"got $footed")
    // a VBR ("Xing") header frame is walked but carries no audio —
    // excluded from the duration, the standard-tool convention
    val vbr = new Multimodal.Mp3MetaDecoder().decode(
      Multimodal.syntheticMp3(10, vbrHeader = true))
    assert(vbr.ok && vbr.frames == 10L * 1152, s"got $vbr")
    // honesty: garbage after valid frames, a truncated final frame,
    // and a single frame all refuse — no duration for half a file
    assert(!new Multimodal.Mp3MetaDecoder().decode(
      mp3 ++ Array[Byte](1, 2, 3, 4, 5)).ok)
    assert(!new Multimodal.Mp3MetaDecoder().decode(mp3.dropRight(10)).ok)
    assert(!new Multimodal.Mp3MetaDecoder().decode(
      Multimodal.syntheticMp3(1)).ok)
    assert(!new Multimodal.Mp3MetaDecoder().decode(
      "not audio at all........".getBytes("UTF-8")).ok)
    val fl = new Multimodal.FlacMetaDecoder().decode(
      Multimodal.syntheticFlacMeta(22050, 1, 16, 44100L))
    assert(fl.ok && fl.sampleRate == 22050.0 && fl.channels == 1 &&
      fl.frames == 44100L && fl.encoding == "FLAC", s"got $fl")
    assert(!new Multimodal.FlacMetaDecoder().decode(mp3).ok)
    assert(!new Multimodal.FlacMetaDecoder().decode(
      Multimodal.syntheticFlacMeta(22050, 1, 16, 1L).dropRight(5)).ok)
    // OGG: duration = last page granule, codec rate from the BOS page
    val ogg = Multimodal.syntheticOggVorbisMeta(32000, 2, 160000L)
    val ov = new Multimodal.OggMetaDecoder().decode(ogg)
    assert(ov.ok && ov.sampleRate == 32000.0 && ov.channels == 2 &&
      ov.frames == 160000L && ov.encoding == "VORBIS", s"got $ov")
    // Opus: granules at 48 kHz minus the declared pre-skip
    val op = new Multimodal.OggMetaDecoder().decode(
      Multimodal.syntheticOggOpusMeta(1, 312, 96312L))
    assert(op.ok && op.sampleRate == 48000.0 && op.channels == 1 &&
      op.frames == 96000L && op.encoding == "OPUS", s"got $op")
    // honesty: truncation, a second serial (multiplexed A/V), and a
    // non-audio first page all refuse
    assert(!new Multimodal.OggMetaDecoder().decode(ogg.dropRight(5)).ok)
    val muxed = ogg.clone()
    // flip one byte of the LAST page's serial (pages are 58/38/38/38
    // bytes here: BOS 28+30, then three 28+10) — find it from the end
    muxed(muxed.length - 38 + 14) = 0x77
    assert(!new Multimodal.OggMetaDecoder().decode(muxed).ok,
      "a second serial number is outside the honest subset")
    assert(!new Multimodal.OggMetaDecoder().decode(
      "OggS then garbage that is not a page".getBytes("UTF-8")).ok)
    // mixed corpus through one withAudioMeta pass
    val wav = Multimodal.syntheticPcmWav(
      Array.tabulate[Short](800)(i => (i * 13 % 1000).toShort))
    val docs = Seq((1L, wav), (2L, mp3),
      (3L, Multimodal.syntheticFlacMeta(48000, 2, 24, 96000L)),
      (4L, "junk".getBytes("UTF-8")),
      (5L, ogg),
      (6L, Multimodal.syntheticOggOpusMeta(2, 100, 48100L)))
      .toDF("id", "blob")
    val rows = Multimodal.withAudioMeta(docs, "blob",
        decoderFactory = () => new Multimodal.AutoAudioMetaDecoder)(spark)
      .select(col("id"), col("audio.ok"), col("audio.encoding"),
        col("audio.frames"), col("audio.sampleRate"))
      .collect().map(r => r.getLong(0) ->
        ((r.getBoolean(1), r.getString(2), r.getLong(3), r.getDouble(4))))
      .toMap
    assert(rows(1L) == ((true, "PCM_SIGNED", 800L, 8000.0)), s"${rows(1L)}")
    assert(rows(2L) == ((true, "MPEG1-L3", 115200L, 44100.0)), s"${rows(2L)}")
    assert(rows(3L) == ((true, "FLAC", 96000L, 48000.0)), s"${rows(3L)}")
    assert(!rows(4L)._1)
    assert(rows(5L) == ((true, "VORBIS", 160000L, 32000.0)), s"${rows(5L)}")
    assert(rows(6L) == ((true, "OPUS", 48000L, 48000.0)), s"${rows(6L)}")
  }

  test("VideoDecoder survives truncated and size-corrupted boxes without throwing") {
    val good = bmffBox("ftyp", "isom".getBytes("ISO-8859-1")) ++
      bmffBox("moov", mvhdV0(1000, 1000))
    assert(new Multimodal.VideoDecoder().decode(good).ok)
    // truncated mid-moov: walk stops cleanly, no mvhd -> ok=false
    assert(!new Multimodal.VideoDecoder().decode(good.dropRight(30)).ok)
    // corrupt size field claiming to overrun the buffer
    val corrupt = good.clone(); System.arraycopy(be32(0x7fffffffL), 0, corrupt, 0, 4)
    assert(!new Multimodal.VideoDecoder().decode(corrupt).ok)
  }

  // --- stbl assembly for the keyframe index: known sample tables ---
  // 6 samples, sizes 10..60; chunks per stsc [(1,2),(3,1)] ->
  // chunk1: s1,s2  chunk2: s3,s4  chunk3: s5  chunk4: s6
  // chunk offsets 1000/2000/3000/4000; sync samples {1,4,6}
  private def fullBox(tpe: String, payload: Array[Byte]*): Array[Byte] =
    bmffBox(tpe, (new Array[Byte](4) +: payload): _*) // ver0 + flags
  private def stblFixture(withStss: Boolean, useCo64: Boolean = false): Array[Byte] = {
    val stsz = fullBox("stsz", be32(0) /* per-sample sizes */, be32(6),
      be32(10), be32(20), be32(30), be32(40), be32(50), be32(60))
    val stsc = fullBox("stsc", be32(2),
      be32(1), be32(2), be32(1) /* first_chunk=1, spc=2, desc=1 */,
      be32(3), be32(1), be32(1))
    val offs = Seq(1000L, 2000L, 3000L, 4000L)
    val stco =
      if (useCo64) fullBox("co64", be32(4), offs.flatMap(be64(_)).toArray)
      else fullBox("stco", be32(4), offs.flatMap(be32(_)).toArray)
    val stss = fullBox("stss", be32(3), be32(1), be32(4), be32(6))
    bmffBox("stbl", (if (withStss) Seq(stsz, stsc, stco, stss)
                     else Seq(stsz, stsc, stco)): _*)
  }
  private def trakWithStbl(trackId: Int, handler: String, stbl: Array[Byte]): Array[Byte] =
    bmffBox("trak",
      // tkhd v0: ver/flags, ctime(4), mtime(4), track_id(4), then rest
      bmffBox("tkhd", new Array[Byte](4), be32(0), be32(0), be32(trackId),
        new Array[Byte](64), be32(320L << 16), be32(180L << 16)),
      bmffBox("mdia",
        bmffBox("hdlr", new Array[Byte](8), handler.getBytes("ISO-8859-1"),
          new Array[Byte](13)),
        bmffBox("minf", stbl)))

  test("KeyframeIndexer: stss/stsz/stsc/stco compose to exact keyframe byte ranges") {
    val mp4 = bmffBox("ftyp", "isom".getBytes("ISO-8859-1"), be32(0)) ++
      bmffBox("moov", mvhdV0(1000, 6000),
        trakWithStbl(7, "vide", stblFixture(withStss = true)),
        trakWithStbl(8, "soun", stblFixture(withStss = true))) // audio: not indexed
    val idx = new Multimodal.KeyframeIndexer().index(mp4)
    assert(idx.length == 1, s"audio track must not be indexed: $idx")
    val t = idx.head
    assert(t.trackId == 7L && t.nSamples == 6 && t.nKeyframes == 3)
    // s1: chunk1 base 1000; s4: chunk2 base 2000 + size(s3)=30; s6: chunk4 base 4000
    assert(t.keyframes == Vector(
      Multimodal.KeyframeEntry(1, 1000L, 10L),
      Multimodal.KeyframeEntry(4, 2030L, 40L),
      Multimodal.KeyframeEntry(6, 4000L, 60L)), s"got ${t.keyframes}")
  }

  test("KeyframeIndexer: no stss means every sample is sync; co64 offsets parse") {
    val mp4 = bmffBox("moov", mvhdV0(1000, 6000),
      trakWithStbl(3, "vide", stblFixture(withStss = false, useCo64 = true)))
    val idx = new Multimodal.KeyframeIndexer().index(mp4)
    assert(idx.length == 1 && idx.head.nKeyframes == 6)
    // chunk2 holds s3 (base 2000) then s4 (2000+30)
    assert(idx.head.keyframes.map(k => (k.sampleNum, k.offset, k.size)) == Vector(
      (1, 1000L, 10L), (2, 1010L, 20L), (3, 2000L, 30L),
      (4, 2030L, 40L), (5, 3000L, 50L), (6, 4000L, 60L)))
    // malformed payloads: no throw (truncated walk yields fewer/no tracks)
    new Multimodal.KeyframeIndexer().index(mp4.dropRight(40))
    assert(new Multimodal.KeyframeIndexer().index("not a video".getBytes).isEmpty)
  }

  test("sampleKeyframes emits evenly spaced keyframe byte ranges per video track") {
    import spark.implicits._
    val mp4 = bmffBox("ftyp", "isom".getBytes("ISO-8859-1"), be32(0)) ++
      bmffBox("moov", mvhdV0(1000, 6000),
        trakWithStbl(7, "vide", stblFixture(withStss = true)))
    val docs = Seq((1L, mp4), (2L, "junk".getBytes("UTF-8")),
        (3L, null.asInstanceOf[Array[Byte]]))
      .toDF("id", "blob")
    val rows = Multimodal.sampleKeyframes(docs, "blob", nFrames = 2)(spark)
      .select("id", "track_id", "sample_n", "byte_offset", "byte_size", "n_keyframes")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3),
        r.getLong(4), r.getInt(5)))
    // 3 keyframes sampled down to 2: indices 0 and 1 -> samples 1 and 4;
    // junk/null rows emit nothing
    assert(rows.toSeq == Seq(
      (1L, 7L, 1, 1000L, 10L, 3),
      (1L, 7L, 4, 2030L, 40L, 3)), s"got ${rows.toSeq}")
  }

  test("sampleKeyframes withBytes slices the exact keyframe payloads; out-of-bounds -> null") {
    import spark.implicits._
    val head = bmffBox("ftyp", "isom".getBytes("ISO-8859-1"), be32(0)) ++
      bmffBox("moov", mvhdV0(1000, 6000),
        trakWithStbl(7, "vide", stblFixture(withStss = true)))
    // deterministic filler so offsets 1000..4060 land in-bounds with
    // known content (a stand-in for the mdat coded samples)
    val mp4 = head ++ Array.tabulate(4100 - head.length)(i => ((i * 31 + 7) & 0xff).toByte)
    val rows = Multimodal.sampleKeyframes(
        Seq((1L, mp4)).toDF("id", "blob"), "blob", nFrames = 3, withBytes = true)(spark)
      .select("sample_n", "byte_offset", "byte_size", "frame_bytes")
      .collect().map(r => r.getInt(0) ->
        ((r.getLong(1), r.getLong(2), r.getAs[Array[Byte]](3)))).toMap
    assert(rows.keySet == Set(1, 4, 6))
    assert(java.util.Arrays.equals(rows(1)._3, mp4.slice(1000, 1010)))
    assert(java.util.Arrays.equals(rows(4)._3, mp4.slice(2030, 2070)))
    assert(java.util.Arrays.equals(rows(6)._3, mp4.slice(4000, 4060)))

    // truncated file: index points past the payload -> null bytes, no throw
    val short = head // offsets 1000+ are out of bounds
    val nulls = Multimodal.sampleKeyframes(
        Seq((1L, short)).toDF("id", "blob"), "blob", nFrames = 3, withBytes = true)(spark)
      .select("frame_bytes").collect()
    assert(nulls.nonEmpty && nulls.forall(_.isNullAt(0)))
  }

  // --- perceptual hash over real pixel decode ---
  private def encodeImg(img: java.awt.image.BufferedImage, fmt: String): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, fmt, bos)
    bos.toByteArray
  }
  private def gradientImg(reverse: Boolean): java.awt.image.BufferedImage = {
    val img = new java.awt.image.BufferedImage(32, 32,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 32; x <- 0 until 32) {
      val v = if (reverse) 255 - x * 8 else x * 8
      val c = math.max(0, math.min(255, v))
      img.setRGB(x, y, (c << 16) | (c << 8) | c)
    }
    img
  }

  test("withResizedImage: real rescale to target dims, content preserved, junk -> ok=false") {
    import spark.implicits._
    // a 32x16 half-red / half-blue image: after a stretch resize the
    // left half must stay red and the right half blue
    val img = new java.awt.image.BufferedImage(32, 16,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 16; x <- 0 until 32)
      img.setRGB(x, y, if (x < 16) 0xff0000 else 0x0000ff)
    val docs = Seq((1L, encodeImg(img, "png")),
        (2L, "junk".getBytes("UTF-8")),
        (3L, null.asInstanceOf[Array[Byte]]))
      .toDF("id", "blob")
    val rows = Multimodal.withResizedImage(docs, "blob", width = 8, height = 4)(spark)
      .select(col("id"), col("resized.ok"), col("resized.bytes"),
        col("resized.width"), col("resized.height"))
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(1), if (r.isNullAt(2)) null else r.getAs[Array[Byte]](2),
          r.getInt(3), r.getInt(4))).toMap
    assert(rows(1L)._1 && rows(1L)._3 == 8 && rows(1L)._4 == 4)
    // the emitted bytes are a REAL image at the target dims with the
    // halves preserved — decode them back through plain ImageIO
    val back = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(rows(1L)._2))
    assert(back.getWidth == 8 && back.getHeight == 4)
    val left = back.getRGB(1, 2)
    val right = back.getRGB(6, 2)
    assert(((left >> 16) & 0xff) > 200 && (left & 0xff) < 60,
      f"left pixel should stay red: $left%06x")
    assert((right & 0xff) > 200 && ((right >> 16) & 0xff) < 60,
      f"right pixel should stay blue: $right%06x")
    assert(!rows(2L)._1 && rows(2L)._2 == null)
    assert(!rows(3L)._1)
    // a format no writer claims is a DRIVER-side error, not rows
    intercept[IllegalArgumentException] {
      Multimodal.withResizedImage(docs, "blob", 8, 4, format = "webp9")(spark)
    }
    ()
  }

  test("withAudioFeatures: real PCM decode — sine RMS/peak/ZCR land on the analytic values") {
    import spark.implicits._
    // 440 Hz sine, 8 kHz mono 16-bit, 0.5 s, amplitude 0.6 full scale
    val rate = 8000f
    val nFrames = 4000
    val amp = 0.6
    val pcm = new Array[Byte](nFrames * 2)
    for (i <- 0 until nFrames) {
      val s = (amp * math.sin(2 * math.Pi * 440.0 * i / rate) * 32767).toInt
      pcm(i * 2) = (s & 0xff).toByte
      pcm(i * 2 + 1) = ((s >> 8) & 0xff).toByte
    }
    val fmt = new javax.sound.sampled.AudioFormat(rate, 16, 1, true, false)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, nFrames.toLong),
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    val docs = Seq((1L, bos.toByteArray),
        (2L, "not audio".getBytes("UTF-8")),
        (3L, null.asInstanceOf[Array[Byte]]))
      .toDF("id", "blob")
    val rows = Multimodal.withAudioFeatures(docs, "blob")(spark)
      .select(col("id"), col("audio_features.ok"), col("audio_features.rms"),
        col("audio_features.peak"), col("audio_features.zcr"),
        col("audio_features.durationSec"), col("audio_features.framesRead"))
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(1), r.getDouble(2), r.getDouble(3), r.getDouble(4),
          r.getDouble(5), r.getLong(6))).toMap
    val (ok, rms, peak, zcr, dur, fr) = rows(1L)
    assert(ok && fr == nFrames.toLong)
    // analytic sine values: rms = A/sqrt(2), peak ~ A, zcr = 2f/rate
    assert(math.abs(rms - amp / math.sqrt(2)) < 0.01, s"rms $rms")
    assert(math.abs(peak - amp) < 0.01, s"peak $peak")
    assert(math.abs(zcr - 2 * 440.0 / rate) < 0.005, s"zcr $zcr")
    assert(math.abs(dur - 0.5) < 1e-6, s"duration $dur")
    assert(!rows(2L)._1 && !rows(3L)._1)
    // the frame cap bounds the read window but keeps the header
    // duration honest
    val capped = Multimodal.withAudioFeatures(docs.filter(col("id") === 1L),
        "blob", maxFrames = 100L)(spark)
      .select(col("audio_features.framesRead"), col("audio_features.durationSec"))
      .head()
    assert(capped.getLong(0) == 100L && math.abs(capped.getDouble(1) - 0.5) < 1e-6)
  }

  test("perceptual dHash: re-encoding invariant, direction-sensitive, null on junk") {
    import spark.implicits._
    val grad = gradientImg(reverse = false)
    val png = encodeImg(grad, "png")
    val bmp = encodeImg(grad, "bmp")
    val rev = encodeImg(gradientImg(reverse = true), "png")
    val docs = Seq((1L, png), (2L, bmp), (3L, rev),
        (4L, "not an image".getBytes("UTF-8")),
        (5L, null.asInstanceOf[Array[Byte]]))
      .toDF("id", "blob")
    val rows = Multimodal.withPerceptualHash(docs, "blob")(spark)
      .select("id", "phash")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    // same pixels, different container -> identical hash
    assert(rows(1L).isDefined && rows(1L) == rows(2L))
    // reversed gradient flips most brighter-than-neighbor bits
    val d = java.lang.Long.bitCount(rows(1L).get ^ rows(3L).get)
    assert(d > 20, s"reversed gradient should be far, hamming=$d")
    assert(rows(4L).isEmpty && rows(5L).isEmpty)

    // the near-dup search over the hash column: the re-encoded pair
    // collides at hamming 0; the reversed image pairs with neither
    val pairs = Dedup.hashNearDupPairs(
        Multimodal.withPerceptualHash(docs, "blob")(spark), "phash", "id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.toSeq == Seq((1L, 2L, 0L)), s"got ${pairs.toSeq}")
  }

  test("non-binary column is rejected instead of silently coerced") {
    import spark.implicits._
    val docs = Seq((1L, "plain string")).toDF("id", "text")
    val e = intercept[IllegalArgumentException] {
      Multimodal.withMediaMeta(docs, "text")(spark)
    }
    assert(e.getMessage.contains("must be BINARY"))
  }

  test("every decode pass refuses an output name its input already has") {
    import spark.implicits._
    val docs = Seq((1L, Array[Byte](1, 2, 3))).toDF("id", "blob")
    // (caller named in the refusal, an output name it appends, the pass)
    val passes = Seq[(String, String, org.apache.spark.sql.DataFrame => Any)](
      ("withPerceptualHash", "phash", Multimodal.withPerceptualHash(_, "blob")),
      ("withResizedImage", "resized", Multimodal.withResizedImage(_, "blob", 8, 4)),
      ("withVideoMeta", "video", Multimodal.withVideoMeta(_, "blob")),
      ("sampleKeyframes", "byte_offset", Multimodal.sampleKeyframes(_, "blob", 2)),
      ("withAudioMeta", "audio", Multimodal.withAudioMeta(_, "blob")),
      ("withAudioFeatures", "audio_features",
        Multimodal.withAudioFeatures(_, "blob")),
      ("withAudioFingerprint", "audio_fp",
        Multimodal.withAudioFingerprint(_, "blob")),
      ("withMediaMeta", "media", Multimodal.withMediaMeta(_, "blob")),
      ("sampleFrames", "frame_idx", Multimodal.sampleFrames(_, "blob", 2)),
      ("sampleFrames", "frame_digest", Multimodal.sampleFrames(_, "blob", 2)),
      ("sampleFramesDecoded", "frame_width",
        Multimodal.sampleFramesDecoded(_, "blob", 2)),
      ("gifFrameHashes", "frame_ph", Multimodal.gifFrameHashes(_, "blob")),
      ("videoFrameHashes", "sample_pos", Multimodal.videoFrameHashes(_, "blob")),
      ("withPcmUndecodable", "pcm_undecodable",
        Multimodal.withPcmUndecodable(_, "blob")),
      ("audioSegmentHashes", "n_segments",
        Multimodal.audioSegmentHashes(_, "blob")))
    for ((caller, taken, pass) <- passes) {
      val e = intercept[IllegalArgumentException](pass(docs.withColumn(taken, lit(0))))
      assert(e.getMessage.contains(caller) && e.getMessage.contains(taken),
        s"$caller on an input holding '$taken': ${e.getMessage}")
    }
  }

  test("media meta fields are appended with the decode results") {
    import spark.implicits._
    val docs = Seq((1L, "hello world"), (2L, null.asInstanceOf[String]))
      .toDF("id", "text")
      .withColumn("blob", col("text").cast("binary"))
    val rows = Multimodal.withMediaMeta(docs, "blob")(spark)
      .select(col("id"), col("media.ok"), col("media.byteLen"), col("media.digest"))
      .collect().map(r => r.getLong(0) -> (r.getBoolean(1), r.getLong(2), r.getString(3))).toMap
    assert(rows(1L)._1 && rows(1L)._2 == 11L && rows(1L)._3.nonEmpty)
    assert(!rows(2L)._1 && rows(2L)._2 == 0L)
    // deterministic: same payload, same digest
    val again = Multimodal.withMediaMeta(docs, "blob")(spark)
      .select(col("media.digest")).collect().map(_.getString(0))
    assert(again.head == rows(1L)._3)
  }

  test("sampleFramesDecoded: real animated-GIF frames — true dims and per-frame pixels") {
    import javax.imageio.ImageIO
    import java.awt.image.BufferedImage
    // build a genuine 3-frame animated GIF with distinct frame contents
    val bos = new java.io.ByteArrayOutputStream()
    val ios = ImageIO.createImageOutputStream(bos)
    val writer = ImageIO.getImageWritersByFormatName("gif").next()
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    for (f <- 0 until 3) {
      val img = new BufferedImage(8, 6, BufferedImage.TYPE_INT_RGB)
      val g = img.createGraphics()
      g.setColor(new java.awt.Color(80 * f, 255 - 80 * f, 40 + 10 * f))
      g.fillRect(0, 0, 8, 6)
      g.dispose()
      writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
    }
    writer.endWriteSequence(); ios.close(); writer.dispose()
    val gif = bos.toByteArray

    import spark.implicits._
    val df = Seq((1L, gif), (2L, "not a gif".getBytes("UTF-8")))
      .toDF("media_id", "blob")
    val frames = Multimodal.sampleFramesDecoded(df, "blob", nFrames = 8)(spark)
      .select("media_id", "frame_idx", "n_frames", "frame_width", "frame_height", "frame_digest")
      .collect()
    // the GIF yields its 3 real frames (fewer than nFrames asked);
    // the non-media payload yields zero rows
    assert(frames.map(_.getLong(0)).toSet == Set(1L))
    assert(frames.length == 3)
    assert(frames.forall(r => r.getInt(2) == 3 && r.getInt(3) == 8 && r.getInt(4) == 6))
    assert(frames.map(_.getInt(1)).sorted.toSeq == Seq(0, 1, 2))
    // distinct frame contents -> distinct pixel digests; deterministic rerun
    assert(frames.map(_.getString(5)).distinct.length == 3)
    val again = Multimodal.sampleFramesDecoded(df, "blob", nFrames = 8)(spark)
      .select("frame_digest").collect().map(_.getString(0)).sorted
    assert(again.toSeq == frames.map(_.getString(5)).sorted.toSeq)
    // sampling: asking for 2 of 3 frames picks evenly spaced real indices
    val two = Multimodal.sampleFramesDecoded(df, "blob", nFrames = 2)(spark)
      .select("frame_idx").collect().map(_.getInt(0)).sorted
    assert(two.toSeq == Seq(0, 1))
  }

  test("sampleFramesDecoded composites delta frames onto the logical canvas") {
    import javax.imageio.ImageIO
    import java.awt.image.BufferedImage
    // frame 0: full 8x6 red; frame 1: a 2x2 green PATCH at (3,2) —
    // the optimized-GIF shape (only the changed sub-rectangle stored)
    val bos = new java.io.ByteArrayOutputStream()
    val ios = ImageIO.createImageOutputStream(bos)
    val writer = ImageIO.getImageWritersByFormatName("gif").next()
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    def frame(w: Int, h: Int, c: java.awt.Color): BufferedImage = {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      val g = img.createGraphics(); g.setColor(c); g.fillRect(0, 0, w, h); g.dispose()
      img
    }
    def writeAt(img: BufferedImage, x: Int, y: Int): Unit = {
      val typ = javax.imageio.ImageTypeSpecifier.createFromRenderedImage(img)
      val meta = writer.getDefaultImageMetadata(typ, null)
      val fmt = "javax_imageio_gif_image_1.0"
      val tree = meta.getAsTree(fmt).asInstanceOf[org.w3c.dom.Element]
      val desc = tree.getElementsByTagName("ImageDescriptor").item(0)
        .asInstanceOf[org.w3c.dom.Element]
      desc.setAttribute("imageLeftPosition", x.toString)
      desc.setAttribute("imageTopPosition", y.toString)
      meta.setFromTree(fmt, tree)
      writer.writeToSequence(new javax.imageio.IIOImage(img, null, meta), null)
    }
    writeAt(frame(8, 6, java.awt.Color.RED), 0, 0)
    writeAt(frame(2, 2, java.awt.Color.GREEN), 3, 2)
    writer.endWriteSequence(); ios.close(); writer.dispose()

    import spark.implicits._
    val df = Seq((1L, bos.toByteArray)).toDF("media_id", "blob")
    val rows = Multimodal.sampleFramesDecoded(df, "blob", nFrames = 4)(spark)
      .select("frame_idx", "frame_width", "frame_height", "frame_digest")
      .collect().sortBy(_.getInt(0))
    assert(rows.length == 2)
    // BOTH frames report the rendered canvas size, not the patch size
    assert(rows.forall(r => r.getInt(1) == 8 && r.getInt(2) == 6))
    // the composited second frame differs from the first (patch landed)
    assert(rows(0).getString(3) != rows(1).getString(3))
  }

  test("imageNearDupPairs: synthetic BMPs, exact dHash from the gray grid, banded pairs") {
    import spark.implicits._
    // hand-built 9x8 grids: A is a vertical gradient per row (every
    // right neighbor brighter -> all 64 bits set); B flips ONE
    // comparison (bit 0); C is A inverted (no bit set, hamming 64 to
    // A); D is undecodable junk and must never pair
    val rowA = Array.tabulate(9)(x => x * 20)
    val gridA = Array.fill(8)(rowA).flatten
    val gridB = gridA.clone(); gridB(0) = 25 // g(0,0)=25 > g(1,0)=20 -> bit 0 clears
    val gridC = gridA.map(255 - _)
    val imgs = Seq(
      (1L, Multimodal.syntheticGrayBmp(9, 8, gridA)),
      (2L, Multimodal.syntheticGrayBmp(9, 8, gridB)),
      (3L, Multimodal.syntheticGrayBmp(9, 8, gridC)),
      (4L, Array[Byte](1, 2, 3))).toDF("doc_id", "img")
    // the decoded dHash matches the grid-level definition exactly
    val hashes = Multimodal.withPerceptualHash(imgs, "img")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    assert(hashes(1L) == Some(-1L), s"gradient grid must set all 64 bits: ${hashes(1L)}")
    assert(hashes(2L) == Some(-2L), s"one flipped comparison clears bit 0: ${hashes(2L)}")
    assert(hashes(3L) == Some(0L), s"inverted grid sets no bit: ${hashes(3L)}")
    assert(hashes(4L).isEmpty, "junk must hash null")
    val pairs = Multimodal.imageNearDupPairs(imgs, "img", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(pairs == Set((1L, 2L, 1L)), s"got $pairs")
  }

  /** 65 windows × 8 samples, window-constant magnitude, alternating
    * sign — the audio twin of the hand-built dHash grids. */
  private def envelopeSamples(amps: Seq[Int]): Array[Short] = {
    val out = new Array[Short](amps.length * 8)
    for (w <- amps.indices; j <- 0 until 8)
      out(w * 8 + j) = (if ((w * 8 + j) % 2 == 0) amps(w) else -amps(w)).toShort
    out
  }

  test("audioFingerprint64: envelope bits from the sample spec, container-invariant, null hygiene") {
    import spark.implicits._
    // A: every window louder than the last -> all 64 bits set; B
    // boosts ONLY window 0 past window 1 -> bit 0 clears, every other
    // comparison untouched; C is A reversed -> no bit set
    val ampsA = Seq.tabulate(65)(w => 100 * (w + 1))
    val wavA = Multimodal.syntheticPcmWav(envelopeSamples(ampsA))
    val wavB = Multimodal.syntheticPcmWav(envelopeSamples(ampsA.updated(0, 300)))
    val wavC = Multimodal.syntheticPcmWav(envelopeSamples(ampsA.reverse))
    // the same samples through a DIFFERENT container (big-endian
    // AIFF via the JDK writer) must fingerprint identically
    val pcmA = envelopeSamples(ampsA)
    val pcmBytes = new Array[Byte](pcmA.length * 2)
    for (i <- pcmA.indices) {
      pcmBytes(i * 2) = (pcmA(i) & 0xff).toByte
      pcmBytes(i * 2 + 1) = ((pcmA(i) >> 8) & 0xff).toByte
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcmBytes),
        new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false),
        pcmA.length.toLong),
      javax.sound.sampled.AudioFileFormat.Type.AIFF, bos)
    val aiffA = bos.toByteArray
    val docs = Seq(
      (1L, wavA), (2L, wavB), (3L, wavC),
      (4L, "not audio".getBytes("UTF-8")),
      (5L, aiffA),
      // 64 frames < 65 windows: too short, fingerprints null
      (6L, Multimodal.syntheticPcmWav(envelopeSamples(ampsA.take(8)))),
      // header declares 520 frames, payload truncates mid-stream:
      // null, never a partial-window fingerprint
      (7L, wavA.take(44 + 100)),
      (8L, null.asInstanceOf[Array[Byte]])).toDF("doc_id", "aud")
    val fp = Multimodal.withAudioFingerprint(docs, "aud")(spark)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    assert(fp(1L) == Some(-1L), s"ascending envelope must set all bits: ${fp(1L)}")
    assert(fp(2L) == Some(-2L), s"one flipped comparison clears bit 0: ${fp(2L)}")
    assert(fp(3L) == Some(0L), s"descending envelope sets no bit: ${fp(3L)}")
    assert(fp(4L).isEmpty, "junk must fingerprint null")
    assert(fp(5L) == fp(1L), s"AIFF of the same samples diverged: ${fp(5L)}")
    assert(fp(6L).isEmpty, "sub-65-frame payload must fingerprint null")
    assert(fp(7L).isEmpty, "truncated payload must fingerprint null")
    assert(fp(8L).isEmpty)
    // output-name collision refuses loudly
    intercept[IllegalArgumentException] {
      Multimodal.withAudioFingerprint(docs.withColumn("audio_fp", col("doc_id")),
        "aud")(spark)
    }
    ()
  }

  test("audioNearDupPairs: banded pairs over the envelope fingerprint, junk never pairs") {
    import spark.implicits._
    val ampsA = Seq.tabulate(65)(w => 100 * (w + 1))
    val docs = Seq(
      (1L, Multimodal.syntheticPcmWav(envelopeSamples(ampsA))),
      (2L, Multimodal.syntheticPcmWav(envelopeSamples(ampsA.updated(0, 300)))),
      (3L, Multimodal.syntheticPcmWav(envelopeSamples(ampsA.reverse))),
      (4L, Array[Byte](9, 9, 9))).toDF("doc_id", "aud")
    val pairs = Multimodal.audioNearDupPairs(docs, "aud", "doc_id")(spark)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(pairs == Set((1L, 2L, 1L)), s"got $pairs")
  }

  // the dHash grid formula, independently: bit (x, y) = right neighbor
  // brighter — pins the GIF encode as LOSSLESS (a quantizing writer
  // or a non-identity 9x8 resample would break the equality)
  private def dhashOf(grays: Array[Int]): Long = {
    var h = 0L
    for (y <- 0 until 8; x <- 0 until 8)
      if (grays(y * 9 + x + 1) > grays(y * 9 + x)) h |= 1L << (y * 8 + x)
    h
  }

  test("gifFrameHashes: lossless synthetic animation, frame dHash == still-image dHash, even sampling, junk -> no rows") {
    import spark.implicits._
    val f0 = Array.tabulate(72)(i => (i * 7) % 256)
    val f1 = f0.map(v => 255 - v)
    val gif = Multimodal.syntheticGrayGif(9, 8, Seq(f0, f1))
    val rows = Multimodal.gifFrameHashes(
        Seq((1L, gif)).toDF("gid", "payload"), "payload")
      .orderBy("sample_pos").collect()
    assert(rows.length == 2)
    assert(rows(0).getAs[Long]("frame_ph") == dhashOf(f0) &&
      rows(1).getAs[Long]("frame_ph") == dhashOf(f1),
      "GIF frame hashes diverge from the gray formula — lossy encode or resample?")
    // a frame inside an animation hashes exactly like the same pixels
    // as a still image (the shared dhashOfImage contract)
    val still = Multimodal.withPerceptualHash(
        Seq((1L, Multimodal.syntheticGrayBmp(9, 8, f0))).toDF("id", "img"),
        "img", "ph")
      .select("ph").collect()(0).getLong(0)
    assert(still == rows(0).getAs[Long]("frame_ph"))
    // 6 frames sampled at nFrames=3: picks 0, 2, 4 at positions 0, 1, 2
    val gif6 = Multimodal.syntheticGrayGif(9, 8,
      (0 until 6).map(k => f0.map(v => (v + 40 * k) % 256)))
    val r6 = Multimodal.gifFrameHashes(
        Seq((2L, gif6)).toDF("gid", "payload"), "payload", nFrames = 3)
      .orderBy("sample_pos").collect()
    assert(r6.map(_.getAs[Int]("frame_idx")).toSeq == Seq(0, 2, 4), r6.toSeq)
    assert(r6.forall(_.getAs[Int]("n_frames") == 6))
    // undecodable payloads emit zero rows, never a task failure
    assert(Multimodal.gifFrameHashes(
      Seq((3L, Array[Byte](1, 2, 3))).toDF("gid", "payload"), "payload")
      .count() == 0)
  }

  test("gifNearDupPairs: positional frame matching — full match pairs, partial match gated by minFrameMatches") {
    import spark.implicits._
    val a = Array.tabulate(72)(i => (i * 7) % 256)
    val b = a.map(v => (v + 96) % 256)
    val c = a.map(v => (v + 160) % 256)
    val desc = Array.tabulate(72)(i => 255 - (i * 7) % 256)
    // flip exactly dHash bit 0: (g(0,0), g(0,1)) = (255, 0) where the
    // ascending base had bit 0 = 1
    def flip1(f: Array[Int]): Array[Int] = {
      val g = f.clone(); g(0) = 255; g(1) = 0; g
    }
    val gifX = Multimodal.syntheticGrayGif(9, 8, Seq(a, b, c))
    val gifY = Multimodal.syntheticGrayGif(9, 8,
      Seq(flip1(a), flip1(b), flip1(c)))
    val gifZ = Multimodal.syntheticGrayGif(9, 8, Seq(a, b, desc))
    val docs = Seq((1L, gifX), (2L, gifY), (3L, gifZ)).toDF("gid", "gif")
    // default minFrameMatches = 3: only the all-frames-within pair
    val strict = Multimodal.gifNearDupPairs(docs, "gif", "gid")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(strict == Set((1L, 2L, 3L)), s"got $strict")
    // at 2, the two-frame overlaps qualify and report their count
    val loose = Multimodal.gifNearDupPairs(docs, "gif", "gid",
        minFrameMatches = 2,
        metricName = "graft_gif_band_cap_loose")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(loose == Set((1L, 2L, 3L), (1L, 3L, 2L), (2L, 3L, 2L)), s"got $loose")
    // SHORT animations gate adaptively: two identical 2-frame GIFs
    // can only ever match 2 positions — they must still pair at the
    // default minFrameMatches = 3 (least(3, 2, 2) = 2), while a
    // 2-frame GIF sharing only ONE frame with them does not
    val short1 = Multimodal.syntheticGrayGif(9, 8, Seq(a, b))
    val short2 = Multimodal.syntheticGrayGif(9, 8, Seq(flip1(a), flip1(b)))
    val short3 = Multimodal.syntheticGrayGif(9, 8, Seq(a, desc))
    val shorts = Seq((7L, short1), (8L, short2), (9L, short3))
      .toDF("gid", "gif")
    val adaptive = Multimodal.gifNearDupPairs(shorts, "gif", "gid",
        metricName = "graft_gif_band_cap_short")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(adaptive == Set((7L, 8L, 2L)), s"got $adaptive")
    // but the adaptive floor must NOT turn a 1-frame still into a
    // cluster hub: sharing an animation's first frame is not being a
    // near-dup of the animation (unequal sampled lengths refuse below
    // the standard threshold); two identical 1-frame GIFs still pair
    val still = Multimodal.syntheticGrayGif(9, 8, Seq(a))
    val still2 = Multimodal.syntheticGrayGif(9, 8, Seq(flip1(a)))
    val mixed = Seq((11L, still), (12L, still2), (13L, gifX))
      .toDF("gid", "gif")
    val hub = Multimodal.gifNearDupPairs(mixed, "gif", "gid",
        metricName = "graft_gif_band_cap_hub")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(hub == Set((11L, 12L, 1L)), s"got $hub")
  }

  test("FrameDecoder seam: a plugged-in fake container rides the whole tier; the GIF default is unchanged") {
    import spark.implicits._
    val f0 = Array.tabulate(72)(i => (i * 7) % 256)
    val f1 = f0.map(v => 255 - v)
    val fake = FakeVideoDecoder.payload(f0, f1)
    val rows = Multimodal.gifFrameHashes(
        Seq((1L, fake)).toDF("gid", "payload"), "payload",
        decoder = FakeVideoDecoder)
      .orderBy("sample_pos").collect()
    assert(rows.length == 2)
    assert(rows(0).getAs[Long]("frame_ph") == dhashOf(f0) &&
      rows(1).getAs[Long]("frame_ph") == dhashOf(f1),
      "fake-decoded frames must hash through the tier's own dHash")
    // container specificity, both directions: the fake payload is not
    // a GIF (default decoder -> zero rows), a GIF is not the fake
    // container (fake decoder -> zero rows) — never a task failure
    val gifSame = Multimodal.syntheticGrayGif(9, 8, Seq(f0, f1))
    assert(Multimodal.gifFrameHashes(
      Seq((1L, fake)).toDF("gid", "payload"), "payload").count() == 0)
    assert(Multimodal.gifFrameHashes(
      Seq((1L, gifSame)).toDF("gid", "payload"), "payload",
      decoder = FakeVideoDecoder).count() == 0)
    // a GIF and a fake container of the SAME frames hash identically:
    // above the seam the tier cannot tell the containers apart — the
    // MP4/WebM gap is exactly one FrameDecoder implementation
    val viaGif = Multimodal.gifFrameHashes(
        Seq((1L, gifSame)).toDF("gid", "payload"), "payload")
      .select("sample_pos", "frame_ph").collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSet
    assert(viaGif == rows.map(r =>
      (r.getAs[Int]("sample_pos"), r.getAs[Long]("frame_ph"))).toSet)
    // even sampling + real dimensions flow through sampleFramesDecoded
    val fake6 = FakeVideoDecoder.payload(
      (0 until 6).map(k => f0.map(v => (v + 40 * k) % 256)): _*)
    val r6 = Multimodal.sampleFramesDecoded(
        Seq((2L, fake6)).toDF("gid", "payload"), "payload", 3,
        FakeVideoDecoder)
      .orderBy("frame_idx").collect()
    assert(r6.map(_.getAs[Int]("frame_idx")).toSeq == Seq(0, 2, 4), r6.toSeq)
    assert(r6.forall(r => r.getAs[Int]("n_frames") == 6 &&
      r.getAs[Int]("frame_width") == 9 && r.getAs[Int]("frame_height") == 8))
    // end-to-end through pairs AND the standing index+filter: the
    // whole near-dup tier rides the plugged decoder
    val a = f0
    val b = a.map(v => (v + 96) % 256)
    val c = a.map(v => (v + 160) % 256)
    def flip1(fr: Array[Int]): Array[Int] = {
      val g = fr.clone(); g(0) = 255; g(1) = 0; g
    }
    val docs = Seq(
      (1L, FakeVideoDecoder.payload(a, b, c)),
      (2L, FakeVideoDecoder.payload(flip1(a), flip1(b), flip1(c))),
      (3L, FakeVideoDecoder.payload(c, a, b))).toDF("gid", "v")
    val pairs = Multimodal.gifNearDupPairs(docs, "v", "gid",
        metricName = "graft_fake_pairs_cap", decoder = FakeVideoDecoder)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(pairs == Set((1L, 2L, 3L)), s"got $pairs")
    val idx = Multimodal.gifHashBandIndex(docs.filter($"gid" === 1L), "v",
      metricName = "graft_fake_idx_cap", decoder = FakeVideoDecoder)(spark)
    val kept = Multimodal.gifNearDupFilterAgainst(
        docs.filter($"gid" > 1L), "v", "gid", idx,
        decoder = FakeVideoDecoder)(spark)
      .select("gid").collect().map(_.getLong(0)).toSet
    assert(kept == Set(3L), s"got $kept")
  }

  test("Y4mFrameDecoder: mono y4m decodes losslessly; 420 converts by the documented formula; the honest subset refuses") {
    import spark.implicits._
    val f0 = Array.tabulate(72)(i => (i * 7) % 256)
    val f1 = f0.map(v => 255 - v)
    val f2 = f0.map(v => (v + 96) % 256)
    def hashes(payload: Array[Byte],
        dec: Multimodal.FrameDecoder): Seq[(Int, Long)] =
      Multimodal.gifFrameHashes(
          Seq((1L, payload)).toDF("gid", "p"), "p", decoder = dec)(spark)
        .select("sample_pos", "frame_ph").collect()
        .map(r => (r.getInt(0), r.getLong(1))).toSeq.sorted
    // cross-container identity: mono y4m == GIF of the same grids
    val y4m = Multimodal.syntheticGrayY4m(9, 8, Seq(f0, f1, f2))
    val viaGif = hashes(Multimodal.syntheticGrayGif(9, 8, Seq(f0, f1, f2)),
      Multimodal.GifFrameDecoder)
    assert(viaGif.length == 3 &&
      hashes(y4m, Multimodal.Y4mFrameDecoder) == viaGif)
    // ImageIO does not read y4m; the y4m decoder does not read GIF;
    // firstOf of all three resolves a mixed corpus
    assert(Multimodal.Y4mFrameDecoder.open(
      Multimodal.syntheticGrayGif(9, 8, Seq(f0))).isEmpty)
    assert(Multimodal.GifFrameDecoder.open(y4m).isEmpty)
    val all3 = Multimodal.FrameDecoders.firstOf(Multimodal.GifFrameDecoder,
      Multimodal.AviFrameDecoder, Multimodal.Y4mFrameDecoder)
    assert(hashes(y4m, all3) == viaGif)
    // a truncated tail frame is dropped, not guessed: cut 10 bytes
    // off the third frame and only two complete frames remain
    val trunc = java.util.Arrays.copyOf(y4m, y4m.length - 10)
    assert(hashes(trunc, Multimodal.Y4mFrameDecoder) == viaGif.take(2))
    // C420 with neutral chroma collapses to the documented integer
    // formula r=g=b=cl((298*(Y-16)+128)>>8): a mono payload of
    // exactly those converted grays hashes identically
    val w = 10; val h = 8
    val yPlane = Array.tabulate(w * h)(i => 16 + (i * 3) % 220)
    def cl(v: Int) = if (v < 0) 0 else if (v > 255) 255 else v
    val converted = yPlane.map(yy => cl((298 * (yy - 16) + 128) >> 8))
    val header420 = s"YUV4MPEG2 W$w H$h C420\n"
      .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    val fh = "FRAME\n".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    val p420 = new Array[Byte](
      header420.length + fh.length + w * h + (w / 2) * (h / 2) * 2)
    System.arraycopy(header420, 0, p420, 0, header420.length)
    System.arraycopy(fh, 0, p420, header420.length, fh.length)
    var i = 0
    while (i < w * h) {
      p420(header420.length + fh.length + i) = yPlane(i).toByte; i += 1
    }
    java.util.Arrays.fill(p420, header420.length + fh.length + w * h,
      p420.length, 128.toByte) // neutral Cb/Cr
    assert(hashes(p420, Multimodal.Y4mFrameDecoder) ==
      hashes(Multimodal.syntheticGrayY4m(w, h, Seq(converted)),
        Multimodal.Y4mFrameDecoder))
    // outside the honest subset: C422 refuses, gigapixel dims refuse
    val h422 = "YUV4MPEG2 W4 H4 C422\n"
      .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    assert(Multimodal.Y4mFrameDecoder.open(
      h422 ++ fh ++ new Array[Byte](32)).isEmpty)
    val hBig = "YUV4MPEG2 W99999 H8 Cmono\n"
      .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    assert(Multimodal.Y4mFrameDecoder.open(
      hBig ++ fh ++ new Array[Byte](100)).isEmpty)
  }

  test("AviFrameDecoder: DIB AVI decodes losslessly through the seam, MJPEG via the JDK jpeg codec, mixed corpora via firstOf") {
    import spark.implicits._
    val f0 = Array.tabulate(72)(i => (i * 7) % 256)
    val f1 = f0.map(v => 255 - v)
    val f2 = f0.map(v => (v + 96) % 256)
    val avi = Multimodal.syntheticGrayAvi(9, 8, Seq(f0, f1, f2))
    val rows = Multimodal.gifFrameHashes(
        Seq((1L, avi)).toDF("gid", "payload"), "payload",
        decoder = Multimodal.AviFrameDecoder)
      .orderBy("sample_pos").collect()
    assert(rows.length == 3)
    assert(rows.map(_.getAs[Long]("frame_ph")).toSeq ==
      Seq(dhashOf(f0), dhashOf(f1), dhashOf(f2)),
      "BI_RGB AVI decode must be lossless — dHash replayable from the formula")
    // container-blind: a GIF of the SAME frames hashes identically
    val gif = Multimodal.syntheticGrayGif(9, 8, Seq(f0, f1, f2))
    val gifHashes = Multimodal.gifFrameHashes(
        Seq((1L, gif)).toDF("gid", "payload"), "payload")
      .orderBy("sample_pos").collect().map(_.getAs[Long]("frame_ph")).toSeq
    assert(gifHashes == rows.map(_.getAs[Long]("frame_ph")).toSeq)
    // MJPEG: the tier's hashes == hashing the decoder's own frames
    // directly (exact — same JPEG bytes, same codec), and the lossy
    // drift from the lossless source stays small on a smooth ramp
    val ramp = Array.tabulate(72)(i => (i % 9) * 24)
    val ramp2 = ramp.map(v => 216 - v)
    val mj = Multimodal.syntheticMjpegAvi(9, 8, Seq(ramp, ramp2))
    val mjRows = Multimodal.gifFrameHashes(
        Seq((1L, mj)).toDF("gid", "payload"), "payload",
        decoder = Multimodal.AviFrameDecoder)
      .orderBy("sample_pos").collect()
    assert(mjRows.length == 2)
    val of = Multimodal.AviFrameDecoder.open(mj).get
    val hasher = new Multimodal.PerceptualHasher
    val direct = (0 until of.frameCount).map(i => hasher.dhashOfImage(of.frameAt(i)))
    of.close()
    assert(mjRows.map(_.getAs[Long]("frame_ph")).toSeq == direct)
    val drift = java.lang.Long.bitCount(
      mjRows(0).getAs[Long]("frame_ph") ^ dhashOf(ramp))
    assert(drift <= 16, s"MJPEG dHash drifted $drift bits from lossless")
    // honest subset refusals: a GIF is not RIFF, a WAV is RIFF but
    // not AVI — both None, zero rows, never a failure
    assert(Multimodal.AviFrameDecoder.open(gif).isEmpty)
    assert(Multimodal.AviFrameDecoder
      .open(Multimodal.syntheticPcmWav(Array[Short](1, 2, 3))).isEmpty)
    // a corrupt chunk size with the top bit set reads as a negative
    // Int — must refuse (None), not walk backwards into a hang
    val corrupt = "RIFF".getBytes("US-ASCII") ++
      Array[Byte](16, 0, 0, 0) ++ "AVI " .getBytes("US-ASCII") ++
      "LIST".getBytes("US-ASCII") ++
      Array[Byte](-1, -1, -1, -1) ++ "movi".getBytes("US-ASCII") ++
      new Array[Byte](8)
    assert(Multimodal.AviFrameDecoder.open(corrupt).isEmpty)
    // MIXED corpus via firstOf: the GIF and the AVI of the same
    // frames are near-dups ACROSS containers; a position-shuffled
    // animation is not
    val mixed = Seq((1L, gif), (2L, avi),
      (3L, Multimodal.syntheticGrayGif(9, 8, Seq(f2, f0, f1))))
      .toDF("gid", "v")
    val pairs = Multimodal.gifNearDupPairs(mixed, "v", "gid",
        metricName = "graft_avi_mixed_cap",
        decoder = Multimodal.FrameDecoders.firstOf(
          Multimodal.GifFrameDecoder, Multimodal.AviFrameDecoder))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(pairs == Set((1L, 2L, 3L)), s"got $pairs")
  }

  test("Mp4FrameDecoder: raw MOV decodes losslessly through the seam, MJPEG via jpeg and mp4v+esds entries, compressed codecs refused") {
    import spark.implicits._
    val f0 = Array.tabulate(72)(i => (i * 7) % 256)
    val f1 = f0.map(v => 255 - v)
    val f2 = f0.map(v => (v + 96) % 256)
    val mov = Multimodal.syntheticGrayMov(9, 8, Seq(f0, f1, f2))
    val rows = Multimodal.gifFrameHashes(
        Seq((1L, mov)).toDF("gid", "payload"), "payload",
        decoder = Multimodal.Mp4FrameDecoder)
      .orderBy("sample_pos").collect()
    assert(rows.length == 3)
    assert(rows.map(_.getAs[Long]("frame_ph")).toSeq ==
      Seq(dhashOf(f0), dhashOf(f1), dhashOf(f2)),
      "'raw ' MOV decode must be lossless — dHash replayable from the formula")
    // container-blind: a GIF of the SAME frames hashes identically
    val gif = Multimodal.syntheticGrayGif(9, 8, Seq(f0, f1, f2))
    val gifHashes = Multimodal.gifFrameHashes(
        Seq((1L, gif)).toDF("gid", "payload"), "payload")
      .orderBy("sample_pos").collect().map(_.getAs[Long]("frame_ph")).toSeq
    assert(gifHashes == rows.map(_.getAs[Long]("frame_ph")).toSeq)
    // MJPEG through BOTH entry shapes — QuickTime 'jpeg' and the
    // ffmpeg .mp4 shape ('mp4v' + esds OTI 0x6C): identical JFIF
    // samples, so the two containers must hash IDENTICALLY, and the
    // tier's hashes == hashing the decoder's own frames directly
    val ramp = Array.tabulate(72)(i => (i % 9) * 24)
    val ramp2 = ramp.map(v => 216 - v)
    val mp4 = Multimodal.syntheticMjpegMp4(9, 8, Seq(ramp, ramp2))
    val mjMov = Multimodal.syntheticMjpegMov(9, 8, Seq(ramp, ramp2))
    def hashesOf(payload: Array[Byte]): Seq[Long] =
      Multimodal.gifFrameHashes(
          Seq((1L, payload)).toDF("gid", "payload"), "payload",
          decoder = Multimodal.Mp4FrameDecoder)
        .orderBy("sample_pos").collect().map(_.getAs[Long]("frame_ph")).toSeq
    val mp4Hashes = hashesOf(mp4)
    assert(mp4Hashes.length == 2 && mp4Hashes == hashesOf(mjMov))
    val of = Multimodal.Mp4FrameDecoder.open(mp4).get
    val hasher = new Multimodal.PerceptualHasher
    val direct = (0 until of.frameCount).map(i => hasher.dhashOfImage(of.frameAt(i)))
    of.close()
    assert(mp4Hashes == direct)
    val drift = java.lang.Long.bitCount(mp4Hashes(0) ^ dhashOf(ramp))
    assert(drift <= 16, s"MJPEG dHash drifted $drift bits from lossless")
    // honest subset refusals: a GIF has no box layout, a WAV's RIFF
    // is not an ISO-BMFF first box, a compressed codec ('avc1')
    // opens as None — the stub stays pluggable, never a guess
    assert(Multimodal.Mp4FrameDecoder.open(gif).isEmpty)
    assert(Multimodal.Mp4FrameDecoder
      .open(Multimodal.syntheticPcmWav(Array[Short](1, 2, 3))).isEmpty)
    val avc = Multimodal.movContainer(9, 8, "isom", "avc1",
      Seq(Array.fill[Byte](64)(1)))
    assert(Multimodal.Mp4FrameDecoder.open(avc).isEmpty,
      "compressed codecs are outside the honest subset")
    // a 'raw ' entry declaring depth != 24 (ARGB/thousands) must
    // refuse — the packed-RGB24 pixel walk would read misaligned
    // bytes, not produce a near-dup-grade frame: patch the depth
    // field (u16 at entry+82, i.e. stsd 'type' index + 94)
    val deep = mov.clone()
    val stsdAt = (0 until deep.length - 4).find(i =>
      deep(i) == 's' && deep(i + 1) == 't' && deep(i + 2) == 's' &&
        deep(i + 3) == 'd').get
    assert(deep(stsdAt + 94) == 0 && deep(stsdAt + 95) == 24,
      "fixture drift: depth field not where the patch expects")
    deep(stsdAt + 95) = 32
    assert(Multimodal.Mp4FrameDecoder.open(deep).isEmpty,
      "'raw ' depth-32 must refuse, not decode misaligned RGB24")
    // a corrupt negative box size stops the walk (None, not a hang)
    val corrupt = Array[Byte](0, 0, 0, 16) ++ "ftyp".getBytes("US-ASCII") ++
      "qt  mini".getBytes("US-ASCII") ++
      Array[Byte](-1, -1, -1, -1) ++ "moov".getBytes("US-ASCII")
    assert(Multimodal.Mp4FrameDecoder.open(corrupt).isEmpty)
    // a sample whose stsz size runs past the payload is dropped along
    // with everything after it (don't guess past a truncation): patch
    // the LAST stsz entry of the valid vector to a huge size
    val patched = mov.clone()
    val stszAt = (0 until patched.length - 4).find(i =>
      patched(i) == 's' && patched(i + 1) == 't' && patched(i + 2) == 's' &&
        patched(i + 3) == 'z').get
    // type(4) + ver/flags(4) + fixed(4) + count(4) + two entries(8)
    // = the third size entry's big-endian first byte
    patched(stszAt + 24) = 0x7F
    val truncated = Multimodal.Mp4FrameDecoder.open(patched).get
    assert(truncated.frameCount == 2,
      s"oversized tail sample must drop, got ${truncated.frameCount}")
    truncated.close()
    // MIXED corpus via firstOf across all FOUR containers: every
    // container of the same frames near-dups every other; the
    // position-shuffled animation pairs with none
    val avi = Multimodal.syntheticGrayAvi(9, 8, Seq(f0, f1, f2))
    val y4m = Multimodal.syntheticGrayY4m(9, 8, Seq(f0, f1, f2))
    val mixed = Seq((1L, gif), (2L, avi), (3L, y4m), (4L, mov),
      (5L, Multimodal.syntheticGrayGif(9, 8, Seq(f2, f0, f1))))
      .toDF("gid", "v")
    val pairs = Multimodal.gifNearDupPairs(mixed, "v", "gid",
        metricName = "graft_mp4_mixed_cap",
        decoder = Multimodal.FrameDecoders.firstOf(
          Multimodal.GifFrameDecoder, Multimodal.AviFrameDecoder,
          Multimodal.Y4mFrameDecoder, Multimodal.Mp4FrameDecoder))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(pairs == Set((1L, 2L, 3L), (1L, 3L, 3L), (1L, 4L, 3L),
      (2L, 3L, 3L), (2L, 4L, 3L), (3L, 4L, 3L)), s"got $pairs")
  }

  // a gray grid REALIZING an arbitrary 64-bit dHash: walk each row
  // left->right from 128, stepping +1 where the target bit is set,
  // -1 where not (values stay in [120, 136] — losslessly encodable)
  private def gridFor(h: Long): Array[Int] = {
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

  test("gifNearDupPairs maxShift: a time-shifted re-cut pairs at maxShift=1 and not at the default exact-positional 0") {
    import spark.implicits._
    // five frames with PRESCRIBED pairwise-distant dHashes (>= 32
    // bits apart), so only intended (frame, frame) matches fire
    val hs = Seq(0xFFFFL, 0xFFFF0000L, 0xFFFF00000000L,
      0xFFFF000000000000L, 0x00FF00FF00FF00FFL)
    val fr = hs.map(gridFor)
    fr.zip(hs).foreach { case (g, h) =>
      assert(dhashOf(g) == h, "gridFor must realize the prescribed hash")
    }
    val base = Multimodal.syntheticGrayGif(9, 8, Seq(fr(0), fr(1), fr(2), fr(3)))
    // the intro trimmed: every later sampled frame shifts ONE position
    val cut = Multimodal.syntheticGrayGif(9, 8, Seq(fr(1), fr(2), fr(3), fr(4)))
    val twin = Multimodal.syntheticGrayGif(9, 8, Seq(fr(0), fr(1), fr(2), fr(3)))
    val docs = Seq((1L, base), (2L, cut), (3L, twin)).toDF("gid", "gif")
    // exact positional semantics: the re-cut shares NO same-position
    // frame with the base — only the identical twin pairs
    val strict = Multimodal.gifNearDupPairs(docs, "gif", "gid",
        metricName = "graft_gif_shift0_cap")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(strict == Set((1L, 3L, 4L)), s"got $strict")
    // maxShift = 1: the re-cut matches 3 of 4 positions one step
    // apart; the identical twin still counts all 4 — n_matched counts
    // covered POSITIONS per side, not matched frame pairs
    val shifted = Multimodal.gifNearDupPairs(docs, "gif", "gid",
        metricName = "graft_gif_shift1_cap", maxShift = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(shifted == Set((1L, 2L, 3L), (1L, 3L, 4L), (2L, 3L, 3L)),
      s"got $shifted")
    // a shift of 2 is out of tolerance at maxShift = 1: trim TWO
    // frames and the re-cut no longer pairs (still bounded — never
    // the quadratic full alignment)
    val cut2 = Multimodal.syntheticGrayGif(9, 8,
      Seq(fr(2), fr(3), fr(4), gridFor(0x0F0F0F0F0F0F0F0FL)))
    val far = Seq((1L, base), (4L, cut2)).toDF("gid", "gif")
    val s2 = Multimodal.gifNearDupPairs(far, "gif", "gid",
        metricName = "graft_gif_shift2_cap", maxShift = 1)
      .collect()
    assert(s2.isEmpty, s"got ${s2.toSeq}")
    intercept[IllegalArgumentException] {
      Multimodal.gifNearDupPairs(docs, "gif", "gid", maxShift = 4)
    }
    ()
  }

  test("videoNearDupPairs: keyframe-ordinal alignment pairs re-cut MJPEG videos that uniform sampling misses; no-stss payloads fall back to uniform") {
    import spark.implicits._
    val md = java.security.MessageDigest.getInstance("MD5")
    def grid(seed: String): Array[Int] = Array.tabulate(72) { i =>
      java.lang.Byte.toUnsignedInt(
        md.digest(s"$seed:${i / 9}:${i % 9}".getBytes("UTF-8"))(0))
    }
    // four shared keyframe contents + per-video filler ("delta") frames
    val k = (0 until 4).map(i => grid(s"key$i"))
    // video A: 12 samples, keyframes at NON-UNIFORM sample numbers
    // 1, 4, 5, 10 (scene cuts, not a cadence)
    val framesA = (1 to 12).map {
      case 1 => k(0); case 4 => k(1); case 5 => k(2); case 10 => k(3)
      case n => grid(s"fillA$n")
    }
    val vidA = Multimodal.syntheticMjpegMp4Keyframed(9, 8, framesA,
      syncSamples = Seq(1, 4, 5, 10))
    // video B: a RE-CUT of the same footage — 9 samples, the same
    // keyframe contents at different sample numbers 2, 3, 7, 9
    val framesB = (1 to 9).map {
      case 2 => k(0); case 3 => k(1); case 7 => k(2); case 9 => k(3)
      case n => grid(s"fillB$n")
    }
    val vidB = Multimodal.syntheticMjpegMp4Keyframed(9, 8, framesB,
      syncSamples = Seq(2, 3, 7, 9))
    // video C: unrelated keyframes, same count
    val framesC = (1 to 10).map {
      case n if Set(1, 3, 6, 8)(n) => grid(s"other$n")
      case n => grid(s"fillC$n")
    }
    val vidC = Multimodal.syntheticMjpegMp4Keyframed(9, 8, framesC,
      syncSamples = Seq(1, 3, 6, 8))
    val docs = Seq((1L, vidA), (2L, vidB), (3L, vidC)).toDF("vid", "v")

    // keyframe-aligned: A and B pair on all 4 keyframe ordinals
    val pairs = Multimodal.videoNearDupPairs(docs, "v", "vid",
        metricName = "graft_kf_pairs_cap")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(pairs == Set((1L, 2L, 4L)), s"got $pairs")

    // the SAME payloads through the uniform tier miss the match:
    // positions 0,3,6,9 of A vs 0,2,4,6 of B are mostly filler
    val uniform = Multimodal.gifNearDupPairs(docs, "v", "vid",
        metricName = "graft_kf_uniform_cap",
        decoder = Multimodal.Mp4FrameDecoder)
      .collect()
    assert(uniform.isEmpty,
      s"uniform sampling must miss the re-cut: ${uniform.toSeq}")

    // the sampling plan is auditable: sample_pos is the keyframe
    // ordinal, frame_idx the true 0-based sample index
    val plan = Multimodal.videoFrameHashes(
        Seq((1L, vidA)).toDF("vid", "v"), "v")
      .select("sample_pos", "frame_idx", "n_frames")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2))).toSet
    assert(plan == Set((0, 0, 4), (1, 3, 4), (2, 4, 4), (3, 9, 4)),
      s"got $plan")

    // fallback: payloads WITHOUT a BMFF keyframe index (GIF; MP4
    // without stss = every sample sync) ride uniform sampling — the
    // two tiers agree exactly on such a corpus
    val f0 = Array.tabulate(72)(i => (i * 7) % 256)
    val f1 = f0.map(v => 255 - v)
    val f2 = f0.map(v => (v + 96) % 256)
    val gif = Multimodal.syntheticGrayGif(9, 8, Seq(f0, f1, f2))
    val mov = Multimodal.syntheticGrayMov(9, 8, Seq(f0, f1, f2))
    val mixed = Seq((1L, gif), (2L, mov)).toDF("vid", "v")
    val dec = Multimodal.FrameDecoders.firstOf(
      Multimodal.GifFrameDecoder, Multimodal.Mp4FrameDecoder)
    val viaVideo = Multimodal.videoNearDupPairs(mixed, "v", "vid",
        metricName = "graft_kf_fb_cap", decoder = dec)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val viaGif = Multimodal.gifNearDupPairs(mixed, "v", "vid",
        metricName = "graft_kf_fb2_cap", decoder = dec)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(viaVideo == viaGif && viaVideo == Set((1L, 2L, 3L)),
      s"video=$viaVideo gif=$viaGif")

    // STANDING-INDEX path: the keyframe plan rides the same positional
    // hash-band machinery — an index over {A, C} filters the re-cut B
    // as a near-dup while a fresh video keeps; the persisted artifact
    // round-trips through the SHARED read and refuses a width mismatch
    val standing = Seq((1L, vidA), (3L, vidC)).toDF("vid", "v")
    val vidD = Multimodal.syntheticMjpegMp4Keyframed(9, 8,
      (1 to 8).map(n => grid(s"fresh$n")), syncSamples = Seq(1, 3, 5, 7))
    val batch2 = Seq((2L, vidB), (4L, vidD)).toDF("vid", "v")
    val memIdx = Multimodal.videoKeyframeHashBandIndex(standing, "v",
      metricName = "graft_kf_idx_cap")
    val keptMem = Multimodal.videoNearDupFilterAgainst(batch2, "v", "vid",
        memIdx).select("vid").collect().map(_.getLong(0)).toSet
    assert(keptMem == Set(4L),
      s"re-cut B must hit the standing keyframe index: $keptMem")
    withTempDir("kf-idx") { dir =>
      val path = dir.getAbsolutePath + "/idx"
      Multimodal.writeVideoKeyframeHashBandIndex(standing, "v", "vid",
        path, metricName = "graft_kf_idx_wr_cap")
      val disk = Multimodal.readGifHashBandIndex(spark, path)
      val keptDisk = Multimodal.videoNearDupFilterAgainst(batch2, "v",
          "vid", disk).select("vid").collect().map(_.getLong(0)).toSet
      assert(keptDisk == keptMem, s"disk=$keptDisk mem=$keptMem")
      // width mismatch refused at the probe, same seam as the GIF tier
      val e = intercept[IllegalArgumentException] {
        Multimodal.videoNearDupFilterAgainst(batch2, "v", "vid", disk,
          nFrames = 3, minFrameMatches = 3)
      }
      assert(e.getMessage.contains("sample width"), e.getMessage)
    }
    ()
  }
}

/** A synthetic NON-GIF multi-frame container for the FrameDecoder
  * seam spec: payload = 'V' magic, a frame-count byte, then 72 gray
  * bytes (9x8, row-major) per frame. Proves the video-like tier is
  * exactly one FrameDecoder implementation away from a new container
  * — this decoder is ~20 lines and the entire tier (sampling, dHash,
  * pairs, filter, standing index) rides it unchanged. */
object FakeVideoDecoder extends Multimodal.FrameDecoder {
  def payload(frames: Array[Int]*): Array[Byte] = {
    val out = new Array[Byte](2 + 72 * frames.length)
    out(0) = 'V'.toByte
    out(1) = frames.length.toByte
    frames.zipWithIndex.foreach { case (f, k) =>
      var i = 0
      while (i < 72) { out(2 + 72 * k + i) = f(i).toByte; i += 1 }
    }
    out
  }
  def open(bytes: Array[Byte]): Option[Multimodal.OpenedFrames] = {
    if (bytes.length < 2 || bytes(0) != 'V'.toByte) return None
    val n = java.lang.Byte.toUnsignedInt(bytes(1))
    if (bytes.length < 2 + 72 * n) return None
    Some(new Multimodal.OpenedFrames {
      private var last = -1
      def frameCount: Int = n
      def frameAt(i: Int): java.awt.image.BufferedImage = {
        require(i >= last, s"frameAt($i) after $last — forward only")
        last = i
        val img = new java.awt.image.BufferedImage(9, 8,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        var p = 0
        while (p < 72) {
          val g = java.lang.Byte.toUnsignedInt(bytes(2 + 72 * i + p))
          img.setRGB(p % 9, p / 9, (g << 16) | (g << 8) | g)
          p += 1
        }
        img
      }
      def close(): Unit = ()
    })
  }
}
