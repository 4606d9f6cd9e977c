package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, BooleanType, DataType,
  IntegerType, LongType, StringType, StructField, StructType}

/** Multimodal-column plumbing for a training-data pipeline: images /
  * audio / video ride as opaque `binary` columns with typed metadata;
  * every decode / feature-extraction pass runs through ONE decode core
  * (`decodePass`: output-name refusal, BINARY check, one
  * `mapPartitions` whose decoder — and any native codec context behind
  * it — is constructed ONCE PER TASK and reused across the partition's
  * rows, and the row append), so a pass is only its decoder and its
  * per-payload values; the shuffle only ever moves the (small)
  * features — never re-shuffles raw media bytes.
  *
  * Image decode is REAL (`ImageDecoder`, JDK `javax.imageio` —
  * PNG/JPEG/GIF/BMP need no external codecs; header-only reads, so
  * dimensions never cost a pixel decode). Audio metadata decode is
  * REAL too (`AudioDecoder`, JDK `javax.sound.sampled` — WAV/AIFF/AU
  * header parse ships with every JVM; sample rate / channels / frame
  * count cost no sample decode). Video CONTAINER metadata is REAL as
  * well (`VideoDecoder`, a pure ISO-BMFF box walk — MP4/MOV duration,
  * timescale, display dimensions, track census; the length-prefixed
  * box grammar is codec-independent). Image RESIZE is real
  * (`withResizedImage`: ImageIO decode → bilinear rescale →
  * re-encode, the vision-input normalization step), and audio
  * SAMPLE features are real (`withAudioFeatures`: PCM decode through
  * the JDK codec chain — RMS / peak / zero-crossing rate land on the
  * analytic values for a synthesized sine, pinned by test). FRAME
  * decode is real for the
  * multi-frame container the JDK ships a codec for — animated GIF
  * (`sampleFramesDecoded`: evenly sampled frames decoded to pixels
  * and digested); for MP4/MOV, the sample tables give a REAL
  * keyframe byte-range index without any codec
  * (`KeyframeIndexer`/`sampleKeyframes`: stss/stsz/stsc/stco walk →
  * per-keyframe byte offset + size), while frame PIXEL decode stays
  * stubbed (`StubDecoder`/`sampleFrames` derive deterministic fake
  * features; those codecs genuinely are not in the
  * JDK) — the Spark-side contract — schema, partitioning,
  * per-partition decoder lifecycle, batch shape, null handling — is
  * identical throughout and tested (MultimodalSpec counts decoder
  * constructions per partition and asserts real PNG/JPEG dimensions,
  * WAV/AIFF audio formats, and MP4 duration/dims from checked-in
  * fixtures / round-trips / hand-assembled boxes).
  */
object Multimodal {

  /** First-8-bytes lowercase-hex digest — the one truncated-digest
    * recipe every decoder in this file shares. */
  private def hex8(digest: Array[Byte]): String =
    digest.take(8).map("%02x".format(_)).mkString

  final case class MediaMeta(
    width: Int, height: Int, channels: Int,
    byteLen: Long, digest: String, ok: Boolean)

  /** The decode contract: one instance per task (created by the
    * factory inside mapPartitions), decode called per row. Heavy
    * codec/native state belongs in the instance, built once. */
  trait MediaDecoder extends Serializable {
    def decode(bytes: Array[Byte]): MediaMeta
  }

  /** STUB decode: deterministic pseudo-metadata from the payload.
    * Replace with a real codec at deployment; the per-instance
    * MessageDigest stands in for "expensive state created once per
    * partition, reused per row". */
  final class StubDecoder extends MediaDecoder {
    private val md = java.security.MessageDigest.getInstance("SHA-256")
    def decode(bytes: Array[Byte]): MediaMeta = {
      if (bytes == null || bytes.isEmpty) return MediaMeta(0, 0, 0, 0L, "", ok = false)
      md.reset()
      val digest = md.digest(bytes)
      val hex = hex8(digest)
      // fake-but-deterministic dimensions derived from the digest
      val w = 16 + (java.lang.Byte.toUnsignedInt(digest(0)) % 64) * 16
      val h = 16 + (java.lang.Byte.toUnsignedInt(digest(1)) % 64) * 16
      MediaMeta(w, h, 3, bytes.length.toLong, hex, ok = true)
    }
  }

  /** Real image decode on the JDK's built-in `javax.imageio` readers
    * (PNG/JPEG/GIF/BMP ship with every JVM). Header-only: the matched
    * `ImageReader` reports width/height/bands from the container
    * metadata without decoding pixel data, so metadata extraction
    * costs O(header) per image, not O(pixels). The reader instance is
    * per-decoder — i.e. built once per task under `withMediaMeta`'s
    * mapPartitions contract — and non-image payloads (no registered
    * reader claims the stream) come back `ok = false`. */
  final class ImageDecoder extends MediaDecoder {
    private val md = java.security.MessageDigest.getInstance("SHA-256")
    def decode(bytes: Array[Byte]): MediaMeta = {
      if (bytes == null || bytes.isEmpty) return MediaMeta(0, 0, 0, 0L, "", ok = false)
      md.reset()
      val hex = hex8(md.digest(bytes))
      val fail = MediaMeta(0, 0, 0, bytes.length.toLong, hex, ok = false)
      try {
        val iis = javax.imageio.ImageIO.createImageInputStream(
          new java.io.ByteArrayInputStream(bytes))
        try {
          val readers = javax.imageio.ImageIO.getImageReaders(iis)
          if (!readers.hasNext) fail
          else {
            val reader = readers.next()
            try {
              reader.setInput(iis, true, true)
              val channels = {
                val types = reader.getImageTypes(0)
                if (types.hasNext) types.next().getColorModel.getNumComponents else 0
              }
              MediaMeta(reader.getWidth(0), reader.getHeight(0), channels,
                bytes.length.toLong, hex, ok = true)
            } finally reader.dispose()
          }
        } finally iis.close()
        // imageio plugins likewise throw unchecked on malformed
        // containers; same ok=false contract as the audio decoder
      } catch { case scala.util.control.NonFatal(_) => fail }
    }
  }

  /** 64-bit perceptual difference hash (dHash) over REAL pixel decode
    * (JDK ImageIO: PNG/JPEG/GIF/BMP): the image downscales to a 9x8
    * grayscale thumbnail and bit (x, y) records "pixel brighter than
    * its right neighbor" — a signature that is IDENTICAL across
    * re-encodings of the same pixels (PNG vs BMP vs JPEG-lossless)
    * and moves only a few bits under mild edits, so image near-dup
    * search is `Dedup.hashNearDupPairs` over the hash column, the
    * same banding machinery as text SimHash. Unlike the metadata
    * decoders this necessarily pays a pixel decode; it runs where the
    * scan partition lives and only the 8-byte hash ever shuffles.
    * Undecodable payloads hash to null (never a task failure). */
  final class PerceptualHasher extends Serializable {
    /** The 9x8 downscale + brightness-gradient grid over an ALREADY
      * decoded image — shared by the single-image path (`dhash64`)
      * and the per-frame GIF path (`gifFrameHashes`), so a still
      * image and the identical frame inside an animation hash
      * identically. */
    def dhashOfImage(img: java.awt.image.BufferedImage): Long = {
      val small = new java.awt.image.BufferedImage(9, 8,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g = small.createGraphics()
      try {
        g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
          java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
        g.drawImage(img, 0, 0, 9, 8, null)
      } finally g.dispose()
      def gray(x: Int, y: Int): Int = {
        val rgb = small.getRGB(x, y)
        (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 + (rgb & 0xff) * 114) / 1000
      }
      var h = 0L
      var y = 0
      while (y < 8) {
        var x = 0
        while (x < 8) {
          if (gray(x + 1, y) > gray(x, y)) h |= 1L << (y * 8 + x)
          x += 1
        }
        y += 1
      }
      h
    }

    def dhash64(bytes: Array[Byte]): java.lang.Long = {
      if (bytes == null || bytes.isEmpty) return null
      try {
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
        if (img == null) return null
        java.lang.Long.valueOf(dhashOfImage(img))
      } catch { case scala.util.control.NonFatal(_) => null }
    }
  }

  /** Attach the perceptual hash to a binary image column — same
    * once-per-task mapPartitions contract as the other decoders. */
  def withPerceptualHash(df: DataFrame, binaryCol: String,
      outCol: String = "phash")(implicit spark: SparkSession): DataFrame =
    decodePass("withPerceptualHash", df, binaryCol, fields(outCol -> LongType))(
      () => new PerceptualHasher)((h, b) => one(h.dhash64(b)))

  /** REAL image resize (JDK ImageIO decode → Graphics2D bilinear
    * rescale → re-encode): the vision-pipeline normalization step —
    * every image lands at the model's input dimensions before
    * features are cut. Output bytes replace the original payload
    * downstream, so at 100 TB the post-resize corpus is also the
    * small-edge-length corpus (a 3000×2000 JPEG becomes a 224×224
    * thumbnail). Stretch-to-fit, documented: aspect-preserving
    * letterboxing belongs to the caller's transform, not hidden
    * here. One resizer per task; undecodable payloads yield
    * ok = false with null bytes — never a task failure. */
  final class ImageResizer(width: Int, height: Int, format: String)
      extends Serializable {
    def resize(bytes: Array[Byte]): (Array[Byte], Boolean) = {
      if (bytes == null || bytes.isEmpty) return (null, false)
      try {
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
        if (img == null) return (null, false)
        val out = new java.awt.image.BufferedImage(width, height,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        val g = out.createGraphics()
        try {
          g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
            java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
          g.drawImage(img, 0, 0, width, height, null)
        } finally g.dispose()
        val bos = new java.io.ByteArrayOutputStream()
        if (!javax.imageio.ImageIO.write(out, format, bos)) (null, false)
        else (bos.toByteArray, true)
      } catch { case scala.util.control.NonFatal(_) => (null, false) }
    }
  }

  /** Attach `outCol` = struct(bytes, width, height, ok) with the
    * image rescaled to exactly (width × height) and re-encoded as
    * `format` (a format some ImageIO writer claims — validated
    * DRIVER-side, so a typo fails at plan build, not as a million
    * ok=false rows). Same mapPartitions lifecycle as every decoder
    * here; only resized bytes shuffle downstream. */
  def withResizedImage(df: DataFrame, binaryCol: String,
      width: Int, height: Int, outCol: String = "resized",
      format: String = "png")(implicit spark: SparkSession): DataFrame = {
    require(width >= 1 && height >= 1, s"target dims must be >= 1, got ${width}x$height")
    require(javax.imageio.ImageIO.getImageWritersByFormatName(format).hasNext,
      s"no ImageIO writer claims format '$format' — png/jpg/bmp/gif ship with the JDK")
    val out = StructField(outCol, StructType(fields("bytes" -> BinaryType,
      "width" -> IntegerType, "height" -> IntegerType, "ok" -> BooleanType)),
      nullable = false)
    decodePass("withResizedImage", df, binaryCol, Seq(out))(
      () => new ImageResizer(width, height, format)) { (rz, b) =>
      val (bytes, ok) = rz.resize(b)
      one(Row(bytes, width, height, ok))
    }
  }

  final case class AudioMeta(
    sampleRate: Double, channels: Int, frames: Long, encoding: String,
    byteLen: Long, digest: String, ok: Boolean)

  /** Audio-metadata decode seam — the `ContainerMetaDecoder` shape on
    * the audio side: one method, one `AudioMeta`, `ok = false` for
    * payloads outside the decoder's container. `AudioDecoder` (the
    * JDK chain: WAV/AIFF/AU) is the default; `Mp3MetaDecoder` and
    * `FlacMetaDecoder` cover the two dominant crawl formats the JDK
    * cannot read, and `AutoAudioMetaDecoder` tries all three. */
  trait AudioMetaDecoder extends Serializable {
    def decode(bytes: Array[Byte]): AudioMeta
  }

  /** Real audio metadata on the JDK's built-in `javax.sound.sampled`
    * parsers (WAV/AIFF/AU ship with every JVM). Header-only:
    * `AudioSystem.getAudioFileFormat` reads the container header —
    * sample rate, channel count, frame length, encoding — without
    * decoding any sample data, the same O(header) argument as
    * `ImageDecoder`. Non-audio payloads come back `ok = false`. One
    * instance per task under `withAudioMeta`'s mapPartitions
    * contract. */
  final class AudioDecoder extends AudioMetaDecoder {
    private val md = java.security.MessageDigest.getInstance("SHA-256")
    def decode(bytes: Array[Byte]): AudioMeta = {
      if (bytes == null || bytes.isEmpty)
        return AudioMeta(0.0, 0, 0L, "", 0L, "", ok = false)
      md.reset()
      val hex = hex8(md.digest(bytes))
      val fail = AudioMeta(0.0, 0, 0L, "", bytes.length.toLong, hex, ok = false)
      try {
        // ByteArrayInputStream supports mark/reset, which the sampled
        // API requires for container sniffing
        val fileFmt = javax.sound.sampled.AudioSystem.getAudioFileFormat(
          new java.io.ByteArrayInputStream(bytes))
        val fmt = fileFmt.getFormat
        AudioMeta(fmt.getSampleRate.toDouble, fmt.getChannels,
          fileFmt.getFrameLength.toLong, fmt.getEncoding.toString,
          bytes.length.toLong, hex, ok = true)
      } catch {
        // the JDK's WAV/AIFF header parsers have a history of
        // unchecked throws (AIOOBE, NegativeArraySize) on malformed
        // headers; this decoder's contract over arbitrary payloads is
        // ok=false, never a task-killing exception
        case scala.util.control.NonFatal(_) => fail
      }
    }
  }

  /** MP3 METADATA from the MPEG audio frame-header walk (the layout
    * is ISO/IEC 11172-3 — public): an optional ID3v2 tag is skipped
    * by its syncsafe declared size, then every frame contributes its
    * header-mandated length and samples-per-frame, so duration
    * (`frames` = total PCM sample frames at `sampleRate`) is EXACT
    * for CBR and VBR alike — no bitrate guessing, no decode, 4
    * header bytes read per frame. O(frame count) byte hops, the same
    * never-touch-samples argument as the video metadata walk.
    * Honesty rules: the walk must start at a valid frame sync
    * immediately after any ID3v2 tag (random payloads are not
    * scanned for sync), free-format bitrate (index 0) is refused,
    * and `ok` requires >= 2 frames AND a clean finish — the walk
    * ends within 3 bytes of the payload end or at an ID3v1 'TAG'
    * trailer. Anything else after valid frames (garbage, a lost
    * sync, a truncated final frame) reports `ok = false` rather
    * than serving a duration for half a file. */
  final class Mp3MetaDecoder extends AudioMetaDecoder {
    private val md = java.security.MessageDigest.getInstance("SHA-256")
    // bitrate tables, kbps (layer III)
    private val BrV1L3 = Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128,
      160, 192, 224, 256, 320, 0)
    private val BrV2L3 = Array(0, 8, 16, 24, 32, 40, 48, 56, 64, 80,
      96, 112, 128, 144, 160, 0)
    private val SrV1 = Array(44100, 48000, 32000, 0)
    private val SrV2 = Array(22050, 24000, 16000, 0)
    private val SrV25 = Array(11025, 12000, 8000, 0)

    def decode(bytes: Array[Byte]): AudioMeta = {
      if (bytes == null || bytes.isEmpty)
        return AudioMeta(0.0, 0, 0L, "", 0L, "", ok = false)
      md.reset()
      val hex = hex8(md.digest(bytes))
      val fail = AudioMeta(0.0, 0, 0L, "", bytes.length.toLong, hex,
        ok = false)
      try {
        var p = 0
        // ID3v2: "ID3" + ver(2) + flags(1) + syncsafe size(4)
        if (bytes.length >= 10 && bytes(0) == 'I' && bytes(1) == 'D' &&
          bytes(2) == '3') {
          val sz = ((bytes(6) & 0x7f) << 21) | ((bytes(7) & 0x7f) << 14) |
            ((bytes(8) & 0x7f) << 7) | (bytes(9) & 0x7f)
          // Footer flag (header byte 5, bit 0x10): the declared
          // syncsafe size excludes the 10-byte footer, so skip it
          // too or the walk lands mid-footer and loses sync.
          val footer = if ((bytes(5) & 0x10) != 0) 10 else 0
          p = 10 + sz + footer
        }
        var frames = 0L
        var samples = 0L
        var sr = 0
        var ch = 0
        var enc = ""
        var clean = false
        var done = false
        while (!done) {
          if (p + 4 > bytes.length) {
            clean = bytes.length - p <= 3 // trailing pad, not a frame
            done = true
          } else if (bytes.length - p == 128 && bytes(p) == 'T' &&
            bytes(p + 1) == 'A' && bytes(p + 2) == 'G') {
            clean = true // ID3v1 trailer
            done = true
          } else if ((bytes(p) & 0xff) != 0xff ||
            (bytes(p + 1) & 0xe0) != 0xe0) {
            done = true // lost sync: not clean
          } else {
            val b1 = bytes(p + 1) & 0xff
            val b2 = bytes(p + 2) & 0xff
            val ver = (b1 >> 3) & 3 // 0=2.5, 2=2, 3=1
            val layer = (b1 >> 1) & 3 // 1=III, 2=II, 3=I
            val brIdx = (b2 >> 4) & 15
            val srIdx = (b2 >> 2) & 3
            val pad = (b2 >> 1) & 1
            if (ver == 1 || layer == 0 || brIdx == 0 || brIdx == 15 ||
              srIdx == 3) done = true // reserved/free-format: refuse
            else {
              val thisSr = (if (ver == 3) SrV1
                else if (ver == 2) SrV2 else SrV25)(srIdx)
              val br = 1000 * (layer match {
                case 1 => if (ver == 3) BrV1L3(brIdx) else BrV2L3(brIdx)
                case 2 => // layer II (MPEG1 table; MPEG2 L2 shares V2L3's shape closely — refuse instead of guessing)
                  if (ver == 3) Array(0, 32, 48, 56, 64, 80, 96, 112,
                    128, 160, 192, 224, 256, 320, 384, 0)(brIdx)
                  else -1
                case _ => // layer I
                  if (ver == 3) Array(0, 32, 64, 96, 128, 160, 192, 224,
                    256, 288, 320, 352, 384, 416, 448, 0)(brIdx)
                  else -1
              })
              if (br <= 0) done = true
              else {
                val flen = layer match {
                  case 3 => (12 * br / thisSr + pad) * 4 // layer I
                  case 2 => 144 * br / thisSr + pad // layer II
                  case _ => // layer III
                    (if (ver == 3) 144 else 72) * br / thisSr + pad
                }
                val spf = layer match {
                  case 3 => 384
                  case 2 => 1152
                  case _ => if (ver == 3) 1152 else 576
                }
                if (sr == 0) {
                  sr = thisSr
                  ch = if (((bytes(p + 3) & 0xff) >> 6) == 3) 1 else 2
                  enc = (if (ver == 3) "MPEG1" else if (ver == 2) "MPEG2"
                    else "MPEG2.5") +
                    "-L" + (layer match {
                      case 3 => "1"; case 2 => "2"; case _ => "3" })
                } else if (thisSr != sr) { done = true }
                if (!done) {
                  if (p + flen > bytes.length) done = true // truncated tail
                  else {
                    // a VBR header frame ("Xing"/"Info" at the
                    // layer-III side-info offset) is a real frame in
                    // the stream but carries NO audio — standard
                    // tools exclude it from duration; only the first
                    // frame can be one
                    val xingOff = p + 4 + (if (ver == 3) {
                      if (((bytes(p + 3) & 0xff) >> 6) == 3) 17 else 32
                    } else {
                      if (((bytes(p + 3) & 0xff) >> 6) == 3) 9 else 17
                    })
                    val isVbrHeader = frames == 0L && layer == 1 &&
                      xingOff + 4 <= bytes.length && {
                        val t = new String(bytes, xingOff, 4, "US-ASCII")
                        t == "Xing" || t == "Info"
                      }
                    if (!isVbrHeader) {
                      frames += 1
                      samples += spf
                    }
                    p += flen
                  }
                }
              }
            }
          }
        }
        if (frames >= 2 && clean && sr > 0)
          AudioMeta(sr.toDouble, ch, samples, enc, bytes.length.toLong,
            hex, ok = true)
        else fail
      } catch { case scala.util.control.NonFatal(_) => fail }
    }
  }

  /** FLAC METADATA from the mandatory STREAMINFO block (the layout is
    * the public FLAC format spec / RFC 9639): "fLaC" magic, then the
    * FIRST metadata block MUST be STREAMINFO (type 0, 34 bytes),
    * whose packed tail carries sample rate (20 bits), channels-1
    * (3), bits-per-sample-1 (5) and total samples (36). O(42 bytes)
    * — the samples (and the codec) are never touched. */
  final class FlacMetaDecoder extends AudioMetaDecoder {
    private val md = java.security.MessageDigest.getInstance("SHA-256")
    def decode(bytes: Array[Byte]): AudioMeta = {
      if (bytes == null || bytes.isEmpty)
        return AudioMeta(0.0, 0, 0L, "", 0L, "", ok = false)
      md.reset()
      val hex = hex8(md.digest(bytes))
      val fail = AudioMeta(0.0, 0, 0L, "", bytes.length.toLong, hex,
        ok = false)
      if (bytes.length < 42 || bytes(0) != 'f' || bytes(1) != 'L' ||
        bytes(2) != 'a' || bytes(3) != 'C') return fail
      if ((bytes(4) & 0x7f) != 0) return fail // first block must be STREAMINFO
      val blockLen = ((bytes(5) & 0xff) << 16) | ((bytes(6) & 0xff) << 8) |
        (bytes(7) & 0xff)
      if (blockLen != 34) return fail
      var x = 0L
      var i = 18
      while (i < 26) { x = (x << 8) | (bytes(i) & 0xffL); i += 1 }
      val sr = (x >>> 44).toInt
      val ch = ((x >>> 41) & 7).toInt + 1
      val total = x & ((1L << 36) - 1)
      if (sr <= 0) fail
      else AudioMeta(sr.toDouble, ch, total, "FLAC", bytes.length.toLong,
        hex, ok = true)
    }
  }

  /** OGG METADATA from the page walk (RFC 3533 page layout + the
    * public Vorbis-I / RFC 7845 Opus ID headers): every page is
    * self-delimiting ("OggS", header type, 64-bit granule position,
    * serial, segment table), so total duration is the LAST page's
    * granule position — exact, no bitrate arithmetic — with the
    * codec's sample rate read once from the first (BOS) page's ID
    * header. Honest subset: a single logical stream (a second serial
    * number — multiplexed A/V — refuses rather than guessing which
    * stream the duration describes); VORBIS (granule = PCM samples
    * at the declared rate) and OPUS (granule at 48 kHz minus the
    * declared pre-skip, reported at 48000 — the decode rate RFC 7845
    * mandates). Page CRCs are NOT verified — this is the metadata
    * tier, not an integrity check. `ok` requires a clean walk to the
    * payload end, >= 2 pages and a non-negative final granule;
    * truncation or garbage after valid pages refuses, the MP3 rule. */
  final class OggMetaDecoder extends AudioMetaDecoder {
    import LittleEndian.{u16, u32, u64}
    private val md = java.security.MessageDigest.getInstance("SHA-256")

    def decode(bytes: Array[Byte]): AudioMeta = {
      if (bytes == null || bytes.isEmpty)
        return AudioMeta(0.0, 0, 0L, "", 0L, "", ok = false)
      md.reset()
      val hex = hex8(md.digest(bytes))
      val fail = AudioMeta(0.0, 0, 0L, "", bytes.length.toLong, hex,
        ok = false)
      if (bytes.length < 27 || bytes(0) != 'O' || bytes(1) != 'g' ||
        bytes(2) != 'g' || bytes(3) != 'S') return fail
      try {
        var p = 0
        var serial0 = 0L
        var codec = ""
        var sr = 0.0
        var ch = 0
        var preSkip = 0L
        var lastGranule = -1L
        var pages = 0
        var clean = false
        var done = false
        while (!done) {
          if (p == bytes.length) { clean = true; done = true }
          else if (p + 27 > bytes.length || bytes(p) != 'O' ||
            bytes(p + 1) != 'g' || bytes(p + 2) != 'g' ||
            bytes(p + 3) != 'S' || bytes(p + 4) != 0) done = true
          else {
            val headerType = bytes(p + 5) & 0xff
            val granule = u64(bytes, p + 6)
            val serial = u32(bytes, p + 14)
            val nSegs = bytes(p + 26) & 0xff
            if (p + 27 + nSegs > bytes.length) done = true
            else {
              var payLen = 0
              var i = 0
              while (i < nSegs) { payLen += bytes(p + 27 + i) & 0xff; i += 1 }
              val ds = p + 27 + nSegs
              val de = ds + payLen
              if (de > bytes.length) done = true
              else {
                if (pages == 0) {
                  if ((headerType & 2) == 0) done = true // first page must be BOS
                  else {
                    serial0 = serial
                    if (payLen >= 30 && bytes(ds) == 1 &&
                      new String(bytes, ds + 1, 6, "US-ASCII") == "vorbis") {
                      codec = "VORBIS"
                      ch = bytes(ds + 11) & 0xff
                      sr = u32(bytes, ds + 12).toDouble
                    } else if (payLen >= 19 &&
                      new String(bytes, ds, 8, "US-ASCII") == "OpusHead") {
                      codec = "OPUS"
                      ch = bytes(ds + 9) & 0xff
                      preSkip = u16(bytes, ds + 10).toLong
                      sr = 48000.0 // granules are at 48 kHz, per RFC 7845
                    } else done = true // outside the honest codec subset
                  }
                } else if (serial != serial0) done = true // multiplexed
                if (!done) {
                  if (granule >= 0) lastGranule = granule
                  pages += 1
                  p = de
                }
              }
            }
          }
        }
        val frames = if (codec == "OPUS") math.max(0L, lastGranule - preSkip)
          else lastGranule
        if (clean && pages >= 2 && codec.nonEmpty && sr > 0 &&
          lastGranule >= 0)
          AudioMeta(sr, ch, frames, codec, bytes.length.toLong, hex,
            ok = true)
        else fail
      } catch { case scala.util.control.NonFatal(_) => fail }
    }
  }

  // ------------------------------------------------------------------
  // GOLDEN-FIXTURE GENERATORS (here and the `synthetic*` writers
  // below): NOT engine operators. They hand-assemble minimal
  // spec-conformant containers (Ogg/MP3/FLAC/WebM/Y4M/MOV/MP4/GIF/
  // AVI/BMP/WAV/CAF) whose decoded content is a pure function of the
  // arguments, so the driver's oracle queries can re-derive expected
  // results arithmetically in SQL. They live in src/main only
  // because the driver's query runners construct corpora with them
  // at Verify/Bench time; exclude them when counting engine code.
  // ------------------------------------------------------------------

  /** One Ogg page (RFC 3533), single-segment lacing — payloads under
    * 255 bytes, which every metadata fixture here satisfies. CRC is
    * left zero: the metadata walk documents that it does not verify
    * page integrity. */
  private def oggPage(headerType: Int, granule: Long, seq: Int,
      payload: Array[Byte]): Array[Byte] = {
    require(payload.length < 255, "single-segment fixture page")
    val out = new Array[Byte](28 + payload.length)
    "OggS".getBytes("US-ASCII").copyToArray(out)
    out(5) = headerType.toByte
    var i = 0
    while (i < 8) { out(6 + i) = ((granule >>> (8 * i)) & 0xff).toByte; i += 1 }
    i = 0
    while (i < 4) {
      out(14 + i) = ((0x12345678L >>> (8 * i)) & 0xff).toByte // serial
      out(18 + i) = ((seq.toLong >>> (8 * i)) & 0xff).toByte
      i += 1
    }
    out(26) = 1
    out(27) = payload.length.toByte
    payload.copyToArray(out, 28)
    out
  }

  /** Deterministic Ogg-Vorbis METADATA test vector: a BOS page
    * carrying the 30-byte Vorbis-I identification header, then
    * `audioPages` data pages with monotone granule positions ending
    * at `totalGranule` (payloads are inert bytes — the walk never
    * parses audio packets). */
  def syntheticOggVorbisMeta(sampleRate: Int, channels: Int,
      totalGranule: Long, audioPages: Int = 3): Array[Byte] = {
    require(sampleRate > 0 && channels >= 1 && totalGranule >= 0 &&
      audioPages >= 1, "out-of-spec fields")
    val id = new Array[Byte](30)
    id(0) = 1
    "vorbis".getBytes("US-ASCII").copyToArray(id, 1)
    id(11) = channels.toByte
    var i = 0
    while (i < 4) { id(12 + i) = ((sampleRate >>> (8 * i)) & 0xff).toByte; i += 1 }
    id(29) = 1 // framing bit
    val pages = (1 to audioPages).map(k =>
      oggPage(if (k == audioPages) 4 else 0, totalGranule * k / audioPages,
        k, Array.fill[Byte](10)(7)))
    Array.concat(oggPage(2, 0, 0, id) +: pages: _*)
  }

  /** The Opus twin (RFC 7845 OpusHead): granules run at 48 kHz and
    * the decoder subtracts the declared pre-skip. */
  def syntheticOggOpusMeta(channels: Int, preSkip: Int,
      totalGranule48k: Long, audioPages: Int = 3): Array[Byte] = {
    require(channels >= 1 && preSkip >= 0 && totalGranule48k >= 0 &&
      audioPages >= 1, "out-of-spec fields")
    val id = new Array[Byte](19)
    "OpusHead".getBytes("US-ASCII").copyToArray(id)
    id(8) = 1 // version
    id(9) = channels.toByte
    id(10) = (preSkip & 0xff).toByte
    id(11) = ((preSkip >> 8) & 0xff).toByte
    var i = 0
    while (i < 4) { id(12 + i) = ((44100 >>> (8 * i)) & 0xff).toByte; i += 1 }
    val pages = (1 to audioPages).map(k =>
      oggPage(if (k == audioPages) 4 else 0,
        totalGranule48k * k / audioPages, k, Array.fill[Byte](10)(7)))
    Array.concat(oggPage(2, 0, 0, id) +: pages: _*)
  }

  /** Mixed-corpus audio metadata: the JDK chain (WAV/AIFF/AU), then
    * FLAC, then OGG, then the MP3 frame walk — each sniff exact, same
    * shape as `AutoVideoDecoder`. */
  final class AutoAudioMetaDecoder extends AudioMetaDecoder {
    private val chain = Seq(new AudioDecoder, new FlacMetaDecoder,
      new OggMetaDecoder, new Mp3MetaDecoder)
    def decode(bytes: Array[Byte]): AudioMeta =
      firstOk(chain)(_.decode(bytes))(_.ok)
  }

  /** Deterministic silent-MP3 test vector: `nFrames` MPEG1 Layer III
    * frames at 128 kbps / 44.1 kHz stereo (417-byte frames, padding
    * 0, zero payload — the metadata walk reads only the 4 header
    * bytes), optionally prefixed by an empty ID3v2 tag and suffixed
    * by an ID3v1 'TAG' trailer. Hand-assembled against the public
    * 11172-3 header layout; every field is a pure function of the
    * arguments, so an oracle can replay frames x 1152 and 44100
    * from the spec alone. */
  def syntheticMp3(nFrames: Int, id3v2: Boolean = false,
      id3v1: Boolean = false, vbrHeader: Boolean = false,
      id3v2Footer: Boolean = false): Array[Byte] = {
    require(nFrames > 0, "need at least one frame")
    val frameLen = 144 * 128000 / 44100 // 417, padding 0
    val frame = new Array[Byte](frameLen)
    frame(0) = 0xff.toByte // sync
    frame(1) = 0xfb.toByte // MPEG1, layer III, no CRC
    frame(2) = 0x90.toByte // 128 kbps, 44100 Hz, pad 0
    frame(3) = 0x00 // stereo
    // a VBR ("Xing") header frame: same header, the tag at the
    // MPEG1-stereo side-info offset (4 + 32) — carries no audio
    val xing = frame.clone()
    "Xing".getBytes("US-ASCII").copyToArray(xing, 36)
    // ID3v2.4: the footer flag (0x10) declares a 10-byte "3DI"
    // trailer AFTER the tag whose bytes the syncsafe size EXCLUDES
    val id3 =
      if (!(id3v2 || id3v2Footer)) Array.emptyByteArray
      else "ID3".getBytes("US-ASCII") ++
        Array[Byte](4, 0, if (id3v2Footer) 0x10 else 0) ++
        Array[Byte](0, 0, 0, 20) ++ new Array[Byte](20) ++ // syncsafe 20
        (if (id3v2Footer)
          "3DI".getBytes("US-ASCII") ++ Array[Byte](4, 0, 0x10) ++
            Array[Byte](0, 0, 0, 20)
         else Array.emptyByteArray)
    val tag =
      if (!id3v1) Array.emptyByteArray
      else "TAG".getBytes("US-ASCII") ++ new Array[Byte](125)
    Array.concat(Seq(id3) ++ (if (vbrHeader) Seq(xing) else Nil) ++
      Seq.fill(nFrames)(frame) ++ Seq(tag): _*)
  }

  /** Deterministic FLAC STREAMINFO test vector (metadata only — no
    * audio frames follow, which is exactly what the metadata walk
    * must not care about). */
  def syntheticFlacMeta(sampleRate: Int, channels: Int, bps: Int,
      totalSamples: Long): Array[Byte] = {
    require(sampleRate > 0 && channels >= 1 && channels <= 8 &&
      bps >= 4 && bps <= 32 && totalSamples >= 0, "out-of-spec fields")
    val out = new Array[Byte](42)
    "fLaC".getBytes("US-ASCII").copyToArray(out)
    out(4) = 0x80.toByte // last block, type 0 (STREAMINFO)
    out(7) = 34 // block length
    // minblock/maxblock 4096, frame sizes 0 (unknown — legal)
    out(8) = 0x10; out(10) = 0x10
    val x = (sampleRate.toLong << 44) | ((channels - 1).toLong << 41) |
      ((bps - 1).toLong << 36) | totalSamples
    var i = 0
    while (i < 8) { out(18 + i) = ((x >>> (8 * (7 - i))) & 0xff).toByte; i += 1 }
    out
  }

  /** Shared ISO-BMFF byte-walk primitives (big-endian reads + the
    * bounds-checked length-prefixed sibling-box walk) used by
    * `VideoDecoder`, `KeyframeIndexer` and `Mp4FrameDecoder`. */
  private[operators] object Bmff {
    def u16(b: Array[Byte], off: Int): Int =
      ((b(off) & 0xff) << 8) | (b(off + 1) & 0xff)
    def u32(b: Array[Byte], off: Int): Long =
      ((b(off) & 0xffL) << 24) | ((b(off + 1) & 0xffL) << 16) |
        ((b(off + 2) & 0xffL) << 8) | (b(off + 3) & 0xffL)
    def u64(b: Array[Byte], off: Int): Long =
      (u32(b, off) << 32) | u32(b, off + 4)
    def fourcc(b: Array[Byte], off: Int): String =
      new String(b, off, 4, java.nio.charset.StandardCharsets.ISO_8859_1)

    /** Walk the sibling boxes in [start, end), calling f(type,
      * payloadStart, payloadEnd). Bounds-checked; a corrupt size field
      * ends the walk rather than looping or overrunning. */
    def walk(b: Array[Byte], start: Int, end: Int)(
        f: (String, Int, Int) => Unit): Unit = {
      var off = start
      while (off + 8 <= end) {
        val size32 = u32(b, off)
        val tpe = fourcc(b, off + 4)
        val (payload, boxEnd) =
          if (size32 == 1L && off + 16 <= end) (off + 16L, off + u64(b, off + 8))
          else if (size32 == 0L) (off + 8L, end.toLong) // box extends to EOF
          else (off + 8L, off + size32)
        if (boxEnd > end || boxEnd <= off || payload > boxEnd) return
        f(tpe, payload.toInt, boxEnd.toInt)
        off = boxEnd.toInt
      }
    }
  }

  /** Little-endian reads for the RIFF (AVI) and Ogg walks. */
  private object LittleEndian {
    def u16(b: Array[Byte], o: Int): Int =
      (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
    def u32(b: Array[Byte], o: Int): Long =
      (b(o) & 0xffL) | ((b(o + 1) & 0xffL) << 8) |
        ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24)
    def u64(b: Array[Byte], o: Int): Long = u32(b, o) | (u32(b, o + 4) << 32)
  }

  final case class VideoMeta(
    width: Int, height: Int, durationMs: Long, timescale: Long,
    videoTracks: Int, audioTracks: Int, brand: String,
    byteLen: Long, digest: String, ok: Boolean)

  /** Container-metadata decode seam — `FrameDecoder`'s shape applied
    * to the O(header) metadata tier: one method, one `VideoMeta`
    * result row, `ok = false` for payloads outside the decoder's
    * container (never an exception). `VideoDecoder` (ISO-BMFF) is
    * the default implementation; `EbmlVideoDecoder` covers the
    * WebM/Matroska half of web video, and `AutoVideoDecoder` tries
    * both for mixed corpora. */
  trait ContainerMetaDecoder extends Serializable {
    def decode(bytes: Array[Byte]): VideoMeta
  }

  /** Real video CONTAINER metadata for ISO-BMFF files (MP4/MOV/M4V —
    * the overwhelming majority of video in a web corpus). The box
    * structure is length-prefixed and codec-independent, so duration,
    * timescale, display dimensions and track census parse from a pure
    * byte walk: `ftyp` gives the major brand, `moov/mvhd` the movie
    * timescale + duration (v0 32-bit and v1 64-bit layouts both
    * handled), each `moov/trak/tkhd` its 16.16 fixed-point display
    * size, and `moov/trak/mdia/hdlr` classifies the track as video
    * (`vide`) or audio (`soun`). No frame is touched — O(header), the
    * same argument as `ImageDecoder`/`AudioDecoder` — and SAMPLE
    * decode (pixels) remains genuinely impossible without external
    * codecs, which is exactly what `sampleFrames`' stub stands in
    * for. Malformed/truncated/non-BMFF payloads come back
    * `ok = false`, never a task-killing exception. One instance per
    * task under `withVideoMeta`'s mapPartitions contract. */
  final class VideoDecoder extends ContainerMetaDecoder {
    private val md = java.security.MessageDigest.getInstance("SHA-256")
    import Bmff.{fourcc, u32, u64, walk}

    def decode(bytes: Array[Byte]): VideoMeta = {
      if (bytes == null || bytes.isEmpty)
        return VideoMeta(0, 0, 0L, 0L, 0, 0, "", 0L, "", ok = false)
      md.reset()
      val hex = hex8(md.digest(bytes))
      val fail = VideoMeta(0, 0, 0L, 0L, 0, 0, "", bytes.length.toLong, hex, ok = false)
      try {
        var brand = ""
        var timescale = 0L; var duration = 0L; var haveMvhd = false
        var w = 0; var h = 0; var vide = 0; var soun = 0
        walk(bytes, 0, bytes.length) {
          case ("ftyp", p, e) if e - p >= 4 => brand = fourcc(bytes, p)
          case ("moov", mp, me) => walk(bytes, mp, me) {
            case ("mvhd", p, e) if e - p >= 4 =>
              val v = bytes(p) & 0xff
              // v0: ver/flags, ctime(4), mtime(4), timescale(4), duration(4)
              // v1: ver/flags, ctime(8), mtime(8), timescale(4), duration(8)
              // v1 layout is 32 bytes up to and including duration
              // (ver/flags 4 + ctime 8 + mtime 8 + timescale 4 +
              // duration 8); 28 would read 4 bytes past the box end
              if (v == 1 && e - p >= 32) {
                timescale = u32(bytes, p + 20); duration = u64(bytes, p + 24)
                haveMvhd = true
              } else if (v == 0 && e - p >= 20) {
                timescale = u32(bytes, p + 12); duration = u32(bytes, p + 16)
                haveMvhd = true
              }
            case ("trak", tp, te) =>
              var isVide = false; var isSoun = false; var tw = 0; var th = 0
              walk(bytes, tp, te) {
                case ("tkhd", p, e) if e - p >= 8 =>
                  // width/height are the final two 16.16 fields in
                  // both the v0 (84-byte) and v1 (96-byte) layouts
                  tw = (u32(bytes, e - 8) >> 16).toInt
                  th = (u32(bytes, e - 4) >> 16).toInt
                case ("mdia", mdp, mde) => walk(bytes, mdp, mde) {
                  case ("hdlr", p, e) if e - p >= 12 =>
                    fourcc(bytes, p + 8) match {
                      case "vide" => isVide = true
                      case "soun" => isSoun = true
                      case _ => ()
                    }
                  case _ => ()
                }
                case _ => ()
              }
              if (isVide) { vide += 1
                // Long math: a 50000x50000 tkhd would overflow Int
                if (tw.toLong * th > w.toLong * h) { w = tw; h = th } }
              if (isSoun) soun += 1
            case _ => ()
          }
          case _ => ()
        }
        if (!haveMvhd) fail
        else {
          val durMs = if (timescale > 0) duration * 1000L / timescale else 0L
          VideoMeta(w, h, durMs, timescale, vide, soun, brand,
            bytes.length.toLong, hex, ok = true)
        }
      } catch { case scala.util.control.NonFatal(_) => fail }
    }
  }

  /** WebM / Matroska container metadata — the OTHER half of web
    * video, through the same O(header) argument as the ISO-BMFF
    * decoder: the EBML element layout (RFC 8794 + the public
    * Matroska element IDs) is length-prefixed and codec-independent,
    * so DocType, movie duration, the timestamp scale, pixel
    * dimensions and the track census parse from a pure byte walk —
    * no VP8/VP9/AV1 codec anywhere near it. Mapping onto the shared
    * `VideoMeta` shape:
    *  - `brand` = the EBML DocType ("webm" / "matroska");
    *  - `durationMs` = Segment Info Duration (a float, in timestamp-
    *    scale ticks) x TimestampScale (ns/tick, default 1,000,000) /
    *    1e6;
    *  - `timescale` = ticks per SECOND (1e9 / TimestampScale — 1000
    *    for the default 1 ms tick), aligning its meaning with the
    *    BMFF field;
    *  - width/height from the largest video track's
    *    PixelWidth/PixelHeight.
    * Unknown-size elements (live-stream Segments) extend to the end
    * of the parent, per spec. Non-EBML payloads, truncated headers
    * and absent Segment/Info come back `ok = false`, never a task
    * kill. */
  final class EbmlVideoDecoder extends ContainerMetaDecoder {
    private val md = java.security.MessageDigest.getInstance("SHA-256")

    // (value, byteLen); IDs keep the marker bit (the spec's notation
    // and the constants below include it), sizes strip it
    private def vint(b: Array[Byte], p: Int, end: Int,
        keepMarker: Boolean): (Long, Int) = {
      require(p < end, "vint past end")
      val first = b(p) & 0xff
      require(first != 0, "invalid EBML vint (>8 bytes)")
      val len = java.lang.Integer.numberOfLeadingZeros(first) - 23
      require(p + len <= end, "vint truncated")
      var v = if (keepMarker) first.toLong
        else (first & (0xff >>> len)).toLong
      var i = 1
      while (i < len) { v = (v << 8) | (b(p + i) & 0xffL); i += 1 }
      (v, len)
    }

    private def walkEbml(b: Array[Byte], start: Int, end: Int)(
        f: (Long, Int, Int) => Unit): Unit = {
      var p = start
      while (p < end) {
        val (id, il) = vint(b, p, end, keepMarker = true)
        val (sz, sl) = vint(b, p + il, end, keepMarker = false)
        val ds = p + il + sl
        // all-ones size = unknown: element extends to the parent's end
        val unknown = sz == (1L << (7 * sl)) - 1
        val de = if (unknown) end.toLong else ds.toLong + sz
        require(de >= ds && de <= end, "EBML element overruns parent")
        f(id, ds, de.toInt)
        p = de.toInt
      }
    }

    private def uintOf(b: Array[Byte], s: Int, e: Int): Long = {
      var v = 0L
      var i = s
      while (i < e) { v = (v << 8) | (b(i) & 0xffL); i += 1 }
      v
    }
    private def floatOf(b: Array[Byte], s: Int, e: Int): Double =
      if (e - s == 4)
        java.lang.Float.intBitsToFloat(uintOf(b, s, e).toInt).toDouble
      else if (e - s == 8) java.lang.Double.longBitsToDouble(uintOf(b, s, e))
      else 0.0

    def decode(bytes: Array[Byte]): VideoMeta = {
      if (bytes == null || bytes.isEmpty)
        return VideoMeta(0, 0, 0L, 0L, 0, 0, "", 0L, "", ok = false)
      md.reset()
      val hex = hex8(md.digest(bytes))
      val fail = VideoMeta(0, 0, 0L, 0L, 0, 0, "", bytes.length.toLong,
        hex, ok = false)
      // the container sniff: EBML header magic, before any walk
      if (bytes.length < 4 || (bytes(0) & 0xff) != 0x1A ||
        (bytes(1) & 0xff) != 0x45 || (bytes(2) & 0xff) != 0xDF ||
        (bytes(3) & 0xff) != 0xA3) return fail
      try {
        var docType = ""
        var tsScale = 1000000L // the spec default: 1 ms ticks
        var durTicks = 0.0
        var sawInfo = false
        var sawSegment = false
        var w = 0; var h = 0; var vide = 0; var soun = 0
        walkEbml(bytes, 0, bytes.length) {
          case (0x1A45DFA3L, hs, he) => walkEbml(bytes, hs, he) {
            case (0x4282L, s, e) => // DocType
              docType = new String(bytes, s, e - s, "US-ASCII")
            case _ => ()
          }
          case (0x18538067L, ss, se) => // Segment
            sawSegment = true
            walkEbml(bytes, ss, se) {
              case (0x1549A966L, is, ie) => // Info
                sawInfo = true
                walkEbml(bytes, is, ie) {
                  case (0x2AD7B1L, s, e) => tsScale = uintOf(bytes, s, e)
                  case (0x4489L, s, e) => durTicks = floatOf(bytes, s, e)
                  case _ => ()
                }
              case (0x1654AE6BL, ts, te) => // Tracks
                walkEbml(bytes, ts, te) {
                  case (0xAEL, es, ee) => // TrackEntry
                    var typ = 0L; var tw = 0; var th = 0
                    walkEbml(bytes, es, ee) {
                      case (0x83L, s, e) => typ = uintOf(bytes, s, e)
                      case (0xE0L, vs, ve) => walkEbml(bytes, vs, ve) {
                        case (0xB0L, s, e) => tw = uintOf(bytes, s, e).toInt
                        case (0xBAL, s, e) => th = uintOf(bytes, s, e).toInt
                        case _ => ()
                      }
                      case _ => ()
                    }
                    if (typ == 1L) { vide += 1
                      if (tw.toLong * th > w.toLong * h) { w = tw; h = th } }
                    if (typ == 2L) soun += 1
                  case _ => ()
                }
              case _ => ()
            }
          case _ => ()
        }
        if (!sawSegment || !sawInfo || tsScale <= 0L) fail
        else VideoMeta(w, h,
          math.rint(durTicks * tsScale / 1e6).toLong,
          math.rint(1e9 / tsScale).toLong, vide, soun, docType,
          bytes.length.toLong, hex, ok = true)
      } catch { case scala.util.control.NonFatal(_) => fail }
    }
  }

  private def ebmlUint(v: Long): Array[Byte] = {
    val len = math.max(1, (71 - java.lang.Long.numberOfLeadingZeros(v)) / 8)
    Array.tabulate(len)(i => ((v >>> (8 * (len - 1 - i))) & 0xff).toByte)
  }
  /** One EBML element, hand-assembled against RFC 8794 (no library
    * writer): the ID's own bytes (IDs carry their length marker), a
    * minimal-length size vint, then the payload. */
  private[operators] def ebmlElem(id: Long, payload: Array[Byte]*): Array[Byte] = {
    val pl = Array.concat(payload: _*)
    val idb = ebmlUint(id)
    var len = 1
    while (pl.length >= (1L << (7 * len)) - 1) len += 1
    val marked = pl.length.toLong | (1L << (7 * len))
    val sz = Array.tabulate(len)(i =>
      ((marked >>> (8 * (len - 1 - i))) & 0xff).toByte)
    Array.concat(idb, sz, pl)
  }

  /** Deterministic WebM/Matroska METADATA test vector: EBML header
    * (DocType) + Segment{Info{TimestampScale, Duration(float64)},
    * Tracks{video TrackEntry (TrackType 1, CodecID, Video{PixelWidth,
    * PixelHeight}) + `audioTracks` audio entries}}. CodecIDs are
    * present for layout realism but the metadata walk never reads
    * them — pixels are exactly what this tier does NOT touch. */
  def syntheticWebmMeta(width: Int, height: Int, durationTicks: Double,
      tsScaleNs: Long = 1000000L, docType: String = "webm",
      audioTracks: Int = 1): Array[Byte] = {
    require(width > 0 && height > 0 && tsScaleNs > 0, "positive dims/scale")
    val header = ebmlElem(0x1A45DFA3L,
      ebmlElem(0x4282L, docType.getBytes("US-ASCII")))
    val info = ebmlElem(0x1549A966L,
      ebmlElem(0x2AD7B1L, ebmlUint(tsScaleNs)),
      ebmlElem(0x4489L, Array.tabulate(8)(i =>
        ((java.lang.Double.doubleToLongBits(durationTicks) >>>
          (8 * (7 - i))) & 0xff).toByte)))
    val vTrack = ebmlElem(0xAEL,
      ebmlElem(0x83L, Array(1.toByte)),
      ebmlElem(0x86L, "V_VP9".getBytes("US-ASCII")),
      ebmlElem(0xE0L,
        ebmlElem(0xB0L, ebmlUint(width.toLong)),
        ebmlElem(0xBAL, ebmlUint(height.toLong))))
    val aTracks = (0 until audioTracks).map(_ => ebmlElem(0xAEL,
      ebmlElem(0x83L, Array(2.toByte)),
      ebmlElem(0x86L, "A_OPUS".getBytes("US-ASCII"))))
    val tracks = ebmlElem(0x1654AE6BL, (vTrack +: aTracks): _*)
    Array.concat(header, ebmlElem(0x18538067L, info, tracks))
  }

  /** Mixed-corpus metadata decode: ISO-BMFF first, then EBML — the
    * `firstOf` device for the metadata tier (each decoder's sniff is
    * cheap and exact, so order is taste). */
  final class AutoVideoDecoder extends ContainerMetaDecoder {
    private val chain = Seq(new VideoDecoder, new EbmlVideoDecoder)
    def decode(bytes: Array[Byte]): VideoMeta =
      firstOk(chain)(_.decode(bytes))(_.ok)
  }

  /** Attach parsed video-container metadata to a binary column —
    * the video twin of `withMediaMeta`, same once-per-task decoder
    * lifecycle; only the small meta struct ever shuffles. Default is
    * the ISO-BMFF walk; pass `() => new EbmlVideoDecoder` for
    * WebM/Matroska or `() => new AutoVideoDecoder` for mixed
    * corpora. */
  def withVideoMeta(df: DataFrame, binaryCol: String, outCol: String = "video",
      decoderFactory: () => ContainerMetaDecoder = () => new VideoDecoder)(
      implicit spark: SparkSession): DataFrame =
    decodePass("withVideoMeta", df, binaryCol,
      fields(outCol -> Encoders.product[VideoMeta].schema))(decoderFactory)(
      (d, b) => one(Row.fromTuple(d.decode(b))))

  final case class KeyframeEntry(sampleNum: Int, offset: Long, size: Long)
  final case class TrackKeyframeIndex(
    trackId: Long, nSamples: Int, nKeyframes: Int, keyframes: Vector[KeyframeEntry])

  /** ISO-BMFF keyframe index from the sample tables — NO codec
    * involved, pure public-spec box walk (ISO/IEC 14496-12 §8.6/8.7):
    * `stss` lists the sync (key) sample numbers (absent = every sample
    * is sync), `stsz` the per-sample byte sizes (or one fixed size),
    * `stsc` maps sample runs to chunks, and `stco`/`co64` the absolute
    * chunk byte offsets. Composing them yields each keyframe's exact
    * byte offset + size in the file, so video frame SAMPLING becomes a
    * plan over (offset, size) byte ranges — real and testable even
    * though frame pixel DECODE still has no JDK codec. Only `vide`
    * tracks are indexed (audio tracks would report every sample as a
    * keyframe). Malformed payloads yield an empty index, never a
    * task-killing exception. */
  final class KeyframeIndexer extends Serializable {
    import Bmff.{fourcc, u32, u64, walk}

    def index(bytes: Array[Byte]): Vector[TrackKeyframeIndex] = {
      if (bytes == null || bytes.isEmpty) return Vector.empty
      val out = Vector.newBuilder[TrackKeyframeIndex]
      try {
        walk(bytes, 0, bytes.length) {
          case ("moov", mp, me) => walk(bytes, mp, me) {
            case ("trak", tp, te) =>
              var trackId = 0L; var isVide = false
              var stss: Array[Int] = null       // sync sample numbers, 1-based
              var sizes: Array[Long] = null; var fixedSize = 0L; var nSamples = 0
              var stsc: Array[(Long, Long)] = null // (first_chunk, samples_per_chunk)
              var chunkOffsets: Array[Long] = null
              walk(bytes, tp, te) {
                case ("tkhd", p, e) if e - p >= 24 =>
                  // v0: ver/flags, ctime(4), mtime(4), track_id(4)
                  // v1: ver/flags, ctime(8), mtime(8), track_id(4)
                  trackId = if ((bytes(p) & 0xff) == 1) u32(bytes, p + 20)
                            else u32(bytes, p + 12)
                case ("mdia", mdp, mde) => walk(bytes, mdp, mde) {
                  case ("hdlr", p, e) if e - p >= 12 =>
                    if (fourcc(bytes, p + 8) == "vide") isVide = true
                  case ("minf", mfp, mfe) => walk(bytes, mfp, mfe) {
                    case ("stbl", sp, se) => walk(bytes, sp, se) {
                      case ("stss", p, e) if e - p >= 8 =>
                        val n = u32(bytes, p + 4).toInt
                        if (n >= 0 && p + 8 + 4L * n <= e)
                          stss = Array.tabulate(n)(i => u32(bytes, p + 8 + 4 * i).toInt)
                      case ("stsz", p, e) if e - p >= 12 =>
                        fixedSize = u32(bytes, p + 4)
                        nSamples = u32(bytes, p + 8).toInt
                        if (fixedSize == 0L && nSamples >= 0 && p + 12 + 4L * nSamples <= e)
                          sizes = Array.tabulate(nSamples)(i => u32(bytes, p + 12 + 4 * i))
                      case ("stsc", p, e) if e - p >= 8 =>
                        val n = u32(bytes, p + 4).toInt
                        if (n >= 0 && p + 8 + 12L * n <= e)
                          stsc = Array.tabulate(n)(i =>
                            (u32(bytes, p + 8 + 12 * i), u32(bytes, p + 12 + 12 * i)))
                      case ("stco", p, e) if e - p >= 8 =>
                        val n = u32(bytes, p + 4).toInt
                        if (n >= 0 && p + 8 + 4L * n <= e)
                          chunkOffsets = Array.tabulate(n)(i => u32(bytes, p + 8 + 4 * i))
                      case ("co64", p, e) if e - p >= 8 =>
                        val n = u32(bytes, p + 4).toInt
                        if (n >= 0 && p + 8 + 8L * n <= e)
                          chunkOffsets = Array.tabulate(n)(i => u64(bytes, p + 8 + 8 * i))
                      case _ => ()
                    }
                    case _ => ()
                  }
                  case _ => ()
                }
                case _ => ()
              }
              if (isVide && nSamples > 0 && stsc != null && stsc.nonEmpty &&
                  chunkOffsets != null && chunkOffsets.nonEmpty &&
                  (sizes != null || fixedSize > 0L)) {
                def sizeOf(sample1: Int): Long =
                  if (sizes != null) sizes(sample1 - 1) else fixedSize
                val syncSet: java.util.BitSet = {
                  val bs = new java.util.BitSet(nSamples + 1)
                  if (stss != null) stss.foreach(s => if (s >= 1 && s <= nSamples) bs.set(s))
                  else bs.set(1, nSamples + 1) // no stss: every sample is sync
                  bs
                }
                // walk chunks in order, accumulating each sample's byte
                // offset from its chunk base — one O(nSamples) pass
                val kf = Vector.newBuilder[KeyframeEntry]
                var sample = 1; var ci = 0; var entry = 0
                while (ci < chunkOffsets.length && sample <= nSamples) {
                  // advance to the stsc run covering chunk ci+1 (1-based)
                  while (entry + 1 < stsc.length && stsc(entry + 1)._1 <= ci + 1) entry += 1
                  val spc = stsc(entry)._2.toInt
                  var off = chunkOffsets(ci)
                  var j = 0
                  while (j < spc && sample <= nSamples) {
                    if (syncSet.get(sample)) kf += KeyframeEntry(sample, off, sizeOf(sample))
                    off += sizeOf(sample)
                    sample += 1; j += 1
                  }
                  ci += 1
                }
                out += TrackKeyframeIndex(trackId, nSamples, syncSet.cardinality(), kf.result())
              }
            case _ => ()
          }
          case _ => ()
        }
      } catch { case scala.util.control.NonFatal(_) => () }
      out.result()
    }
  }

  /** One output row per sampled keyframe per VIDEO track — up to
    * `nFrames` evenly spaced keyframes from the `KeyframeIndexer`
    * walk, each with its exact byte offset + size: the frame-sampling
    * plan a downstream (external-codec) decode stage consumes as byte
    * ranges. With `withBytes = true` each row ALSO carries the
    * keyframe's raw coded bytes (`frame_bytes`, sliced from the
    * payload while it is already in memory — in-bounds ranges only),
    * so the handoff to an external decoder is the per-frame payload
    * itself, not a (file, offset) pair; leave it false when only the
    * plan is needed — frame bytes multiply the shuffled volume. Same
    * mapPartitions contract as the other decoders: the indexer is
    * built once per task, rows multiply map-side before any shuffle,
    * and non-BMFF/malformed payloads emit zero rows. */
  def sampleKeyframes(df: DataFrame, binaryCol: String, nFrames: Int,
      withBytes: Boolean = false)(
      implicit spark: SparkSession): DataFrame = {
    require(nFrames > 0, s"nFrames must be positive, got $nFrames")
    val out = fields("track_id" -> LongType, "n_samples" -> IntegerType,
      "n_keyframes" -> IntegerType, "sample_n" -> IntegerType,
      "byte_offset" -> LongType, "byte_size" -> LongType) ++
      (if (withBytes) fields("frame_bytes" -> BinaryType) else Nil)
    decodePass("sampleKeyframes", df, binaryCol, out)(() => new KeyframeIndexer) {
      (indexer, b) => indexer.index(b).iterator.flatMap { t =>
        val ks = t.keyframes
        evenPick(ks.length, nFrames).iterator.map { i =>
          val k = ks(i)
          if (!withBytes)
            (t.trackId, t.nSamples, t.nKeyframes, k.sampleNum, k.offset, k.size)
          else {
            // a truncated file can index beyond the payload: null
            // bytes rather than a slice of the wrong region. The
            // subtraction form cannot overflow (a crafted co64
            // offset near Long.MaxValue would wrap `offset + size`
            // and sneak past an addition-form check)
            val bytes =
              if (k.offset >= 0 && k.size > 0 && k.size <= b.length &&
                  k.offset <= b.length - k.size)
                java.util.Arrays.copyOfRange(b, k.offset.toInt, (k.offset + k.size).toInt)
              else null
            (t.trackId, t.nSamples, t.nKeyframes, k.sampleNum, k.offset, k.size,
              bytes)
          }
        }
      }
    }
  }

  /** Attach parsed audio metadata to a binary column — the audio twin
    * of `withMediaMeta`, same once-per-task decoder lifecycle. */
  def withAudioMeta(df: DataFrame, binaryCol: String, outCol: String = "audio",
      decoderFactory: () => AudioMetaDecoder = () => new AudioDecoder)(
      implicit spark: SparkSession): DataFrame =
    decodePass("withAudioMeta", df, binaryCol,
      fields(outCol -> Encoders.product[AudioMeta].schema))(decoderFactory)(
      (d, b) => one(Row.fromTuple(d.decode(b))))

  // ------------------------------------------------------------------
  // The PCM decode seam — the audio twin of `FrameDecoder`: every
  // audio signal consumer (sample features, whole-clip fingerprint,
  // segment fingerprints — and therefore the near-dup tiers, the
  // standing indexes and the prep facade) reads channel-mean samples
  // through this interface, with the JDK `javax.sound.sampled` chain
  // (WAV/AIFF/AU; PCM/µ-law/A-law) as the default implementation.
  // The JDK ships no MP3/AAC/Opus codec; with the seam, an external
  // one (JNI/FFmpeg, a pure-Scala Vorbis…) plugs into the WHOLE audio
  // stack without forking any tier logic — the exact argument the
  // FrameDecoder seam makes for MP4/WebM video.
  // ------------------------------------------------------------------

  /** Opens an audio payload, or `None` when the container/codec is
    * not recognized (the combinator `PcmDecoders.firstOf` chains
    * decoders on exactly that contract). Implementations must be
    * cheap to construct and serializable — one instance is shared by
    * a whole task (the once-per-task `mapPartitions` contract), and
    * `open` is called once per row. */
  trait PcmDecoder extends Serializable {
    def open(bytes: Array[Byte]): Option[OpenedPcm]
  }

  /** One opened payload: a forward cursor over CHANNEL-MEAN samples
    * in [-1, 1]. `declaredFrames` is the container's declared frame
    * count (-1 when unknown) — the fingerprint consumers trust it
    * for window geometry and refuse payloads that truncate before
    * it, so implementations must not guess. For the fingerprints'
    * cross-engine replay contract to carry (see
    * `AudioFingerprinter`), emitted samples should be exact binary
    * fractions (the JDK impl emits 16-bit-PCM/32768 channel means);
    * that is an oracle-replayability property, not a correctness
    * requirement. */
  trait OpenedPcm {
    def declaredFrames: Long
    /** Frames per second; <= 0 when unknown (duration reports 0). */
    def frameRate: Double
    /** Fill `out(0 until n)` with the next channel-mean samples;
      * returns frames delivered, 0 at end of stream. */
    def read(out: Array[Double], n: Int): Int
    def close(): Unit
  }

  /** The default decoder: the JDK codec chain converted to signed
    * 16-bit PCM (so µ-law/A-law/8-bit WAV and AIFF all work),
    * channels mixed by per-frame mean — numerically IDENTICAL to the
    * pre-seam inline loops (acc/ch/32768), so every pinned
    * fingerprint replays unchanged. Unrecognized or unconvertible
    * payloads open as None. */
  object JdkPcmDecoder extends PcmDecoder {
    def open(bytes: Array[Byte]): Option[OpenedPcm] = {
      if (bytes == null || bytes.isEmpty) return None
      try {
        val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(bytes))
        try {
          val src = in.getFormat
          val target = new javax.sound.sampled.AudioFormat(
            javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
            src.getSampleRate, 16, src.getChannels,
            src.getChannels * 2, src.getSampleRate, false)
          val pcm = javax.sound.sampled.AudioSystem
            .getAudioInputStream(target, in)
          val ch = target.getChannels
          val frameBytes = ch * 2
          Some(new OpenedPcm {
            private val buf = new Array[Byte](frameBytes * 4096)
            val declaredFrames: Long = in.getFrameLength
            val frameRate: Double = src.getFrameRate.toDouble
            def read(out: Array[Double], n: Int): Int = {
              val want = math.min(n, buf.length / frameBytes) * frameBytes
              val got = pcm.read(buf, 0, want)
              if (got <= 0) 0
              else {
                var off = 0
                var i = 0
                while (off + frameBytes <= got) {
                  var c = 0
                  var acc = 0.0
                  while (c < ch) {
                    val lo = buf(off + c * 2) & 0xff
                    val hi = buf(off + c * 2 + 1).toInt
                    acc += ((hi << 8) | lo).toShort.toDouble
                    c += 1
                  }
                  out(i) = acc / ch / 32768.0
                  off += frameBytes
                  i += 1
                }
                i
              }
            }
            def close(): Unit = { pcm.close(); in.close() }
          })
        } catch {
          case scala.util.control.NonFatal(e) => in.close(); throw e
        }
      } catch { case scala.util.control.NonFatal(_) => None }
    }
  }

  /** The second REAL container through the seam — Apple Core Audio
    * Format (CAF, public "CAFFileFormat" layout), which the JDK codec
    * chain does not read: 'caff' magic + version, then (fourcc,
    * signed-64 size) chunks; 'desc' declares the codec, 'data'
    * carries editCount + interleaved samples. Decoded subset, chosen
    * for honesty like AviFrameDecoder's: LPCM integer 16-bit (the
    * 'lpcm' formatID with the float flag clear), interleaved packed
    * frames, either endianness — LOSSLESS, so the channel-mean
    * arithmetic (and therefore every fingerprint and the DuckDB
    * oracle replay) is identical to the WAV path's. Anything else —
    * float/24-bit lpcm, alac/aac, fractional packets, a data chunk
    * before desc — opens as None rather than a guess. A data size of
    * -1 (stream-recorded CAF: "until EOF") resolves to the remaining
    * bytes, per the spec. */
  object CafPcmDecoder extends PcmDecoder {
    import Bmff.{fourcc, u16, u32, u64}

    def open(bytes: Array[Byte]): Option[OpenedPcm] = {
      if (bytes == null || bytes.length < 12 || fourcc(bytes, 0) != "caff" ||
          u16(bytes, 4) != 1) return None
      try {
        var off = 8
        var rate = 0.0
        var ch = 0
        var littleEndian = false
        var haveDesc = false
        var dataOff = -1
        var dataLen = 0L
        while (off + 12 <= bytes.length && dataOff < 0) {
          val ctype = fourcc(bytes, off)
          val csize = u64(bytes, off + 4)
          val body = off + 12
          ctype match {
            case "desc" =>
              if (csize < 32 || body + 32 > bytes.length) return None
              rate = java.lang.Double.longBitsToDouble(u64(bytes, body))
              val formatId = fourcc(bytes, body + 8)
              val flags = u32(bytes, body + 12)
              val bytesPerPacket = u32(bytes, body + 16)
              val framesPerPacket = u32(bytes, body + 20)
              ch = u32(bytes, body + 24).toInt
              val bits = u32(bytes, body + 28)
              // the honest subset: integer 16-bit interleaved LPCM
              if (formatId != "lpcm" || (flags & 1L) != 0 || bits != 16 ||
                  ch < 1 || framesPerPacket != 1 ||
                  bytesPerPacket != 2L * ch) return None
              littleEndian = (flags & 2L) != 0
              haveDesc = true
            case "data" =>
              if (!haveDesc) return None // desc must precede data
              if (body + 4 > bytes.length) return None
              // skip the u32 editCount; -1 size means "to EOF"
              val audio = body + 4
              dataOff = audio
              dataLen =
                if (csize == -1L) (bytes.length - audio).toLong
                else csize - 4
              if (dataLen < 0 || audio + dataLen > bytes.length) return None
            case _ =>
              if (csize < 0) return None // only data may be unsized
          }
          if (dataOff < 0) {
            if (csize < 0 || csize > bytes.length) return None
            off = body + csize.toInt
          }
        }
        if (dataOff < 0) return None
        val frameBytes = 2 * ch
        val nFrames = dataLen / frameBytes
        val channels = ch
        val le = littleEndian
        val start = dataOff
        val r = rate
        Some(new OpenedPcm {
          private var pos = 0L
          val declaredFrames: Long = nFrames
          val frameRate: Double = r
          def read(out: Array[Double], want: Int): Int = {
            var i = 0
            while (i < want && pos < nFrames) {
              val off0 = start + (pos * frameBytes).toInt
              var c = 0
              var acc = 0.0
              while (c < channels) {
                val o = off0 + c * 2
                val s =
                  if (le) (((bytes(o + 1) & 0xff) << 8) | (bytes(o) & 0xff)).toShort
                  else (((bytes(o) & 0xff) << 8) | (bytes(o + 1) & 0xff)).toShort
                acc += s.toDouble
                c += 1
              }
              out(i) = acc / channels / 32768.0
              i += 1
              pos += 1
            }
            i
          }
          def close(): Unit = ()
        })
      } catch { case scala.util.control.NonFatal(_) => None }
    }
  }

  object PcmDecoders {
    /** Mixed-corpus combinator, `FrameDecoders.firstOf`'s audio twin:
      * the first decoder whose `open` accepts the payload wins, so a
      * WAV and a CAF (or, with a plugged codec, an MP3) of the same
      * samples fingerprint — and near-dup — identically. */
    def firstOf(decoders: PcmDecoder*): PcmDecoder = {
      val first = firstOpen(decoders)(_.open(_))
      new PcmDecoder { def open(bytes: Array[Byte]): Option[OpenedPcm] = first(bytes) }
    }
  }

  final case class AudioFeatures(
    rms: Double, peak: Double, zcr: Double, durationSec: Double,
    framesRead: Long, ok: Boolean)

  /** REAL audio sample features (JDK `javax.sound.sampled` decode —
    * no external codec): RMS energy and peak amplitude (normalized to
    * [0, 1] full scale) and mean zero-crossing rate (crossings per
    * sample — the classic cheap voicing/pitch proxy; a pure A-Hz tone
    * reads 2·A/sampleRate). The payload converts through the JDK's
    * codec chain to signed 16-bit PCM (so μ-law/A-law/8-bit WAV and
    * AIFF all work), channels mix by averaging per frame, and the
    * sample read is CAPPED at `maxFrames` (front window) so one
    * pathological file cannot stall a task — `framesRead` reports the
    * cap honestly while `durationSec` still comes from the header's
    * full frame count. Undecodable or non-PCM-convertible payloads
    * come back ok = false, never a task failure. */
  final class AudioFeatureExtractor(maxFrames: Long,
      decoder: PcmDecoder = JdkPcmDecoder) extends Serializable {
    def extract(bytes: Array[Byte]): AudioFeatures = {
      val fail = AudioFeatures(0.0, 0.0, 0.0, 0.0, 0L, ok = false)
      val opened = try decoder.open(bytes) catch {
        case scala.util.control.NonFatal(_) => None
      }
      opened match {
        case None => fail
        case Some(pcm) =>
          try {
            val totalFrames = pcm.declaredFrames
            val dur =
              if (pcm.frameRate > 0 && totalFrames >= 0)
                totalFrames / pcm.frameRate
              else 0.0
            val out = new Array[Double](4096)
            var frames = 0L
            var sumSq = 0.0
            var peak = 0.0
            var crossings = 0L
            var lastSign = 0
            var eof = false
            while (!eof && frames < maxFrames) {
              val remaining = maxFrames - frames
              val want =
                if (remaining >= out.length) out.length else remaining.toInt
              val n = pcm.read(out, want)
              if (n <= 0) eof = true
              else {
                var i = 0
                while (i < n) {
                  val s = out(i)
                  sumSq += s * s
                  val a = math.abs(s)
                  if (a > peak) peak = a
                  val sign = if (s > 0) 1 else if (s < 0) -1 else lastSign
                  if (sign != 0 && lastSign != 0 && sign != lastSign) crossings += 1
                  if (sign != 0) lastSign = sign
                  i += 1
                  frames += 1
                }
              }
            }
            if (frames == 0) fail
            else AudioFeatures(
              math.sqrt(sumSq / frames), peak,
              crossings.toDouble / frames, dur, frames, ok = true)
          } catch { case scala.util.control.NonFatal(_) => fail }
          finally pcm.close()
      }
    }
  }

  /** Attach `outCol` = the AudioFeatures struct — same once-per-task
    * mapPartitions contract as the other decoders; only the small
    * feature struct ever shuffles. */
  def withAudioFeatures(df: DataFrame, binaryCol: String,
      outCol: String = "audio_features", maxFrames: Long = 1L << 22,
      decoder: PcmDecoder = JdkPcmDecoder)(
      implicit spark: SparkSession): DataFrame = {
    require(maxFrames >= 1, s"maxFrames must be >= 1, got $maxFrames")
    decodePass("withAudioFeatures", df, binaryCol,
      fields(outCol -> Encoders.product[AudioFeatures].schema))(
      () => new AudioFeatureExtractor(maxFrames, decoder))(
      (ex, b) => one(Row.fromTuple(ex.extract(b))))
  }

  /** 64-bit deterministic audio fingerprint over REAL PCM decode —
    * the audio twin of the image dHash, shaped for the SAME hash
    * near-dup stack (`Dedup.hashNearDupPairs` / `hashBandIndex` /
    * `hashNearDupFilterAgainst`): the decoded signal splits into 65
    * equal-length energy windows (banded envelope) and bit i records
    * "window i+1 louder than window i" (sign-of-delta over the
    * energy envelope — the classic acoustic-fingerprint primitive).
    * Like dHash it is IDENTICAL across containers of the same
    * samples (WAV vs AIFF vs AU, μ-law vs linear after the JDK codec
    * chain) and amplitude-ordering-stable under mild edits, so audio
    * near-dup search is `Dedup.hashNearDupPairs` over this column.
    *
    * Determinism contract (what makes q128's cross-engine oracle
    * replay possible): samples convert to signed 16-bit PCM; window
    * energy is the sequential sum of (sample/32768)², values that
    * are exact multiples of 2⁻³⁰ ≤ 1, so for windows up to 2²³
    * frames every partial sum is exactly representable in a double —
    * the bit comparisons are EXACT integer-sum comparisons, not
    * float-tolerance ones (for multi-channel input the per-frame
    * channel mean is exact at power-of-two channel counts; mono and
    * stereo, i.e. the usual cases, replay exactly). Windows derive
    * from the container's DECLARED frame count (min'd with
    * `maxFrames`, floor-divided by 65; the ragged tail is ignored):
    * payloads shorter than 65 frames, containers that don't declare
    * a frame count, payloads that truncate before the declared
    * length, and undecodable bytes all fingerprint NULL — the hash
    * stack keeps nulls and never pairs them, the same
    * undecodable-payload rule as images. */
  final class AudioFingerprinter(maxFrames: Long,
      decoder: PcmDecoder = JdkPcmDecoder) extends Serializable {
    def fingerprint64(bytes: Array[Byte]): java.lang.Long = {
      val opened = try decoder.open(bytes) catch {
        case scala.util.control.NonFatal(_) => None
      }
      opened match {
        case None => null
        case Some(pcm) =>
          try {
            val total = pcm.declaredFrames
            if (total < 65) return null // includes unknown length (-1)
            val usable = math.min(total, maxFrames)
            val wl = usable / 65
            val limit = wl * 65
            val energies = new Array[Double](65)
            val out = new Array[Double](4096)
            var frames = 0L
            var eof = false
            while (!eof && frames < limit) {
              val remaining = limit - frames
              val want =
                if (remaining >= out.length) out.length else remaining.toInt
              val n = pcm.read(out, want)
              if (n <= 0) eof = true
              else {
                var i = 0
                while (i < n) {
                  val s = out(i)
                  energies((frames / wl).toInt) += s * s
                  i += 1
                  frames += 1
                }
              }
            }
            if (frames < limit) return null // header declared more than decoded
            var h = 0L
            var i = 0
            while (i < 64) {
              if (energies(i + 1) > energies(i)) h |= 1L << i
              i += 1
            }
            java.lang.Long.valueOf(h)
          } catch { case scala.util.control.NonFatal(_) => null }
          finally pcm.close()
      }
    }
  }

  /** Attach the 64-bit audio fingerprint to a binary audio column —
    * same once-per-task mapPartitions contract as the other decoders;
    * only the 8-byte fingerprint ever shuffles. */
  def withAudioFingerprint(df: DataFrame, binaryCol: String,
      outCol: String = "audio_fp", maxFrames: Long = 1L << 22,
      decoder: PcmDecoder = JdkPcmDecoder)(
      implicit spark: SparkSession): DataFrame = {
    require(maxFrames >= 65, s"maxFrames must be >= 65 (one frame per window), got $maxFrames")
    decodePass("withAudioFingerprint", df, binaryCol, fields(outCol -> LongType))(
      () => new AudioFingerprinter(maxFrames, decoder))(
      (fp, b) => one(fp.fingerprint64(b)))
  }

  /** Audio near-dup pairs, the audio twin of `imageNearDupPairs`:
    * REAL PCM decode → 64-bit envelope fingerprint
    * (`withAudioFingerprint`, once-per-task decoder, only the 8-byte
    * fingerprint shuffles) → Hamming-banded pair expansion
    * (`Dedup.hashNearDupPairs` — the SAME band-keyed, hot-capped,
    * never-all-pairs plan SimHash text dedup and image dHash use).
    * At the default `maxHamming = 3`, pigeonhole over the four
    * 16-bit bands makes recall EXACT for pairs whose shared band
    * survives the hot-band cap. Undecodable / too-short payloads
    * fingerprint null and never pair. Returns (id_a, id_b, hamming). */
  def audioNearDupPairs(df: DataFrame, binaryCol: String, idCol: String,
      maxHamming: Int = 3, maxBucket: Int = HotKeys.DefaultBucketCap,
      decoder: PcmDecoder = JdkPcmDecoder)(
      implicit spark: SparkSession): DataFrame = {
    require(!df.columns.contains("_mm_afp"),
      "input column _mm_afp collides with audioNearDupPairs' working name")
    Dedup.hashNearDupPairs(
      withAudioFingerprint(df, binaryCol, "_mm_afp", decoder = decoder),
      "_mm_afp", idCol, maxHamming, maxBucket,
      metricName = "graft_audio_band_cap")
  }

  /** The one decode pass under every per-payload operator in this
    * file. In order: refuse an output name the input already has
    * (naming `caller`), require `binaryCol` to be BINARY, append `out`
    * to the input schema, and run one `mapPartitions` in which
    * `newState` builds the task's decoder ONCE and `emit` turns each
    * payload (null for a null cell) into zero or more value tuples,
    * each appended to a copy of its input row. */
  private def decodePass[S](caller: String, df: DataFrame, binaryCol: String,
      out: Seq[StructField])(newState: () => S)(
      emit: (S, Array[Byte]) => IterableOnce[Product]): DataFrame = {
    val clash = out.map(_.name).filter(df.columns.contains)
    require(clash.isEmpty, s"input columns ${clash.mkString(", ")} collide " +
      s"with $caller's outputs (${out.map(_.name).mkString("/")})")
    val field = df.schema(binaryCol)
    if (field.dataType != BinaryType)
      throw new IllegalArgumentException(
        s"column '$binaryCol' must be BINARY, found ${field.dataType.sql} — " +
          "decoding a non-binary column would fabricate plausible-looking metadata")
    val idx = df.schema.fieldIndex(binaryCol)
    df.mapPartitions { it =>
      val state = newState() // once per task — the contract
      it.flatMap { r =>
        val payload = r.get(idx) match {
          case b: Array[Byte] => b
          case null => null
          case other => throw new IllegalArgumentException(
            s"expected binary payload, found ${other.getClass.getName}")
        }
        emit(state, payload).iterator.map(vs =>
          Row.fromSeq(r.toSeq ++ vs.productIterator))
      }
    }(Encoders.row(StructType(df.schema.fields ++ out)))
  }

  /** Nullable output fields, in order. */
  private def fields(fs: (String, DataType)*): Seq[StructField] =
    fs.map { case (n, t) => StructField(n, t) }

  /** The single value tuple of a one-row-per-payload pass. */
  private def one(v: Any): Iterator[Product] = Iterator.single(Tuple1(v))

  private def sha256(): java.security.MessageDigest =
    java.security.MessageDigest.getInstance("SHA-256")

  /** Attach decoded metadata to a binary column. Runs as a
    * per-partition map: `decoderFactory` is invoked once per task, so
    * a real decoder's native context is created once per partition,
    * not once per row. */
  def withMediaMeta(df: DataFrame, binaryCol: String, outCol: String = "media",
      decoderFactory: () => MediaDecoder = () => new StubDecoder)(
      implicit spark: SparkSession): DataFrame =
    decodePass("withMediaMeta", df, binaryCol,
      fields(outCol -> Encoders.product[MediaMeta].schema))(decoderFactory)(
      (d, b) => one(Row.fromTuple(d.decode(b))))

  /** Frame-sampling plumbing: one row per sampled frame index; the
    * stub emits `nFrames` evenly spaced indices with per-frame digests
    * (a real impl would decode those frames). The flatMap multiplies
    * rows BEFORE any shuffle, so downstream feature extraction
    * parallelizes over frames; digest state is per-partition, like the
    * decoder. Empty/null payloads produce no frame rows. */
  def sampleFrames(df: DataFrame, binaryCol: String, nFrames: Int)(
      implicit spark: SparkSession): DataFrame = {
    require(nFrames > 0, s"nFrames must be > 0, got $nFrames")
    decodePass("sampleFrames", df, binaryCol,
      fields("frame_idx" -> IntegerType, "frame_digest" -> StringType))(sha256) {
      (md, b) =>
        if (b == null || b.isEmpty) Iterator.empty
        else {
          md.reset()
          val d = md.digest(b)
          Iterator.tabulate(nFrames)(i => (i, hex8(d.drop(i % 16))))
        }
    }
  }

  /** REAL frame extraction for multi-frame containers the JDK can
    * decode — animated GIF via the ImageIO gif plugin (ships with
    * every JVM); raw-DIB/MJPEG AVI, y4m and raw/MJPEG MP4/MOV ride
    * the same tier through their `FrameDecoder`s. What remains with
    * `sampleFrames`' stub is COMPRESSED video (H.264/VP9/AV1 — no
    * JDK codec). Up to `nFrames` evenly spaced
    * frames are DECODED to pixels and digested (SHA-256 over the ARGB
    * raster), one output row per frame with real dimensions — the
    * per-frame feature-extraction input shape. Same mapPartitions
    * contract as the other decoders: digest state per partition, all
    * decode where the scan partition lives, malformed payloads emit
    * zero rows rather than failing the task. */
  /** The DECODE SEAM of the video-like tier — the one interface a
    * non-GIF codec must implement to ride the whole tier (sampling,
    * offset-compositing, per-frame dHash, positional banding, the
    * standing index): open a container's bytes, report its frame
    * count, and serve the fully COMPOSITED frame at an index. The
    * tier logic is container-agnostic above this seam; `gifFrameHashes`,
    * `sampleFramesDecoded`, `gifNearDupPairs` and the positional
    * index builders all take a `FrameDecoder` (default
    * `GifFrameDecoder` — the pure-JDK ImageIO path; `AviFrameDecoder`,
    * `Y4mFrameDecoder` and `Mp4FrameDecoder` are the in-tree proofs),
    * so an external decoder for COMPRESSED codecs (H.264/VP9/AV1 via
    * JNI/FFmpeg — no JDK codec exists) plugs in
    * WITHOUT forking the tier. Implementations must be Serializable
    * (the instance ships inside mapPartitions closures; open() runs
    * where the scan partition lives, so decoder state is
    * executor-local). `open` returns None when the payload is not
    * this decoder's container; any exception out of open/frameAt is
    * treated as a malformed payload (zero rows — the gates own
    * those), never a task failure. */
  trait FrameDecoder extends Serializable {
    def open(bytes: Array[Byte]): Option[OpenedFrames]
  }

  /** One opened container. `frameAt(i)` returns frame `i` fully
    * composited (for containers whose frames are deltas over a
    * canvas, the RENDERED image — not the stored patch) and MUST be
    * called with non-decreasing indices: decoders composite forward
    * and do not rewind (the tier's evenly-spaced sampling walk is
    * monotonic by construction). The returned image may be a shared
    * mutable canvas — extract what you need before the next call.
    * `close()` releases decoder state; always called. */
  trait OpenedFrames {
    def frameCount: Int
    def frameAt(i: Int): java.awt.image.BufferedImage
    def close(): Unit
  }

  /** The pure-JDK GIF implementation of the seam (ImageIO gif plugin,
    * ships with every JVM): frames composite onto a logical-screen
    * canvas at their ImageDescriptor (x, y) offsets — optimized GIFs
    * store only each frame's changed sub-rectangle, so reading a
    * frame raw would extract the patch, not the rendered image, and
    * two encodings of one animation would disagree; draw-over is the
    * dominant doNotDispose case. */
  object GifFrameDecoder extends FrameDecoder {
    def open(bytes: Array[Byte]): Option[OpenedFrames] = {
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(bytes))
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      if (!readers.hasNext) { iis.close(); None }
      else {
        val reader = readers.next()
        try {
          reader.setInput(iis)
          val n = reader.getNumImages(true) // allowSearch: full index scan
          // canvas = the GIF LOGICAL SCREEN when the stream metadata
          // carries it: frame 0 may legally be a sub-rectangle of the
          // animation (optimized GIFs), and a frame-0-sized canvas
          // would clip every later full-size frame. Frame 0 is
          // decoded ONCE and reused as the first composite step.
          val f0 = reader.read(0)
          val canvas = {
            val (lw, lh) = try {
              val tree = reader.getStreamMetadata
                .getAsTree("javax_imageio_gif_stream_1.0")
                .asInstanceOf[org.w3c.dom.Element]
              val d = tree.getElementsByTagName("LogicalScreenDescriptor")
                .item(0).asInstanceOf[org.w3c.dom.Element]
              (d.getAttribute("logicalScreenWidth").toInt,
                d.getAttribute("logicalScreenHeight").toInt)
            } catch { case scala.util.control.NonFatal(_) => (0, 0) }
            val (w0, h0) = (math.max(lw, math.max(f0.getWidth, reader.getWidth(0))),
              math.max(lh, math.max(f0.getHeight, reader.getHeight(0))))
            new java.awt.image.BufferedImage(w0, h0,
              java.awt.image.BufferedImage.TYPE_INT_ARGB)
          }
          val g = canvas.createGraphics()
          Some(new OpenedFrames {
            private var nextFrame = 0
            def frameCount: Int = n
            def frameAt(i: Int): java.awt.image.BufferedImage = {
              require(i >= nextFrame - 1 && i < n,
                s"frameAt($i) out of order (next undrawn frame: $nextFrame, " +
                  s"n=$n) — OpenedFrames composites forward only")
              while (nextFrame <= i) {
                val fi = nextFrame
                val img = if (fi == 0) f0 else reader.read(fi)
                val (x, y) = try {
                  val tree = reader.getImageMetadata(fi)
                    .getAsTree("javax_imageio_gif_image_1.0")
                    .asInstanceOf[org.w3c.dom.Element]
                  val desc = tree.getElementsByTagName("ImageDescriptor").item(0)
                    .asInstanceOf[org.w3c.dom.Element]
                  (desc.getAttribute("imageLeftPosition").toInt,
                    desc.getAttribute("imageTopPosition").toInt)
                } catch { case scala.util.control.NonFatal(_) => (0, 0) }
                g.drawImage(img, x, y, null)
                nextFrame += 1
              }
              canvas
            }
            def close(): Unit = {
              g.dispose(); reader.dispose(); iis.close()
            }
          })
        } catch { case scala.util.control.NonFatal(e) =>
          // a payload ImageIO claims but cannot open: release and
          // rethrow — foldFrames maps it to zero rows
          reader.dispose(); iis.close(); throw e
        }
      }
    }
  }

  /** Pure-JDK AVI implementation of the decode seam — the SECOND real
    * container riding the video-like tier, and the proof the
    * `FrameDecoder` seam carries production formats, not just the
    * spec's synthetic one. A RIFF walk over the public AVI 1.0 layout
    * (reference: Microsoft's AVI RIFF spec / ISO RIFF chunking):
    * `hdrl` → first `vids` stream's BITMAPINFOHEADER gives
    * dimensions/codec, `movi` carries one `NNdb`/`NNdc` chunk per
    * frame. Two codecs decode with zero native code:
    *  - BI_RGB (biCompression = 0, 24/32 bpp): uncompressed DIB rows
    *    (bottom-up when biHeight > 0, 4-byte-aligned stride, BGR
    *    order) — the classic uncompressed-AVI camera/capture format;
    *  - MJPG: every frame chunk is an independent baseline JPEG —
    *    decoded by ImageIO's jpeg plugin (ships with every JVM), the
    *    dominant motion-JPEG camera format.
    * Frames are independent in both (no delta compositing), so
    * `frameAt` needs no canvas state. Payloads outside this subset
    * (other fourccs, palettized DIBs) return None — honestly not
    * this decoder's container subset, zero rows, never a task
    * failure. */
  object AviFrameDecoder extends FrameDecoder {
    import Bmff.fourcc
    import LittleEndian.{u16, u32}
    private val MJPG = 0x47504A4DL // 'MJPG' read little-endian

    private final case class Vids(w: Int, h: Int, bpp: Int, comp: Long)

    def open(bytes: Array[Byte]): Option[OpenedFrames] = {
      if (bytes == null || bytes.length < 12 || fourcc(bytes, 0) != "RIFF" ||
        fourcc(bytes, 8) != "AVI ") return None
      var video: Option[Vids] = None
      var inVids = false
      val frames = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
      def walk(start: Int, end: Int, inMovi: Boolean): Unit = {
        var p = start
        while (p + 8 <= end) {
          val id = fourcc(bytes, p)
          val size = u32(bytes, p + 4).toInt
          // a corrupt size >= 2^31 reads as negative and would move
          // the walk BACKWARDS — an infinite loop hanging the task,
          // not an exception; treat as malformed and stop this level
          if (size < 0) return
          val dataStart = p + 8
          val dataEnd = math.min(dataStart.toLong + size, end.toLong).toInt
          if (id == "LIST" && size >= 4)
            walk(dataStart + 4, dataEnd, inMovi || fourcc(bytes, dataStart) == "movi")
          else if (inMovi && (id.endsWith("db") || id.endsWith("dc")))
            frames += ((dataStart, dataEnd - dataStart))
          else if (id == "strh" && size >= 4)
            // first vids stream wins; a later auds/vids strh resets
            inVids = video.isEmpty && fourcc(bytes, dataStart) == "vids"
          else if (id == "strf" && inVids && size >= 40) {
            video = Some(Vids(u32(bytes, dataStart + 4).toInt,
              u32(bytes, dataStart + 8).toInt,
              u16(bytes, dataStart + 14), u32(bytes, dataStart + 16)))
            inVids = false
          }
          p = dataStart + size + (size & 1) // chunks pad to even
        }
      }
      walk(12, bytes.length, inMovi = false)
      video match {
        case Some(v) if frames.nonEmpty &&
            (v.comp == MJPG || (v.comp == 0L && (v.bpp == 24 || v.bpp == 32))) =>
          Some(new OpenedFrames {
            private var last = -1
            def frameCount: Int = frames.length
            def frameAt(i: Int): java.awt.image.BufferedImage = {
              require(i >= last && i < frames.length,
                s"frameAt($i) after $last of ${frames.length} — forward only")
              last = i
              val (off, size) = frames(i)
              if (v.comp == MJPG) {
                val img = javax.imageio.ImageIO.read(
                  new java.io.ByteArrayInputStream(bytes, off, size))
                require(img != null, s"MJPG frame $i did not decode")
                img
              } else {
                val w = v.w
                val hAbs = math.abs(v.h)
                val bottomUp = v.h > 0 // negative biHeight = top-down DIB
                val bypp = v.bpp / 8
                val stride = ((w * bypp + 3) / 4) * 4
                require(size >= stride * hAbs, s"DIB frame $i truncated")
                val img = new java.awt.image.BufferedImage(w, hAbs,
                  java.awt.image.BufferedImage.TYPE_INT_RGB)
                var y = 0
                while (y < hAbs) {
                  val row = if (bottomUp) hAbs - 1 - y else y
                  var x = 0
                  while (x < w) {
                    val o = off + row * stride + x * bypp
                    img.setRGB(x, y, ((bytes(o + 2) & 0xff) << 16) |
                      ((bytes(o + 1) & 0xff) << 8) | (bytes(o) & 0xff))
                    x += 1
                  }
                  y += 1
                }
                img
              }
            }
            def close(): Unit = ()
          })
        case _ => None
      }
    }
  }

  /** THIRD real container through the `FrameDecoder` seam: YUV4MPEG2
    * (y4m — the textbook raw-video interchange format, e.g. ffmpeg's
    * `-f yuv4mpeg`), which ImageIO does not read. Layout (public
    * spec): one ASCII header line `YUV4MPEG2 W<w> H<h> ...
    * C<colorspace>\n`, then per frame `FRAME...\n` + planar data.
    * Decoded subset, honest like the AVI one's:
    *  - `Cmono` — the Y plane IS the gray grid, LOSSLESS (the
    *    gray-formula oracle device applies verbatim; frames render
    *    as r=g=b=Y);
    *  - `C420` / `C420jpeg` / `C420paldv` / `C444` — limited-range
    *    BT.601 integer conversion (deterministic and documented, but
    *    a CONVERSION — near-dup-grade, not oracle-grade; q152 pins
    *    the mono leg).
    * Anything else (C422, 10-bit `XYSCSS` extensions) opens as None.
    * Frames are fixed-size, so the walk indexes every COMPLETE
    * frame up front; a truncated tail frame is dropped, not guessed.
    * Open rejects dimensions over 8192 on either axis — a corrupt
    * header must not allocate a gigapixel canvas. */
  object Y4mFrameDecoder extends FrameDecoder {
    private val MaxDim = 8192

    def open(bytes: Array[Byte]): Option[OpenedFrames] = {
      if (bytes == null || bytes.length < 10) return None
      val magic = "YUV4MPEG2 "
      var i = 0
      while (i < 10) {
        if (bytes(i) != magic.charAt(i).toByte) return None
        i += 1
      }
      try {
        var nl = 10
        while (nl < bytes.length && bytes(nl) != '\n') nl += 1
        if (nl >= bytes.length) return None
        val header = new String(bytes, 10, nl - 10,
          java.nio.charset.StandardCharsets.US_ASCII)
        var w = -1
        var h = -1
        var cs = "420" // the spec's default colorspace is C420
        header.split(' ').filter(_.nonEmpty).foreach { tag =>
          tag.charAt(0) match {
            case 'W' => w = tag.drop(1).toInt
            case 'H' => h = tag.drop(1).toInt
            case 'C' => cs = tag.drop(1)
            case _ => () // F/I/A/X tags don't affect pixel recovery
          }
        }
        if (w <= 0 || h <= 0 || w > MaxDim || h > MaxDim) return None
        val chroma = cs match {
          case "mono" => 0
          case "420" | "420jpeg" | "420paldv" =>
            if (w % 2 != 0 || h % 2 != 0) return None
            (w / 2) * (h / 2) * 2
          case "444" => w * h * 2
          case _ => return None // outside the honest subset
        }
        val frameBytes = w * h + chroma
        // index complete frames: each is "FRAME[ params]\n" + planes
        val offs = scala.collection.mutable.ArrayBuffer.empty[Int]
        var p = nl + 1
        while (p + 6 <= bytes.length &&
            bytes(p) == 'F' && bytes(p + 1) == 'R' && bytes(p + 2) == 'A' &&
            bytes(p + 3) == 'M' && bytes(p + 4) == 'E') {
          var e = p + 5
          while (e < bytes.length && bytes(e) != '\n') e += 1
          if (e >= bytes.length || e + 1 + frameBytes > bytes.length) {
            p = bytes.length // truncated frame: stop, don't guess
          } else {
            offs += (e + 1)
            p = e + 1 + frameBytes
          }
        }
        if (offs.isEmpty) return None
        val mono = chroma == 0
        val is444 = cs == "444"
        Some(new OpenedFrames {
          def frameCount: Int = offs.length
          def frameAt(fi: Int): java.awt.image.BufferedImage = {
            val off = offs(fi)
            val img = new java.awt.image.BufferedImage(w, h,
              java.awt.image.BufferedImage.TYPE_INT_RGB)
            val cb0 = off + w * h
            val cr0 = cb0 + (if (is444) w * h else (w / 2) * (h / 2))
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                val yy = bytes(off + y * w + x) & 0xff
                val rgb =
                  if (mono) (yy << 16) | (yy << 8) | yy
                  else {
                    val ci =
                      if (is444) y * w + x else (y / 2) * (w / 2) + (x / 2)
                    val cb = (bytes(cb0 + ci) & 0xff) - 128
                    val cr = (bytes(cr0 + ci) & 0xff) - 128
                    // limited-range BT.601, the y4m convention:
                    // fixed-point (x256) integer math, clamped
                    val c298 = 298 * (yy - 16)
                    def cl(v: Int) =
                      if (v < 0) 0 else if (v > 255) 255 else v
                    val r = cl((c298 + 409 * cr + 128) >> 8)
                    val g = cl((c298 - 100 * cb - 208 * cr + 128) >> 8)
                    val b = cl((c298 + 516 * cb + 128) >> 8)
                    (r << 16) | (g << 8) | b
                  }
                img.setRGB(x, y, rgb)
                x += 1
              }
              y += 1
            }
            img
          }
          def close(): Unit = ()
        })
      } catch { case scala.util.control.NonFatal(_) => None }
    }
  }

  /** Deterministic mono y4m test vector — `grays` are row-major
    * top-down Y planes, one per frame; `Cmono` makes the decoded
    * pixel EXACTLY the written byte (the same lossless argument as
    * `syntheticGrayGif` / `syntheticGrayAvi`, so all three containers
    * of one animation hash identically — q152's pin). */
  def syntheticGrayY4m(width: Int, height: Int,
      frames: Seq[Array[Int]]): Array[Byte] = {
    require(width > 0 && height > 0 && frames.nonEmpty,
      "need positive dims and at least one frame")
    frames.foreach(f => require(f.length == width * height,
      s"frame must be $width x $height = ${width * height}, got ${f.length}"))
    val header =
      s"YUV4MPEG2 W$width H$height F25:1 Ip A1:1 Cmono\n"
        .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    val fh = "FRAME\n".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    val out = new Array[Byte](
      header.length + frames.size * (fh.length + width * height))
    System.arraycopy(header, 0, out, 0, header.length)
    var p = header.length
    frames.foreach { f =>
      System.arraycopy(fh, 0, out, p, fh.length)
      p += fh.length
      var i = 0
      while (i < f.length) {
        out(p + i) = (f(i) & 0xff).toByte
        i += 1
      }
      p += f.length
    }
    out
  }

  /** FOURTH real container through the `FrameDecoder` seam: MP4 /
    * QuickTime MOV (ISO base media file format, ISO/IEC 14496-12 —
    * the box/atom layout is public). The walk parses the top-level
    * box sequence (32-bit sizes, size==1 64-bit largesize, size==0
    * to-EOF), finds the first `moov/trak` whose `mdia/hdlr` handler
    * is `vide`, and reconstructs the per-sample (offset, size) list
    * from the sample tables the spec mandates: `stsd` (codec sample
    * entry), `stsz` (sizes), `stsc` (sample-to-chunk runs), `stco` /
    * `co64` (chunk offsets). Decoded subset, honest like the AVI
    * one's:
    *  - `raw ` sample entries at depth 24 — QuickTime's uncompressed
    *    "None" codec: packed top-down RGB rows, LOSSLESS (the
    *    gray-formula oracle device applies verbatim; q155 pins the
    *    leg);
    *  - `jpeg` sample entries (QuickTime photo-JPEG / MJPEG) and
    *    `mp4v` entries whose `esds` DecoderConfigDescriptor declares
    *    objectTypeIndication 0x6C (= JPEG — how ffmpeg tags MJPEG
    *    inside .mp4): each sample is one complete JFIF image, decoded
    *    by the JDK jpeg codec (near-dup-grade: lossy, like MJPEG-AVI).
    * Compressed codecs (`avc1`/`hvc1`/`vp09`/`av01`...) open as None
    * — the one remaining honest stub, pluggable as an external
    * `FrameDecoder` without touching tier logic. Malformed tables
    * (negative/oversized box sizes, sample extents past the payload)
    * stop the walk at the last consistent point or refuse outright;
    * dimensions over 8192 on either axis are refused before any
    * canvas allocates. */
  object Mp4FrameDecoder extends FrameDecoder {
    private val MaxDim = 8192
    import Bmff.{u16, u32, u64, fourcc => cc, walk}
    // types legal as a file's FIRST box — the container sniff
    private val FirstBox =
      Set("ftyp", "moov", "mdat", "free", "skip", "wide", "pnot")

    private final case class VideoTrack(format: String, oti: Int,
      w: Int, h: Int, samples: IndexedSeq[(Int, Int)])

    private def findBox(bytes: Array[Byte], start: Int, end: Int,
        name: String): Option[(Int, Int)] = {
      var found: Option[(Int, Int)] = None
      walk(bytes, start, end) { (t, s, e) =>
        if (found.isEmpty && t == name) found = Some((s, e))
      }
      found
    }

    /** esds descriptor walk: ES_Descriptor (0x03) → optional fields
      * per its flags byte → DecoderConfigDescriptor (0x04), whose
      * first payload byte is the objectTypeIndication. Descriptor
      * lengths are 7-bit msb-continued varints (14496-1). */
    private def esdsOti(bytes: Array[Byte], s: Int, e: Int): Int = {
      var p = s + 4 // version/flags
      def varlen(): Int = {
        var v = 0
        var more = true
        while (more && p < e) {
          val b = bytes(p) & 0xff
          v = (v << 7) | (b & 0x7f)
          more = (b & 0x80) != 0
          p += 1
        }
        v
      }
      if (p >= e || (bytes(p) & 0xff) != 0x03) return -1
      p += 1; varlen()
      p += 2 // ES_ID
      if (p >= e) return -1
      val flags = bytes(p) & 0xff
      p += 1
      if ((flags & 0x80) != 0) p += 2 // streamDependence
      if ((flags & 0x40) != 0 && p < e) p += 1 + (bytes(p) & 0xff) // URL
      if ((flags & 0x20) != 0) p += 2 // OCR
      if (p >= e || (bytes(p) & 0xff) != 0x04) return -1
      p += 1; varlen()
      if (p >= e) -1 else bytes(p) & 0xff
    }

    private def parseTrack(bytes: Array[Byte],
        trakS: Int, trakE: Int): Option[VideoTrack] = {
      val (mdiaS, mdiaE) = findBox(bytes, trakS, trakE, "mdia").getOrElse(
        return None)
      val isVide = findBox(bytes, mdiaS, mdiaE, "hdlr").exists {
        case (s, e) => e - s >= 12 && cc(bytes, s + 8) == "vide"
      }
      if (!isVide) return None
      val (minfS, minfE) = findBox(bytes, mdiaS, mdiaE, "minf").getOrElse(
        return None)
      val (stblS, stblE) = findBox(bytes, minfS, minfE, "stbl").getOrElse(
        return None)
      // stsd: first sample entry's format + dimensions (+ esds OTI)
      val (sdS, sdE) = findBox(bytes, stblS, stblE, "stsd").getOrElse(
        return None)
      if (sdE - sdS < 8 + 86 || u32(bytes, sdS + 4) < 1) return None
      val entS = sdS + 8
      val entSz = u32(bytes, entS)
      if (entSz < 86 || entS + entSz > sdE) return None
      val format = cc(bytes, entS + 4)
      val w = u16(bytes, entS + 32)
      val h = u16(bytes, entS + 34)
      // VisualSampleEntry depth (u16 at entry+82). Only depth-24
      // packed RGB decodes for `raw ` — a depth-32 (ARGB) or
      // depth-16 QuickTime "None" track would pass the w*h*3 size
      // guard yet read misaligned bytes, so refuse here, not there.
      val depth = if (entS + 84 <= sdE) u16(bytes, entS + 82) else -1
      if (format == "raw " && depth != 24) return None
      val oti =
        if (format != "mp4v") -1
        else findBox(bytes, entS + 86, (entS + entSz).toInt, "esds")
          .map { case (s, e) => esdsOti(bytes, s, e) }.getOrElse(-1)
      // stsz
      val (szS, szE) = findBox(bytes, stblS, stblE, "stsz").getOrElse(
        return None)
      if (szE - szS < 12) return None
      val fixedSize = u32(bytes, szS + 4)
      val nSamples = u32(bytes, szS + 8).toInt
      if (nSamples <= 0 || nSamples > (1 << 22)) return None
      def sampleSize(i: Int): Long =
        if (fixedSize != 0L) fixedSize
        else if (szS + 12 + 4 * i + 4 <= szE) u32(bytes, szS + 12 + 4 * i)
        else -1L
      // stco / co64
      val offs: IndexedSeq[Long] =
        findBox(bytes, stblS, stblE, "stco") match {
          case Some((s, e)) =>
            val n = u32(bytes, s + 4).toInt
            if (n < 0 || s + 8 + 4L * n > e) return None
            (0 until n).map(i => u32(bytes, s + 8 + 4 * i))
          case None =>
            val (s, e) = findBox(bytes, stblS, stblE, "co64").getOrElse(
              return None)
            val n = u32(bytes, s + 4).toInt
            if (n < 0 || s + 8 + 8L * n > e) return None
            (0 until n).map(i => u64(bytes, s + 8 + 8 * i))
        }
      // stsc: (firstChunk, samplesPerChunk) runs
      val (scS, scE) = findBox(bytes, stblS, stblE, "stsc").getOrElse(
        return None)
      val nRuns = u32(bytes, scS + 4).toInt
      if (nRuns < 0 || scS + 8 + 12L * nRuns > scE) return None
      val runs = (0 until nRuns).map(i =>
        (u32(bytes, scS + 8 + 12 * i), u32(bytes, scS + 12 + 12 * i)))
      // expand: per chunk, samples are contiguous from the chunk
      // offset; stop at the first sample that falls outside the
      // payload (don't guess past a truncation)
      val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
      var si = 0
      var ci = 0
      var done = false
      while (ci < offs.length && si < nSamples && !done) {
        val spc = runs.foldLeft(0L) { case (acc, (fc, n)) =>
          if (fc <= ci + 1) n else acc
        }
        var off = offs(ci)
        var k = 0L
        while (k < spc && si < nSamples && !done) {
          val sz = sampleSize(si)
          if (sz < 0 || off < 0 || off + sz > bytes.length) done = true
          else {
            out += ((off.toInt, sz.toInt))
            off += sz
            si += 1
            k += 1
          }
        }
        ci += 1
      }
      if (out.isEmpty) None
      else Some(VideoTrack(format, oti, w, h, out.toIndexedSeq))
    }

    def open(bytes: Array[Byte]): Option[OpenedFrames] = {
      if (bytes == null || bytes.length < 16) return None
      if (u32(bytes, 0) < 8L || !FirstBox.contains(cc(bytes, 4))) return None
      try {
        val (moovS, moovE) = findBox(bytes, 0, bytes.length, "moov")
          .getOrElse(return None)
        var track: Option[VideoTrack] = None
        walk(bytes, moovS, moovE) { (t, s, e) =>
          if (track.isEmpty && t == "trak") track = parseTrack(bytes, s, e)
        }
        track match {
          case Some(v) if v.w > 0 && v.h > 0 && v.w <= MaxDim &&
              v.h <= MaxDim &&
              (v.format == "jpeg" ||
                (v.format == "mp4v" && v.oti == 0x6C) ||
                v.format == "raw ") =>
            val mjpeg = v.format != "raw "
            if (!mjpeg && v.samples.exists(_._2 < v.w * v.h * 3)) return None
            Some(new OpenedFrames {
              private var last = -1
              def frameCount: Int = v.samples.length
              def frameAt(i: Int): java.awt.image.BufferedImage = {
                require(i >= last && i < v.samples.length,
                  s"frameAt($i) after $last of ${v.samples.length} — " +
                    "forward only")
                last = i
                val (off, size) = v.samples(i)
                if (mjpeg) {
                  val img = javax.imageio.ImageIO.read(
                    new java.io.ByteArrayInputStream(bytes, off, size))
                  require(img != null, s"jpeg sample $i did not decode")
                  img
                } else {
                  // 'raw ' depth 24: packed top-down RGB, no row pad
                  val img = new java.awt.image.BufferedImage(v.w, v.h,
                    java.awt.image.BufferedImage.TYPE_INT_RGB)
                  var y = 0
                  while (y < v.h) {
                    var x = 0
                    while (x < v.w) {
                      val o = off + (y * v.w + x) * 3
                      img.setRGB(x, y, ((bytes(o) & 0xff) << 16) |
                        ((bytes(o + 1) & 0xff) << 8) | (bytes(o + 2) & 0xff))
                      x += 1
                    }
                    y += 1
                  }
                  img
                }
              }
              def close(): Unit = ()
            })
          case _ => None
        }
      } catch { case scala.util.control.NonFatal(_) => None }
    }
  }

  private def beBox(typ: String, payloads: Array[Byte]*): Array[Byte] = {
    val size = 8 + payloads.map(_.length).sum
    val out = new Array[Byte](size)
    out(0) = (size >>> 24).toByte; out(1) = (size >>> 16).toByte
    out(2) = (size >>> 8).toByte; out(3) = size.toByte
    System.arraycopy(typ.getBytes("US-ASCII"), 0, out, 4, 4)
    var p = 8
    payloads.foreach { pl =>
      System.arraycopy(pl, 0, out, p, pl.length)
      p += pl.length
    }
    out
  }
  private def be32(v: Long): Array[Byte] = Array(
    (v >>> 24).toByte, (v >>> 16).toByte, (v >>> 8).toByte, v.toByte)
  private def be16(v: Int): Array[Byte] =
    Array((v >>> 8).toByte, v.toByte)

  /** Hand-assembled minimal ISO-BMFF / QuickTime test vector (no
    * library writer whose box layout could drift): ftyp + mdat (the
    * samples, chunked in PAIRS so `stsc` carries a real run mapping
    * and `stco` several entries — the sample-table walk is what this
    * vector exists to exercise) + moov with plausibly-filled
    * mvhd/tkhd/mdhd (timescale 25, duration = frame count) and the
    * four mandatory stbl tables. `format` picks the sample entry:
    * `"raw "` (depth 24, samples are packed top-down RGB),
    * `"jpeg"`, or `"mp4v"` (an `esds` declaring OTI 0x6C rides the
    * entry — the ffmpeg MJPEG-in-.mp4 shape). */
  private[operators] def movContainer(width: Int, height: Int, brand: String,
      format: String, samples: Seq[Array[Byte]],
      syncSamples: Seq[Int] = Nil): Array[Byte] = {
    require(samples.nonEmpty, "need at least one sample")
    require(syncSamples.forall(s => s >= 1 && s <= samples.length),
      "syncSamples are 1-based sample numbers")
    val n = samples.length
    val ftyp = beBox("ftyp", brand.getBytes("US-ASCII"), be32(0),
      brand.getBytes("US-ASCII"))
    val mdat = beBox("mdat", samples: _*)
    val firstSample = ftyp.length + 8
    // chunks of 2 samples; stco carries each chunk's absolute offset
    val chunkStarts = {
      var off = firstSample.toLong
      val cs = scala.collection.mutable.ArrayBuffer.empty[Long]
      samples.zipWithIndex.foreach { case (smp, i) =>
        if (i % 2 == 0) cs += off
        off += smp.length
      }
      cs.toSeq
    }
    val esds: Seq[Array[Byte]] =
      if (format != "mp4v") Nil
      else Seq(beBox("esds", be32(0),
        Array[Byte](0x03, 21, 0, 1, 0, // ES_Descr: ES_ID=1, flags=0
          0x04, 13, 0x6C.toByte, 0x11, 0, 0, 0, // DecoderConfig: OTI JPEG
          0, 0, 0, 0, 0, 0, 0, 0,
          0x06, 1, 0x02))) // SLConfig
    val entry = {
      val body = Array.concat(
        new Array[Byte](6), be16(1), // reserved, data_ref_index
        be16(0), be16(0), be32(0), be32(0), be32(0), // ver/rev/vendor/q
        be16(width), be16(height),
        be32(0x00480000L), be32(0x00480000L), be32(0), be16(1),
        new Array[Byte](32), // compressorname (pascal, empty)
        be16(24), be16(0xFFFF)) // depth, color table id (-1 = default)
      val extra = esds.map(_.length).sum
      Array.concat(Seq(be32(86L + extra), format.getBytes("US-ASCII"),
        body) ++ esds: _*)
    }
    val stsd = beBox("stsd", be32(0), be32(1), entry)
    val stts = beBox("stts", be32(0), be32(1), be32(n.toLong), be32(1))
    val stscRuns: Seq[(Long, Long)] =
      if (n == 1) Seq((1L, 1L))
      else if (n % 2 == 0) Seq((1L, 2L))
      else Seq((1L, 2L), (chunkStarts.length.toLong, 1L))
    val stsc = beBox("stsc", be32(0), be32(stscRuns.length.toLong),
      Array.concat(stscRuns.map { case (fc, spc) =>
        Array.concat(be32(fc), be32(spc), be32(1)) }: _*))
    val stsz = beBox("stsz", be32(0), be32(0), be32(n.toLong),
      Array.concat(samples.map(s => be32(s.length.toLong)): _*))
    val stco = beBox("stco", be32(0), be32(chunkStarts.length.toLong),
      Array.concat(chunkStarts.map(be32): _*))
    // stss only when asked: ABSENT means every sample is sync (the
    // spec's default), which is what the parameterless callers want
    val stblBoxes = Seq(stsd, stts, stsc, stsz, stco) ++
      (if (syncSamples.isEmpty) Nil
       else Seq(beBox("stss", be32(0), be32(syncSamples.length.toLong),
         Array.concat(syncSamples.map(s => be32(s.toLong)): _*))))
    val stbl = beBox("stbl", stblBoxes: _*)
    val minf = beBox("minf", stbl)
    val hdlr = beBox("hdlr", be32(0), be32(0),
      "vide".getBytes("US-ASCII"), new Array[Byte](12), new Array[Byte](1))
    val mdhd = beBox("mdhd", be32(0), be32(0), be32(0), be32(25),
      be32(n.toLong), be16(0x55C4), be16(0))
    val mdia = beBox("mdia", mdhd, hdlr, minf)
    val identity = Array.concat(be32(0x00010000L), be32(0), be32(0),
      be32(0), be32(0x00010000L), be32(0),
      be32(0), be32(0), be32(0x40000000L))
    val tkhd = beBox("tkhd", be32(7), be32(0), be32(0), be32(1), be32(0),
      be32(n.toLong), new Array[Byte](8), be16(0), be16(0), be16(0),
      be16(0), identity, be32(width.toLong << 16), be32(height.toLong << 16))
    val mvhd = beBox("mvhd", be32(0), be32(0), be32(0), be32(25),
      be32(n.toLong), be32(0x00010000L), be16(0x0100),
      new Array[Byte](10), identity, new Array[Byte](24), be32(2))
    val trak = beBox("trak", tkhd, mdia)
    val moov = beBox("moov", mvhd, trak)
    Array.concat(ftyp, mdat, moov)
  }

  /** Deterministic LOSSLESS QuickTime/MOV test vector — the MOV twin
    * of `syntheticGrayAvi`/`syntheticGrayY4m`: `grays` render as
    * packed top-down RGB `raw ` samples (r=g=b=gray), so the decoded
    * pixel IS the written byte and all four containers of one
    * animation hash identically — q155's pin. */
  def syntheticGrayMov(width: Int, height: Int,
      frames: Seq[Array[Int]]): Array[Byte] = {
    require(width > 0 && height > 0 && frames.nonEmpty,
      "need positive dims and at least one frame")
    val samples = frames.map { grays =>
      require(grays.length == width * height,
        s"frame must be $width x $height = ${width * height}, " +
          s"got ${grays.length}")
      val s = new Array[Byte](width * height * 3)
      var i = 0
      while (i < grays.length) {
        val g = (grays(i) & 0xff).toByte
        s(i * 3) = g; s(i * 3 + 1) = g; s(i * 3 + 2) = g
        i += 1
      }
      s
    }
    movContainer(width, height, "qt  ", "raw ", samples)
  }

  /** MJPEG-in-.mp4 the way ffmpeg writes it: `mp4v` sample entry
    * whose `esds` declares objectTypeIndication 0x6C (JPEG), each
    * sample a complete JFIF image (lossy — near-dup-grade, the
    * MJPEG-AVI argument). */
  def syntheticMjpegMp4(width: Int, height: Int,
      frames: Seq[Array[Int]]): Array[Byte] =
    movContainer(width, height, "isom", "mp4v",
      frames.map(jpegSampleOf(width, height, _)))

  /** QuickTime photo-JPEG: `jpeg` sample entry, same JFIF samples. */
  def syntheticMjpegMov(width: Int, height: Int,
      frames: Seq[Array[Int]]): Array[Byte] =
    movContainer(width, height, "qt  ", "jpeg",
      frames.map(jpegSampleOf(width, height, _)))

  /** MJPEG MP4 with an EXPLICIT sync-sample table (`stss` listing the
    * 1-based `syncSamples`) — the keyframe-tier test vector: a real
    * delta-coded file marks only its I-frames sync; MJPEG frames are
    * all independently decodable, which is exactly what lets the
    * keyframe SAMPLING PLAN be exercised against decodable truth. */
  def syntheticMjpegMp4Keyframed(width: Int, height: Int,
      frames: Seq[Array[Int]], syncSamples: Seq[Int]): Array[Byte] =
    movContainer(width, height, "isom", "mp4v",
      frames.map(jpegSampleOf(width, height, _)), syncSamples)

  private def jpegSampleOf(width: Int, height: Int,
      grays: Array[Int]): Array[Byte] = {
    require(grays.length == width * height,
      s"frame must be $width x $height = ${width * height}, " +
        s"got ${grays.length}")
    val img = new java.awt.image.BufferedImage(width, height,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) {
        raster.setSample(x, y, 0, grays(y * width + x) & 0xff)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", bos)
    bos.toByteArray
  }

  /** Decoder combinator for MIXED corpora: try each decoder in order,
    * first `open` that accepts the payload wins. A corpus column
    * holding GIFs and AVIs side by side rides the tier through
    * `firstOf(GifFrameDecoder, AviFrameDecoder)` — above the seam
    * the containers are indistinguishable (same sampling, same
    * dHash), so a GIF and an AVI of the same frames near-dup each
    * other, which is exactly what a dedup tier should say. */
  object FrameDecoders {
    def firstOf(decoders: FrameDecoder*): FrameDecoder = {
      val first = firstOpen(decoders)(_.open(_))
      new FrameDecoder { def open(bytes: Array[Byte]): Option[OpenedFrames] = first(bytes) }
    }
  }

  /** The first-match loop of both `firstOf` combinators: the first
    * decoder whose `open` accepts the payload wins. */
  private def firstOpen[D, O](decoders: Seq[D])(
      open: (D, Array[Byte]) => Option[O]): Array[Byte] => Option[O] = {
    require(decoders.nonEmpty, "firstOf needs at least one decoder")
    val ds = decoders.toIndexedSeq
    bytes => ds.iterator.map(open(_, bytes)).find(_.isDefined).flatten
  }

  /** The chain of the metadata `Auto*` decoders: the first decoder
    * whose result is `ok` wins (later decoders never run), else the
    * FIRST decoder's result — its diagnosis is the one reported. */
  private def firstOk[D, R](decoders: Seq[D])(decode: D => R)(
      ok: R => Boolean): R = {
    val results = decoders.iterator.map(decode)
    val first = results.next()
    if (ok(first)) first else results.find(ok).getOrElse(first)
  }

  /** Shared multi-frame walk over the decode seam: open the
    * container, pick up to `nFrames` evenly spaced frames from the
    * pick plan, and emit `extract(samplePos, frameIdx, nPlan,
    * compositedFrame)` at each — frame selection and compositing live
    * HERE, once, so `sampleFramesDecoded` (per-frame digests/features)
    * and both frame samplers (per-frame dHash — the near-dup tiers)
    * can never drift apart, and a plugged-in decoder inherits the
    * exact sampling the GIF tier's oracles pin. The plan is every
    * frame, or with `keyframes` the sync samples of the container's
    * first indexed video track (`n` is then the track's keyframe
    * count; no BMFF keyframe index falls back to every frame). Sync
    * samples arrive ascending, so the decoder's forward-only
    * `frameAt` contract holds; indexed samples past the decoder's
    * frame count (truncation dropped them) are skipped rather than
    * guessed. Malformed payloads (open returns None or any decode
    * throws) yield an empty Vector — never a task failure. */
  private def foldFrames[T](b: Array[Byte], nFrames: Int,
      decoder: FrameDecoder, keyframes: Option[KeyframeIndexer] = None)(
      extract: (Int, Int, Int, java.awt.image.BufferedImage) => T): Vector[T] = {
    if (b == null || b.isEmpty) return Vector.empty
    try {
      val syncs = keyframes.flatMap(_.index(b).headOption)
        .map(_.keyframes.map(_.sampleNum - 1))
      decoder.open(b) match {
        case None => Vector.empty
        case Some(of) =>
          try {
            val n = of.frameCount
            val plan = syncs.fold[IndexedSeq[Int]](0 until n)(
              _.filter(fi => fi >= 0 && fi < n))
            evenPick(plan.length, nFrames).iterator.zipWithIndex.map {
              case (i, pos) => extract(pos, plan(i), plan.length, of.frameAt(plan(i)))
            }.toVector
          } finally of.close()
      }
    } catch { case scala.util.control.NonFatal(_) => Vector.empty }
  }

  /** Up to `k` evenly spaced indices into `0 until n` (all of them
    * when `n <= k`); Long math, since `i * n` overflows Int for large
    * requests. */
  private def evenPick(n: Int, k: Int): IndexedSeq[Int] =
    if (n <= k) 0 until n else (0 until k).map(i => (i.toLong * n / k).toInt)

  def sampleFramesDecoded(df: DataFrame, binaryCol: String, nFrames: Int,
      decoder: FrameDecoder = GifFrameDecoder)(
      implicit spark: SparkSession): DataFrame = {
    require(nFrames > 0, s"nFrames must be > 0, got $nFrames")
    decodePass("sampleFramesDecoded", df, binaryCol,
      fields("frame_idx" -> IntegerType, "n_frames" -> IntegerType,
        "frame_width" -> IntegerType, "frame_height" -> IntegerType,
        "frame_digest" -> StringType))(sha256) { (md, b) =>
      foldFrames(b, nFrames, decoder) { (_, fi, n, canvas) =>
        val (w, h) = (canvas.getWidth, canvas.getHeight)
        val px = canvas.getRGB(0, 0, w, h, null, 0, w)
        val bb = java.nio.ByteBuffer.allocate(px.length * 4)
        bb.asIntBuffer().put(px)
        md.reset()
        (fi, n, w, h, hex8(md.digest(bb.array())))
      }
    }
  }

  // ------------------------------------------------------------------
  // POSITIONAL signature tiers: animations and videos compared frame
  // by frame, audio compared segment by segment. Each document is one
  // 64-bit signature per sampled POSITION (`sample_pos`), and two
  // documents match when enough same-position signatures are within
  // `maxHamming` bits. The tiers differ only in their `Sampler` —
  // uniform frames, keyframes or audio segments; the pair search,
  // in-memory index, standing probe, micro-batch intake and the
  // persisted index's write/read/rebuild are written once below, over
  // `Dedup`'s band layout with `posCols = Seq("sample_pos")`.
  // ------------------------------------------------------------------

  /** How a positional tier samples a payload. Every case turns
    * payload rows into one row per sampled position (`hashes`, with
    * the document's own position `count`) and names its WIDTH: the
    * parameter two sides must share for positions to mean the same
    * thing. An index records its width (`bands_vN/_meta.sample_cap` on disk,
    * `_hs` column metadata in memory), and every probe, read and
    * growth refuses a mismatch; `widthWord` names it in those
    * refusals. `cap` is the argument (name, value) bounding how many
    * positions one payload contributes — the bound on `minMatches`
    * (named `matchArg`) and `maxShift`. The cases run their range
    * checks at construction, on the driver, so a bad parameter fails
    * before any job starts or any standing index is reset. */
  private[operators] sealed abstract class Sampler(val width: Long,
      val widthWord: String, val cap: (String, Int), val matchArg: String)
      extends Serializable {
    /** `df`'s columns + `sample_pos` + the signature `outCol` (+ the
      * sampler's own bookkeeping columns); payloads with nothing to
      * sample emit no rows. */
    def hashes(df: DataFrame, binaryCol: String, outCol: String)(
        implicit spark: SparkSession): DataFrame
    def count: Column
  }

  /** Frame sampling: the dHash of up to `nFrames` frames per payload
    * (`gifFrameHashes` / `videoFrameHashes`); the width is `nFrames`. */
  private[operators] sealed abstract class FrameSampler(val nFrames: Int,
      val decoder: FrameDecoder, val keyframes: Boolean)
      extends Sampler(nFrames.toLong, "sample width", ("nFrames", nFrames),
        "minFrameMatches") {
    require(nFrames > 0, s"nFrames must be > 0, got $nFrames")
    def hashes(df: DataFrame, binaryCol: String, outCol: String)(
        implicit spark: SparkSession): DataFrame =
      frameHashes(df, binaryCol, outCol, this)
    def count: Column = least(lit(nFrames), col("n_frames")).cast("long")
  }

  /** Evenly spaced frames; `sample_pos` is the rank among them. */
  private[operators] final class UniformFrames(nFrames: Int,
      decoder: FrameDecoder) extends FrameSampler(nFrames, decoder, false)

  /** Evenly spaced KEYFRAMES from the container's sync-sample table;
    * `sample_pos` is the keyframe ordinal. No keyframe index falls
    * back to uniform sampling. Same width as `UniformFrames`, other
    * provenance: an index keeps one sampling plan per root. */
  private[operators] final class Keyframes(nFrames: Int,
      decoder: FrameDecoder) extends FrameSampler(nFrames, decoder, true)

  /** Fixed-duration audio segments (`audioSegmentHashes`). Segment
    * boundaries are absolute, so the width is `segmentFrames`;
    * `maxSegments` only caps how many positions a long clip adds and
    * may differ between an index and its probes. */
  private[operators] final class AudioSegments(segmentFrames: Long,
      maxSegments: Int, decoder: PcmDecoder)
      extends Sampler(segmentFrames, "segment width",
        ("maxSegments", maxSegments), "minSegmentMatches") {
    // built here, on the driver: its range checks are the width checks
    val fingerprinter =
      new AudioSegmentFingerprinter(segmentFrames, maxSegments, decoder)
    def hashes(df: DataFrame, binaryCol: String, outCol: String)(
        implicit spark: SparkSession): DataFrame =
      segmentHashes(df, binaryCol, outCol, this)
    def count: Column = col("n_segments").cast("long")
  }

  /** Per-frame perceptual hashes for a multi-frame container the JDK
    * can decode (animated GIF) — the VIDEO-LIKE near-dup signature:
    * up to `nFrames` evenly spaced frames, composited exactly like
    * `sampleFramesDecoded` (same walk — they cannot drift), each
    * hashed with the SAME 9x8 dHash as the still-image tier, so a
    * one-frame GIF of an image hashes identically to the image
    * itself. One output row per sampled frame: input columns +
    * `sample_pos` (0-based rank among the sampled frames — the
    * position key the near-dup join compares on), `frame_idx` (the
    * actual frame number), `n_frames`, and `outCol` (the 64-bit
    * dHash). Only 8 bytes per frame ever shuffle — the pixels stay
    * where the scan ran, the same argument as the image tier.
    * Undecodable payloads emit zero rows (the gates own those).
    *
    * MP4/MOV now decodes IN-TREE for raw and MJPEG tracks
    * (`Mp4FrameDecoder` — the sample-table walk is real; ImageIO
    * owns the JPEG samples). What remains external is COMPRESSED
    * video (H.264/VP9/AV1 in MP4/WebM — no JDK codec): pass a custom
    * `FrameDecoder` (JNI/FFmpeg; `sampleFrames` remains the honest
    * digest-only stub) and the whole tier — pairs, filter, standing
    * index — rides it unchanged. */
  def gifFrameHashes(df: DataFrame, binaryCol: String, nFrames: Int = 4,
      outCol: String = "frame_ph",
      decoder: FrameDecoder = GifFrameDecoder)(
      implicit spark: SparkSession): DataFrame =
    new UniformFrames(nFrames, decoder).hashes(df, binaryCol, outCol)

  /** KEYFRAME-aligned frame dHashes — `gifFrameHashes` with the
    * sampling plan taken from the container's own sync-sample table
    * instead of uniform frame positions: for an ISO-BMFF payload
    * whose first video track indexes (`KeyframeIndexer`: stss/stsz/
    * stsc/stco), up to `nFrames` evenly spaced SYNC samples decode,
    * `sample_pos` is the keyframe ORDINAL (so two cuts of the same
    * footage align by I-frame sequence even when their absolute
    * sample numbers differ), and `n_frames` is the track's keyframe
    * count. A payload with no BMFF keyframe index (GIF/AVI/Y4M, or a
    * malformed box tree) falls back to uniform sampling — the exact
    * `gifFrameHashes` behavior, and the same thing the spec says a
    * missing stss means (every sample is sync), so mixed corpora
    * stay comparable. Decode honesty is the `FrameDecoder`'s: with
    * the in-repo decoders this is real for MJPEG MP4/MOV (the one
    * compressed codec the JDK decodes); an external H.264/VP9
    * `FrameDecoder` plug-in gets I-frame-aligned comparison with no
    * tier changes. `frameAt` is forward-only — sync samples arrive
    * ascending from the index, so the contract holds. */
  def videoFrameHashes(df: DataFrame, binaryCol: String, nFrames: Int = 4,
      outCol: String = "frame_ph",
      decoder: FrameDecoder = Mp4FrameDecoder)(
      implicit spark: SparkSession): DataFrame =
    new Keyframes(nFrames, decoder).hashes(df, binaryCol, outCol)

  /** The one per-frame hash body of both frame samplers. */
  private def frameHashes(df: DataFrame, binaryCol: String, outCol: String,
      s: FrameSampler)(implicit spark: SparkSession): DataFrame =
    decodePass(if (s.keyframes) "videoFrameHashes" else "gifFrameHashes", df,
      binaryCol, fields("sample_pos" -> IntegerType, "frame_idx" -> IntegerType,
        "n_frames" -> IntegerType, outCol -> LongType))(
      () => (new PerceptualHasher,
        if (s.keyframes) Some(new KeyframeIndexer) else None)) {
      case ((hasher, keyframes), b) =>
        foldFrames(b, s.nFrames, s.decoder, keyframes) { (pos, fi, n, canvas) =>
          (pos, fi, n, hasher.dhashOfImage(canvas))
        }
    }

  /** Animation-level near-dup pairs over sampled-frame dHashes — the
    * video-like modality joining the image/audio signature tiers:
    * two GIFs pair when at least `minFrameMatches` of their
    * SAME-POSITION sampled frames are within `maxHamming` bits. The
    * search is the house banded shape applied per position: each
    * frame hash splits into four 16-bit bands keyed by
    * (sample_pos, band slot, band value), candidates come from a
    * capped equi-join (never an all-pairs product — `maxBucket`
    * bounds a degenerate band, drops observed), and for
    * `maxHamming` <= 3 the four-band pigeonhole makes per-frame
    * recall EXACT, so the pair set is exactly the all-pairs answer.
    * SHORT animations gate ADAPTIVELY but not naively: when either
    * side sampled fewer than `minFrameMatches` frames, the pair must
    * have EQUAL sampled lengths with EVERY position matched — so two
    * byte-identical 2-frame GIFs still pair at the defaults instead
    * of being structurally unpairable, while a 1-frame still that
    * happens to share an animation's first frame does NOT pair with
    * it (and cannot become a transitive cluster hub). The sampled
    * count is min(nFrames, n_frames) — row-local, no second decode
    * pass.
    * Positional comparison is the honest cheap rule: it catches
    * re-encodes, palette changes and mild edits of the SAME
    * animation; `maxShift` adds a BOUNDED alignment tolerance for
    * time-shifted / re-cut variants (a trimmed intro shifts every
    * later sampled frame by a position or two): a frame at position
    * p may match the other side's frames at positions p±maxShift,
    * at (2·maxShift+1)× the candidate cost — still banded, never the
    * quadratic full alignment search (which stays refused: an
    * arbitrarily re-cut animation is a different sampling). With
    * shift, `n_matched` counts the LEAST of each side's distinct
    * matched positions (a frame matching three shifted counterparts
    * is one covered position, not three matches; at maxShift = 0 both
    * counts equal the classic same-position match count, so the
    * default semantics are bit-identical to pre-shift). Returns
    * (id_a, id_b, n_matched) with id_a < id_b. */
  def gifNearDupPairs(df: DataFrame, binaryCol: String, idCol: String,
      nFrames: Int = 4, maxHamming: Int = 3, minFrameMatches: Int = 3,
      maxBucket: Int = HotKeys.DefaultBucketCap,
      metricName: String = "graft_gif_band_cap",
      maxShift: Int = 0,
      decoder: FrameDecoder = GifFrameDecoder)(
      implicit spark: SparkSession): DataFrame =
    positionalPairs(new UniformFrames(nFrames, decoder), df, binaryCol,
      idCol, maxHamming, minFrameMatches, maxBucket, metricName, maxShift)

  /** Keyframe-sampled near-dup pairs for REAL videos:
    * `gifNearDupPairs`' exact positional semantics (banding, hot-cap,
    * bounded shift, adaptive short-doc gate), but frames sampled at
    * the container's sync samples via `videoFrameHashes`, so
    * comparison aligns on I-frames instead of arithmetic positions.
    * Why that matters: a delta-coded video's decodable/representative
    * frames ARE its keyframes, their spacing is non-uniform (scene
    * cuts), and a re-encode keeps the keyframe CONTENT while
    * renumbering samples — uniform sampling lands on different frames
    * of the two files and misses the match; ordinal keyframe
    * alignment finds it. Payloads without a keyframe index sample
    * uniformly (see `videoFrameHashes`), so a mixed GIF+MP4 corpus
    * runs in one pass. */
  def videoNearDupPairs(df: DataFrame, binaryCol: String, idCol: String,
      nFrames: Int = 4, maxHamming: Int = 3, minFrameMatches: Int = 3,
      maxBucket: Int = HotKeys.DefaultBucketCap,
      metricName: String = "graft_video_band_cap",
      maxShift: Int = 0,
      decoder: FrameDecoder = Mp4FrameDecoder)(
      implicit spark: SparkSession): DataFrame =
    positionalPairs(new Keyframes(nFrames, decoder), df, binaryCol, idCol,
      maxHamming, minFrameMatches, maxBucket, metricName, maxShift)

  /** The argument checks of every positional pair search and probe. */
  private def requireMatchArgs(s: Sampler, maxHamming: Int,
      minMatches: Int, maxShift: Int): Unit = {
    val (capArg, cap) = s.cap
    require(maxHamming >= 0, s"maxHamming must be >= 0, got $maxHamming")
    require(minMatches >= 1 && minMatches <= cap,
      s"${s.matchArg} must be in [1, $capArg=$cap], got $minMatches")
    require(maxShift >= 0 && maxShift < cap,
      s"maxShift must be in [0, $capArg=$cap), got $maxShift")
  }

  /** The positional pair search: the semantics documented on
    * `gifNearDupPairs`, for any sampler. */
  private[operators] def positionalPairs(s: Sampler, df: DataFrame, binaryCol: String,
      idCol: String, maxHamming: Int, minMatches: Int, maxBucket: Int,
      metricName: String, maxShift: Int)(
      implicit spark: SparkSession): DataFrame = {
    requireMatchArgs(s, maxHamming, minMatches, maxShift)
    val frames = s.hashes(df.select(col(idCol), col(binaryCol)), binaryCol, "_h")
      .select(col(idCol).as("_gid"), col("sample_pos"), col("_h"),
        s.count.as("_nf"))
    val bands = frames.select(col("_gid"), col("sample_pos"), col("_h"),
        col("_nf"), Dedup.explodeBands(col("_h")))
      .toDF("_gid", "sample_pos", "_h", "_nf", "_k", "_band")
    // cap per TRUE (position, slot, value) bucket. minPerKey prunes
    // buckets that cannot produce a pair: with shift that is ANY
    // nonempty bucket (the counterpart may sit in a neighboring
    // position's bucket), so the singleton-prune only applies at
    // maxShift = 0.
    val (obs, silent) = HotKeys.capPair(bands,
      Seq(col("sample_pos"), col("_k"), col("_band")), maxBucket,
      minPerKey = if (maxShift == 0) 2 else 1, metricName = metricName)
    val a0 = obs.toDF("id_a", "_posa", "_ha", "_nfa", "_k", "_band")
    val b = silent.toDF("id_b", "sample_pos", "_hb", "_nfb", "_k", "_band")
    // the a-side replicates each band row to its tolerated join
    // positions ((2·maxShift+1)× rows — the stated cost); the b-side
    // keeps true positions, so |posa − posb| <= maxShift exactly
    val a =
      if (maxShift == 0) a0.withColumn("sample_pos", col("_posa"))
      else a0
        .withColumn("sample_pos", explode(array(
          (-maxShift to maxShift).map(d => col("_posa") + lit(d)): _*)))
        .filter(col("sample_pos") >= 0)
    a.join(b, Seq("sample_pos", "_k", "_band"))
      .filter(col("id_a") < col("id_b"))
      .filter(bit_count(col("_ha").bitwiseXOR(col("_hb"))) <= maxHamming)
      .select(col("id_a"), col("id_b"), col("_posa"),
        col("sample_pos").as("_posb"), col("_nfa"), col("_nfb"))
      .distinct() // several bands of one frame pair agree -> one match
      .groupBy("id_a", "id_b")
      // a side's covered positions, not matched frame PAIRS: one
      // frame matching three shifted counterparts is one position
      .agg(least(count_distinct(col("_posa")),
          count_distinct(col("_posb"))).cast("long").as("n_matched"),
        min(col("_nfa")).as("_nfa"), min(col("_nfb")).as("_nfb"))
      // below the standard threshold the gate demands EQUAL sampled
      // lengths with every position matched (greatest(nfa, nfb) is
      // unreachable otherwise, since n_matched <= least(nfa, nfb)):
      // identical 2-frame GIFs pair, but a 1-frame still sharing an
      // animation's (common) first frame does NOT become a transitive
      // cluster hub — different-length animations are different
      // animations
      .filter(col("n_matched") >= when(
        least(col("_nfa"), col("_nfb")) >= minMatches.toLong,
        lit(minMatches.toLong))
        .otherwise(greatest(col("_nfa"), col("_nfb"))))
      .select(col("id_a"), col("id_b"), col("n_matched"))
  }

  /** The POSITIONAL standing index for animations — the in-memory
    * form of the positional hash-band layout: per sampled frame, the
    * four 16-bit band slots of its dHash collect into capped
    * candidate lists KEYED BY SAMPLE POSITION as well —
    * (`sample_pos`, `_k`, `_band`, `_hs`) — so a probe only ever
    * compares same-position frames, which is what keeps the pair
    * semantics identical to `gifNearDupPairs`. Build it ONCE over the
    * standing corpus (decode cost follows the corpus exactly once);
    * the artifact is frames × 4 rows of longs, bands-keyed, bounded,
    * broadcastable. Caps are per (position, band) all-or-nothing with
    * observed drop counts. The sampling width rides `_hs` as column
    * metadata, and every probe refuses an index of another width. */
  def gifHashBandIndex(standing: DataFrame, gifCol: String,
      nFrames: Int = 4, maxBucket: Int = HotKeys.DefaultBucketCap,
      metricName: String = "graft_gif_index_cap",
      decoder: FrameDecoder = GifFrameDecoder)(
      implicit spark: SparkSession): DataFrame =
    positionalIndex(new UniformFrames(nFrames, decoder), standing, gifCol,
      maxBucket, metricName)

  /** KEYFRAME-sampled standing index — `gifHashBandIndex` with
    * positions that are keyframe ORDINALS (`videoFrameHashes`), so a
    * probe aligns re-cuts by I-frame sequence against the standing
    * corpus exactly like `videoNearDupPairs` does in-corpus. The
    * artifact is the positional layout byte for byte, so every
    * maintenance tool serves it; probing it with the uniform tier (or
    * vice versa) is a mix the width guard cannot catch — keep one
    * sampling plan per index. */
  def videoKeyframeHashBandIndex(standing: DataFrame, videoCol: String,
      nFrames: Int = 4, maxBucket: Int = HotKeys.DefaultBucketCap,
      metricName: String = "graft_video_kf_index_cap",
      decoder: FrameDecoder = Mp4FrameDecoder)(
      implicit spark: SparkSession): DataFrame =
    positionalIndex(new Keyframes(nFrames, decoder), standing, videoCol,
      maxBucket, metricName)

  private def positionalIndex(s: Sampler, standing: DataFrame,
      binaryCol: String, maxBucket: Int, metricName: String)(
      implicit spark: SparkSession): DataFrame =
    withWidth(Dedup.bandIndex(
      s.hashes(standing.select(col(binaryCol)), binaryCol, "_h")
        .select(col("sample_pos"), col("_h")),
      Seq("sample_pos"), maxBucket, metricName), s)

  /** The sampling width riding the index frame as COLUMN METADATA on
    * `_hs` — the device that closes the mixed-width seam: the index
    * builders/readers know the width the signatures were sampled at,
    * the probe knows its own, and carrying the former on the frame
    * itself lets the probe refuse a mismatch even though the two
    * widths meet only there. Schema metadata survives
    * select/filter/persist/localCheckpoint (a probe pipeline's whole
    * journey); a frame that lost it (hand-built, or rebuilt through a
    * transformation that re-created the column) degrades to the
    * unguarded behavior — best-effort by design, the persisted path's
    * `_meta.sample_cap` check stays the hard gate. */
  private def withWidth(index: DataFrame, s: Sampler): DataFrame =
    index.withColumn("_hs", col("_hs").as("_hs",
      new org.apache.spark.sql.types.MetadataBuilder()
        .putLong("graft.sample_width", s.width).build()))

  /** Refuse an index whose recorded width differs from the probe's. */
  private def requireWidth(caller: String, s: Sampler,
      index: DataFrame): Unit =
    index.schema.fields.find(_.name == "_hs").map(_.metadata)
      .filter(_.contains("graft.sample_width"))
      .map(_.getLong("graft.sample_width"))
      .foreach { built =>
        require(built == s.width,
          s"$caller: index carries ${s.widthWord} $built but this probe " +
            s"uses ${s.width} — probe with the index's width, or rebuild " +
            "the index at the probe's")
      }

  /** Keep the rows whose animation does NOT near-dup the standing
    * corpus, for incremental intake against a `gifHashBandIndex`:
    * each batch animation's sampled frames probe the index at their
    * own position (four capped equi-joins per band slot), a frame
    * HITS when any same-position candidate is within `maxHamming`
    * bits, and the animation drops when its hit count reaches
    * least(minFrameMatches, its own sampled count) — the batch-side
    * half of `gifNearDupPairs`' adaptive rule. ASYMMETRY, stated not
    * hidden: the index aggregates candidate lists per (position,
    * band) and does not carry each standing animation's frame count,
    * so a standing animation SHORTER than `minFrameMatches` can
    * suppress a batch animation only through the threshold the batch
    * side's length sets (the pair operator, which sees both lengths,
    * is the tier to use when that distinction matters — in-corpus
    * clustering uses it). `maxShift` lets a frame hit candidates
    * within ±maxShift positions of its own ((2s+1)× probe rows); the
    * hit count stays per DISTINCT probe position. An index built or
    * read at another `nFrames` is refused (its width rides `_hs`).
    * Undecodable payloads emit no frames and KEEP (the gates own
    * those rows). The per-animation hit count is one id-keyed
    * aggregation — this filter is for batch intake; prepStream
    * refuses the GIF tier for exactly this aggregation. */
  def gifNearDupFilterAgainst(df: DataFrame, gifCol: String, idCol: String,
      index: DataFrame, nFrames: Int = 4, maxHamming: Int = 3,
      minFrameMatches: Int = 3, broadcastIndex: Boolean = true,
      decoder: FrameDecoder = GifFrameDecoder, maxShift: Int = 0)(
      implicit spark: SparkSession): DataFrame =
    positionalFilter("gifNearDupFilterAgainst",
      new UniformFrames(nFrames, decoder), df, gifCol, idCol, index,
      maxHamming, minFrameMatches, broadcastIndex, maxShift)

  /** `gifNearDupFilterAgainst` under KEYFRAME alignment: probe frames
    * sampled at the container's sync samples (`videoFrameHashes`),
    * against a `videoKeyframeHashBandIndex`. */
  def videoNearDupFilterAgainst(df: DataFrame, videoCol: String,
      idCol: String, index: DataFrame, nFrames: Int = 4,
      maxHamming: Int = 3, minFrameMatches: Int = 3,
      broadcastIndex: Boolean = true,
      decoder: FrameDecoder = Mp4FrameDecoder, maxShift: Int = 0)(
      implicit spark: SparkSession): DataFrame =
    positionalFilter("videoNearDupFilterAgainst",
      new Keyframes(nFrames, decoder), df, videoCol, idCol, index,
      maxHamming, minFrameMatches, broadcastIndex, maxShift)

  /** The positional standing probe: the semantics documented on
    * `gifNearDupFilterAgainst`, for any sampler. */
  private[operators] def positionalFilter(caller: String, s: Sampler, df: DataFrame,
      binaryCol: String, idCol: String, index: DataFrame, maxHamming: Int,
      minMatches: Int, broadcastIndex: Boolean, maxShift: Int)(
      implicit spark: SparkSession): DataFrame = {
    requireMatchArgs(s, maxHamming, minMatches, maxShift)
    requireWidth(caller, s, index)
    val frames = s.hashes(df.select(col(idCol), col(binaryCol)), binaryCol, "_h")
      .select(col(idCol), col("sample_pos"), col("_h"), s.count.as("_nf"))
    val clash = df.columns.toSeq.intersect(
      Seq("_h", "_nf", "_jpos") ++ (0 until 4).flatMap(k =>
        Seq(s"_p$k", s"_b$k", s"_cand$k")))
    require(clash.isEmpty,
      s"input columns ${clash.mkString(",")} collide with " +
        "the positional filter's working names")
    // maxShift: the probe side replicates each frame to its tolerated
    // index positions ((2s+1)x probe rows — batch-sized), mirroring
    // the pair search's bounded alignment
    val probeFrames =
      if (maxShift == 0) frames.withColumn("_jpos", col("sample_pos"))
      else frames
        .withColumn("_jpos", explode(array(
          (-maxShift to maxShift).map(d => col("sample_pos") + lit(d)): _*)))
        .filter(col("_jpos") >= 0)
    val dropIds = Dedup.probeBands(probeFrames, index, Some("_jpos"),
        broadcastIndex)
      .select(col(idCol), col("sample_pos"), col("_nf"),
        Dedup.bandHit(maxHamming).as("_hit"))
      .groupBy(idCol)
      .agg(count_distinct(when(col("_hit"), col("sample_pos"))).as("_hits"),
        min(col("_nf")).as("_nf"))
      .filter(col("_hits") >= least(lit(minMatches.toLong), col("_nf")))
      .select(idCol)
    df.join(dropIds, Seq(idCol), "left_anti")
  }

  /** STREAM-ready GIF intake — the micro-batch body of the
    * foreachBatch recipe, packaged so the parity with the batch
    * filter is a library contract instead of user prose: pass the
    * result to `stream.writeStream.foreachBatch(...)` and each
    * micro-batch flows through `gifNearDupFilterAgainst` against the
    * STANDING index before `sink` sees it. This is the honest stream
    * shape for the GIF tier: the drop decision aggregates matched
    * frame positions per animation, which the row-local append-mode
    * contract of `prepStream` cannot express — but a micro-batch is
    * a batch, so the batch filter's exact semantics (adaptive length
    * gate, positional probe, width guard) apply verbatim per batch.
    * Same caveat as `runIncremental`: batches dedup against the
    * STANDING corpus only — two near-dup animations arriving in
    * different micro-batches both survive unless the index is grown
    * between batches (`rebuildGifHashBandIndex`); in-batch pairs are
    * the batch pair operator's job.
    *
    * The index frame should be built/read ONCE at stream start and
    * `persist()`ed (the read-once-cache-across-micro-batches
    * contract — re-reading per batch re-shuffles the artifact for
    * nothing); the argument and sampling-width checks run HERE, at
    * stream build, so a mismatched width fails before the first batch
    * rather than inside the running query. */
  def gifNearDupMicroBatch(gifCol: String, idCol: String, index: DataFrame,
      nFrames: Int = 4, maxHamming: Int = 3, minFrameMatches: Int = 3,
      broadcastIndex: Boolean = true,
      decoder: FrameDecoder = GifFrameDecoder, maxShift: Int = 0)(
      sink: (DataFrame, Long) => Unit)(
      implicit spark: SparkSession): (DataFrame, Long) => Unit =
    positionalMicroBatch("gifNearDupMicroBatch",
      new UniformFrames(nFrames, decoder), gifCol, idCol, index, maxHamming,
      minFrameMatches, broadcastIndex, maxShift)(sink)

  /** `gifNearDupMicroBatch` under the KEYFRAME sampling plan, against
    * a standing `videoKeyframeHashBandIndex`. */
  def videoNearDupMicroBatch(videoCol: String, idCol: String,
      index: DataFrame, nFrames: Int = 4, maxHamming: Int = 3,
      minFrameMatches: Int = 3, broadcastIndex: Boolean = true,
      decoder: FrameDecoder = Mp4FrameDecoder, maxShift: Int = 0)(
      sink: (DataFrame, Long) => Unit)(
      implicit spark: SparkSession): (DataFrame, Long) => Unit =
    positionalMicroBatch("videoNearDupMicroBatch",
      new Keyframes(nFrames, decoder), videoCol, idCol, index, maxHamming,
      minFrameMatches, broadcastIndex, maxShift)(sink)

  /** The micro-batch wrapper: checks at stream build, then
    * `positionalFilter` per batch. */
  private def positionalMicroBatch(caller: String, s: Sampler,
      binaryCol: String, idCol: String, index: DataFrame, maxHamming: Int,
      minMatches: Int, broadcastIndex: Boolean, maxShift: Int)(
      sink: (DataFrame, Long) => Unit)(
      implicit spark: SparkSession): (DataFrame, Long) => Unit = {
    requireMatchArgs(s, maxHamming, minMatches, maxShift)
    requireWidth(caller, s, index)
    (batch: DataFrame, batchId: Long) =>
      sink(positionalFilter(caller, s, batch, binaryCol, idCol, index,
        maxHamming, minMatches, broadcastIndex, maxShift), batchId)
  }

  /** Persist the positional GIF hash-band index WITH document ids —
    * `Dedup.writeHashBandIndex`'s exact contract (versioned from
    * birth, name-scoped reset, all-or-nothing band caps with observed
    * drop counts, one Spark action, each generation's `_meta` record
    * inside its `bands_vN`) over per-frame
    * signatures keyed by sampled position: one row per (band slot
    * `_k`, band value `_band`, `sample_pos`, `idCol`, frame hash
    * `_h`), capped per (position, slot, value). The standing corpus'
    * animations decode exactly once, here; every later probe, delete,
    * compaction and growth rebuild works from the artifact's longs.
    * The record's `ndocs` counts SIGNATURE ROWS — sampled frames, not
    * animations (the cap/band economy this family's health policy
    * reasons about is frame-level); its `sample_cap` records the
    * width, and `pos_col` the position key.
    *
    * Deletes, compaction, stats and the health policy are the CLASSIC
    * family's entry points, unchanged — the layout is the same
    * family: `Dedup.deleteFromHashBandIndex` (tombstones by gif id;
    * all of an animation's frames stop matching at the next read),
    * `Dedup.compactHashBandIndex` (material removal under the atomic
    * swap), `Dedup.hashBandIndexStats` (band counts are
    * position-aware, schema-derived), `IndexMaintenance.healthOf`
    * (the hash-band adapter). Only read and growth need
    * the positional entry points below — they are the two operations
    * whose semantics the position column changes. */
  def writeGifHashBandIndex(standing: DataFrame, gifCol: String,
      idCol: String, path: String, nFrames: Int = 4,
      maxBucket: Int = HotKeys.DefaultBucketCap,
      metricName: String = "graft_gif_index_write_cap",
      outFiles: Int = 4,
      decoder: FrameDecoder = GifFrameDecoder)(
      implicit spark: SparkSession): Unit =
    positionalWrite(new UniformFrames(nFrames, decoder), standing, gifCol,
      idCol, path, maxBucket, metricName, outFiles)

  /** Persist a keyframe-sampled index — `writeGifHashBandIndex` with
    * `videoFrameHashes` frames; read it back with
    * `readGifHashBandIndex` (identical layout and width record). */
  def writeVideoKeyframeHashBandIndex(standing: DataFrame,
      videoCol: String, idCol: String, path: String, nFrames: Int = 4,
      maxBucket: Int = HotKeys.DefaultBucketCap,
      metricName: String = "graft_video_kf_index_write_cap",
      outFiles: Int = 4,
      decoder: FrameDecoder = Mp4FrameDecoder)(
      implicit spark: SparkSession): Unit =
    positionalWrite(new Keyframes(nFrames, decoder), standing, videoCol,
      idCol, path, maxBucket, metricName, outFiles)

  /** An `idCol` named `sample_pos` is refused by the sampler's own
    * output-collision check, before anything is written. */
  private def positionalWrite(s: Sampler, standing: DataFrame,
      binaryCol: String, idCol: String, path: String, maxBucket: Int,
      metricName: String, outFiles: Int)(
      implicit spark: SparkSession): Unit = {
    Dedup.writeHashBandIndexFrame(idSignatures(s, standing, binaryCol, idCol),
      idCol, Seq("sample_pos"), binaryCol, path, maxBucket, metricName,
      outFiles, sampleCap = s.width)
  }

  /** Read a persisted positional GIF (or keyframe) index back in the
    * PROBE shape — (`sample_pos`, `_k`, `_band`, `_hs`), exactly what
    * `gifNearDupFilterAgainst` and the facades' `gifIndex` argument
    * take, so the persisted index is a drop-in for the in-memory
    * `gifHashBandIndex` — minus the re-decode of the standing corpus
    * every run that the in-memory form imposes. Tombstones apply
    * eagerly, versions resolve through the pointer, and the classic
    * family's read caveats hold verbatim (cap honesty; read once and
    * cache across micro-batches). A CLASSIC artifact read through
    * this entry point is refused (schema-derived) rather than
    * silently probed with a phantom position key.
    *
    * `nFrames` is the width the PROBE will sample at: it is validated
    * against the served generation's `_meta.sample_cap` record,
    * because a probe at a different width would compare DIFFERENT
    * frames per position. The check always runs: a generation without
    * its record refuses the read (rebuild the index); the default
    * matches the build default. The validated width ALSO rides the
    * returned frame as `_hs` column metadata, so the probe re-checks
    * it against its own `nFrames`. */
  def readGifHashBandIndex(spark: SparkSession, path: String,
      nFrames: Int = 4): DataFrame =
    positionalRead(spark, path, new UniformFrames(nFrames, GifFrameDecoder))

  private def positionalRead(spark: SparkSession, path: String,
      s: Sampler): DataFrame =
    withWidth(Dedup.readHashBandIndexFrame(spark, path, Seq("sample_pos"),
      expectSampleCap = Some(s.width)), s)

  /** GROW a persisted positional GIF index — the classic family's
    * `rebuildHashBandIndex` with the new batch's animations decoded
    * to per-frame signatures first (`nFrames` must match the build's:
    * the served generation's `_meta.sample_cap` refuses a mismatch,
    * since the artifact cannot
    * re-sample old animations). The surviving signature frame
    * reconstructs from the artifact's own (id, sample_pos, `_h`) rows
    * minus pending tombstones, unions the new frames, and re-runs the
    * capped versioned write under the shared rewrite lock — the
    * standing corpus is never re-decoded, and a crash at any boundary
    * leaves a complete servable index holding its grown record. */
  def rebuildGifHashBandIndex(spark: SparkSession, path: String,
      newGifs: DataFrame, gifCol: String, idCol: String, nFrames: Int = 4,
      maxBucket: Option[Int] = None,
      metricName: String = "graft_gif_index_rebuild_cap",
      outFiles: Int = 4,
      decoder: FrameDecoder = GifFrameDecoder): Unit =
    positionalRebuild(spark, path, new UniformFrames(nFrames, decoder),
      newGifs, gifCol, idCol, maxBucket, metricName, outFiles)

  private def positionalRebuild(spark: SparkSession, path: String,
      s: Sampler, newDocs: DataFrame, binaryCol: String, idCol: String,
      maxBucket: Option[Int], metricName: String, outFiles: Int): Unit = {
    Dedup.rebuildHashBandIndexFrame(spark, path,
      idSignatures(s, newDocs, binaryCol, idCol)(spark), idCol,
      Seq("sample_pos"), maxBucket, metricName, outFiles, binaryCol,
      sampleCap = s.width)
  }

  /** The persisted layout's (idCol, `sample_pos`, `_h`) signature frame. */
  private def idSignatures(s: Sampler, df: DataFrame, binaryCol: String,
      idCol: String)(implicit spark: SparkSession): DataFrame =
    s.hashes(df.select(col(idCol), col(binaryCol)), binaryCol, "_h")
      .select(col(idCol), col("sample_pos"), col("_h"))

  // ------------------------------------------------------------------
  // SEGMENTED audio tier, through the positional machinery above: the
  // whole-clip 64-bit fingerprint (`withAudioFingerprint`) is exact
  // for re-containered copies but brittle to ANY length change (its
  // 65 windows divide the WHOLE clip, so a trimmed intro moves every
  // window boundary). Segmenting fixes that: the clip splits into
  // consecutive fixed-DURATION segments of exactly `segmentFrames`
  // PCM frames, each segment fingerprints with the same 65-window
  // sign-of-delta envelope device, and two clips compare per POSITION
  // — prepending one segment of content shifts every later position
  // by exactly one, which is what `maxShift` tolerates. Because
  // segment boundaries are ABSOLUTE (frame i*segmentFrames, unlike
  // the frame samplers' length-relative sampling), the only
  // comparability key is `segmentFrames` itself: that is the width
  // the index records and the probes refuse on mismatch;
  // `maxSegments` merely caps how many positions a long clip
  // contributes and may differ freely between index and probe.
  // ------------------------------------------------------------------

  /** Per-segment 64-bit envelope fingerprints over REAL PCM decode —
    * `AudioFingerprinter`'s device applied per consecutive segment of
    * exactly `segmentFrames` frames (multiple of 65, so the 65
    * windows tile a segment exactly; window length `wl` =
    * segmentFrames/65): bit i of segment s records "window i+1
    * louder than window i" within that segment. The determinism
    * contract carries over verbatim (exact double sums of multiples
    * of 2⁻³⁰ for wl up to 2²³ — the bit comparisons replay as
    * integer comparisons, which is what q150's DuckDB oracle does).
    * Segments come from the container's DECLARED frame count
    * (floor-divided; the ragged tail is ignored), capped at
    * `maxSegments`; clips shorter than one segment, containers that
    * do not declare a length, payloads that truncate before the
    * declared segment span, and undecodable bytes all produce ZERO
    * segments — the tier keeps such rows (the gates own them), the
    * same rule as the image/GIF tiers. */
  final class AudioSegmentFingerprinter(segmentFrames: Long,
      maxSegments: Int, decoder: PcmDecoder = JdkPcmDecoder)
      extends Serializable {
    require(segmentFrames >= 65 && segmentFrames % 65 == 0,
      s"segmentFrames must be a positive multiple of 65 (the envelope " +
        s"window count), got $segmentFrames")
    require(maxSegments >= 1, s"maxSegments must be >= 1, got $maxSegments")

    def segmentHashes(bytes: Array[Byte]): Array[Long] = {
      val none = Array.emptyLongArray
      val opened = try decoder.open(bytes) catch {
        case scala.util.control.NonFatal(_) => None
      }
      opened match {
        case None => none
        case Some(pcm) =>
          try {
            val total = pcm.declaredFrames
            if (total < segmentFrames) return none // includes unknown (-1)
            val nSegs = math.min(total / segmentFrames, maxSegments.toLong).toInt
            val wl = segmentFrames / 65
            val limit = nSegs * segmentFrames
            val energies = Array.ofDim[Double](nSegs, 65)
            val out = new Array[Double](4096)
            var frames = 0L
            var eof = false
            while (!eof && frames < limit) {
              val remaining = limit - frames
              val want =
                if (remaining >= out.length) out.length else remaining.toInt
              val n = pcm.read(out, want)
              if (n <= 0) eof = true
              else {
                var i = 0
                while (i < n) {
                  val s = out(i)
                  val seg = (frames / segmentFrames).toInt
                  val w = ((frames % segmentFrames) / wl).toInt
                  energies(seg)(w) += s * s
                  i += 1
                  frames += 1
                }
              }
            }
            if (frames < limit) return none // header declared more than decoded
            Array.tabulate(nSegs) { seg =>
              val e = energies(seg)
              var h = 0L
              var i = 0
              while (i < 64) {
                if (e(i + 1) > e(i)) h |= 1L << i
                i += 1
              }
              h
            }
          } catch { case scala.util.control.NonFatal(_) => none }
          finally pcm.close()
      }
    }
  }

  /** Flags payloads that are REAL audio the segment tier cannot
    * fingerprint: the metadata walk (`AutoAudioMetaDecoder` — MP3 /
    * FLAC / Ogg Vorbis / Opus / RIFF-WAV headers) decodes `ok` but
    * the given `PcmDecoder` does not open the payload, i.e. a
    * compressed codec with no PCM plug-in installed. Such rows KEEP
    * through the audioseg tier (the undecodable-keeps rule, same as
    * the image/GIF tiers), but a dedup user deserves to SEE that the
    * tier never judged them — the prep traces stamp kept rows with
    * `undecodable_pcm` from this flag. Random junk (metadata does
    * not decode either) stays unflagged: the tier contract never
    * claimed to judge non-audio bytes. One decoder pair per task;
    * open-then-close only, no samples read. */
  def withPcmUndecodable(df: DataFrame, binaryCol: String,
      outCol: String = "pcm_undecodable",
      decoder: PcmDecoder = JdkPcmDecoder)(
      implicit spark: SparkSession): DataFrame =
    decodePass("withPcmUndecodable", df, binaryCol, fields(outCol -> BooleanType))(
      () => new AutoAudioMetaDecoder) { (meta, b) =>
      one(b != null && b.nonEmpty && {
        val metaOk =
          try meta.decode(b).ok
          catch { case scala.util.control.NonFatal(_) => false }
        metaOk && {
          val opened =
            try decoder.open(b)
            catch { case scala.util.control.NonFatal(_) => None }
          opened match {
            case Some(pcm) => pcm.close(); false
            case None => true
          }
        }
      })
    }

  /** One row per audio SEGMENT: (`sample_pos`, `n_segments`, `outCol`
    * = the segment's 64-bit envelope fingerprint), in the exact shape
    * the positional machinery takes. `segmentFrames` and
    * `maxSegments` are checked here, on the driver. Only 8 bytes per
    * segment ever shuffle. Zero-segment payloads emit no rows. */
  def audioSegmentHashes(df: DataFrame, binaryCol: String,
      segmentFrames: Long = 8320L, maxSegments: Int = 16,
      outCol: String = "seg_fp",
      decoder: PcmDecoder = JdkPcmDecoder)(
      implicit spark: SparkSession): DataFrame =
    new AudioSegments(segmentFrames, maxSegments, decoder)
      .hashes(df, binaryCol, outCol)

  private def segmentHashes(df: DataFrame, binaryCol: String, outCol: String,
      s: AudioSegments)(implicit spark: SparkSession): DataFrame =
    decodePass("audioSegmentHashes", df, binaryCol,
      fields("sample_pos" -> IntegerType, "n_segments" -> IntegerType,
        outCol -> LongType))(() => s.fingerprinter) { (fp, b) =>
      val hs = fp.segmentHashes(b)
      hs.indices.iterator.map(i => (i, hs.length, hs(i)))
    }

  /** Clip-level near-dup pairs over segment fingerprints — the
    * positional pair search (`gifNearDupPairs`' semantics) over
    * `audioSegmentHashes`: two clips pair when at least
    * `minSegmentMatches` of their same-position segments are within
    * `maxHamming` bits (adaptively every-position-of-equal-length for
    * clips shorter than the threshold), `maxShift` tolerates a
    * bounded number of prepended/trimmed SEGMENTS (the time-shift
    * case the whole-clip fingerprint cannot see) at (2s+1)x candidate
    * cost — still banded, never quadratic alignment. Returns
    * (id_a, id_b, n_matched) with id_a < id_b. */
  def audioNearDupPairsSegmented(df: DataFrame, binaryCol: String,
      idCol: String, segmentFrames: Long = 8320L, maxSegments: Int = 16,
      maxHamming: Int = 3, minSegmentMatches: Int = 3,
      maxBucket: Int = HotKeys.DefaultBucketCap,
      metricName: String = "graft_audio_seg_band_cap",
      maxShift: Int = 0,
      decoder: PcmDecoder = JdkPcmDecoder)(
      implicit spark: SparkSession): DataFrame =
    positionalPairs(new AudioSegments(segmentFrames, maxSegments, decoder),
      df, binaryCol, idCol, maxHamming, minSegmentMatches, maxBucket,
      metricName, maxShift)

  /** In-memory positional standing index over a corpus' segment
    * fingerprints, in the (`sample_pos`, `_k`, `_band`, `_hs`) probe
    * shape. The width that rides `_hs` (and that the probes refuse on
    * mismatch) is `segmentFrames`. */
  def audioSegmentHashBandIndex(standing: DataFrame, audioCol: String,
      segmentFrames: Long = 8320L, maxSegments: Int = 16,
      maxBucket: Int = HotKeys.DefaultBucketCap,
      metricName: String = "graft_audio_seg_index_cap",
      decoder: PcmDecoder = JdkPcmDecoder)(
      implicit spark: SparkSession): DataFrame =
    positionalIndex(new AudioSegments(segmentFrames, maxSegments, decoder),
      standing, audioCol, maxBucket, metricName)

  /** Keep the rows whose clip does NOT near-dup a standing audio
    * corpus — the positional probe (`gifNearDupFilterAgainst`'s
    * semantics, including the stated asymmetry: the index does not
    * carry standing clips' segment counts, so the threshold comes
    * from the batch side's length — use the pair operator when both
    * lengths matter). A probe whose `segmentFrames` differs from the
    * index's is refused: mismatched segment durations hash DIFFERENT
    * math, not shifted positions. Zero-segment payloads keep. Batch
    * intake only — the per-clip hit count is an id-keyed aggregation;
    * stream via `audioNearDupMicroBatch`. */
  def audioNearDupFilterAgainst(df: DataFrame, binaryCol: String,
      idCol: String, index: DataFrame, segmentFrames: Long = 8320L,
      maxSegments: Int = 16, maxHamming: Int = 3,
      minSegmentMatches: Int = 3, broadcastIndex: Boolean = true,
      maxShift: Int = 0,
      decoder: PcmDecoder = JdkPcmDecoder)(
      implicit spark: SparkSession): DataFrame =
    positionalFilter("audioNearDupFilterAgainst",
      new AudioSegments(segmentFrames, maxSegments, decoder), df, binaryCol,
      idCol, index, maxHamming, minSegmentMatches, broadcastIndex, maxShift)

  /** STREAM-ready segmented-audio intake, `gifNearDupMicroBatch`'s
    * contract: wrap a sink, pass to `foreachBatch`, and every
    * micro-batch flows through `audioNearDupFilterAgainst` against the
    * standing index (read ONCE and persisted). The width check runs at
    * stream BUILD. Batches dedup against the STANDING corpus only; the
    * index grows between batches via
    * `rebuildAudioSegmentHashBandIndex`. */
  def audioNearDupMicroBatch(binaryCol: String, idCol: String,
      index: DataFrame, segmentFrames: Long = 8320L, maxSegments: Int = 16,
      maxHamming: Int = 3, minSegmentMatches: Int = 3,
      broadcastIndex: Boolean = true, maxShift: Int = 0,
      decoder: PcmDecoder = JdkPcmDecoder)(
      sink: (DataFrame, Long) => Unit)(
      implicit spark: SparkSession): (DataFrame, Long) => Unit =
    positionalMicroBatch("audioNearDupMicroBatch",
      new AudioSegments(segmentFrames, maxSegments, decoder), binaryCol,
      idCol, index, maxHamming, minSegmentMatches, broadcastIndex,
      maxShift)(sink)

  /** Persist the positional AUDIO index — `writeGifHashBandIndex`'s
    * layout and lifecycle (deletes/compaction/stats/health are the
    * classic entry points): one row per (`_k`, `_band`,
    * `sample_pos`, id, segment hash `_h`). Each generation's
    * `bands_vN/_meta.sample_cap` records `segmentFrames`, so a GIF
    * positional artifact (sample_cap = its nFrames) and an audio one
    * refuse each other's probes through the SAME width check;
    * `_meta.hash_col` records the audio column. The
    * width is checked before the root is reset, so a bad
    * `segmentFrames` leaves an existing index untouched. The standing
    * corpus decodes exactly once, here. */
  def writeAudioSegmentHashBandIndex(standing: DataFrame, audioCol: String,
      idCol: String, path: String, segmentFrames: Long = 8320L,
      maxSegments: Int = 16, maxBucket: Int = HotKeys.DefaultBucketCap,
      metricName: String = "graft_audio_seg_index_write_cap",
      outFiles: Int = 4,
      decoder: PcmDecoder = JdkPcmDecoder)(
      implicit spark: SparkSession): Unit =
    positionalWrite(new AudioSegments(segmentFrames, maxSegments, decoder),
      standing, audioCol, idCol, path, maxBucket, metricName, outFiles)

  /** Read a persisted positional audio index in the probe shape —
    * `readGifHashBandIndex`'s contract with the audio width:
    * `segmentFrames` is validated against the served generation's
    * `_meta.sample_cap` record and rides the returned frame as `_hs`
    * metadata so the probe re-checks it. A classic artifact is
    * refused schema-derivedly; a positional GIF artifact is refused
    * by the width record (its sample_cap is a frame COUNT, orders of
    * magnitude below any legal segmentFrames). */
  def readAudioSegmentHashBandIndex(spark: SparkSession, path: String,
      segmentFrames: Long = 8320L): DataFrame =
    positionalRead(spark, path,
      new AudioSegments(segmentFrames, 16, JdkPcmDecoder))

  /** GROW a persisted positional audio index — the positional growth
    * rebuild with the new batch's clips segmented first.
    * `segmentFrames` must equal the build's (the served generation's
    * `_meta.sample_cap` refuses a mismatch — absolute positions make a
    * mixed-width union silently wrong, never merely stale); the grown
    * generation carries its own record. */
  def rebuildAudioSegmentHashBandIndex(spark: SparkSession, path: String,
      newClips: DataFrame, audioCol: String, idCol: String,
      segmentFrames: Long = 8320L, maxSegments: Int = 16,
      maxBucket: Option[Int] = None,
      metricName: String = "graft_audio_seg_index_rebuild_cap",
      outFiles: Int = 4,
      decoder: PcmDecoder = JdkPcmDecoder): Unit =
    positionalRebuild(spark, path,
      new AudioSegments(segmentFrames, maxSegments, decoder), newClips,
      audioCol, idCol, maxBucket, metricName, outFiles)

  /** Corpus-level media stats: the aggregation never touches the raw
    * bytes after the map side — only the small meta struct shuffles. */
  def mediaStats(df: DataFrame, binaryCol: String, groupCols: Seq[String])(
      implicit spark: SparkSession): DataFrame =
    withMediaMeta(df, binaryCol)
      .groupBy(groupCols.map(col): _*)
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("media.ok"), 1).otherwise(0)).as("n_decoded"),
        sum("media.byteLen").as("total_bytes"),
        countDistinct("media.digest").as("n_distinct"),
        round(avg("media.width"), 2).as("avg_width"),
        round(avg("media.height"), 2).as("avg_height"))

  /** Image near-dup pair search, the multimodal facade over the text
    * machinery: REAL pixel decode → 64-bit perceptual dHash
    * (`withPerceptualHash`, once-per-task decoder, only the 8-byte
    * hash shuffles) → Hamming-banded pair expansion
    * (`Dedup.hashNearDupPairs` — the SAME band-keyed, hot-capped,
    * never-all-pairs plan SimHash text dedup uses). At the default
    * `maxHamming = 3`, pigeonhole over the four 16-bit bands makes
    * recall EXACT. Undecodable payloads hash null and never pair.
    * Returns (id_a, id_b, hamming). */
  def imageNearDupPairs(df: DataFrame, binaryCol: String, idCol: String,
      maxHamming: Int = 3, maxBucket: Int = HotKeys.DefaultBucketCap)(
      implicit spark: SparkSession): DataFrame = {
    require(!df.columns.contains("_mm_phash"),
      "input column _mm_phash collides with imageNearDupPairs' working name")
    Dedup.hashNearDupPairs(
      withPerceptualHash(df, binaryCol, "_mm_phash"),
      "_mm_phash", idCol, maxHamming, maxBucket,
      metricName = "graft_image_band_cap")
  }

  // GOLDEN-FIXTURE GENERATORS continue below (BMP/GIF/AVI/WAV/CAF) —
  // see the accounting note above `oggPage`: driver-corpus writers,
  // not engine operators.

  /** Deterministic 24-bit grayscale BMP test vector: `grays` is the
    * row-major TOP-DOWN gray grid (0-255, one value per pixel,
    * written r=g=b so the dHash gray transform recovers it exactly).
    * BMP because it is the one JDK-decodable format whose pixel bytes
    * are a pure offset function of the input — no entropy coder — so
    * an independent engine can replay the decoded grid from the spec
    * alone; q117 pins the whole encode → ImageIO decode → dHash path
    * against exactly such a replay. */
  def syntheticGrayBmp(width: Int, height: Int, grays: Array[Int]): Array[Byte] = {
    require(width > 0 && height > 0 && grays.length == width * height,
      s"need $width x $height = ${width * height} grays, got ${grays.length}")
    val rowBytes = (width * 3 + 3) / 4 * 4
    val dataSize = rowBytes * height
    val out = new Array[Byte](54 + dataSize)
    def putU16(off: Int, v: Int): Unit = {
      out(off) = (v & 0xff).toByte; out(off + 1) = ((v >> 8) & 0xff).toByte
    }
    def putU32(off: Int, v: Int): Unit = {
      var i = 0
      while (i < 4) { out(off + i) = ((v >> (8 * i)) & 0xff).toByte; i += 1 }
    }
    out(0) = 'B'; out(1) = 'M'
    putU32(2, 54 + dataSize); putU32(10, 54)
    putU32(14, 40); putU32(18, width); putU32(22, height)
    putU16(26, 1); putU16(28, 24); putU32(34, dataSize)
    var y = 0
    while (y < height) {
      // BMP rows are bottom-up; grays is top-down
      val src = height - 1 - y
      var x = 0
      while (x < width) {
        val v = (grays(src * width + x) & 0xff).toByte
        val off = 54 + y * rowBytes + x * 3
        out(off) = v; out(off + 1) = v; out(off + 2) = v
        x += 1
      }
      y += 1
    }
    out
  }

  /** Deterministic multi-frame grayscale ANIMATED GIF test vector —
    * the video-like twin of `syntheticGrayBmp`: each frame is a
    * row-major top-down gray grid, written as TYPE_BYTE_INDEXED
    * pixels under an identity 256-gray palette through the JDK's own
    * GIF sequence writer. The palette makes the encode LOSSLESS for
    * 8-bit grays (GIF's LZW is lossless over indices; no quantizer
    * runs because the image already carries the palette), so a
    * decode returns the exact input grays and the per-frame dHash is
    * replayable from the gray formula alone — the q124/q136 device
    * extended to animations (q141 pins the whole encode → composite
    * decode → per-frame dHash → positional band search path). */
  def syntheticGrayGif(width: Int, height: Int,
      frames: Seq[Array[Int]]): Array[Byte] = {
    require(width > 0 && height > 0 && frames.nonEmpty, "need >= 1 frame")
    frames.foreach(f => require(f.length == width * height,
      s"each frame needs $width x $height = ${width * height} grays"))
    val ramp = Array.tabulate(256)(_.toByte)
    val cm = new java.awt.image.IndexColorModel(8, 256, ramp, ramp, ramp)
    val out = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(out)
    val writer = javax.imageio.ImageIO
      .getImageWritersByFormatName("gif").next()
    try {
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      frames.foreach { grays =>
        val img = new java.awt.image.BufferedImage(width, height,
          java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, cm)
        val raster = img.getRaster
        var y = 0
        while (y < height) {
          var x = 0
          while (x < width) {
            raster.setSample(x, y, 0, grays(y * width + x) & 0xff)
            x += 1
          }
          y += 1
        }
        writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
      }
      writer.endWriteSequence()
    } finally {
      writer.dispose()
      ios.close()
    }
    out.toByteArray
  }

  // ---- minimal AVI 1.0 assembly (hand-built RIFF, no library writer
  // whose chunk layout could drift — the syntheticPcmWav philosophy)
  private def leBytes32(v: Long): Array[Byte] =
    Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
  private def leBytes16(v: Int): Array[Byte] =
    Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
  private def riffChunk(id: String, data: Array[Byte]): Array[Byte] = {
    val pad = if ((data.length & 1) == 1) Array(0.toByte) else Array.empty[Byte]
    id.getBytes("US-ASCII") ++ leBytes32(data.length.toLong) ++ data ++ pad
  }
  private def riffList(listType: String, subs: Array[Byte]*): Array[Byte] =
    riffChunk("LIST", listType.getBytes("US-ASCII") ++ subs.flatten)

  private def aviContainer(width: Int, height: Int, bpp: Int,
      compression: Long, handler: String,
      frameChunks: Seq[Array[Byte]]): Array[Byte] = {
    val n = frameChunks.length
    val avih = leBytes32(100000L) ++ leBytes32(0) ++ leBytes32(0) ++
      leBytes32(0) ++ leBytes32(n.toLong) ++ leBytes32(0) ++ leBytes32(1L) ++
      leBytes32(0) ++ leBytes32(width.toLong) ++ leBytes32(height.toLong) ++
      Array.fill(16)(0.toByte)
    val strh = "vids".getBytes("US-ASCII") ++ handler.getBytes("US-ASCII") ++
      leBytes32(0) ++ leBytes16(0) ++ leBytes16(0) ++ leBytes32(0) ++
      leBytes32(1L) /* scale */ ++ leBytes32(10L) /* rate */ ++
      leBytes32(0) ++ leBytes32(n.toLong) ++ leBytes32(0) ++
      leBytes32(0xFFFFFFFFL) /* quality */ ++ leBytes32(0) ++
      Array.fill(8)(0.toByte)
    val strf = leBytes32(40L) ++ leBytes32(width.toLong) ++
      leBytes32(height.toLong) ++ leBytes16(1) ++ leBytes16(bpp) ++
      leBytes32(compression) ++
      leBytes32(frameChunks.headOption.map(_.length.toLong).getOrElse(0L)) ++
      Array.fill(16)(0.toByte)
    val frameId = if (compression == 0L) "00db" else "00dc"
    val body = riffList("hdrl", riffChunk("avih", avih),
        riffList("strl", riffChunk("strh", strh), riffChunk("strf", strf))) ++
      riffList("movi", frameChunks.map(riffChunk(frameId, _)): _*)
    "RIFF".getBytes("US-ASCII") ++ leBytes32(4L + body.length) ++
      "AVI ".getBytes("US-ASCII") ++ body
  }

  /** Deterministic multi-frame grayscale UNCOMPRESSED AVI test vector
    * — the second-container twin of `syntheticGrayGif`: each frame is
    * a row-major top-down gray grid written as a bottom-up 24-bpp
    * BI_RGB DIB chunk (the classic uncompressed capture format).
    * BI_RGB stores raw bytes — LOSSLESS by construction, so the
    * per-frame dHash is replayable from the gray formula alone and
    * the q141 arithmetic oracle device applies to AVI payloads
    * verbatim (q149 pins GIF and AVI encodings of the same formula
    * pairing ACROSS containers). */
  def syntheticGrayAvi(width: Int, height: Int,
      frames: Seq[Array[Int]]): Array[Byte] = {
    require(width > 0 && height > 0 && frames.nonEmpty, "need >= 1 frame")
    frames.foreach(f => require(f.length == width * height,
      s"each frame needs $width x $height = ${width * height} grays"))
    val stride = ((width * 3 + 3) / 4) * 4
    val chunks = frames.map { grays =>
      val out = new Array[Byte](stride * height)
      var y = 0
      while (y < height) {
        val src = height - 1 - y // DIB rows are bottom-up
        var x = 0
        while (x < width) {
          val v = (grays(src * width + x) & 0xff).toByte
          val off = y * stride + x * 3
          out(off) = v; out(off + 1) = v; out(off + 2) = v
          x += 1
        }
        y += 1
      }
      out
    }
    aviContainer(width, height, bpp = 24, compression = 0L,
      handler = "DIB ", frameChunks = chunks)
  }

  /** Motion-JPEG AVI test vector: the same gray frames, each encoded
    * as an independent baseline JPEG through ImageIO (the JDK's own
    * jpeg plugin) into `00dc` chunks under fourcc MJPG. JPEG is
    * LOSSY, so exact gray-formula replay does not apply — the spec
    * pins the through-the-container decode against decoding the same
    * JPEG bytes directly (bit-identical by construction) and
    * near-equality of the dHash to the lossless source. */
  def syntheticMjpegAvi(width: Int, height: Int,
      frames: Seq[Array[Int]]): Array[Byte] = {
    require(width > 0 && height > 0 && frames.nonEmpty, "need >= 1 frame")
    val chunks = frames.map { grays =>
      require(grays.length == width * height,
        s"each frame needs $width x $height = ${width * height} grays")
      val img = new java.awt.image.BufferedImage(width, height,
        java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      val raster = img.getRaster
      var y = 0
      while (y < height) {
        var x = 0
        while (x < width) {
          raster.setSample(x, y, 0, grays(y * width + x) & 0xff)
          x += 1
        }
        y += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", bos)
      bos.toByteArray
    }
    aviContainer(width, height, bpp = 24,
      compression = AviFrameDecoderMjpg, handler = "MJPG",
      frameChunks = chunks)
  }
  // 'MJPG' as the little-endian u32 BITMAPINFOHEADER biCompression
  private val AviFrameDecoderMjpg = 0x47504A4DL

  /** Deterministic 16-bit mono PCM WAV test vector — the audio twin
    * of `syntheticGrayBmp`: a hand-assembled 44-byte RIFF header plus
    * the little-endian samples, a pure offset function of the input
    * (no entropy coder, no library writer whose chunk layout could
    * drift), so an independent engine can replay the decoded samples
    * from the spec alone; q128 pins the whole encode → JDK decode →
    * envelope fingerprint path against exactly such a replay. */
  /** Deterministic mono 16-bit LPCM CAF test vector — the CAF twin of
    * `syntheticPcmWav`, hand-assembled against the public
    * CAFFileFormat layout (no library writer to drift): 'caff' v1
    * header, a 'desc' chunk declaring big-endian integer LPCM, and a
    * 'data' chunk (editCount 0) of big-endian samples. The SAME
    * samples through this writer and `syntheticPcmWav` must
    * fingerprint identically through `CafPcmDecoder` / the JDK chain
    * — the mixed-container identity q151 pins. */
  def syntheticPcmCaf(samples: Array[Short], sampleRate: Int = 8000): Array[Byte] = {
    require(samples.nonEmpty, "need at least one sample")
    require(sampleRate > 0, s"sampleRate must be > 0, got $sampleRate")
    val dataSize = 4 + samples.length * 2 // editCount + samples
    val out = new Array[Byte](8 + 12 + 32 + 12 + dataSize)
    def putCc(off: Int, s: String): Unit = {
      var i = 0
      while (i < 4) { out(off + i) = s.charAt(i).toByte; i += 1 }
    }
    def putS64(off: Int, v: Long): Unit = {
      var i = 0
      while (i < 8) { out(off + i) = ((v >> (8 * (7 - i))) & 0xff).toByte; i += 1 }
    }
    def putU32(off: Int, v: Long): Unit = {
      var i = 0
      while (i < 4) { out(off + i) = ((v >> (8 * (3 - i))) & 0xff).toByte; i += 1 }
    }
    putCc(0, "caff")
    out(5) = 1 // version 1, flags 0
    putCc(8, "desc"); putS64(12, 32L)
    putS64(20, java.lang.Double.doubleToLongBits(sampleRate.toDouble))
    putCc(28, "lpcm")
    putU32(32, 0L) // flags: big-endian integer
    putU32(36, 2L) // bytesPerPacket (mono 16-bit)
    putU32(40, 1L) // framesPerPacket
    putU32(44, 1L) // channels
    putU32(48, 16L) // bits
    putCc(52, "data"); putS64(56, dataSize.toLong)
    putU32(64, 0L) // editCount
    var i = 0
    while (i < samples.length) {
      val s = samples(i).toInt
      out(68 + i * 2) = ((s >> 8) & 0xff).toByte
      out(68 + i * 2 + 1) = (s & 0xff).toByte
      i += 1
    }
    out
  }

  /** Deterministic RIFF/WAVE LPCM test vector (16-bit LE mono) — the
    * WAV twin of `syntheticPcmCaf`; same samples, either container,
    * identical fingerprints (q151's mixed-container identity). */
  def syntheticPcmWav(samples: Array[Short], sampleRate: Int = 8000): Array[Byte] = {
    require(samples.nonEmpty, "need at least one sample")
    require(sampleRate > 0, s"sampleRate must be > 0, got $sampleRate")
    val dataSize = samples.length * 2
    val out = new Array[Byte](44 + dataSize)
    def putU32(off: Int, v: Int): Unit = {
      var i = 0
      while (i < 4) { out(off + i) = ((v >> (8 * i)) & 0xff).toByte; i += 1 }
    }
    def putU16(off: Int, v: Int): Unit = {
      out(off) = (v & 0xff).toByte; out(off + 1) = ((v >> 8) & 0xff).toByte
    }
    out(0) = 'R'; out(1) = 'I'; out(2) = 'F'; out(3) = 'F'
    putU32(4, 36 + dataSize)
    out(8) = 'W'; out(9) = 'A'; out(10) = 'V'; out(11) = 'E'
    out(12) = 'f'; out(13) = 'm'; out(14) = 't'; out(15) = ' '
    putU32(16, 16) // PCM fmt chunk size
    putU16(20, 1) // PCM
    putU16(22, 1) // mono
    putU32(24, sampleRate)
    putU32(28, sampleRate * 2) // byte rate
    putU16(32, 2) // block align
    putU16(34, 16) // bits per sample
    out(36) = 'd'; out(37) = 'a'; out(38) = 't'; out(39) = 'a'
    putU32(40, dataSize)
    var i = 0
    while (i < samples.length) {
      val s = samples(i).toInt
      out(44 + i * 2) = (s & 0xff).toByte
      out(44 + i * 2 + 1) = ((s >> 8) & 0xff).toByte
      i += 1
    }
    out
  }
}
