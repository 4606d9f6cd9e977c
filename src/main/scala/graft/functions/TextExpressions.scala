package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.GraftBridge

/** Compiled text kernels for the dedup/similarity operators.
  *
  * The q35/q36 shingle + MinHash pipelines were first written with
  * higher-order built-ins (`transform(sequence(...), k ->
  * concat_ws(' ', slice(toks, k, 3)))`); lambda HOFs are interpreted
  * (never codegen'd) and `slice` copies per element, so at 100 TB the
  * per-shingle constant dominates the job. These static kernels do one
  * tight pass per document and sit inside whole-stage codegen via the
  * expressions below — same contract as VersionOps/VersionCmp.
  *
  * Semantics are locked to the DuckDB-oracle formulation:
  * tokens  = split on single space, drop empties;
  * shingle = n consecutive tokens joined by one space, set-distinct,
  *           first-occurrence order; fewer than n tokens -> empty;
  * minhash = per seed i in 0..k-1, min over shingles of
  *           md5("i#" ++ shingle) as lowercase hex (min over digest
  *           bytes == lexicographic min over hex).
  */
object TextOps {

  private val md5Local = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  private val hexChars = "0123456789abcdef".toCharArray

  private def hex(bytes: Array[Byte]): UTF8String = {
    val out = new Array[Byte](bytes.length * 2)
    var i = 0
    while (i < bytes.length) {
      out(2 * i) = hexChars((bytes(i) >> 4) & 0xf).toByte
      out(2 * i + 1) = hexChars(bytes(i) & 0xf).toByte
      i += 1
    }
    UTF8String.fromBytes(out)
  }

  /** Unsigned lexicographic byte compare (matches hex-string order). */
  private def ltUnsigned(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    while (i < a.length && i < b.length) {
      val x = a(i) & 0xff; val y = b(i) & 0xff
      if (x != y) return x < y
      i += 1
    }
    a.length < b.length
  }

  /** Byte ranges of non-empty single-space-separated tokens. UTF-8
    * multibyte sequences never contain 0x20, so a raw byte scan is
    * exact. Returns flat (start, end) pairs. */
  private def tokenSpans(bytes: Array[Byte]): Array[Int] = {
    // growable int[] rather than ArrayList[Integer]: this is the
    // per-document hot path and boxing two Integers per token (plus
    // the final unboxing copy) is pure GC pressure at corpus scale
    var buf = new Array[Int](128)
    var n = 0
    def push(v: Int): Unit = {
      if (n == buf.length) buf = java.util.Arrays.copyOf(buf, n * 2)
      buf(n) = v; n += 1
    }
    var start = 0
    var i = 0
    while (i <= bytes.length) {
      if (i == bytes.length || bytes(i) == ' '.toByte) {
        if (i > start) { push(start); push(i) }
        start = i + 1
      }
      i += 1
    }
    java.util.Arrays.copyOf(buf, n)
  }

  /** Distinct word n-shingles as raw byte arrays, first-occurrence
    * order. */
  private def shingleBytes(text: UTF8String, n: Int): java.util.LinkedHashMap[UTF8String, Array[Byte]] = {
    val out = new java.util.LinkedHashMap[UTF8String, Array[Byte]]()
    if (text == null) return out
    val bytes = text.getBytes
    val spans = tokenSpans(bytes)
    val nTok = spans.length / 2
    var i = 0
    while (i + n <= nTok) {
      // length = token bytes + (n-1) separators
      var len = n - 1
      var t = 0
      while (t < n) { len += spans(2 * (i + t) + 1) - spans(2 * (i + t)); t += 1 }
      val sh = new Array[Byte](len)
      var pos = 0
      t = 0
      while (t < n) {
        if (t > 0) { sh(pos) = ' '.toByte; pos += 1 }
        val s = spans(2 * (i + t)); val e = spans(2 * (i + t) + 1)
        System.arraycopy(bytes, s, sh, pos, e - s)
        pos += e - s
        t += 1
      }
      val key = UTF8String.fromBytes(sh)
      if (!out.containsKey(key)) out.put(key, sh)
      i += 1
    }
    out
  }

  /** Distinct n-shingles of a text (empty array below n tokens). */
  def shingles(text: UTF8String, n: Int): ArrayData = {
    val m = shingleBytes(text, n)
    val arr = new Array[Any](m.size())
    val it = m.keySet().iterator()
    var i = 0
    while (it.hasNext) { arr(i) = it.next(); i += 1 }
    new GenericArrayData(arr)
  }

  /** Per-k seed byte arrays ("0#".."k-1#"), computed once per k rather
    * than per row (the signature kernel runs in the hot scan path). */
  private val seedCache = new java.util.concurrent.ConcurrentHashMap[Integer, Array[Array[Byte]]]()
  private def seedsFor(k: Int): Array[Array[Byte]] = {
    var s = seedCache.get(k)
    if (s == null) {
      s = Array.tabulate(k)(i => (i.toString + "#").getBytes("UTF-8"))
      seedCache.putIfAbsent(k, s)
    }
    s
  }

  /** MinHash signature: k lowercase-hex md5-min values over the
    * distinct n-shingles; null when the text has no shingles. */
  def minhashSig(text: UTF8String, n: Int, k: Int): ArrayData = {
    val m = shingleBytes(text, n)
    if (m.isEmpty) return null
    val md = md5Local.get()
    val mins = new Array[Array[Byte]](k)
    val seeds = seedsFor(k)
    var s = 0
    val it = m.values().iterator()
    while (it.hasNext) {
      val sh = it.next()
      s = 0
      while (s < k) {
        md.reset()
        md.update(seeds(s))
        md.update(sh)
        val d = md.digest()
        if (mins(s) == null || ltUnsigned(d, mins(s))) mins(s) = d
        s += 1
      }
    }
    val out = new Array[Any](k)
    s = 0
    while (s < k) { out(s) = hex(mins(s)); s += 1 }
    new GenericArrayData(out)
  }

  /** SimHash64 of a token array: per-token md5-derived 64-bit value
    * (first 8 digest bytes, big-endian), bitwise majority vote. One
    * ThreadLocal digest per task thread — no per-token allocation. */
  def simhash64(tokens: ArrayData): Long = {
    val md = md5Local.get()
    val counts = new Array[Int](64)
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      val t = tokens.getUTF8String(i)
      if (t != null) {
        md.reset()
        val d = md.digest(t.getBytes)
        var h = 0L
        var j = 0
        while (j < 8) { h = (h << 8) | (d(j) & 0xffL); j += 1 }
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (counts(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  /** Unicode NFC normalization; ASCII fast path avoids the Normalizer
    * (ASCII is NFC by construction). */
  def nfcNormalize(text: UTF8String): UTF8String = {
    val bytes = text.getBytes
    var i = 0
    var ascii = true
    while (ascii && i < bytes.length) { if (bytes(i) < 0) ascii = false; i += 1 }
    if (ascii) return text
    val s = text.toString
    if (java.text.Normalizer.isNormalized(s, java.text.Normalizer.Form.NFC)) text
    else UTF8String.fromString(
      java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))
  }

  /** SimHash64 straight from text: SINGLE-SPACE (0x20) tokens — the
    * module-wide tokenizer rule, NOT general whitespace (tab/newline
    * stay inside a token; parity with simhash64(tokens) holds only
    * for split-on-space callers) — taken as byte
    * spans (zero copies), same hash/vote as simhash64(tokens). Using
    * this variant keeps the whole pipeline codegen'd — no interpreted
    * filter-lambda tokenizer in the plan. */
  /** Field order of the `repetition_stats` struct — shared by the
    * expression's `dataType`, the kernel, and `CorpusPrep`'s gate
    * validation, so a misspelled gate name is refused against the
    * REAL list. */
  val RepetitionFields: IndexedSeq[String] = IndexedSeq(
    "dup_line_frac", "dup_line_char_frac",
    "dup_para_frac", "dup_para_char_frac",
    "top_2gram_char_frac", "top_3gram_char_frac", "top_4gram_char_frac",
    "dup_5gram_char_frac", "dup_6gram_char_frac", "dup_7gram_char_frac",
    "dup_8gram_char_frac", "dup_9gram_char_frac", "dup_10gram_char_frac")

  /** One-pass repetition signals per document — the published
    * pretraining-corpus quality heuristics (Gopher table A1 / the
    * Dolma toolkit's implementations of them), with EXACT definitions
    * chosen to be replayable in plain SQL:
    *  - lines = text split on '\n', trimmed, empties dropped;
    *    paragraphs = split on runs of 2+ '\n', trimmed, empties
    *    dropped. `dup_*_frac` = occurrences beyond each unit's first
    *    / total units; `dup_*_char_frac` = their character mass /
    *    total unit characters.
    *  - tokens = whole-doc split on whitespace runs; character mass
    *    of an n-gram = the sum of its tokens' lengths (separator
    *    whitespace carries no signal and is never counted).
    *  - `top_{2,3,4}gram_char_frac` = occurrences x character mass of
    *    the MOST FREQUENT n-gram / total token characters — 0.0 when
    *    the most frequent n-gram occurs once (no repetition signal in
    *    a singleton). Ties on count break toward the larger character
    *    mass (deterministic, order-free).
    *  - `dup_{5..10}gram_char_frac` = character mass of token
    *    POSITIONS covered by at least one n-gram that occurs more
    *    than once / total token characters (overlapping duplicates
    *    count each position once — the coverage union, not a sum).
    * All 13 are row-local non-negative doubles. The `dup_*` fractions
    * are genuine ratios in [0, 1]; `top_{2,3,4}gram_char_frac` =
    * count x mass / total token chars can EXCEED 1.0 when the top
    * n-gram's occurrences overlap (e.g. "a a a a": the top 2-gram
    * "a a" occurs 3 times x mass 2 / 4 chars = 1.5) — matching the
    * published Dolma/Gopher arithmetic, which counts occurrences
    * without de-overlapping. A doc with no qualifying units scores
    * 0.0 everywhere (an empty doc carries no repetition evidence —
    * the length gates own emptiness). */
  def repetitionStats(text: UTF8String):
      org.apache.spark.sql.catalyst.InternalRow = {
    val s = text.toString
    val out = new Array[Double](13)

    def dupStats(units: Array[String], fracIdx: Int, charIdx: Int): Unit = {
      if (units.nonEmpty) {
        val seen = new java.util.HashMap[String, Integer]()
        var dupCount = 0
        var dupChars = 0L
        var totChars = 0L
        units.foreach { u =>
          totChars += u.length
          val c = seen.getOrDefault(u, 0)
          if (c > 0) { dupCount += 1; dupChars += u.length }
          seen.put(u, c + 1)
        }
        out(fracIdx) = dupCount.toDouble / units.length
        if (totChars > 0) out(charIdx) = dupChars.toDouble / totChars
      }
    }
    dupStats(s.split("\n").map(_.trim).filter(_.nonEmpty), 0, 1)
    dupStats(s.split("\n{2,}").map(_.trim).filter(_.nonEmpty), 2, 3)

    val toks = s.trim.split("\\s+").filter(_.nonEmpty)
    var totTok = 0L
    toks.foreach(t => totTok += t.length)
    if (toks.nonEmpty && totTok > 0) {
      // prefix sums make an n-gram's character mass O(1)
      val pre = new Array[Long](toks.length + 1)
      var i = 0
      while (i < toks.length) { pre(i + 1) = pre(i) + toks(i).length; i += 1 }
      def gramChars(start: Int, n: Int): Long = pre(start + n) - pre(start)
      def key(start: Int, n: Int): String = {
        val sb = new java.lang.StringBuilder
        var j = start
        while (j < start + n) {
          if (j > start) sb.append(' ')
          sb.append(toks(j))
          j += 1
        }
        sb.toString
      }
      // top n-gram (n = 2..4)
      var n = 2
      while (n <= 4) {
        if (toks.length >= n) {
          val counts = new java.util.HashMap[String, Array[Long]]()
          var st = 0
          while (st + n <= toks.length) {
            val k = key(st, n)
            val cell = counts.get(k)
            if (cell == null) counts.put(k, Array(1L, gramChars(st, n)))
            else cell(0) += 1L
            st += 1
          }
          var bestCount = 0L
          var bestChars = 0L
          counts.values.forEach { cell =>
            if (cell(0) > bestCount ||
              (cell(0) == bestCount && cell(1) > bestChars)) {
              bestCount = cell(0); bestChars = cell(1)
            }
          }
          if (bestCount >= 2L)
            out(n + 2) = bestCount * bestChars.toDouble / totTok
        }
        n += 1
      }
      // duplicated n-gram coverage (n = 5..10)
      n = 5
      while (n <= 10) {
        if (toks.length >= n) {
          val firstAt = new java.util.HashMap[String, Integer]()
          val covered = new Array[Boolean](toks.length)
          var st = 0
          while (st + n <= toks.length) {
            val k = key(st, n)
            val first = firstAt.get(k)
            if (first == null) firstAt.put(k, st)
            else {
              // mark this occurrence; the FIRST occurrence is also a
              // duplicate once a second exists — mark it exactly once
              // (sentinel -1 after marking)
              var j = st
              while (j < st + n) { covered(j) = true; j += 1 }
              if (first >= 0) {
                var j2 = first.intValue()
                while (j2 < first + n) { covered(j2) = true; j2 += 1 }
                firstAt.put(k, -1)
              }
            }
            st += 1
          }
          var covChars = 0L
          var p = 0
          while (p < toks.length) {
            if (covered(p)) covChars += toks(p).length
            p += 1
          }
          if (covChars > 0) out(n + 2) = covChars.toDouble / totTok
        }
        n += 1
      }
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      out.map(_.asInstanceOf[Any]))
  }

  def simhash64Text(text: UTF8String): Long = {
    val md = md5Local.get()
    val counts = new Array[Int](64)
    val bytes = text.getBytes
    val spans = tokenSpans(bytes)
    var ti = 0
    while (ti < spans.length) {
      md.reset()
      md.update(bytes, spans(ti), spans(ti + 1) - spans(ti))
      val d = md.digest()
      var h = 0L
      var j = 0
      while (j < 8) { h = (h << 8) | (d(j) & 0xffL); j += 1 }
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
      ti += 2
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (counts(b) > 0) out |= (1L << b); b += 1 }
    out
  }
}

/** `shingles(text, n)` -> array<string> of distinct word n-shingles.
  * NULL text -> NULL (standard null-propagation, unlike the empty
  * array a HOF formulation would produce — documented contract). */
case class ShinglesExpr(child: Expression, n: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(n >= 1, "shingles: n must be >= 1")
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    TextOps.shingles(input.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextOps.shingles($c, $n)")
  override protected def withNewChildInternal(newChild: Expression): ShinglesExpr =
    copy(child = newChild)
  override def prettyName: String = "shingles"
}

/** `minhash_sig(text, n, k)` -> array<string> of k md5-min hex values
  * over the text's n-shingles; null when no shingles (and NULL in ->
  * NULL out). */
case class MinhashSigExpr(child: Expression, n: Int, k: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(n >= 1 && k >= 1, "minhash_sig: n and k must be >= 1")
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true
  override def nullSafeEval(input: Any): Any =
    TextOps.minhashSig(input.asInstanceOf[UTF8String], n, k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.TextOps.minhashSig($c, $n, $k);
      ${ev.isNull} = ${ev.value} == null;
    """)
  override protected def withNewChildInternal(newChild: Expression): MinhashSigExpr =
    copy(child = newChild)
  override def prettyName: String = "minhash_sig"
}

/** `nfc_normalize(text)` -> Unicode NFC normalization (UAX#15), the
  * canonical first step of text cleaning; NULL in -> NULL out. A
  * compiled expression because Spark has no normalization built-in
  * and a UDF boundary here would break the cleaning chain's codegen.
  * Fast path: pure-ASCII bytes (the common case) skip the Normalizer
  * call entirely. */
case class NfcNormalizeExpr(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def nullSafeEval(input: Any): Any =
    TextOps.nfcNormalize(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextOps.nfcNormalize($c)")
  override protected def withNewChildInternal(newChild: Expression): NfcNormalizeExpr =
    copy(child = newChild)
  override def prettyName: String = "nfc_normalize"
}

/** `simhash64(tokens)` -> 64-bit SimHash of a token array (NULL in ->
  * NULL out; null elements skipped). */
case class SimHash64Expr(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = LongType
  override def nullSafeEval(input: Any): Any =
    TextOps.simhash64(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextOps.simhash64($c)")
  override protected def withNewChildInternal(newChild: Expression): SimHash64Expr =
    copy(child = newChild)
  override def prettyName: String = "simhash64"
}

/** `simhash64_text(text)` -> SimHash64 over single-space tokens, taken
  * directly from the text bytes (NULL in -> NULL out). */
case class SimHash64TextExpr(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = LongType
  override def nullSafeEval(input: Any): Any =
    TextOps.simhash64Text(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextOps.simhash64Text($c)")
  override protected def withNewChildInternal(newChild: Expression): SimHash64TextExpr =
    copy(child = newChild)
  override def prettyName: String = "simhash64_text"
}

/** `bloom_might_contain(text)` against a Bloom filter baked into the
  * expression itself (serialized `spark.util.sketch.BloomFilter`
  * bytes — public Spark API, the same sketch the engine's runtime
  * row-group filters use). The filter deserializes ONCE per
  * deserialized expression (transient lazy), then each row is a pure
  * in-memory hash probe inside whole-stage codegen — the map-side
  * prefilter shape for "is this value possibly in the (driver-built,
  * MB-sized) set" at 100 TB, where the alternative is shuffling the
  * full exploded scan into a join. No false negatives ever; false
  * positives at the filter's trained fpp — callers MUST re-verify
  * positives exactly (Dedup.benchmarkContainment's bloom tier joins
  * the real set after this prefilter). NULL in -> NULL out. */
case class BloomMightContainExpr(child: Expression, filterBytes: Array[Byte])
    extends UnaryExpression with ExpectsInputTypes {
  require(filterBytes != null && filterBytes.nonEmpty,
    "bloom_might_contain needs non-empty serialized BloomFilter bytes")
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = org.apache.spark.sql.types.BooleanType
  @transient private lazy val filter: org.apache.spark.util.sketch.BloomFilter =
    org.apache.spark.util.sketch.BloomFilter.readFrom(
      new java.io.ByteArrayInputStream(filterBytes))
  /** Called from generated code: membership by the UTF-8 bytes —
    * bit-identical to how string items are inserted (spark-sketch
    * hashes a string via its UTF-8 encoding; BloomExprSpec pins the
    * no-false-negative contract against stat.bloomFilter builds). */
  def mightContain(s: UTF8String): Boolean = filter.mightContainBinary(s.getBytes)
  override def nullSafeEval(input: Any): Any =
    mightContain(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bloomMightContain", this,
      classOf[BloomMightContainExpr].getName)
    defineCodeGen(ctx, ev, c => s"$ref.mightContain($c)")
  }
  override protected def withNewChildInternal(newChild: Expression): BloomMightContainExpr =
    copy(child = newChild)
  override def prettyName: String = "bloom_might_contain"
}

/** `repetition_stats(text)` -> struct of the 13 published
  * repetition-quality signals (see `TextOps.repetitionStats` for the
  * exact, SQL-replayable definitions). Row-local, one pass, inside
  * whole-stage codegen — the 100 TB shape for a per-document gate
  * (compare the interpreted lambda-HOF formulation the shingle
  * kernels replaced). NULL text -> NULL struct. */
case class RepetitionStatsExpr(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType =
    org.apache.spark.sql.types.StructType(TextOps.RepetitionFields.map(f =>
      org.apache.spark.sql.types.StructField(f,
        org.apache.spark.sql.types.DoubleType, nullable = false)))
  override def nullSafeEval(input: Any): Any =
    TextOps.repetitionStats(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextOps.repetitionStats($c)")
  override protected def withNewChildInternal(newChild: Expression): RepetitionStatsExpr =
    copy(child = newChild)
  override def prettyName: String = "repetition_stats"
}

object TextExpressions {

  /** Constant integral argument: any foldable integral expression is
    * accepted (literal, CAST of a literal, constant arithmetic). */
  private def intLit(e: Expression, fn: String, arg: String): Int = {
    if (!e.foldable) throw new IllegalArgumentException(
      s"$fn: $arg must be a constant integer, got $e")
    e.eval() match {
      case i: Int => i
      case l: Long =>
        if (l < Int.MinValue || l > Int.MaxValue) throw new IllegalArgumentException(
          s"$fn: $arg out of int range: $l")
        l.toInt
      case s: Short => s.toInt
      case b: Byte => b.toInt
      case other => throw new IllegalArgumentException(
        s"$fn: $arg must be a constant integer, got $other")
    }
  }

  /** Column API: distinct word n-shingles of a text column. */
  def shingles(text: Column, n: Int): Column =
    GraftBridge.column(ShinglesExpr(GraftBridge.expression(text), n))

  /** Column API: k-hash MinHash signature over n-shingles. */
  def minhash_sig(text: Column, n: Int, k: Int): Column =
    GraftBridge.column(MinhashSigExpr(GraftBridge.expression(text), n, k))

  /** Column API: SimHash64 over a token-array column. */
  def simhash64(tokens: Column): Column =
    GraftBridge.column(SimHash64Expr(GraftBridge.expression(tokens)))

  /** Column API: SimHash64 straight from a text column (stays fully
    * codegen'd — no tokenizer lambda in the plan). */
  def simhash64_text(text: Column): Column =
    GraftBridge.column(SimHash64TextExpr(GraftBridge.expression(text)))

  /** Column API: Unicode NFC normalization. */
  def nfc_normalize(text: Column): Column =
    GraftBridge.column(NfcNormalizeExpr(GraftBridge.expression(text)))

  /** Column API: the 13 repetition-quality signals as one struct
    * column (row-local, codegen'd). */
  def repetition_stats(text: Column): Column =
    GraftBridge.column(RepetitionStatsExpr(GraftBridge.expression(text)))

  /** Column API: Bloom-filter membership prefilter — `filterBytes` is
    * a `BloomFilter.writeTo` serialization (e.g. from
    * `df.stat.bloomFilter`). See BloomMightContainExpr for the
    * no-false-negative / must-re-verify-positives contract. */
  def bloom_might_contain(text: Column, filterBytes: Array[Byte]): Column =
    GraftBridge.column(BloomMightContainExpr(GraftBridge.expression(text), filterBytes))

  def fromSeqShingles(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 2, s"shingles requires 2 arguments, got ${exprs.length}")
    ShinglesExpr(exprs.head, intLit(exprs(1), "shingles", "n"))
  }

  def fromSeqMinhash(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 3, s"minhash_sig requires 3 arguments, got ${exprs.length}")
    MinhashSigExpr(exprs.head,
      intLit(exprs(1), "minhash_sig", "n"), intLit(exprs(2), "minhash_sig", "k"))
  }


  def fromSeqBloom(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 2,
      s"bloom_might_contain requires 2 arguments (text, filter bytes), got ${exprs.length}")
    require(exprs(1).foldable &&
        exprs(1).dataType == org.apache.spark.sql.types.BinaryType,
      "bloom_might_contain: the filter must be a constant BINARY value " +
        "(e.g. an X'...' literal of BloomFilter.writeTo bytes)")
    BloomMightContainExpr(exprs.head, exprs(1).eval().asInstanceOf[Array[Byte]])
  }
}
