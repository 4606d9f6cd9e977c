package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}
import org.apache.spark.sql.GraftBridge

/** Compiled vector kernels for the similarity operators.
  *
  * The ANN/cosine pipelines were first written with higher-order
  * built-ins (`aggregate(zip_with(a, b, ...))`) — correct, but lambda
  * HOFs are interpreted per element with boxing, and at 100 TB the
  * embedding scan is exactly the hot path. These kernels do one tight
  * primitive-double pass per row and sit inside whole-stage codegen,
  * same contract as TextOps/VersionOps.
  *
  * Accumulation order is per-element left-to-right, identical to the
  * HOF formulation and to the DuckDB oracle's list_inner_product, so
  * results are bit-for-bit unchanged. The generic kernels (dot,
  * cosine) score arrays of unequal length over the common prefix;
  * the PQ kernels refuse any shape mismatch with NaN instead — a
  * partial distance there fakes near matches (see pqAdc/pqSdcCos). */
object VectorOps {

  def dot(a: ArrayData, b: ArrayData): Double = {
    val xs = a.toDoubleArray()
    val ys = b.toDoubleArray()
    val n = math.min(xs.length, ys.length)
    var acc = 0.0
    var i = 0
    while (i < n) { acc += xs(i) * ys(i); i += 1 }
    acc
  }

  /** Index of the nearest codebook centroid by squared L2 (euclidean
    * argmin); ties keep the first (codebook-order) centroid. */
  def nearestCentroid(e: ArrayData, cents: ArrayData): Long = {
    val xs = e.toDoubleArray()
    var best = Double.MaxValue
    var bestCid = -1L
    var i = 0
    val k = cents.numElements()
    while (i < k) {
      val row = cents.getStruct(i, 2)
      val ce = row.getArray(1).toDoubleArray()
      val n = math.min(xs.length, ce.length)
      var d = 0.0
      var j = 0
      while (j < n) { val t = xs(j) - ce(j); d += t * t; j += 1 }
      if (d < best) { best = d; bestCid = row.getLong(0) }
      i += 1
    }
    bestCid
  }

  /** Asymmetric-distance computation (ADC) for product-quantized
    * vectors: the approximate squared L2 between a FULL query vector
    * and a corpus vector known only by its M subspace code bytes —
    * sum over subspaces of ||q_sub − codebook[sub][code]||². The
    * query side stays exact (that is the "asymmetric" in ADC), so
    * quantization error enters once, not twice. The win at scale is
    * memory bandwidth: scoring reads M small ints per corpus row
    * instead of D floats — the raw embeddings never enter the scan.
    * Any shape mismatch — an out-of-range code, a code array whose
    * length differs from the model's subspace count, or a query
    * shorter than the model's dims — yields NaN (sorts last under
    * ascending distance): a corrupted row or foreign-written index
    * must never fake a near match by scoring a PARTIAL distance. */
  def pqAdc(q: ArrayData, codes: ArrayData, cbs: ArrayData): Double = {
    val qs = q.toDoubleArray()
    val m = codes.numElements()
    if (m != cbs.numElements()) return Double.NaN
    var s = 0.0
    var off = 0
    var i = 0
    while (i < m) {
      val cb = cbs.getArray(i)
      val code = codes.getInt(i)
      if (code < 0 || code >= cb.numElements()) return Double.NaN
      val ce = cb.getArray(code).toDoubleArray()
      if (qs.length - off < ce.length) return Double.NaN
      var j = 0
      while (j < ce.length) { val d = qs(off + j) - ce(j); s += d * d; j += 1 }
      off += ce.length
      i += 1
    }
    // a query LONGER than the model's dims is the same partial-
    // distance hazard from the other side: the ignored tail would
    // make a mismatched pairing look artificially near
    if (off != qs.length) return Double.NaN
    s
  }

  /** Symmetric-distance computation (SDC) as an approximate COSINE:
    * both vectors are known only by their M subspace code bytes, so
    * the score is the cosine between the two centroid reconstructions.
    * The kernel never touches centroids at runtime: it reads
    * PRECOMPUTED per-subspace centroid-pair dot tables
    * (`tabs(s)(i)(j) = dot(cb_s_i, cb_s_j)`, so the diagonal is the
    * squared centroid norm) — M table lookups per side instead of D
    * multiplies, which is the whole point of SDC: per-pair cost
    * follows the CODE length, not the vector dimension. Quantization
    * error enters twice (vs once for ADC); that is the price of
    * scoring pairs where NEITHER side keeps its floats — the shape
    * in-bucket near-dup prefiltering needs. Out-of-range or
    * length-mismatched codes yield NaN (never a fake near-match).
    * CAUTION: in SPARK SQL comparisons NaN >= threshold is TRUE
    * (Spark orders NaN above every double) — callers drop NaN
    * explicitly (!isnan) before thresholding, as every pair path
    * here does. */
  def pqSdcCos(a: ArrayData, b: ArrayData, tabs: ArrayData): Double = {
    val m = a.numElements()
    if (b.numElements() != m || tabs.numElements() != m) return Double.NaN
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < m) {
      val t = tabs.getArray(i)
      val ca = a.getInt(i)
      val cb = b.getInt(i)
      if (ca < 0 || ca >= t.numElements() ||
          cb < 0 || cb >= t.numElements()) return Double.NaN
      val rowA = t.getArray(ca)
      dot += rowA.getDouble(cb)
      na += rowA.getDouble(ca)
      nb += t.getArray(cb).getDouble(cb)
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** y = R·v, with R's rows as array<array<double>>. Sums each row's
    * products left-to-right (same order as the HOF formulation and
    * the driver-side query rotation, so rotated values are
    * bit-identical across all three). A row whose length differs
    * from v is the truncated-product hazard: return null — the
    * caller's rotated column (and hence its code) goes NULL instead
    * of silently wrong. */
  def matVec(rot: ArrayData, v: ArrayData): ArrayData = {
    val xs = v.toDoubleArray()
    val n = rot.numElements()
    val out = new Array[Double](n)
    var i = 0
    while (i < n) {
      val row = rot.getArray(i).toDoubleArray()
      if (row.length != xs.length) return null
      var s = 0.0
      var j = 0
      while (j < row.length) { s += row(j) * xs(j); j += 1 }
      out(i) = s
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Scalar-quantize (SQ8, FAISS-style uniform per-dim): byte d =
    * clamp(floor((v_d − min_d)/Δ_d + 0.5), 0, 255), one byte per
    * dimension. `mm` packs the model as two rows: mm(0) = mins,
    * mm(1) = deltas (Δ_d = (max_d − min_d)/255; a constant dimension
    * has Δ = 0 and always codes 0). floor(x + 0.5) is spelled
    * explicitly so the DuckDB oracle can replay the identical IEEE
    * rounding. Null (never a truncated code) when the vector width
    * differs from the model's. */
  def sqEncode(v: ArrayData, mm: ArrayData): Array[Byte] = {
    val xs = v.toDoubleArray()
    val mins = mm.getArray(0).toDoubleArray()
    val deltas = mm.getArray(1).toDoubleArray()
    if (xs.length != mins.length || xs.length != deltas.length) return null
    val out = new Array[Byte](xs.length)
    var i = 0
    while (i < xs.length) {
      // NaN dims -> null code, never a fake one: NaN survives both
      // clamp branches (NaN < 0 and NaN > 255 are false) and
      // NaN.toInt is 0, so without this check a corrupted vector
      // would encode as the all-mins code and score FINITE at probe
      // time — past every probe-side !isnan guard
      if (java.lang.Double.isNaN(xs(i))) return null
      val c =
        if (deltas(i) == 0.0) 0.0
        else math.floor((xs(i) - mins(i)) / deltas(i) + 0.5)
      val clamped = if (c < 0.0) 0.0 else if (c > 255.0) 255.0 else c
      out(i) = (clamped.toInt & 0xff).toByte
      i += 1
    }
    out
  }

  /** ADC cosine for SQ8 codes: cosine between the FULL query vector
    * and the dequantized corpus vector (v̂_d = min_d + byte_d·Δ_d).
    * The query side stays exact — quantization error enters once.
    * Per-row cost is one D-length byte pass (the scan reads D bytes,
    * not D doubles — 8× less bandwidth than the raw column).
    * Accumulation is left-to-right, matching VectorOps.cosine and
    * DuckDB's list ops. Width mismatch between query, code, and
    * model yields NaN — a partial cosine must never fake a near
    * match. CAUTION: in SPARK SQL comparisons NaN >= threshold is
    * TRUE (Spark orders NaN above every double) — callers must drop
    * NaN explicitly (!isnan), as every probe here does. */
  def sqAdcCos(q: ArrayData, code: Array[Byte], mm: ArrayData): Double = {
    val qs = q.toDoubleArray()
    val mins = mm.getArray(0).toDoubleArray()
    val deltas = mm.getArray(1).toDoubleArray()
    if (code.length != mins.length || code.length != deltas.length ||
        qs.length != code.length) return Double.NaN
    var d = 0.0
    var nq = 0.0
    var nv = 0.0
    var i = 0
    while (i < qs.length) {
      val v = mins(i) + (code(i) & 0xff).toDouble * deltas(i)
      d += qs(i) * v
      nq += qs(i) * qs(i)
      nv += v * v
      i += 1
    }
    d / (math.sqrt(nq) * math.sqrt(nv))
  }

  /** ADC squared L2 for SQ8 codes: ||s − dequant(code)||² where `s`
    * is the caller's (possibly per-list shifted) query vector — the
    * residual-SQ probe score, since ||q̂ − (ĉ + r̂)||² =
    * ||(q̂ − ĉ) − r̂||² holds for L2 where cosine has no such shift
    * identity. Same byte-pass economics, NaN-on-mismatch contract
    * (NaN sorts LAST under the ascending distance order, no guard
    * needed), and left-to-right accumulation as the other kernels. */
  def sqAdcL2(s: ArrayData, code: Array[Byte], mm: ArrayData): Double = {
    val ss = s.toDoubleArray()
    val mins = mm.getArray(0).toDoubleArray()
    val deltas = mm.getArray(1).toDoubleArray()
    if (code.length != mins.length || code.length != deltas.length ||
        ss.length != code.length) return Double.NaN
    var acc = 0.0
    var i = 0
    while (i < ss.length) {
      val d = ss(i) - (mins(i) + (code(i) & 0xff).toDouble * deltas(i))
      acc += d * d
      i += 1
    }
    acc
  }

  /** SDC cosine for SQ8 codes: cosine between the TWO dequantized
    * vectors (quantization error enters on both sides — the price of
    * scoring pairs where neither side keeps floats, same trade as
    * pqSdcCos but far smaller error at 256 levels/dim). One D-length
    * byte pass per pair; per-accumulator left-to-right like every
    * kernel here. Width mismatch → NaN (never a fake near match). */
  def sqSdcCos(a: Array[Byte], b: Array[Byte], mm: ArrayData): Double = {
    val mins = mm.getArray(0).toDoubleArray()
    val deltas = mm.getArray(1).toDoubleArray()
    if (a.length != mins.length || a.length != deltas.length ||
        b.length != a.length) return Double.NaN
    var d = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < a.length) {
      val va = mins(i) + (a(i) & 0xff).toDouble * deltas(i)
      val vb = mins(i) + (b(i) & 0xff).toDouble * deltas(i)
      d += va * vb
      na += va * va
      nb += vb * vb
      i += 1
    }
    d / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Binary-quantize (BQ1): bit d = 1 iff v_d >= thr_d, packed
    * MSB-first into ceil(D/8) bytes — D BITS per row, the 64× rung
    * below SQ8 on the compression ladder. `>=` (not `>`) matches
    * signBucket's existing sign convention; the comparison is exact
    * in IEEE doubles, so codes replay bit-identically in the DuckDB
    * oracle. Pad bits in the last byte stay 0 on every row, so they
    * never contribute to an XOR. Null (never a truncated code) when
    * the vector width differs from the threshold vector's. */
  def bqEncode(v: ArrayData, thr: ArrayData): Array[Byte] = {
    val xs = v.toDoubleArray()
    val ts = thr.toDoubleArray()
    if (xs.length != ts.length) return null
    val out = new Array[Byte]((xs.length + 7) / 8)
    var i = 0
    while (i < xs.length) {
      // NaN dims -> null code (NaN >= thr is false in JVM arithmetic,
      // so a corrupted vector would otherwise get a plausible
      // all-zero-bits code) — same contract as the width mismatch
      if (java.lang.Double.isNaN(xs(i))) return null
      if (xs(i) >= ts(i)) out(i >> 3) = (out(i >> 3) | (0x80 >>> (i & 7))).toByte
      i += 1
    }
    out
  }

  /** Asymmetric BQ score: Σ_d q_d · (2·bit_d − 1) — the float QUERY
    * against the ±1 reconstruction of a packed code (asymmetric
    * distances for binary embeddings, public knowledge). Unlike
    * Hamming, each dimension contributes proportionally to |q_d|, so
    * dimensions where the query carries no signal stop outvoting the
    * ones that do; and because the ±1 reconstruction has CONSTANT
    * norm √D, ranking by this dot IS ranking by cosine against the
    * reconstruction — a strictly finer order than Hamming's integer
    * buckets at zero extra storage. NaN when the query width doesn't
    * match the code's capacity (a truncated score must never fake a
    * near match); the probe nulls NaN before its DESCENDING sort. */
  def bqAdcDot(q: ArrayData, code: Array[Byte]): Double = {
    val qs = q.toDoubleArray()
    if (code.length != (qs.length + 7) / 8) return Double.NaN
    var acc = 0.0
    var i = 0
    while (i < qs.length) {
      if ((code(i >> 3) & (0x80 >>> (i & 7))) != 0) acc += qs(i)
      else acc -= qs(i)
      i += 1
    }
    acc
  }

  /** Hamming distance between two packed BQ codes: popcount of the
    * byte-wise XOR — one pass over ceil(D/8) bytes per pair, the
    * cheapest distance in the library. −1 on a width mismatch (the
    * expression wrapper surfaces that as NULL — a truncated Hamming
    * would fake a near match exactly like a truncated cosine). */
  def bqHamming(a: Array[Byte], b: Array[Byte]): Int = {
    if (a.length != b.length) return -1
    var acc = 0
    var i = 0
    while (i < a.length) {
      acc += java.lang.Integer.bitCount((a(i) ^ b(i)) & 0xff)
      i += 1
    }
    acc
  }

  /** cos(a, b) = dot/(|a||b|); NaN when either norm is zero (the HOF
    * formulation divides by zero the same way). */
  def cosine(a: ArrayData, b: ArrayData): Double = {
    val xs = a.toDoubleArray()
    val ys = b.toDoubleArray()
    val n = math.min(xs.length, ys.length)
    var d = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      d += xs(i) * ys(i)
      i += 1
    }
    // norms over each FULL vector, matching sqrt(aggregate(x, x*x))
    i = 0
    while (i < xs.length) { na += xs(i) * xs(i); i += 1 }
    i = 0
    while (i < ys.length) { nb += ys(i) * ys(i); i += 1 }
    d / (math.sqrt(na) * math.sqrt(nb))
  }
}

/** `nearest_centroid(e, codebook)` -> cid of the nearest centroid by
  * squared L2 (same argmin as euclidean). The codebook rides as an
  * array<struct<cid, ce>> literal — broadcast into the generated code
  * itself — so IVF assignment is a pure map-side pass with zero
  * shuffle of the vectors. */
case class NearestCentroid(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(
    ArrayType(DoubleType),
    ArrayType(org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("cid", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ce", ArrayType(DoubleType))))))
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def nullSafeEval(e: Any, cents: Any): Any =
    VectorOps.nearestCentroid(e.asInstanceOf[ArrayData], cents.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorOps.nearestCentroid($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): NearestCentroid =
    copy(left = l, right = r)
  override def prettyName: String = "nearest_centroid"
}

/** `cosine_sim(a, b)` over two array<double> columns. */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    VectorOps.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorOps.cosine($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSim =
    copy(left = l, right = r)
  override def prettyName: String = "cosine_sim"
}

/** `mat_vec(rot, v)` -> R·v with the rotation riding as an
  * array<array<double>> literal (the OPQ hot path: coding every
  * corpus row applies the rotation once per row, so it must be one
  * compiled D×D loop, not D interpreted HOF folds). NULL on a
  * row/vector length mismatch — never a truncated product. */
case class MatVec(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(ArrayType(DoubleType)), ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(DoubleType)
  override def nullable: Boolean = true
  override def nullSafeEval(r: Any, v: Any): Any =
    VectorOps.matVec(r.asInstanceOf[ArrayData], v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (r, v) => s"""
      ${ev.value} = graft.functions.VectorOps.matVec($r, $v);
      ${ev.isNull} = ${ev.value} == null;
    """)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): MatVec =
    copy(left = l, right = r)
  override def prettyName: String = "mat_vec"
}

/** `pq_adc(query, codes, codebooks)` -> approximate squared L2 of a
  * full query vector against a PQ-coded corpus vector (VectorOps
  * .pqAdc). The per-subspace codebooks ride as an
  * array<array<array<double>>> literal inside the generated code —
  * KBs by construction (M × ksub × dsub doubles) — so ADC scoring is
  * a pure map-side pass that reads only the code column. */
case class PqAdc(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(
    ArrayType(DoubleType),
    ArrayType(org.apache.spark.sql.types.IntegerType),
    ArrayType(ArrayType(ArrayType(DoubleType))))
  override def dataType: DataType = DoubleType
  override protected def nullSafeEval(q: Any, codes: Any, cbs: Any): Any =
    VectorOps.pqAdc(q.asInstanceOf[ArrayData], codes.asInstanceOf[ArrayData],
      cbs.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c) => s"graft.functions.VectorOps.pqAdc($a, $b, $c)")
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): PqAdc =
    copy(first = f, second = s, third = t)
  override def prettyName: String = "pq_adc"
}

/** `pq_sdc_cos(codesA, codesB, dotTables)` -> approximate cosine of
  * two PQ-coded vectors via their centroid reconstructions (VectorOps
  * .pqSdcCos). The third operand is the per-subspace centroid-pair
  * dot TABLE (M × ksub × ksub doubles, KBs — built driver-side by the
  * column helper from the codebooks), riding as a literal like PqAdc's
  * codebooks; scoring reads only the two code columns — the
  * pair-expansion path for coded buckets where no raw floats were
  * collected. */
case class PqSdcCos(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(
    ArrayType(org.apache.spark.sql.types.IntegerType),
    ArrayType(org.apache.spark.sql.types.IntegerType),
    ArrayType(ArrayType(ArrayType(DoubleType))))
  override def dataType: DataType = DoubleType
  override protected def nullSafeEval(a: Any, b: Any, cbs: Any): Any =
    VectorOps.pqSdcCos(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      cbs.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c) => s"graft.functions.VectorOps.pqSdcCos($a, $b, $c)")
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): PqSdcCos =
    copy(first = f, second = s, third = t)
  override def prettyName: String = "pq_sdc_cos"
}

/** `sq_encode(v, minsDeltas)` -> SQ8 code bytes (VectorOps.sqEncode).
  * The model rides as a 2×D array<array<double>> literal
  * (mins row, deltas row) — KBs at any embedding width — so scalar
  * quantization is a pure map-side pass. NULL on width mismatch. */
case class SqEncode(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(DoubleType), ArrayType(ArrayType(DoubleType)))
  override def dataType: DataType = org.apache.spark.sql.types.BinaryType
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any, mm: Any): Any =
    VectorOps.sqEncode(v.asInstanceOf[ArrayData], mm.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, mm) => s"""
      ${ev.value} = graft.functions.VectorOps.sqEncode($v, $mm);
      ${ev.isNull} = ${ev.value} == null;
    """)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): SqEncode =
    copy(left = l, right = r)
  override def prettyName: String = "sq_encode"
}

/** `sq_adc_cos(query, code, minsDeltas)` -> approximate cosine of a
  * full query against an SQ8-coded corpus vector (VectorOps
  * .sqAdcCos); the model literal rides like SqEncode's. The list
  * scan reads D bytes per row instead of D doubles. */
case class SqAdcCos(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(
    ArrayType(DoubleType),
    org.apache.spark.sql.types.BinaryType,
    ArrayType(ArrayType(DoubleType)))
  override def dataType: DataType = DoubleType
  override protected def nullSafeEval(q: Any, code: Any, mm: Any): Any =
    VectorOps.sqAdcCos(q.asInstanceOf[ArrayData], code.asInstanceOf[Array[Byte]],
      mm.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c) => s"graft.functions.VectorOps.sqAdcCos($a, $b, $c)")
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): SqAdcCos =
    copy(first = f, second = s, third = t)
  override def prettyName: String = "sq_adc_cos"
}

/** `sq_adc_l2(shiftedQuery, code, minsDeltas)` -> approximate squared
  * L2 of a (per-list shifted) query against an SQ8-coded residual
  * (VectorOps.sqAdcL2); the model literal rides like SqEncode's. */
case class SqAdcL2(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(
    ArrayType(DoubleType),
    org.apache.spark.sql.types.BinaryType,
    ArrayType(ArrayType(DoubleType)))
  override def dataType: DataType = DoubleType
  override protected def nullSafeEval(s: Any, code: Any, mm: Any): Any =
    VectorOps.sqAdcL2(s.asInstanceOf[ArrayData], code.asInstanceOf[Array[Byte]],
      mm.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c) => s"graft.functions.VectorOps.sqAdcL2($a, $b, $c)")
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): SqAdcL2 =
    copy(first = f, second = s, third = t)
  override def prettyName: String = "sq_adc_l2"
}

/** `sq_sdc_cos(codeA, codeB, minsDeltas)` -> approximate cosine of
  * two SQ8-coded vectors via their dequantizations (VectorOps
  * .sqSdcCos); the model literal rides like SqEncode's. The pair
  * expansion carries D bytes per side, never floats. */
case class SqSdcCos(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(
    org.apache.spark.sql.types.BinaryType,
    org.apache.spark.sql.types.BinaryType,
    ArrayType(ArrayType(DoubleType)))
  override def dataType: DataType = DoubleType
  override protected def nullSafeEval(a: Any, b: Any, mm: Any): Any =
    VectorOps.sqSdcCos(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]],
      mm.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c) => s"graft.functions.VectorOps.sqSdcCos($a, $b, $c)")
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): SqSdcCos =
    copy(first = f, second = s, third = t)
  override def prettyName: String = "sq_sdc_cos"
}

/** `bq_encode(v, thresholds)` -> packed sign bits (VectorOps
  * .bqEncode). The threshold vector rides as an array<double> literal
  * (D doubles — KBs at any width), so binary quantization is a pure
  * map-side pass. NULL on width mismatch. */
case class BqEncode(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = org.apache.spark.sql.types.BinaryType
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any, thr: Any): Any =
    VectorOps.bqEncode(v.asInstanceOf[ArrayData], thr.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, thr) => s"""
      ${ev.value} = graft.functions.VectorOps.bqEncode($v, $thr);
      ${ev.isNull} = ${ev.value} == null;
    """)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): BqEncode =
    copy(left = l, right = r)
  override def prettyName: String = "bq_encode"
}

/** `bq_hamming(codeA, codeB)` -> Hamming distance of two packed BQ
  * codes (VectorOps.bqHamming); NULL on width mismatch — under the
  * ascending distance order a NULL sorts last with asc_nulls_last,
  * so a foreign code can never enter a shortlist. */
case class BqHamming(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] =
    Seq(org.apache.spark.sql.types.BinaryType, org.apache.spark.sql.types.BinaryType)
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def nullable: Boolean = true
  override def nullSafeEval(a: Any, b: Any): Any = {
    val h = VectorOps.bqHamming(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
    if (h < 0) null else h
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      ${ev.value} = graft.functions.VectorOps.bqHamming($a, $b);
      ${ev.isNull} = ${ev.value} < 0;
    """)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): BqHamming =
    copy(left = l, right = r)
  override def prettyName: String = "bq_hamming"
}

/** `bq_adc_dot(query, code)` -> asymmetric float-query x binary-code
  * score (VectorOps.bqAdcDot); NaN on width mismatch — the probe
  * nulls it before the descending sort, same contract as sq_adc_cos. */
case class BqAdcDot(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(DoubleType), org.apache.spark.sql.types.BinaryType)
  override def dataType: DataType = DoubleType
  override def nullSafeEval(q: Any, code: Any): Any =
    VectorOps.bqAdcDot(q.asInstanceOf[ArrayData], code.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (q, c) => s"graft.functions.VectorOps.bqAdcDot($q, $c)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): BqAdcDot =
    copy(left = l, right = r)
  override def prettyName: String = "bq_adc_dot"
}

/** `dot_product(a, b)` over two array<double> columns. */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    VectorOps.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorOps.dot($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotProduct =
    copy(left = l, right = r)
  override def prettyName: String = "dot_product"
}

object VectorExpressions {

  def cosine_sim(a: Column, b: Column): Column =
    GraftBridge.column(CosineSim(GraftBridge.expression(a), GraftBridge.expression(b)))

  def dot_product(a: Column, b: Column): Column =
    GraftBridge.column(DotProduct(GraftBridge.expression(a), GraftBridge.expression(b)))

  /** Rotation-literal y = R·v (see MatVec). */
  def mat_vec(rot: Seq[Seq[Double]], v: Column): Column = {
    import org.apache.spark.sql.functions.typedLit
    GraftBridge.column(MatVec(GraftBridge.expression(typedLit(rot)),
      GraftBridge.expression(v)))
  }

  /** Codebook-literal ADC scoring (see PqAdc). `codes` must be
    * array<int>-castable; `codebooks(m)(code)` is the dsub-dim
    * centroid of subspace m. */
  def pq_adc(query: Column, codes: Column, codebooks: Seq[Seq[Seq[Double]]]): Column = {
    import org.apache.spark.sql.functions.typedLit
    GraftBridge.column(PqAdc(
      GraftBridge.expression(query),
      GraftBridge.expression(codes.cast("array<int>")),
      GraftBridge.expression(typedLit(codebooks))))
  }

  /** Codebook-literal SDC approximate cosine between two PQ code
    * columns (see PqSdcCos). Takes the CODEBOOKS and compiles them to
    * the kernel's per-subspace dot tables here, driver-side — callers
    * never see the table layout. M × ksub² × dsub multiplies once per
    * plan vs per pair. */
  def pq_sdc_cos(codesA: Column, codesB: Column,
      codebooks: Seq[Seq[Seq[Double]]]): Column = {
    import org.apache.spark.sql.functions.typedLit
    val tables = codebooks.map { cb =>
      cb.map(ci => cb.map(cj => ci.zip(cj).foldLeft(0.0) {
        case (acc, (x, y)) => acc + x * y
      }))
    }
    GraftBridge.column(PqSdcCos(
      GraftBridge.expression(codesA.cast("array<int>")),
      GraftBridge.expression(codesB.cast("array<int>")),
      GraftBridge.expression(typedLit(tables))))
  }

  /** Model-literal SQ8 encoding (see SqEncode): `minsDeltas` is
    * (mins, deltas), each D-wide. */
  def sq_encode(v: Column, minsDeltas: (Seq[Double], Seq[Double])): Column = {
    import org.apache.spark.sql.functions.typedLit
    GraftBridge.column(SqEncode(GraftBridge.expression(v),
      GraftBridge.expression(typedLit(Seq(minsDeltas._1, minsDeltas._2)))))
  }

  /** Model-literal SQ8 ADC cosine (see SqAdcCos). */
  def sq_adc_cos(query: Column, code: Column,
      minsDeltas: (Seq[Double], Seq[Double])): Column = {
    import org.apache.spark.sql.functions.typedLit
    GraftBridge.column(SqAdcCos(
      GraftBridge.expression(query),
      GraftBridge.expression(code),
      GraftBridge.expression(typedLit(Seq(minsDeltas._1, minsDeltas._2)))))
  }

  /** Model-literal SQ8 ADC squared L2 (see SqAdcL2). */
  def sq_adc_l2(shiftedQuery: Column, code: Column,
      minsDeltas: (Seq[Double], Seq[Double])): Column = {
    import org.apache.spark.sql.functions.typedLit
    GraftBridge.column(SqAdcL2(
      GraftBridge.expression(shiftedQuery),
      GraftBridge.expression(code),
      GraftBridge.expression(typedLit(Seq(minsDeltas._1, minsDeltas._2)))))
  }

  /** Model-literal SQ8 SDC cosine between two code columns (see
    * SqSdcCos). */
  def sq_sdc_cos(codeA: Column, codeB: Column,
      minsDeltas: (Seq[Double], Seq[Double])): Column = {
    import org.apache.spark.sql.functions.typedLit
    GraftBridge.column(SqSdcCos(
      GraftBridge.expression(codeA),
      GraftBridge.expression(codeB),
      GraftBridge.expression(typedLit(Seq(minsDeltas._1, minsDeltas._2)))))
  }

  /** Threshold-literal BQ1 encoding (see BqEncode). */
  def bq_encode(v: Column, thresholds: Seq[Double]): Column = {
    import org.apache.spark.sql.functions.typedLit
    GraftBridge.column(BqEncode(GraftBridge.expression(v),
      GraftBridge.expression(typedLit(thresholds))))
  }

  /** Hamming distance between two packed BQ code columns (see
    * BqHamming). */
  def bq_hamming(a: Column, b: Column): Column =
    GraftBridge.column(BqHamming(GraftBridge.expression(a), GraftBridge.expression(b)))

  /** Asymmetric float-query × binary-code score (see BqAdcDot). */
  def bq_adc_dot(query: Column, code: Column): Column =
    GraftBridge.column(BqAdcDot(GraftBridge.expression(query), GraftBridge.expression(code)))

  /** Codebook-literal nearest-centroid assignment (see NearestCentroid). */
  def nearest_centroid(e: Column, codebook: Seq[(Long, Seq[Double])]): Column = {
    import org.apache.spark.sql.functions.typedLit
    // zero-cost driver-side validation: the kernel scores a TRUNCATED
    // prefix distance on width mismatch, so one short centroid (drift)
    // would systematically win argmin and silently destroy IVF recall;
    // an empty codebook would yield the plausible-looking cid -1
    require(codebook.nonEmpty, "nearest_centroid needs a non-empty codebook")
    require(codebook.map(_._2.length).distinct.size == 1,
      s"codebook centroids have mixed widths (${codebook.map(_._2.length).distinct.sorted.mkString(",")})")
    val lit = typedLit(codebook)
    // rename _1/_2 tuple fields to the expression's (cid, ce) contract
    val cast = lit.cast("array<struct<cid:bigint,ce:array<double>>>")
    GraftBridge.column(NearestCentroid(GraftBridge.expression(e), GraftBridge.expression(cast)))
  }

  /** PRECONDITION shared by every kernel above: array ELEMENTS must
    * be non-null. ArrayData.toDoubleArray / getInt silently read a
    * null slot as 0 (JVM unboxing), so a null element would produce a
    * finite wrong score rather than NULL — the operators never
    * construct such arrays (transform/cast preserve only WHOLE-array
    * nulls), but a caller feeding hand-built arrays with null slots
    * is outside the kernels' contract. */
}
