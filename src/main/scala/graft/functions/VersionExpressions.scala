package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BooleanType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.GraftBridge

import graft.core.{Model, PkgVersion}

/** Static entry points for generated code (a plain object with no
  * companion class gets JVM static forwarders, so codegen can call
  * `graft.functions.VersionOps.cmp(...)` directly). */
object VersionOps {
  def cmp(a: String, b: String): Int = PkgVersion.compareRaw(a, b)
  def valid(s: UTF8String): Boolean = PkgVersion.parse(s.toString).isRight
  def cveYear(s: UTF8String): Int = Model.cveYear(s.toString)

  /** MONOTONE COARSENING of the dpkg version order, the key the
    * version-interval join rewrite buckets on. Contract (the one the
    * rewrite's correctness rests on, property-tested in
    * VersionIntervalJoinSpec):
    *
    *   cmp(a, b) < 0  ⟹  key(a) == null ∨ key(b) == null ∨
    *                      key(a) <= key(b)
    *
    * equivalently: two non-null keys can only invert when the
    * versions do. The keyed subset is deliberately narrow — epoch in
    * [0, 2^20) and a version whose FIRST character is a digit — and
    * the key is (epoch << 41) | min(first numeric run, 2^40 - 1):
    * dpkg compares epoch first, then the leading digit runs
    * numerically BEFORE any quirk can fire, so the packing is
    * order-consistent on that subset. Everything else keys NULL
    * (rewrite → exact fallback branch) because no total numeric key
    * exists for it: the reference's '.'-beats-'_' and rc/pre-tail
    * demotion quirks make non-digit-start versions sort on BOTH
    * sides of the digit-start range ("abc" > "999" but "xrc1" <
    * "1.0"), and the #MINV#/#MAXV# sentinels sit outside the grammar
    * entirely. Null-in, null-out. */
  def key(s: UTF8String): java.lang.Long = {
    if (s == null) return null
    val parsed = PkgVersion.parseUnsafe(s.toString)
    if (parsed.epoch < 0 || parsed.epoch >= (1 << 20)) return null
    val v = parsed.version
    if (v.isEmpty || !v.charAt(0).isDigit) return null
    var i = 0
    while (i < v.length && v.charAt(i) == '0') i += 1 // dpkg zero skip
    var run = 0L
    var digits = 0
    while (i < v.length && v.charAt(i).isDigit && digits <= 12) {
      run = run * 10 + (v.charAt(i) - '0')
      digits += 1
      i += 1
    }
    // a 13+-digit run outranks every 12-digit value; the cap
    // (2^40 - 1 ≈ 1.0995e12) sits above 999999999999, so clamping
    // stays monotone
    val sub = if (digits > 12 || (i < v.length && v.charAt(i).isDigit))
      0xFFFFFFFFFFL else math.min(run, 0xFFFFFFFFFFL)
    java.lang.Long.valueOf((parsed.epoch.toLong << 41) | sub)
  }
}

/** `version_cmp(a, b)` as a native Catalyst expression.
  *
  * dpkg ordering (graft.core.PkgVersion; reference semantics
  * /root/reference/common/version.go:148-315) is not expressible with
  * built-ins, but as a BinaryExpression with a one-call doGenCode it
  * stays inside whole-stage codegen instead of forcing the
  * UDF-boundary serialization a ScalaUDF would. */
case class VersionCmp(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override def nullSafeEval(a: Any, b: Any): Any =
    VersionOps.cmp(a.toString, b.toString)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.VersionOps.cmp($a.toString(), $b.toString())")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): VersionCmp =
    copy(left = l, right = r)
  override def prettyName: String = "version_cmp"
}

/** `version_valid(s)` -> does the string parse as a dpkg version.
  * The validity gates in the feed adapters sit in filter position, so
  * this stays codegen'd where a UDF would box every row. */
case class VersionValid(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = BooleanType
  override def nullSafeEval(input: Any): Any =
    VersionOps.valid(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.VersionOps.valid($c)")
  override protected def withNewChildInternal(newChild: Expression): VersionValid =
    copy(child = newChild)
  override def prettyName: String = "version_valid"
}

/** `version_key(s)` -> the nullable monotone coarsening of the dpkg
  * order (`VersionOps.key`): the bucket key the version-interval
  * join rewrite partitions on. Codegen'd like its siblings; null
  * marks "not numerically keyable — take the exact fallback". */
case class VersionKey(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def nullable: Boolean = true
  override def nullSafeEval(input: Any): Any =
    VersionOps.key(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val boxed = ctx.freshName("vkey")
    nullSafeCodeGen(ctx, ev, c => s"""
      java.lang.Long $boxed = graft.functions.VersionOps.key($c);
      ${ev.isNull} = $boxed == null;
      ${ev.value} = ${ev.isNull} ? 0L : $boxed.longValue();
    """)
  }
  override protected def withNewChildInternal(newChild: Expression): VersionKey =
    copy(child = newChild)
  override def prettyName: String = "version_key"
}

/** `cve_year(s)` -> leading-digit year of a CVE suffix, -1 when there
  * is none (reference common/db.go:63-70); the P1 year floor runs in
  * filter position. */
case class CveYearExpr(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = IntegerType
  override def nullSafeEval(input: Any): Any =
    VersionOps.cveYear(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.VersionOps.cveYear($c)")
  override protected def withNewChildInternal(newChild: Expression): CveYearExpr =
    copy(child = newChild)
  override def prettyName: String = "cve_year"
}

object VersionExpressions {
  /** Column API: version_cmp(a, b) -> -1/0/1. */
  def version_cmp(a: Column, b: Column): Column =
    GraftBridge.column(
      VersionCmp(GraftBridge.expression(a), GraftBridge.expression(b)))

  /** Column API: version_valid(s). */
  def version_valid(s: Column): Column =
    GraftBridge.column(VersionValid(GraftBridge.expression(s)))

  /** Column API: version_key(s) -> nullable monotone bucket key. */
  def version_key(s: Column): Column =
    GraftBridge.column(VersionKey(GraftBridge.expression(s)))

  /** Column API: cve_year(s). */
  def cve_year(s: Column): Column =
    GraftBridge.column(CveYearExpr(GraftBridge.expression(s)))
}
