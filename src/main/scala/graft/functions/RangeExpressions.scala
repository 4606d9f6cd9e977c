package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.GraftBridge

import graft.core.{OpVersion, RangeExpr}

/** Static entry points for generated code (same pattern as
  * VersionOps/TextOps): the range-grammar leaves stay inside
  * whole-stage codegen instead of crossing a ScalaUDF boundary. */
object RangeOps {

  val chainType: DataType = ArrayType(StructType(Seq(
    StructField("opCode", StringType, nullable = false),
    StructField("version", StringType, nullable = false))), containsNull = false)

  /** `>=1.2, <2.0 || =3.1` -> opcode-chain rows. */
  def parse(s: UTF8String): ArrayData =
    new GenericArrayData(RangeExpr.parseRangeExpr(s.toString).map(ov =>
      InternalRow(UTF8String.fromString(ov.opCode),
        UTF8String.fromString(ov.version)): Any).toArray)

  /** Opcode-chain containment (OR across groups, AND within) — the
    * semantics live in core.RangeExpr.contains; this adapter walks the
    * columnar chain rows. */
  def contains(chain: ArrayData, candidate: UTF8String): Boolean = {
    val n = chain.numElements()
    val ops = new Array[OpVersion](n)
    var i = 0
    while (i < n) {
      val row = chain.getStruct(i, 2)
      ops(i) = OpVersion(row.getUTF8String(0).toString, row.getUTF8String(1).toString)
      i += 1
    }
    RangeExpr.contains(scala.collection.immutable.ArraySeq.unsafeWrapArray(ops),
      candidate.toString)
  }
}

/** `parse_range_expr(s)` -> array<struct<opCode,version>>. Foldable
  * when the input is: a constant range string (q51's filter) folds to
  * an array literal at optimization time, leaving the whole filter
  * codegen'd. */
case class ParseRangeExprE(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = RangeOps.chainType
  override def foldable: Boolean = child.foldable
  override def nullSafeEval(input: Any): Any =
    RangeOps.parse(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.RangeOps.parse($c)")
  override protected def withNewChildInternal(newChild: Expression): ParseRangeExprE =
    copy(child = newChild)
  override def prettyName: String = "parse_range_expr"
}

/** `range_contains(chain, v)` -> does version v satisfy the opcode
  * chain. NULL in -> NULL out (the former UDF returned false; in
  * filter position the behavior is identical). */
case class RangeContainsE(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(RangeOps.chainType, StringType)
  override def dataType: DataType = BooleanType
  override def nullSafeEval(chain: Any, v: Any): Any =
    RangeOps.contains(chain.asInstanceOf[ArrayData], v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.RangeOps.contains($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): RangeContainsE =
    copy(left = l, right = r)
  override def prettyName: String = "range_contains"
}

object RangeExpressions {

  def parse_range_expr(s: Column): Column =
    GraftBridge.column(ParseRangeExprE(GraftBridge.expression(s)))

  def range_contains(chain: Column, v: Column): Column =
    GraftBridge.column(RangeContainsE(GraftBridge.expression(chain), GraftBridge.expression(v)))

  def fromSeqParse(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 1, s"parse_range_expr requires 1 argument, got ${exprs.length}")
    ParseRangeExprE(exprs.head)
  }

  def fromSeqContains(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 2, s"range_contains requires 2 arguments, got ${exprs.length}")
    RangeContainsE(exprs(0), exprs(1))
  }
}
