package graft.core

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{Column, Encoders}
import org.apache.spark.sql.functions.{array, col, lit}
import org.apache.spark.sql.types._

/** Column views of the record case classes in `Model.scala`, taken from
  * their encoder schemas: which fields a record has, and in which order,
  * is written down only in its case class. */
object Records {

  private def fields[T <: Product : TypeTag]: Seq[StructField] =
    Encoders.product[T].schema.fields.toSeq

  /** T's fields other than `except`, in declaration order. That is the
    * order in which `max`/`min` over a struct of them compare. */
  def columns[T <: Product : TypeTag](except: String*): Seq[Column] =
    fields[T].map(_.name).filterNot(except.contains).map(col)

  /** T's row in declaration order: each field named in `set` takes that
    * column, every other field the column `rest` gives for it. */
  def row[T <: Product : TypeTag](set: (String, Column)*)(
      rest: StructField => Column): Seq[Column] = {
    val fs = fields[T]
    val unknown = set.map(_._1).toSet -- fs.map(_.name)
    require(unknown.isEmpty, s"not fields of the record: ${unknown.mkString(", ")}")
    val given = set.toMap
    fs.map(f => given.getOrElse(f.name, rest(f)).as(f.name))
  }

  /** T's row with every field not named in `set` at its unset value. */
  def withDefaults[T <: Product : TypeTag](set: (String, Column)*): Seq[Column] =
    row[T](set: _*)(f => unsetOf(f.dataType))

  /** The unset value of T's field `name`. */
  def unset[T <: Product : TypeTag](name: String): Column =
    unsetOf(fields[T].find(_.name == name)
      .getOrElse(throw new IllegalArgumentException(s"not a field of the record: $name")).dataType)

  /** What a feed leaves in a field it does not carry: "" for text, 0.0
    * for a score, a null timestamp, an empty list. */
  private def unsetOf(t: DataType): Column = t match {
    case StringType    => lit("")
    case DoubleType    => lit(0.0)
    case TimestampType => lit(null).cast(TimestampType)
    case a: ArrayType  => array().cast(a)
    case other         => throw new IllegalArgumentException(s"no unset value for $other")
  }
}
