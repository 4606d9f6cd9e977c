package graft.core

import java.util.concurrent.ConcurrentHashMap

import scala.reflect.runtime.universe.{TypeTag, typeOf}

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.functions.{array, col, lit}
import org.apache.spark.sql.types._

/** Column views of the record case classes in `Model.scala`, taken from
  * their encoder schemas: which fields a record has, and in which order,
  * is written down only in its case class. */
object Records {

  // deriving an encoder reflects over the case class; each record type
  // is derived once, not on every column view of it
  private val fieldsOf = new ConcurrentHashMap[String, Seq[StructField]]()

  private def fields[T <: Product : TypeTag]: Seq[StructField] =
    fieldsOf.computeIfAbsent(typeOf[T].typeSymbol.fullName,
      _ => Encoders.product[T].schema.fields.toSeq)

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

/** The encoders of the three records the vul-db build passes between
  * its layers, derived once. Imported beside `spark.implicits._`, they
  * take precedence over its generic product encoder, which reflects over
  * the case class again on every `.as`, `.map` or `toDS`. */
object RecordEncoders {
  implicit val vulnerabilityEncoder: Encoder[Vulnerability] = Encoders.product[Vulnerability]
  implicit val appModuleVulEncoder: Encoder[AppModuleVul] = Encoders.product[AppModuleVul]
  implicit val nvdMetadataEncoder: Encoder[NvdMetadata] = Encoders.product[NvdMetadata]
}
