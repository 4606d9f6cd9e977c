package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{PkgVersion, Severity}

/** Scalar-function surface of the vulnerability domain, exposed both
  * as Column helpers (codegen'd built-ins where possible) and as
  * registered SQL functions. UDFs are confined to the two genuinely
  * non-relational leaves: dpkg version parsing and the range grammar
  * (SURVEY §2.9). */
object VulFunctions {

  // ---- pure-Scala UDF bodies ------------------------------------------

  private val versionParseF = (s: String) =>
    if (s == null) null
    else PkgVersion.parse(s) match {
      case Right(v) => (v.epoch, v.version, v.revision, v.elVer)
      case Left(_)  => null
    }

  // ---- Column API ------------------------------------------------------

  /** `version_parse(s)` -> struct(epoch, version, revision, elVer),
    * null when unparseable. Projection-only UDF; validity gates use
    * the native `version_valid` instead. */
  val version_parse = udf(versionParseF)

  /** `version_valid(s)` -> boolean, native expression (filter-safe). */
  def version_valid(s: Column): Column = VersionExpressions.version_valid(s)

  /** `parse_range_expr(s)` -> array<struct<opCode,version>> — a native
    * expression, foldable on constant input so a literal range string
    * becomes an array literal at optimization time. */
  def parse_range_expr(s: Column): Column = RangeExpressions.parse_range_expr(s)

  /** `range_contains(chain, v)` -> does version v satisfy the opcode
    * chain (OR across groups, AND within). Native expression with
    * doGenCode — filters on it stay inside whole-stage codegen. */
  def range_contains(chain: Column, v: Column): Column =
    RangeExpressions.range_contains(chain, v)

  /** CVE-name year extraction (reference common/db.go:63-70) — a
    * native expression; the P1 year floor runs in filter position. */
  def cve_year(s: Column): Column = VersionExpressions.cve_year(s)

  /** Severity ordinal via array_position — no UDF, so max-severity
    * aggregations (SURVEY A5) stay codegen'd. */
  def severityOrdinal(sev: Column): Column =
    array_position(typedLit(Severity.ordering), sev)

  /** Accepted-severity gate (updater.go:35-37). */
  def severityAccepted(sev: Column): Column =
    sev.isin(Severity.accepted: _*)

  /** Withdrawn/rejected description filter (updater/filter.go:5-19). */
  def isWithdrawn(desc: Column): Column =
    lower(desc).contains("rejected reason") || lower(desc).contains("withdrawn advisory")

  // ---- SQL registration ------------------------------------------------

  def register(spark: SparkSession): Unit = {
    VersionExpressions.register(spark)
    TextExpressions.register(spark)
    RangeExpressions.register(spark)
    VectorExpressions.register(spark)
    spark.udf.register("version_parse", versionParseF)
  }
}
