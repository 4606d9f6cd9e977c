package graft.sources

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{CveRef, FeatureVersion, PkgVersion, Records, Vulnerability}

/** S11 — Rocky Apollo errata API JSON
  * (reference updater/fetchers/rocky/rocky.go; FIXTURES.md §9).
  *
  * Semantics reproduced:
  *  - NEVRA `name-[epoch:]version-release.arch.rpm` -> (name, version):
  *    .rpm + arch stripped, split at ':', trailing `-epoch` stripped
  *    from the name part, `^` -> `.` in the version;
  *  - namespace from the first numeric token of product name, floored
  *    (9.4 -> rocky:9); product list pre-seeds namespaces;
  *  - one Vulnerability per (advisory, namespace) (G5);
  *  - severity Critical/Important/Moderate map; Low/None/Unknown and
  *    anything else -> Low;
  *  - published_at T-split date.
  *
  * The reference drops unparseable NEVRA versions into zero Versions;
  * rows whose version fails the dpkg parse keep an empty version,
  * mirrored here.
  */
object RockySource {

  val schema: StructType = StructType.fromDDL(
    """advisories ARRAY<STRUCT<
         name: STRING, description: STRING, kind: STRING, severity: STRING,
         published_at: STRING,
         affected_products: ARRAY<STRUCT<variant: STRING, name: STRING,
           major_version: INT, minor_version: INT, arch: STRING>>,
         cves: ARRAY<STRUCT<cve: STRING, cvss3_scoring_vector: STRING,
           cvss3_base_score: STRING>>,
         packages: ARRAY<STRUCT<nevra: STRING, package_name: STRING,
           product_name: STRING>>>>,
       total INT, page INT, size INT""")

  /** NEVRA -> (moduleName, version); ("", "") when malformed. */
  def parseNevra(raw: String): (String, String) = {
    var nevra = raw.stripSuffix(".rpm")
    val lastDot = nevra.lastIndexOf('.')
    if (lastDot > 0) nevra = nevra.substring(0, lastDot)
    val parts = nevra.split(":")
    if (parts.length != 2) return ("", "")
    var name = parts(0)
    val dash = name.lastIndexOf('-')
    if (dash > 0) name = name.substring(0, dash)
    val version = parts(1).replace("^", ".")
    (name, version)
  }

  /** "Rocky Linux 9.4 x86_64" -> rocky:9 (first numeric token, floored). */
  def namespaceOf(productName: String): String = {
    productName.split("\\s+").collectFirst {
      case f if f.nonEmpty && f.forall(c => c.isDigit || c == '.') &&
        scala.util.Try(f.toDouble).isSuccess => s"rocky:${f.toDouble.toInt}"
    }.getOrElse(s"rocky:$productName")
  }

  def severityOf(s: String): String = s match {
    case "Critical"  => "Critical"
    case "Important" => "High"
    case "Moderate"  => "Medium"
    case _           => "Low"
  }

  def load(spark: SparkSession, path: String): Dataset[Vulnerability] = {
    import spark.implicits._
    val nevraUdf = udf((n: String) => parseNevra(n))
    val nsUdf = udf((p: String) => namespaceOf(p))
    val sevUdf = udf((s: String) => severityOf(Option(s).getOrElse("")))
    val renderUdf = udf((v: String) =>
      PkgVersion.parse(v).toOption.map(_.render).getOrElse(""))

    val advisories = spark.read.schema(schema).option("multiLine", true).json(path)
      .select(explode(col("advisories")).as("a"))
      .select(col("a.*"))

    val pkgRows = advisories
      .select(col("name"), col("description"), col("severity"), col("published_at"),
        col("cves"), explode(col("packages")).as("p"))
      .withColumn("ns", nsUdf(col("p.product_name")))
      .withColumn("nv", nevraUdf(col("p.nevra")))
      .filter(col("nv._1") =!= "")
      // per (ns, version) dedup, first wins (rocky.go:176-217 keys on version)
      .withColumn("_rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("name"), col("ns"), col("nv._2"))
          .orderBy(col("p.nevra"))))
      .filter(col("_rn") === 1)
      .groupBy(col("name"), col("ns"))
      .agg(first(col("description")).as("description"),
        first(col("severity")).as("severity"),
        first(col("published_at")).as("published_at"),
        first(col("cves")).as("cves"),
        sort_array(collect_list(struct(
          col("nv._1").as("featureName"),
          col("ns").as("featureNamespace"),
          renderUdf(col("nv._2")).as("version"),
          lit("").as("minVer")))).as("fixedIn"))

    pkgRows.select(Records.withDefaults[Vulnerability](
      "name" -> col("name"),
      "namespace" -> col("ns"),
      "description" -> coalesce(col("description"), lit("")),
      "severity" -> sevUdf(col("severity")),
      "issuedDate" -> try_to_timestamp(expr("split_part(published_at, 'T', 1)"), lit("yyyy-MM-dd")),
      "cves" -> transform(coalesce(col("cves"), array()),
        c => struct(Records.withDefaults[CveRef]("name" -> c("cve")): _*)),
      "fixedIn" -> col("fixedIn")): _*)
      .as[Vulnerability]
  }
}
