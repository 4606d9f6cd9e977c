package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{Model, Records, Vulnerability}
import graft.core.RecordEncoders._
import graft.functions.VulFunctions

/** S5 — Alpine secdb (reference updater/fetchers/alpine/alpine.go:54-129;
  * fixture shape FIXTURES.md §1).
  *
  * Semantics reproduced:
  *  - secfixes values that are not JSON arrays are skipped (the
  *    `7.4.0-r0: {}` case): the map reads values as raw JSON strings
  *    and from_json yields null for non-arrays;
  *  - unparseable package versions skipped (dpkg grammar);
  *  - hard-coded skip of CVE-2017-3738 @ 1.0.2o-r0;
  *  - year gate (>= 2014) applied on the raw name BEFORE the
  *    trailing-text trim, matching the reference's order;
  *  - namespace = "alpine:" + distroversion without the leading 'v';
  *  - link = cve.mitre.org lookup; severity left empty for NVD
  *    enrichment.
  * One output row per (cve, package, fixed-version); regrouping to one
  * record per (namespace, cve) is operators.Namespacing (A1).
  */
object AlpineSource {

  val schema: StructType = StructType(Seq(
    StructField("distroversion", StringType),
    StructField("packages", ArrayType(StructType(Seq(
      StructField("pkg", StructType(Seq(
        StructField("name", StringType),
        StructField("secfixes", MapType(StringType, StringType)))))))))))

  private val linkPrefix = "https://cve.mitre.org/cgi-bin/cvename.cgi?name="

  def load(spark: SparkSession, path: String): Dataset[Vulnerability] =
    parse(spark.read.schema(schema).option("multiLine", true).json(path))(spark)

  def parse(raw: DataFrame)(implicit spark: SparkSession): Dataset[Vulnerability] = {
    import spark.implicits._
    raw
      .select(col("distroversion"), explode(col("packages")).as("p"))
      .select(
        concat(lit("alpine:"), expr("substring(distroversion, 2)")).as("ns"),
        col("p.pkg.name").as("pkgName"),
        explode(col("p.pkg.secfixes")).as(Seq("fixVer", "cvesRaw")))
      // non-array secfix values -> null -> dropped (alpine.go:86-89)
      .withColumn("cvesArr", from_json(col("cvesRaw"), ArrayType(StringType)))
      .filter(col("cvesArr").isNotNull)
      // unparseable versions dropped (alpine.go:66-70)
      .filter(VulFunctions.version_valid(col("fixVer")))
      .select(col("ns"), col("pkgName"), col("fixVer"), explode(col("cvesArr")).as("cveRawName"))
      .filter(!(col("cveRawName") === "CVE-2017-3738" && col("fixVer") === "1.0.2o-r0"))
      .filter(VulFunctions.cve_year(expr("substring(cveRawName, 5)")) >= Model.firstYear)
      .withColumn("cveName", expr("split_part(cveRawName, ' ', 1)"))
      .select(Records.withDefaults[Vulnerability](
        "name" -> col("cveName"),
        "namespace" -> col("ns"),
        "link" -> concat(lit(linkPrefix), col("cveName")),
        "fixedIn" -> array(struct(
          col("pkgName").as("featureName"),
          col("ns").as("featureNamespace"),
          col("fixVer").as("version"),
          lit("").as("minVer")))): _*)
      .as[Vulnerability]
  }
}
