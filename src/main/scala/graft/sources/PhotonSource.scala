package graft.sources

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{PkgVersion, Records, Vulnerability}

/** S10 — VMware Photon per-release JSON arrays
  * (reference updater/fetchers/photon/photon.go:52-162; FIXTURES.md §8).
  *
  * Semantics reproduced:
  *  - res_ver "N/A"/"NA" -> MaxVersion sentinel;
  *  - unparseable versions are KEPT with an empty version string — the
  *    reference checks the wrong err variable (photon.go:117-120), so
  *    its skip branch never fires; mirrored faithfully;
  *  - cve_score lands in CVSSv3.Score, severity left empty for
  *    NVD enrichment;
  *  - alternate package names (expat -> expat-libs) duplicated as an
  *    extra FixedIn entry.
  */
object PhotonSource {

  val schema: StructType = StructType(Seq(
    StructField("cve_id", StringType),
    StructField("pkg", StringType),
    StructField("cve_score", DoubleType),
    StructField("res_ver", StringType)))

  val alternatePackageNames: Map[String, String] = Map("expat" -> "expat-libs")

  /** One release file (JSON array) -> rows; namespace = photon:N. */
  def load(spark: SparkSession, path: String, releaseVersion: String): Dataset[Vulnerability] = {
    import spark.implicits._
    val ns = s"photon:$releaseVersion"
    val altMap = map(alternatePackageNames.toSeq.flatMap {
      case (k, v) => Seq(lit(k), lit(v)) }: _*)

    spark.read.schema(schema).option("multiLine", true).json(path)
      .withColumn("version",
        when(col("res_ver").isin("N/A", "NA"), PkgVersion.MaxSentinel)
          .when(expr("version_valid(res_ver)"), col("res_ver"))
          .otherwise(""))
      .withColumn("alt", altMap(col("pkg")))
      .select(Records.withDefaults[Vulnerability](
        "name" -> col("cve_id"),
        "namespace" -> lit(ns),
        "cvssV3Score" -> col("cve_score"),
        "fixedIn" -> when(col("alt").isNotNull, array(
          struct(col("pkg").as("featureName"), lit(ns).as("featureNamespace"),
            col("version").as("version"), lit("").as("minVer")),
          struct(col("alt").as("featureName"), lit(ns).as("featureNamespace"),
            col("version").as("version"), lit("").as("minVer"))))
          .otherwise(array(
            struct(col("pkg").as("featureName"), lit(ns).as("featureNamespace"),
              col("version").as("version"), lit("").as("minVer"))))): _*)
      .as[Vulnerability]
  }
}
