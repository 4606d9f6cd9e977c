package graft.operators

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.core._

/** The app-side enrichment operators around assignMetadata:
  * G2 upstream translation, J3 affected-version backfill, J4 NVD
  * whitelist injection (reference updater/updater.go:67-86, 147-189,
  * 596-640). */
object AppEnrichOps {

  private val cveUrlPrefix = "https://cve.mitre.org/cgi-bin/cvename.cgi?name="

  /** G2 — ubuntu:upstream records translated to app vulns, one per
    * FixedIn entry (defined but not invoked by the reference's current
    * pipeline; exposed as a library operator). */
  def xslateUbuntuUpstream(vulns: Dataset[Vulnerability])(
      implicit spark: SparkSession): Dataset[AppModuleVul] = {
    import spark.implicits._
    vulns.filter(col("namespace") === "ubuntu:upstream").toDF()
      .select(col("name"), col("description"), col("severity"), explode(col("fixedIn")).as("ff"))
      .select(Records.withDefaults[AppModuleVul](
        "vulName" -> col("name"),
        "moduleName" -> col("ff.featureName"),
        "description" -> col("description"),
        "link" -> concat(lit(cveUrlPrefix), col("name")),
        "severity" -> col("severity"),
        "affectedVer" -> array(struct(lit("lt").as("opCode"), col("ff.version").as("version"))),
        "fixedVer" -> array(struct(lit("gteq").as("opCode"), col("ff.version").as("version")))): _*)
      .as[AppModuleVul]
  }

  /** J3 — correctAppAffectedVersion: apps missing affected or fixed
    * chains pull NVD vulnerable-version intervals (keyed by vulName)
    * converted to `||`-chained tokens then opcodes. */
  def backfillAffectedVersions(apps: Dataset[AppModuleVul], nvd: Dataset[NvdMetadata])(
      implicit spark: SparkSession): Dataset[AppModuleVul] = {
    import spark.implicits._
    val ranges = nvd
      .filter(size(col("vulnVersions")) > 0)
      .map { m =>
        val intervals = m.vulnVersions
        val (affects, fixes) = RangeExpr.nvdIntervalsToTokens(intervals)
        (m.cve, affects.map(RangeExpr.parseToken), fixes.map(RangeExpr.parseToken))
      }
      .toDF("_cve", "_nvd_affects", "_nvd_fixes")

    apps.toDF()
      .join(broadcast(ranges), col("vulName") === col("_cve"), "left_outer")
      .withColumn("affectedVer",
        when(size(col("affectedVer")) === 0 && col("_nvd_affects").isNotNull,
          col("_nvd_affects")).otherwise(col("affectedVer")))
      .withColumn("fixedVer",
        when(size(col("fixedVer")) === 0 && col("_nvd_fixes").isNotNull,
          col("_nvd_fixes")).otherwise(col("fixedVer")))
      .drop("_cve", "_nvd_affects", "_nvd_fixes")
      .as[AppModuleVul]
  }

  final case class WhitelistEntry(cve: String, appName: String, moduleName: String)

  /** Hand-listed NVD CVEs injected as app records (updater.go:26-33). */
  val nvdAppWhitelist: Seq[WhitelistEntry] = Seq(
    WhitelistEntry("CVE-2025-14847", "mongodb", "mongodb"))

  /** J4 — injectNvdWhitelistApps: whitelist entries enriched from NVD
    * and appended. The reference's existence check keys on module
    * "nvd" rather than the entry's module (updater.go:604-609), so it
    * never suppresses an entry — mirrored by appending whenever the
    * NVD metadata exists. */
  def injectNvdWhitelist(apps: Dataset[AppModuleVul], nvd: Dataset[NvdMetadata],
      whitelist: Seq[WhitelistEntry] = nvdAppWhitelist)(
      implicit spark: SparkSession): Dataset[AppModuleVul] = {
    import spark.implicits._
    val wl = whitelist.toDS().toDF("w_cve", "w_app", "w_module")
    val injected = wl.join(nvd.toDF(), col("w_cve") === col("cve"), "inner")
      .select(Records.withDefaults[AppModuleVul](
        "vulName" -> col("w_cve"),
        "appName" -> col("w_app"),
        "moduleName" -> col("w_module"),
        "description" -> col("description"),
        "link" -> col("link"),
        "score" -> col("cvssV2Score"),
        "vectors" -> col("cvssV2Vectors"),
        "scoreV3" -> col("cvssV3Score"),
        "vectorsV3" -> col("cvssV3Vectors"),
        "severity" -> col("severity"),
        "issuedDate" -> col("publishedDate"),
        "lastModDate" -> col("lastModifiedDate"),
        "cves" -> array(col("w_cve"))): _*)
      .as[AppModuleVul]
    apps.unionByName(injected)
  }
}
