package graft.operators

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{AppModuleVul, Model, OpVersion}
import graft.core.RecordEncoders._
import graft.functions.VulFunctions

/** The shared app-feed post-pass (reference
  * updater/fetchers/apps/apps.go:22-93) plus the A9 dedup and the J9
  * calibration append. */
object AppPostFilters {

  /** Hard-coded withdrawn CVEs the sources fail to remove (apps.go:22-23). */
  val withdrawnCves: Seq[String] = Seq("CVE-2021-23334", "CVE-2024-4109", "CVE-2026-33817")

  /** A9 — the vulMap upsert keyed (module, vulName). The reference is
    * last-writer-wins in adapter registration order; `rank` makes that
    * order explicit (higher rank wins), deterministic under any
    * execution. */
  def dedup(sources: Seq[Dataset[AppModuleVul]])(implicit spark: SparkSession): Dataset[AppModuleVul] = {
    import spark.implicits._
    val ranked = sources.zipWithIndex
      .map { case (ds, i) => ds.toDF().withColumn("_rank", lit(i)) }
      .reduce(_ unionByName _)
    ranked
      .withColumn("_rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("moduleName", "vulName")
          .orderBy(desc("_rank"))))
      .filter(col("_rn") === 1)
      .drop("_rank", "_rn")
      .as[AppModuleVul]
  }

  /** apps.go:68-93: withdrawn set, rejected/withdrawn descriptions,
    * year floor (CWE-/GHSA- names exempt). */
  def gate(apps: Dataset[AppModuleVul])(implicit spark: SparkSession): Dataset[AppModuleVul] = {
    import spark.implicits._
    apps
      .filter(!col("vulName").isin(withdrawnCves: _*))
      .filter(!VulFunctions.isWithdrawn(col("description")))
      .filter(
        col("vulName").startsWith("CWE-") || col("vulName").startsWith("GHSA-") ||
          instr(col("vulName"), "-") === 0 ||
          VulFunctions.cve_year(expr("substring(vulName, instr(vulName, '-') + 1)")) >= Model.firstYear)
      .as[AppModuleVul]
  }

  /** J9 — calibration ranges appended to AffectedVer by CVE name
    * (cvedetails.go:194-197 consumer; loader apps.go:98-119). */
  def applyCalibration(apps: Dataset[AppModuleVul],
      calibration: Dataset[(String, Seq[OpVersion])])(
      implicit spark: SparkSession): Dataset[AppModuleVul] = {
    import spark.implicits._
    val cal = broadcast(calibration.toDF("_cal_cve", "_cal_ranges"))
    apps.toDF()
      .join(cal, col("vulName") === col("_cal_cve"), "left_outer")
      .withColumn("affectedVer",
        when(col("_cal_ranges").isNotNull, concat(col("affectedVer"), col("_cal_ranges")))
          .otherwise(col("affectedVer")))
      .drop("_cal_cve", "_cal_ranges")
      .as[AppModuleVul]
  }
}
