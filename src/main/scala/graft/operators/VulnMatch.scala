package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.core.{PkgVersion, Vulnerability}
import graft.functions.VersionExpressions

/** The CONSUMER query of a vulnerability database: match an installed
  * package inventory against the fix ranges and report what is
  * affected — the scan every user of the reference's DB runs against
  * its output (the reference ships the DB; its scanner evaluates
  * exactly this predicate per package).
  *
  * Semantics per (inventory row, fix entry) with the same
  * (namespace, feature): affected iff
  *   `version_cmp(installed, fixedVersion) < 0` (not yet at the fix;
  *     `#MAXV#` = "affected, no fix yet" sorts after everything, so
  *     every installed version is affected)
  *   AND `version_cmp(installed, minVer) >= 0` (at or above the
  *     range floor; `#MINV#` sorts before everything = no floor) —
  * mirroring the reference's range encoding
  * (`rhel.go:632-641` / `debian.go:213-221` via SURVEY §1.3).
  * A fix entry whose fixedVersion is `#MINV#` marks "not affected";
  * it can never match (nothing sorts below `#MINV#`).
  *
  * Scale shape: explode the DB's nested fix array ONCE into a flat
  * (namespace, feature, vuln, fixedVersion, minVer) table — its size
  * follows the DB (thousands), not the inventory — then an equi-join
  * on (namespace, feature) with the `version_cmp` comparison as a
  * codegen'd residual. The DB side broadcasts (it is MBs); the
  * inventory side — the thing that grows to fleet scale — streams
  * through the join without shuffling. */
object VulnMatch {

  /** Flatten a vulnerability DB to its per-feature fix ranges. The
    * range's namespace is the FIX ENTRY's featureNamespace when set,
    * falling back to the vuln-level namespace: Debian/Ubuntu rows
    * carry namespace = "" with the release namespace per fix entry
    * (`DebianSource.scala:99`, `UbuntuSource.scala:124`), and one
    * vuln row can span releases — keying on the vuln-level namespace
    * would match nothing (or the wrong release). */
  def fixRanges(db: Dataset[Vulnerability]): DataFrame =
    db.toDF()
      .select(col("name").as("vul_name"), col("namespace"),
        col("severity"), explode(col("fixedIn")).as("fix"))
      .select(col("vul_name"),
        coalesce(when(col("fix.featureNamespace") =!= "",
          col("fix.featureNamespace")), col("namespace")).as("namespace"),
        col("severity"),
        col("fix.featureName").as("feature"),
        col("fix.version").as("fixed_version"),
        col("fix.minVer").as("min_ver"))

  /** Affected rows for an `inventory` of (namespace, feature,
    * version) against flattened `ranges` (from `fixRanges`).
    * Output: inventory columns + vul_name, severity, fixed_version.
    *
    * `broadcastDb = true` (default) pins the DB side as the build
    * side — fix ranges are MBs by construction; disable only for a
    * pathologically large DB and AQE picks the strategy. */
  def affected(inventory: DataFrame, ranges: DataFrame,
      namespaceCol: String = "namespace", featureCol: String = "feature",
      versionCol: String = "version", broadcastDb: Boolean = true): DataFrame = {
    val db0 = ranges.select(
      col("namespace").as("_ns"), col("feature").as("_ft"),
      col("vul_name"), col("severity"),
      col("fixed_version"), col("min_ver"))
    val db = if (broadcastDb) broadcast(db0) else db0
    inventory.join(db,
      col(namespaceCol) === col("_ns") && col(featureCol) === col("_ft") &&
        VersionExpressions.version_cmp(col(versionCol), col("fixed_version")) < 0 &&
        VersionExpressions.version_cmp(col(versionCol),
          coalesce(col("min_ver"), lit(PkgVersion.MinSentinel))) >= 0)
      .drop("_ns", "_ft", "min_ver")
  }

  /** One-call scan: inventory × DB -> affected report with the
    * per-package worst severity first. */
  def scan(inventory: DataFrame, db: Dataset[Vulnerability],
      namespaceCol: String = "namespace", featureCol: String = "feature",
      versionCol: String = "version"): DataFrame =
    affected(inventory, fixRanges(db), namespaceCol, featureCol, versionCol)
}
