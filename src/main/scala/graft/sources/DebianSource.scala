package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{Model, PkgVersion, Records, Vulnerability}
import graft.core.RecordEncoders._
import graft.functions.VulFunctions

/** S4 — Debian security-tracker JSON + archived snapshot merge
  * (reference updater/fetchers/debian/debian.go:66-254; FIXTURES.md §3).
  *
  * Semantics reproduced:
  *  - triple-nested explode pkg -> cve -> release (G4);
  *  - unknown release codenames skipped; status `undetermined` skipped;
  *  - non-CVE names skipped; year floor >= 2014;
  *  - fixed_version "0" -> MinVersion sentinel ("not affected");
  *    status open -> MaxVersion ("no fix yet"); resolved -> parsed
  *    version, row skipped when unparseable; any other status keeps an
  *    empty version (mirrors the reference's zero-Version fallthrough);
  *  - severity = highest urgency across releases (A5, Priority order);
  *  - snapshot merge (J10): the main tracker's metadata wins; archived
  *    files only contribute extra FixedIn entries, concatenated in
  *    file-rank order.
  *
  * Deviation (documented): feedRating in the reference is the
  * last-iterated release's urgency (Go map order); here it is the
  * urgency string accompanying the winning (max) severity.
  */
object DebianSource {

  private val relStruct = StructType(Seq(
    StructField("fixed_version", StringType),
    StructField("status", StringType),
    StructField("urgency", StringType)))
  private val vulnStruct = StructType(Seq(
    StructField("description", StringType),
    StructField("releases", MapType(StringType, relStruct))))
  val rootType: MapType = MapType(StringType, MapType(StringType, vulnStruct))

  private val urlPrefix = "https://security-tracker.debian.org/tracker/"

  /** urgency string -> severity (debian.go:256-291). */
  private def severityFromUrgency(u: org.apache.spark.sql.Column) =
    when(u.isin("low", "low*", "low**"), "Low")
      .when(u.isin("medium", "medium*", "medium**"), "Medium")
      .when(u.isin("high", "high*", "high**"), "High")
      .when(u.isin("end-of-life", "unimportant"), "Negligible")
      .otherwise("Unknown")

  /** One tracker file -> per-(pkg, cve, release) feature rows. */
  def releaseRows(spark: SparkSession, path: String, rank: Int): DataFrame = {
    val releaseMap = map(Model.debianReleases.toSeq.flatMap {
      case (k, v) => Seq(lit(k), lit(v)) }: _*)
    spark.read.option("wholetext", true).text(path)
      .select(from_json(col("value"), rootType).as("m"))
      .select(explode(col("m")).as(Seq("pkgName", "vulns")))
      .select(col("pkgName"), explode(col("vulns")).as(Seq("vulnName", "vuln")))
      .select(col("pkgName"), col("vulnName"), col("vuln.description").as("description"),
        explode(col("vuln.releases")).as(Seq("release", "rel")))
      .withColumn("relVersion", releaseMap(col("release")))
      .filter(col("relVersion").isNotNull) // unknown releases skipped
      .filter(col("rel.status") =!= "undetermined")
      .filter(col("vulnName").startsWith("CVE-"))
      .filter(VulFunctions.cve_year(expr("substring(vulnName, 5)")) >= Model.firstYear)
      .withColumn("version",
        when(col("rel.fixed_version") === "0", PkgVersion.MinSentinel)
          .when(col("rel.status") === "open", PkgVersion.MaxSentinel)
          .when(col("rel.status") === "resolved",
            when(VulFunctions.version_valid(col("rel.fixed_version")),
              col("rel.fixed_version")))
          .otherwise(""))
      .filter(col("version").isNotNull) // unparseable resolved versions skipped
      .select(col("vulnName"), col("description"), col("pkgName"),
        concat(lit("debian:"), col("relVersion")).as("featureNs"),
        col("version"), col("rel.urgency").as("urgency"), lit(rank).as("rank"))
  }

  /** Main + archived snapshots -> one Vulnerability per CVE. */
  def load(spark: SparkSession, mainPath: String, archivedPaths: Seq[String] = Nil): Dataset[Vulnerability] = {
    import spark.implicits._
    val all = (Seq(mainPath).zipWithIndex ++ archivedPaths.zipWithIndex.map { case (p, i) => (p, i + 1) })
      .map { case (p, r) => releaseRows(spark, p, r) }
      .reduce(_ unionByName _)

    all
      .withColumn("sevOrd", VulFunctions.severityOrdinal(severityFromUrgency(col("urgency"))))
      .groupBy("vulnName")
      .agg(
        // metadata from the lowest-rank (main tracker first) source;
        // deterministic tie-break on the description text itself
        min(struct(col("rank"), col("description"))).as("topDesc"),
        max(struct(col("sevOrd"), col("urgency"))).as("topUrgency"),
        // FixedIn concatenated in (rank, pkg, ns) canonical order
        sort_array(collect_list(struct(
          col("rank"), col("pkgName"), col("featureNs"), col("version")))).as("fvs"))
      .select(Records.withDefaults[Vulnerability](
        "name" -> col("vulnName"),
        "description" -> coalesce(col("topDesc.description"), lit("")),
        "link" -> concat(lit(urlPrefix), col("vulnName")),
        "severity" -> expr(s"array(${Severity.orderingSql})[int(topUrgency.sevOrd) - 1]"),
        "fixedIn" -> expr("transform(fvs, f -> struct(f.pkgName AS featureName, f.featureNs AS featureNamespace, f.version AS version, '' AS minVer))"),
        "feedRating" -> col("topUrgency.urgency")): _*)
      .as[Vulnerability]
  }

  private object Severity {
    val orderingSql: String =
      graft.core.Severity.ordering.map(s => s"'$s'").mkString(", ")
  }
}
