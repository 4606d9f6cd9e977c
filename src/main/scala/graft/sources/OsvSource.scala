package graft.sources

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.core._

/** S12/S15 — OSV-schema advisories: the Go vulndb (govuln.go) and the
  * Chainguard/Wolfi shared feed (chainguardv2.go). The reference reads
  * them from zip archives; this adapter takes the unpacked JSON files
  * (one advisory per file) — the parse semantics are identical.
  */
object OsvSource {

  // typed mirror of the OSV subset both consumers read
  final case class OsvPackage(name: String, ecosystem: String)
  final case class OsvRangeEvent(introduced: String, fixed: String)
  final case class OsvRange(`type`: String, events: Seq[OsvRangeEvent])
  final case class OsvImport(path: String, symbols: Seq[String])
  final case class OsvEcosystemSpecific(imports: Seq[OsvImport], custom_ranges: Seq[OsvRange])
  final case class OsvAffected(pkg: OsvPackage, ranges: Seq[OsvRange],
    ecosystem_specific: OsvEcosystemSpecific)
  final case class OsvSeverity(`type`: String, score: String)
  final case class OsvDatabaseSpecific(url: String)
  final case class OsvRecord(
    id: String, summary: String, details: String,
    published: String, modified: String,
    aliases: Seq[String], severity: Seq[OsvSeverity],
    affected: Seq[OsvAffected], database_specific: OsvDatabaseSpecific,
    upstream: Seq[String])

  val schema: StructType = StructType.fromDDL(
    """id STRING, summary STRING, details STRING, published STRING,
       modified STRING, aliases ARRAY<STRING>,
       severity ARRAY<STRUCT<type: STRING, score: STRING>>,
       affected ARRAY<STRUCT<
         package: STRUCT<name: STRING, ecosystem: STRING>,
         ranges: ARRAY<STRUCT<type: STRING,
           events: ARRAY<STRUCT<introduced: STRING, fixed: STRING>>>>,
         ecosystem_specific: STRUCT<
           imports: ARRAY<STRUCT<path: STRING, symbols: ARRAY<STRING>>>,
           custom_ranges: ARRAY<STRUCT<type: STRING,
             events: ARRAY<STRUCT<introduced: STRING, fixed: STRING>>>>>>>,
       database_specific STRUCT<url: STRING>,
       upstream ARRAY<STRING>""")

  /** Schema-first read; `package` is a Java keyword, so the nested
    * field is renamed to `pkg` before the typed conversion. */
  def readRecords(spark: SparkSession, path: String): Dataset[OsvRecord] = {
    import spark.implicits._
    spark.read.schema(schema).option("multiLine", true).json(path)
      .withColumn("affected", org.apache.spark.sql.functions.expr(
        "transform(affected, a -> struct(a.`package` AS pkg, a.ranges AS ranges, a.ecosystem_specific AS ecosystem_specific))"))
      .as[OsvRecord]
  }

  private def ts(s: String): Timestamp =
    if (s == null || s.isEmpty) null
    else try Timestamp.from(java.time.Instant.parse(s)) catch { case _: Exception => null }

  private def nn(s: String): String = Option(s).getOrElse("")
  private def nl[T](s: Seq[T]): Seq[T] = Option(s).getOrElse(Nil)

  /** GO-score -> severity (govuln.go:196-203). */
  def severityFromGoScore(score: Double): String =
    if (score >= 7.0) "High" else if (score >= 4.0) "Medium" else "Low"

  private def toEvents(rs: Seq[OsvRange], keep: String): Seq[Seq[OsvEvent]] =
    nl(rs).filter(r => nn(r.`type`) == keep)
      .map(r => nl(r.events).map(e => OsvEvent(nn(e.introduced), nn(e.fixed))))

  /** govuln.go:332-392 — one AppModuleVul per affected package. */
  def goRecordToAppVuls(r: OsvRecord): Seq[AppModuleVul] =
    nl(r.affected).map { affected =>
      var score2 = 0.0
      var score3 = 0.0
      var sev = ""
      for (s <- nl(r.severity)) nn(s.`type`) match {
        case "CVSS_V2" => try score2 = s.score.toDouble catch { case _: Exception => }
        case "CVSS_V3" =>
          try { score3 = s.score.toDouble; sev = severityFromGoScore(score3) }
          catch { case _: Exception => }
        case _ =>
      }
      val cves = nl(r.aliases).filter(a => nn(a).startsWith("CVE-"))
      val es = affected.ecosystem_specific
      val imports = if (es == null) Nil else nl(es.imports)
        .filter(i => nn(i.path).nonEmpty || nl(i.symbols).nonEmpty)
      val custom = if (es == null) Nil else toEvents(es.custom_ranges, "ECOSYSTEM")
      val semver = toEvents(affected.ranges, "SEMVER")
      val (aff, fix) = RangeExpr.osvToRanges(custom, semver)
      val desc = if (nn(r.details).isEmpty) nn(r.summary) else r.details
      AppModuleVul(
        vulName = nn(r.id), appName = "go",
        moduleName = "go:" + nn(affected.pkg.name),
        importPaths = imports.map(_.path).filter(_.nonEmpty).distinct,
        symbols = imports.flatMap(i => nl(i.symbols)).filter(_.nonEmpty).distinct,
        description = desc,
        link = Option(r.database_specific).map(d => nn(d.url)).getOrElse(""),
        score = score2, vectors = "", scoreV3 = score3, vectorsV3 = "",
        severity = sev, affectedVer = aff, fixedVer = fix, unaffectedVer = Nil,
        issuedDate = ts(r.published), lastModDate = ts(r.modified),
        cves = cves)
    }

  /** GO- ids never added to the output (govuln.go:473-480). */
  val goWhitelist: Seq[String] = Seq(
    "GO-2022-0635", "GO-2022-0646", "GO-2025-3918",
    "GO-2025-3917", "GO-2025-3919", "GO-2025-4235")

  def loadGo(spark: SparkSession, path: String): Dataset[AppModuleVul] = {
    import spark.implicits._
    readRecords(spark, path).flatMap(goRecordToAppVuls _)
  }

  /** J6 — the Go OSV records calibrated from a freshly-parsed Ubuntu
    * tracker (govuln.go:394-435, 468-492): key by first CVE alias,
    * last-writer-wins per key, copy severity/scores/link/name from the
    * Ubuntu record when present, then drop the whitelist ids.
    *
    * Plan shape (not a driver loop): last-wins is `max(struct(vulName,
    * rec))` — partial-agg friendly and codegen'd, picking
    * `sortBy(vulName).last` deterministically because vulName leads the
    * struct ordering — and the Ubuntu tracker is a small dimension, so
    * calibration is a broadcast left join on the preferred key rather
    * than a collect()'d driver map. */
  def calibrateWithUbuntu(goVulns: Dataset[AppModuleVul],
      ubuntu: Dataset[Vulnerability])(implicit spark: SparkSession): Dataset[AppModuleVul] = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val fields = goVulns.columns.map(col)
    val winners = goVulns
      .withColumn("_key", coalesce(try_element_at(col("cves"), lit(1)), col("vulName")))
      .groupBy("_key")
      .agg(max(struct(col("vulName").as("_w"), struct(fields: _*).as("rec"))).as("m"))
      .select(col("_key"), col("m.rec.*"))
    // The Ubuntu tracker can carry several rows per CVE name (one per
    // namespace after Namespacing); the reference's Go map keeps exactly
    // one entry per name, so reduce to one row per name deterministically
    // (max over the full value struct) before broadcasting — otherwise
    // each matching Go record fans out once per duplicate name.
    val ub = broadcast(ubuntu
      .groupBy(col("name").as("_ub_name"))
      .agg(max(struct(
        col("severity"), col("cvssV2Score"), col("cvssV2Vectors"),
        col("cvssV3Score"), col("cvssV3Vectors"), col("link"),
        col("issuedDate"), col("lastModDate"))).as("_ub"))
      .select(
        col("_ub_name"), col("_ub.severity").as("_ub_severity"),
        col("_ub.cvssV2Score").as("_ub_score"), col("_ub.cvssV2Vectors").as("_ub_vectors"),
        col("_ub.cvssV3Score").as("_ub_scoreV3"), col("_ub.cvssV3Vectors").as("_ub_vectorsV3"),
        col("_ub.link").as("_ub_link"), col("_ub.issuedDate").as("_ub_issued"),
        col("_ub.lastModDate").as("_ub_lastmod")))
    val hit = col("_ub_name").isNotNull
    def copied(ours: String, theirs: String) =
      when(hit, col(theirs)).otherwise(col(ours)).as(ours)
    winners.join(ub, col("_key") === col("_ub_name"), "left")
      .select(
        copied("vulName", "_ub_name"), col("appName"), col("moduleName"),
        col("importPaths"), col("symbols"), col("description"),
        copied("link", "_ub_link"),
        copied("score", "_ub_score"), copied("vectors", "_ub_vectors"),
        copied("scoreV3", "_ub_scoreV3"), copied("vectorsV3", "_ub_vectorsV3"),
        copied("severity", "_ub_severity"),
        col("affectedVer"), col("fixedVer"), col("unaffectedVer"),
        coalesce(col("issuedDate"), col("_ub_issued")).as("issuedDate"),
        coalesce(col("lastModDate"), col("_ub_lastmod")).as("lastModDate"),
        col("cves"))
      .filter(!col("vulName").isin(goWhitelist: _*))
      .as[AppModuleVul]
  }

  /** chainguardv2.go:133-217 — per-CVE distro records from ECOSYSTEM
    * fixed events; advisories without CVE upstreams skipped; feature
    * dedup per (package, version). */
  def chainguardRecordToVulns(r: OsvRecord, ecosystem: String, namespace: String): Seq[Vulnerability] = {
    val cves = nl(r.upstream).filter(u => nn(u).startsWith("CVE-")).distinct
    if (cves.isEmpty) return Nil
    val advisoryLink = s"https://images.chainguard.dev/security/${nn(r.id)}"

    val features = scala.collection.mutable.LinkedHashMap.empty[(String, String), FeatureVersion]
    for (affected <- nl(r.affected) if nn(affected.pkg.ecosystem) == ecosystem;
         events <- toEvents(affected.ranges, "ECOSYSTEM"); e <- events if e.fixed.nonEmpty) {
      if (PkgVersion.parse(e.fixed).isRight) {
        val key = (nn(affected.pkg.name), e.fixed)
        if (!features.contains(key))
          features(key) = FeatureVersion(affected.pkg.name, namespace, e.fixed, "")
      }
    }
    if (features.isEmpty) return Nil

    cves.map { cve =>
      Vulnerability(
        name = cve, namespace = namespace, description = "",
        link = s"https://cve.mitre.org/cgi-bin/cvename.cgi?name=$cve",
        severity = "", cvssV2Score = 0.0, cvssV2Vectors = "",
        cvssV3Score = 0.0, cvssV3Vectors = "",
        issuedDate = ts(r.published), lastModDate = ts(r.modified),
        cves = Nil, fixedIn = features.values.toSeq, cpes = Nil, feedRating = "")
    }
  }

  def loadChainguard(spark: SparkSession, path: String, ecosystem: String,
      namespace: String): Dataset[Vulnerability] = {
    import spark.implicits._
    readRecords(spark, path).flatMap(chainguardRecordToVulns(_, ecosystem, namespace))
  }
}
