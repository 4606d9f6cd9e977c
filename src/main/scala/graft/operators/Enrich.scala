package graft.operators

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{Column, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{AppModuleVul, CveRef, NvdMetadata, Records, Severity, Vulnerability}

/** SURVEY J1/J2 — assignMetadata
  * (reference updater/updater.go:335-552) re-expressed as one
  * declarative join instead of the reference's two mutation passes.
  *
  * Per-record effect (the reference's two passes flattened to a
  * per-column precedence, cf. SURVEY §7 "what's hard"):
  *   field  := coalesce(feed value, NVD value in cve order)
  *   cvssN  := first non-zero of (feed cvssN, per-cve: NVD cvssN
  *             else, for a distro record, the cve element's own score)
  *   severity := fixSeverityScore(severity, cvss2, cvss3), where an
  *             unset distro severity first takes NVD's
  *   then the accepted-severity gate (updater.go:35-37).
  * Distro and app records share one kernel (`enrich`); those two
  * fallbacks and the column names are all that differ.
  *
  * Deviation (documented): the reference's shared cveMap lets one
  * record's fields leak into a different record with the same
  * (namespace, cve) key when NVD has no entry; that cross-record
  * mutation is nondeterministic in feed order and is intentionally
  * not reproduced.
  *
  * Scale: NVD (~300k rows) is broadcast — the fact side never
  * shuffles; the regroup after posexplode is keyed by a unique row id
  * so skew on hot CVEs is impossible.
  */
object Enrich {

  /** fixSeverityScore (updater.go:293-333): severity from max scores,
    * falling back to the feed severity; then score backfill. */
  def fixedSeverity(feedSev: Column, v2: Column, v3: Column): Column =
    when(v3 >= 9 || v2 >= 9, Severity.Critical)
      .when(v3 >= 7 || v2 >= 7, Severity.High)
      .when(v3 >= 4 || v2 >= 4, Severity.Medium)
      .when(v3 >= 1 || v2 >= 1, Severity.Low)
      .otherwise(feedSev)

  def backfilledScore(score: Column, sev: Column): Column =
    when(score =!= 0.0, score)
      .when(sev === Severity.Critical, 9.0).when(sev === Severity.High, 7.0)
      .when(sev === Severity.Medium, 4.0).when(sev === Severity.Low, 1.0)
      .otherwise(0.0)

  /** Distro-record enrichment, keyed (namespace, cve) with the record's
    * own name standing in when it lists no CVEs. Where NVD has no
    * non-zero score for a cve, the cve element's own score pair is the
    * candidate; an unset feed severity takes NVD's severity string. */
  def distro(vulns: Dataset[Vulnerability], nvd: Dataset[NvdMetadata])(
      implicit spark: SparkSession): Dataset[Vulnerability] = {
    val ownName = array(struct(Records.withDefaults[CveRef]("name" -> col("name")): _*))
    enrich(vulns, nvd,
      keys = when(size(col("cves")) > 0, col("cves")).otherwise(ownName),
      scores = ("cvssV2Score", "cvssV2Vectors", "cvssV3Score", "cvssV3Vectors"),
      candidate = (score, field) =>
        when(col(score) =!= 0.0, col(field)).otherwise(col(s"key.$field")),
      severity = when(col("severity") =!= "" && col("severity") =!= Severity.Unknown,
        col("severity")).otherwise(coalesce(cand("severity", nonEmpty), col("severity"))))
  }

  /** App-record enrichment, keyed by bare CVE name over
    * [vulName] ++ cves (updater.go:388-425, 488-542). The record keeps
    * its own severity. */
  def app(apps: Dataset[AppModuleVul], nvd: Dataset[NvdMetadata])(
      implicit spark: SparkSession): Dataset[AppModuleVul] =
    enrich(apps, nvd,
      keys = transform(array_union(array(col("vulName")), coalesce(col("cves"), array())),
        n => struct(n.as("name"))),
      scores = ("score", "vectors", "scoreV3", "vectorsV3"),
      candidate = (_, field) => col(field),
      severity = col("severity"))

  private val nonEmpty = "v is not null and v != ''"
  private val nonZero = "v is not null and v != 0.0D"

  /** The first value of candidate field `field` that passes `pred`, in
    * key order. */
  private def cand(field: String, pred: String): Column =
    try_element_at(expr(s"filter(transform(cands, x -> x.$field), v -> $pred)"), lit(1))

  /** The kernel of distro() and app().
    *
    * Each record is exploded over `keys` (an array of structs with a
    * `name`), left-joined on that name to the broadcast NVD projection
    * and regrouped by a per-record id, which collects `cands`: one
    * struct per key, in key order. The original record rides through
    * the explode as a struct, so no id-based self-join is needed (a
    * prior version joined two branches on monotonically_increasing_id,
    * which is recomputed per branch over a nondeterministically-ordered
    * input and misaligned metadata across records).
    *
    * `scores` names the record's v2 score, v2 vectors, v3 score and v3
    * vectors columns. A candidate's score pair is read through
    * `candidate(nvdScoreColumn, field)` over the joined row, and
    * `severity` is the record's severity before banding. */
  private def enrich[T <: Product : TypeTag](records: Dataset[T], nvd: Dataset[NvdMetadata],
      keys: Column, scores: (String, String, String, String), candidate: (String, String) => Column,
      severity: Column)(implicit spark: SparkSession): Dataset[T] = {
    import spark.implicits._
    val (v2s, v2v, v3s, v3v) = scores
    val nvdFields = Seq("description", "severity", "cvssV2Score", "cvssV2Vectors",
      "cvssV3Score", "cvssV3Vectors", "publishedDate", "lastModifiedDate", "link")

    val exploded = records.toDF()
      .withColumn("_uid", monotonically_increasing_id())
      .withColumn("_orig", struct(Records.columns[T](): _*))
      .select(col("_uid"), col("_orig"), posexplode(keys).as(Seq("pos", "key")))
    val n = broadcast(nvd.toDF().select(col("cve").as("_nvd_cve") +: nvdFields.map(col): _*))

    val regrouped = exploded.join(n, col("key.name") === col("_nvd_cve"), "left_outer")
      .select(col("_uid"), col("_orig"), struct(
        col("pos"), col("description"), col("severity"), col("link"),
        col("publishedDate"), col("lastModifiedDate"),
        candidate("cvssV2Score", "cvssV2Score").as("cvssV2Score"),
        candidate("cvssV2Score", "cvssV2Vectors").as("cvssV2Vectors"),
        candidate("cvssV3Score", "cvssV3Score").as("cvssV3Score"),
        candidate("cvssV3Score", "cvssV3Vectors").as("cvssV3Vectors")).as("cand"))
      .groupBy("_uid")
      .agg(first(col("_orig")).as("_orig"), sort_array(collect_list(col("cand"))).as("cands"))
      .select(col("_orig.*"), col("cands"))

    // a score pair the feed set is kept; otherwise each half takes its
    // first set candidate
    def pair(score: String, vectors: String, nvdScore: String, nvdVectors: String) = (
      when(col(score) =!= 0.0, col(score)).otherwise(coalesce(cand(nvdScore, nonZero), lit(0.0))),
      when(col(score) =!= 0.0, col(vectors)).otherwise(coalesce(cand(nvdVectors, nonEmpty), lit(""))))
    val (e2s, e2v) = pair(v2s, v2v, "cvssV2Score", "cvssV2Vectors")
    val (e3s, e3v) = pair(v3s, v3v, "cvssV3Score", "cvssV3Vectors")
    def orNvd(field: String) =
      when(col(field) === "", coalesce(cand(field, nonEmpty), lit(""))).otherwise(col(field))

    regrouped
      .withColumn("_e_v3s", e3s).withColumn("_e_v3v", e3v)
      .withColumn("_e_v2s", e2s).withColumn("_e_v2v", e2v)
      .withColumn("_fix_sev", fixedSeverity(severity, col("_e_v2s"), col("_e_v3s")))
      .select(Records.row[T](
        "description" -> orNvd("description"),
        "link" -> orNvd("link"),
        "severity" -> col("_fix_sev"),
        v2s -> backfilledScore(col("_e_v2s"), col("_fix_sev")),
        v2v -> col("_e_v2v"),
        v3s -> backfilledScore(col("_e_v3s"), col("_fix_sev")),
        v3v -> col("_e_v3v"),
        "issuedDate" -> coalesce(col("issuedDate"), cand("publishedDate", "v is not null")),
        "lastModDate" -> coalesce(col("lastModDate"), cand("lastModifiedDate", "v is not null"))
      )(f => col(f.name)): _*)
      .filter(col("severity").isin(Severity.accepted: _*))
      .as[T]
  }
}
