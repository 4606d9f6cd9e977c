package graft.operators

import java.sql.Timestamp

import graft.SparkSpecBase
import graft.core._
import graft.sources.{AlpineSource, NvdSource}

/** assignMetadata semantics as one declarative join (SURVEY J1/J2). */
class EnrichSpec extends SparkSpecBase {

  private def emptyVuln(name: String, ns: String) = Vulnerability(
    name = name, namespace = ns, description = "", link = s"http://x/$name",
    severity = "", cvssV2Score = 0.0, cvssV2Vectors = "",
    cvssV3Score = 0.0, cvssV3Vectors = "", issuedDate = null,
    lastModDate = null, cves = Nil, fixedIn = Nil, cpes = Nil, feedRating = "")

  lazy val nvd = NvdSource.load(spark, fixture("nvd_sample.json"))

  test("distro: NVD fills score/severity/dates/description; gate keeps accepted") {
    import spark.implicits._
    val in = Seq(
      emptyVuln("CVE-2018-14618", "alpine:3.6"),
      emptyVuln("CVE-2018-0739", "alpine:3.6"),
      emptyVuln("CVE-0000-0000", "alpine:3.6") // no NVD entry, no scores -> Unknown -> gated out
    ).toDS()
    val out = Enrich.distro(in, nvd).collect().map(v => v.name -> v).toMap

    assert(out.size == 2)
    val a = out("CVE-2018-14618")
    assert(a.severity == Severity.Critical) // fixSeverityScore: 9.8 >= 9
    assert(a.cvssV3Score == 9.8)
    assert(a.cvssV2Score == 7.5)
    assert(a.description.contains("NTLM"))
    assert(a.issuedDate == Timestamp.valueOf("2018-09-05 19:29:00"))
    val b = out("CVE-2018-0739")
    assert(b.severity == Severity.Medium) // v2 5.0 -> Medium band
    assert(b.cvssV3Score == 4.0) // backfilled from severity
    assert(b.cvssV2Score == 5.0)
  }

  test("distro: feed values win over NVD") {
    import spark.implicits._
    val v = emptyVuln("CVE-2018-14618", "alpine:3.6").copy(
      description = "feed description", severity = Severity.Low,
      cvssV3Score = 3.3, cvssV3Vectors = "FEEDV3",
      issuedDate = Timestamp.valueOf("2001-01-01 00:00:00"))
    val out = Enrich.distro(Seq(v).toDS(), nvd).collect().head
    assert(out.description == "feed description")
    assert(out.cvssV3Score == 3.3)
    assert(out.cvssV3Vectors == "FEEDV3")
    assert(out.issuedDate == Timestamp.valueOf("2001-01-01 00:00:00"))
    // severity still recomputed from scores: v2 from NVD (7.5) -> High
    assert(out.severity == Severity.High)
    assert(out.cvssV2Score == 7.5)
  }

  test("distro: cves list drives the lookup when present") {
    import spark.implicits._
    val v = emptyVuln("RHSA-2018:1234", "centos:7").copy(
      cves = Seq(CveRef("CVE-2018-14618", 0.0, "", 0.0, "")))
    val out = Enrich.distro(Seq(v).toDS(), nvd).collect().head
    assert(out.severity == Severity.Critical)
    assert(out.cvssV3Score == 9.8)
  }

  test("distro: cve element scores used when NVD has none") {
    import spark.implicits._
    val v = emptyVuln("RHSA-2018:9999", "centos:7").copy(
      cves = Seq(CveRef("CVE-1999-0001", 6.8, "AV:N", 8.1, "CVSS:3.1/X")))
    val out = Enrich.distro(Seq(v).toDS(), nvd).collect().head
    assert(out.cvssV3Score == 8.1)
    assert(out.severity == Severity.High) // 8.1 -> High band
  }

  test("app: enrichment + gate") {
    import spark.implicits._
    val app = AppModuleVul(
      vulName = "CVE-2018-14618", appName = "curl", moduleName = "curl",
      importPaths = Nil, symbols = Nil, description = "", link = "",
      score = 0.0, vectors = "", scoreV3 = 0.0, vectorsV3 = "",
      severity = "", affectedVer = Nil, fixedVer = Nil, unaffectedVer = Nil,
      issuedDate = null, lastModDate = null, cves = Nil)
    val out = Enrich.app(Seq(app).toDS(), nvd).collect().head
    assert(out.severity == Severity.Critical)
    assert(out.scoreV3 == 9.8)
    assert(out.score == 7.5)
    assert(out.description.contains("NTLM"))
  }

  test("an unset severity: distro takes NVD's severity string, app keeps its own") {
    import spark.implicits._
    // NVD knows a severity but no scores, so banding cannot supply one
    val sevOnly = Seq(NvdMetadata("CVE-2020-0001", "nvd description", Severity.High,
      0.0, "", 0.0, "", null, null, "", Nil)).toDS()
    val d = Enrich.distro(Seq(emptyVuln("CVE-2020-0001", "alpine:3.6")).toDS(), sevOnly).collect()
    assert(d.map(_.severity).toSeq == Seq(Severity.High))
    assert(d.head.cvssV3Score == 7.0) // backfilled from the severity it took
    assert(d.head.description == "nvd description")
    val app = AppModuleVul(
      vulName = "CVE-2020-0001", appName = "a", moduleName = "m",
      importPaths = Nil, symbols = Nil, description = "", link = "",
      score = 0.0, vectors = "", scoreV3 = 0.0, vectorsV3 = "",
      severity = "", affectedVer = Nil, fixedVer = Nil, unaffectedVer = Nil,
      issuedDate = null, lastModDate = null, cves = Nil)
    // its own (empty) severity stands, so the accepted-severity gate drops it
    assert(Enrich.app(Seq(app).toDS(), sevOnly).collect().isEmpty)
  }

  test("end-to-end slice: alpine -> namespacing -> enrich") {
    val vulns = Namespacing(AlpineSource.load(spark, fixture("alpine_secdb.json")))
    val out = Enrich.distro(vulns, nvd).collect()
    // only CVEs with NVD metadata (or feed scores) survive the gate
    val names = out.map(_.name).toSet
    assert(names.contains("CVE-2018-14618"))
    assert(names.contains("CVE-2017-17439"))
    // CVE-2018-0500/2017-11103/2016-7055 have no NVD entry in the
    // fixture and no feed severity -> gated out
    assert(names == Set("CVE-2018-14618", "CVE-2017-17439", "CVE-2018-0739"))
    val curl = out.find(_.name == "CVE-2018-14618").get
    assert(curl.severity == Severity.Critical)
    assert(curl.fixedIn.exists(f => f.featureName == "curl" && f.version == "7.61.1-r0"))
    // per-record field alignment: each vuln carries ITS OWN NVD
    // metadata (guards against cross-record id misalignment)
    assert(curl.description.contains("NTLM"))
    assert(out.find(_.name == "CVE-2017-17439").get.description.contains("KDC-REP"))
    assert(out.find(_.name == "CVE-2018-0739").get.description.contains("ASN.1"))
  }
}
