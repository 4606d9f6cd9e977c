package graft.operators

import java.sql.Timestamp

import graft.SparkSpecBase
import graft.core.{FeatureVersion, PkgVersion, Vulnerability}
import org.apache.spark.sql.functions._

/** The consumer scan: inventory × vuln DB through the native
  * version_cmp residual — dpkg ordering quirks, range floors, and
  * the MIN/MAX sentinels all drive match decisions. */
class VulnMatchSpec extends SparkSpecBase {

  import spark.implicits._

  private def vul(name: String, ns: String, sev: String,
      fixedIn: Seq[FeatureVersion]) = Vulnerability(
    name = name, namespace = ns, description = "d", link = "l",
    severity = sev, cvssV2Score = 5.0, cvssV2Vectors = "AV:N",
    cvssV3Score = 7.0, cvssV3Vectors = "X",
    issuedDate = Timestamp.valueOf("2021-01-01 00:00:00"),
    lastModDate = null, cves = Nil, fixedIn = fixedIn, cpes = Nil,
    feedRating = "")

  private def fv(feature: String, ns: String, fixed: String,
      min: String = PkgVersion.MinSentinel) =
    FeatureVersion(feature, ns, fixed, min)

  private lazy val db = Seq(
    vul("CVE-A", "debian:11", "High", Seq(fv("openssl", "debian:11", "1.1.1n-0+deb11u3"))),
    vul("CVE-B", "debian:11", "Critical", Seq(fv("zlib", "debian:11", PkgVersion.MaxSentinel))),
    vul("CVE-C", "debian:11", "Medium", Seq(fv("curl", "debian:11", PkgVersion.MinSentinel))),
    vul("CVE-D", "alpine:3.16", "Low", Seq(fv("busybox", "alpine:3.16", "1.35.0-r18"))),
    // floored range: affected only from 2.0 (epoch-less) upward
    vul("CVE-E", "debian:11", "High", Seq(fv("libfoo", "debian:11", "2.5-1", min = "2.0")))
  ).toDS()

  private lazy val inventory = Seq(
    // below the fix -> affected
    ("debian:11", "openssl", "1.1.1k-1+deb11u1"),
    // at the fix -> clean
    ("debian:11", "openssl", "1.1.1n-0+deb11u3"),
    // epoch beats everything -> clean even though textually smaller
    ("debian:11", "openssl", "1:0.9"),
    // MAXV fix = affected, no fix yet -> always affected
    ("debian:11", "zlib", "999.999"),
    // MINV fix = not affected marker -> never matches
    ("debian:11", "curl", "0.0.1"),
    // namespace must match
    ("alpine:3.16", "openssl", "1.0.0"),
    // ~ sorts before release -> affected
    ("alpine:3.16", "busybox", "1.35.0-r18~rc1"),
    // floored range: 1.9 below floor -> clean; 2.1 inside -> affected
    ("debian:11", "libfoo", "1.9-9"),
    ("debian:11", "libfoo", "2.1-1")
  ).toDF("namespace", "feature", "version")

  test("scan: sentinels, epochs, tilde ordering and range floors decide matches") {
    val got = VulnMatch.scan(inventory, db)
      .select("feature", "version", "vul_name")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(got == Set(
      ("openssl", "1.1.1k-1+deb11u1", "CVE-A"),
      ("zlib", "999.999", "CVE-B"),
      ("busybox", "1.35.0-r18~rc1", "CVE-D"),
      ("libfoo", "2.1-1", "CVE-E")))
  }

  test("plan: DB side broadcasts; version_cmp runs as the codegen'd residual") {
    val plan = VulnMatch.scan(inventory, db)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.linesIterator.take(6).mkString("\n"))
    assert(!plan.contains("ScalaUDF"))
    assert(plan.toLowerCase.contains("version_cmp"))
  }

  test("severity rides along for the report aggregation") {
    val bySev = VulnMatch.scan(inventory, db)
      .groupBy("severity").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySev == Map("High" -> 2L, "Critical" -> 1L, "Low" -> 1L))
  }

  test("Debian/Ubuntu model: namespace comes from the fix entry, not the vuln row") {
    // one vuln row spanning two releases, vuln-level namespace empty —
    // exactly how DebianSource/UbuntuSource build their records
    val crossRelease = Seq(vul("CVE-X", "", "High", Seq(
      fv("openssl", "debian:11", "1.1.1n-0+deb11u3"),
      fv("openssl", "debian:12", "3.0.9-1")))).toDS()
    val inv = Seq(
      ("debian:11", "openssl", "1.1.1k-1"), // below the bullseye fix
      ("debian:12", "openssl", "1.1.1k-1"), // below the bookworm fix
      ("debian:12", "openssl", "3.0.9-1")   // at the bookworm fix
    ).toDF("namespace", "feature", "version")
    val got = VulnMatch.scan(inv, crossRelease)
      .select("namespace", "version").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == Set(("debian:11", "1.1.1k-1"), ("debian:12", "1.1.1k-1")))
    // and the output schema honors the documented contract (no min_ver)
    assert(!VulnMatch.scan(inv, crossRelease).columns.contains("min_ver"))
  }}
