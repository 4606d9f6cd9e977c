package graft.sources

import graft.SparkSpecBase
import graft.core.{AppModuleVul, OpVersion, Vulnerability}
import graft.operators.AppEnrichOps

/** OSV (govuln/chainguard), Ruby YAML, nginx/openssl scrapers, and the
  * app-side enrichment operators (G2/J3/J4/J6). */
class AppFeedSourcesSpec extends SparkSpecBase {

  // ---- Go OSV ----------------------------------------------------------

  lazy val goVulns = OsvSource.loadGo(spark, fixture("go-osv"))
    .collect().map(v => v.vulName -> v).toMap

  test("go osv: semver ranges, imports, severity from v3 score") {
    val v = goVulns("GO-2021-0001")
    assert(v.moduleName == "go:github.com/foo/bar")
    assert(v.affectedVer == Seq(OpVersion("gteq", "1.0.0"), OpVersion("andlt", "1.2.3")))
    assert(v.fixedVer == Seq(OpVersion("gteq", "1.2.3")))
    assert(v.importPaths == Seq("github.com/foo/bar/pkg"))
    assert(v.symbols == Seq("Do", "Run"))
    assert(v.cves == Seq("CVE-2021-9999"))
    assert(v.scoreV3 == 7.5 && v.severity == "High")
  }

  test("go osv: custom ranges precede the lone introduced-0 semver") {
    val v = goVulns("GO-2022-0002")
    assert(v.affectedVer == Seq(
      OpVersion("gteq", "5.2.0"), OpVersion("andlt", "5.3.5"),
      OpVersion("orgteq", "0"), OpVersion("andlt", "5.2.0")))
    assert(v.severity == "Medium") // 5.0 -> Medium band
  }

  test("go osv: ubuntu calibration copies fields by preferred cve key") {

    import spark.implicits._
    val ubuntu = Seq(Vulnerability("CVE-2021-9999", "", "ubu desc",
      "https://ubuntu/CVE-2021-9999", "High", 6.8, "AV:N", 8.1, "CVSS:3.1/U",
      java.sql.Timestamp.valueOf("2021-01-01 00:00:00"), null,
      Nil, Nil, Nil, "high")).toDS()
    val out = OsvSource.calibrateWithUbuntu(OsvSource.loadGo(spark, fixture("go-osv")), ubuntu)
      .collect().map(v => v.vulName -> v).toMap
    // GO-2021-0001's preferred key is its CVE alias -> renamed + calibrated
    assert(out.contains("CVE-2021-9999"))
    assert(out("CVE-2021-9999").severity == "High")
    assert(out("CVE-2021-9999").scoreV3 == 8.1)
    assert(out("CVE-2021-9999").link == "https://ubuntu/CVE-2021-9999")
    assert(out("CVE-2021-9999").issuedDate != null)
    // no ubuntu row -> untouched
    assert(out("GO-2022-0002").severity == "Medium")
  }

  test("go osv: multi-namespace ubuntu rows do not fan out calibrated records") {
    import spark.implicits._
    // Namespacing emits one row per (namespace, name); the same CVE on two
    // Ubuntu releases must still calibrate to exactly one output record.
    def ub(sev: String, s3: Double) = Vulnerability("CVE-2021-9999", "", "ubu desc",
      s"https://ubuntu/$sev", sev, 6.8, "AV:N", s3, "CVSS:3.1/U",
      java.sql.Timestamp.valueOf("2021-01-01 00:00:00"), null, Nil, Nil, Nil, "high")
    val ubuntu = Seq(ub("High", 8.1), ub("Medium", 5.0)).toDS()
    val out = OsvSource.calibrateWithUbuntu(OsvSource.loadGo(spark, fixture("go-osv")), ubuntu)
      .collect()
    val hits = out.filter(_.vulName == "CVE-2021-9999")
    assert(hits.length == 1, s"expected one calibrated record, got ${hits.length}")
    // deterministic winner: max over the value struct -> severity "Medium" > "High" lexically
    assert(hits.head.severity == "Medium" && hits.head.scoreV3 == 5.0)
  }

  test("go calibration is a broadcast join, not a driver map (J6 plan)") {
    import spark.implicits._
    val ubuntu = Seq(Vulnerability("CVE-2021-9999", "", "d", "l", "High",
      6.8, "AV:N", 8.1, "CVSS:3.1/U", null, null, Nil, Nil, Nil, "high")).toDS()
    val out = OsvSource.calibrateWithUbuntu(
      OsvSource.loadGo(spark, fixture("go-osv")), ubuntu)
    out.collect() // finalize the adaptive plan
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("SortMergeJoin"))
  }

  // ---- Chainguard / Wolfi ----------------------------------------------

  test("chainguard: per-cve records, ecosystem filter, cve-less skipped") {
    val cg = OsvSource.loadChainguard(spark, fixture("cg-osv"), "Chainguard", "chainguard")
      .collect().map(v => v.name -> v).toMap
    assert(cg.keySet == Set("CVE-2023-1111", "CVE-2023-2222")) // dup + GHSA dropped; CGA-0002 has no CVE
    assert(cg("CVE-2023-1111").fixedIn.map(_.version) == Seq("1.25.3-r1")) // Wolfi rows filtered
    assert(cg("CVE-2023-1111").namespace == "chainguard")
    val wolfi = OsvSource.loadChainguard(spark, fixture("cg-osv"), "Wolfi", "wolfi").collect()
    assert(wolfi.forall(_.fixedIn.forall(_.version == "1.25.3-r2")))
  }

  // ---- Ruby ------------------------------------------------------------

  test("ruby: grammar conversion matches the reference's test expectations") {
    // apps_test.go:13-31 scenario (order preserved; sorting happens in
    // the advisory-level conversion, not here)
    val affected = RubySource.generateAffectedVer(
      Seq(">= 1.3.1", "~> 1.2.2", "~> 1.1.1", "~> 1.0.4"))
    assert(affected == Seq(
      OpVersion("lt", "1.3.1"), OpVersion("orlt", "1.2.2,1.2"),
      OpVersion("orlt", "1.1.1,1.1"), OpVersion("orlt", "1.0.4,1.0")))
  }

  test("ruby: yaml advisory parse") {
    val rows = RubySource.load(spark, fixture("ruby-gems")).collect()
    assert(rows.length == 1) // version-less record dropped
    val v = rows.head
    assert(v.vulName == "CVE-2021-22885")
    assert(v.moduleName == "ruby:actionpack")
    assert(v.scoreV3 == 5.9)
    assert(v.fixedVer == Seq(
      OpVersion("gteq", "5.2.4.6,5.2"), OpVersion("orgteq", "6.0.3.7")))
    assert(v.unaffectedVer == Seq(OpVersion("lt", "2.0.0")))
  }

  test("ruby: one recursive read matches the per-file glob, without a listing job") {
    import spark.implicits._
    withTempDir("gems") { dir =>
      def advisory(gem: String, i: Int) =
        s"""gem: $gem
           |cve: 2021-${1000 + i}
           |url: https://example.org/$i
           |title: t$i
           |description: d$i
           |patched_versions:
           |  - ">= 1.$i.0"
           |""".stripMargin
      (0 until 40).foreach { i =>
        writeFile(dir, s"gem${i % 8}/CVE-2021-${1000 + i}.yml", advisory(s"gem${i % 8}", i)) }
      writeFile(dir, "gem0/notes.txt", advisory("gem0", 99)) // not an advisory file
      val globbed = spark.read.option("wholetext", true).text(s"${dir.getPath}/*/*.yml")
        .as[String].flatMap(RubySource.parseYaml _).collect()
      val (ds, jobs) = countJobs(RubySource.load(spark, dir.getPath))
      assert(jobs == 0)
      val key = (v: AppModuleVul) => (v.moduleName, v.vulName)
      assert(globbed.length == 40)
      assert(ds.collect().sortBy(key).toSeq == globbed.sortBy(key).toSeq)
    }
  }

  // ---- nginx / OpenSSL -------------------------------------------------

  test("nginx: page parse with range chains") {
    val rows = HtmlSources.loadNginx(spark, fixture("nginx_advisories.html"))
      .collect().map(v => v.vulName -> v).toMap
    val v = rows("CVE-2021-23017")
    assert(v.severity == "Medium")
    assert(v.affectedVer == Seq(OpVersion("gteq", "0.6.18"), OpVersion("lteq", "1.20.0")))
    assert(v.fixedVer == Seq(OpVersion("gteq", "1.21.0"), OpVersion("gteq", "1.20.1")))
    assert(rows("CVE-2019-9516").severity == "High") // major -> High
    assert(rows("CVE-2009-3898").affectedVer == Seq(OpVersion("", "All")))
    assert(rows("CVE-2009-3898").fixedVer == Seq(OpVersion("", "None")))
  }

  test("openssl: section parse matches apps_test expectations") {
    val rows = HtmlSources.loadOpenssl(spark, fixture("openssl_advisories.html"))
      .collect().map(v => v.vulName -> v).toMap
    val v = rows("CVE-2016-2183")
    assert(v.severity == "Medium")
    assert(v.affectedVer == Seq(
      OpVersion("lt", "1.0.1u"), OpVersion("gteq", "1.0.1"),
      OpVersion("orlt", "1.0.2i"), OpVersion("gteq", "1.0.2")))
    assert(v.fixedVer == Seq(OpVersion("", "1.0.1u"), OpVersion("", "1.0.2i")))
    assert(rows("CVE-2022-3602").severity == "High")
    assert(rows("CVE-2022-3602").description.contains("X.509"))
  }

  // ---- operators: G2 / J3 / J4 -----------------------------------------

  test("xslate ubuntu upstream -> app vulns (G2)") {

    // G2 consumes namespaced records (runs after A1 in the reference)
    val vulns = graft.operators.Namespacing(
      UbuntuSource.load(spark, fixture("ubuntu-tracker/active").stripSuffix("/active")))
    val apps = AppEnrichOps.xslateUbuntuUpstream(vulns).collect()
    val ldap = apps.find(_.moduleName == "openldap").get
    assert(ldap.vulName == "CVE-2021-9999")
    assert(ldap.affectedVer == Seq(OpVersion("lt", "2.4.58")))
    assert(ldap.fixedVer == Seq(OpVersion("gteq", "2.4.58")))
  }

  test("nvd affected-version backfill (J3)") {

    import spark.implicits._
    val nvd = NvdSource.load(spark, fixture("nvd_sample.json"))
    val app = graft.core.AppModuleVul("CVE-2018-14618", "curl", "curl", Nil, Nil,
      "", "", 0, "", 0, "", "High", Nil, Nil, Nil, null, null, Nil)
    val out = AppEnrichOps.backfillAffectedVersions(Seq(app).toDS(), nvd).collect().head
    assert(out.affectedVer == Seq(OpVersion("gteq", "7.15.4"), OpVersion("lt", "7.61.1")))
    assert(out.fixedVer == Seq(OpVersion("gteq", "7.61.1")))
    // non-empty chains untouched
    val app2 = app.copy(affectedVer = Seq(OpVersion("lt", "1.0")),
      fixedVer = Seq(OpVersion("gteq", "1.0")))
    val out2 = AppEnrichOps.backfillAffectedVersions(Seq(app2).toDS(), nvd).collect().head
    assert(out2.affectedVer == Seq(OpVersion("lt", "1.0")))
  }

  test("nvd whitelist injection (J4)") {

    import spark.implicits._
    val nvd = NvdSource.load(spark, fixture("nvd_sample.json"))
    val wl = Seq(AppEnrichOps.WhitelistEntry("CVE-2018-14618", "curl", "curl"),
      AppEnrichOps.WhitelistEntry("CVE-0000-0000", "ghost", "ghost"))
    val out = AppEnrichOps.injectNvdWhitelist(
      spark.emptyDataset[graft.core.AppModuleVul], nvd, wl).collect()
    assert(out.length == 1) // no NVD metadata -> not injected
    assert(out.head.vulName == "CVE-2018-14618")
    assert(out.head.severity == "Critical")
    assert(out.head.scoreV3 == 9.8)
  }
}
