package graft.sources

import graft.SparkSpecBase
import graft.core.PkgVersion

/** Ubuntu tracker text parse (S3/P6) + Rocky NEVRA (S11). */
class UbuntuRockySpec extends SparkSpecBase {

  lazy val repo = fixture("ubuntu-tracker/active").stripSuffix("/active")
  lazy val ubuntu = UbuntuSource.load(spark, repo).collect().map(v => v.name -> v).toMap

  test("ubuntu: affect-line statuses and release mapping") {
    val v = ubuntu("CVE-2021-9999")
    val byKey = v.fixedIn.map(f => (f.featureNamespace, f.featureName) -> f.version).toMap
    assert(byKey(("ubuntu:18.04", "openldap")) == "2.4.45+dfsg-1ubuntu1.10") // released + note
    assert(byKey(("ubuntu:20.04", "openldap")) == PkgVersion.MaxSentinel) // needed
    assert(!byKey.contains(("ubuntu:14.04", "openldap"))) // DNE status
    assert(!byKey.contains(("ubuntu:22.04", "openldap"))) // complex comma note skipped
    assert(!v.fixedIn.exists(_.featureNamespace == "ubuntu:10.04")) // lucid ignored
  }

  test("ubuntu: priority with parenthetical, multi-line description") {
    val v = ubuntu("CVE-2021-9999")
    assert(v.severity == "Medium")
    assert(v.feedRating == "medium")
    assert(v.description == "Some multi-line description text.")
    assert(v.link.contains("CVE-2021-9999"))
  }

  test("ubuntu: upstream calibration drops openssl + keeps others; not-affected -> MinVersion") {
    val v = ubuntu("CVE-2021-9999")
    val upstream = v.fixedIn.filter(_.featureNamespace == "ubuntu:upstream")
    assert(upstream.map(_.featureName).toSet == Set("openldap", "linux"))
    assert(upstream.find(_.featureName == "linux").get.version == PkgVersion.MinSentinel)
  }

  test("ubuntu: year gate, withdrawn filter, retired folder included") {
    assert(!ubuntu.contains("CVE-2013-0001"))
    assert(!ubuntu.contains("CVE-2021-0001")) // rejected reason in description
    assert(ubuntu.contains("CVE-2015-1234")) // retired/, year ok
    assert(ubuntu("CVE-2015-1234").fixedIn.head.featureNamespace == "ubuntu:16.04")
  }

  private def tracker(cve: String) =
    s"""Candidate: $cve
       |Description:
       | Generated.
       |Notes:
       |Priority: low
       |focal_bash: released (5.0-6ubuntu1.1)
       |""".stripMargin

  test("ubuntu: folders read without a listing job; non-CVE files ignored") {
    withTempDir("tracker") { dir =>
      val cves = (1 to 40).map(i => f"CVE-2020-$i%04d")
      cves.zipWithIndex.foreach { case (c, i) =>
        writeFile(dir, if (i % 4 == 0) s"retired/$c" else s"active/$c", tracker(c)) }
      writeFile(dir, "active/README", tracker("CVE-2020-9999"))
      val (ds, jobs) = countJobs(UbuntuSource.load(spark, dir.getPath))
      assert(jobs == 0)
      assert(ds.collect().map(_.name).sorted.toSeq == cves)
    }
  }

  test("ubuntu: whole-file reads give the text read's records, multi-byte UTF-8 included") {
    import spark.implicits._
    withTempDir("tracker") { dir =>
      val descs = Seq("Ünïcödé café — naïve", "漢字のテキスト", "emoji 😀 and ©", "plain ascii")
      descs.zipWithIndex.foreach { case (d, i) =>
        val c = f"CVE-2020-$i%04d"
        writeFile(dir, if (i % 2 == 0) s"active/$c" else s"retired/$c",
          tracker(c).replace(" Generated.", s" $d"))
      }
      val viaText = spark.read.option("wholetext", true).option("pathGlobFilter", "CVE-*")
        .text(s"$dir/active", s"$dir/retired").as[String]
        .map(t => UbuntuSource.upstreamCalibration(UbuntuSource.parseFile(t)))
        .collect().sortBy(_.name).toSeq
      val loaded = UbuntuSource.load(spark, dir.getPath).collect().sortBy(_.name).toSeq
      assert(loaded == viaText)
      assert(loaded.map(_.description) == descs)
    }
  }

  test("ubuntu: a missing retired/ folder fails as path-not-found") {
    withTempDir("tracker") { dir =>
      writeFile(dir, "active/CVE-2020-0001", tracker("CVE-2020-0001"))
      val e = intercept[org.apache.spark.sql.AnalysisException](
        UbuntuSource.load(spark, dir.getPath))
      assert(e.getCondition == "PATH_NOT_FOUND")
      assert(e.getMessage.contains("retired"))
    }
  }

  lazy val rocky = RockySource.load(spark, fixture("rocky_api.json")).collect()
    .map(v => (v.name, v.namespace) -> v).toMap

  test("rocky: NEVRA parse + arch dedup + namespace floor") {
    val v = rocky(("RLSA-2021:1234", "rocky:9"))
    val byName = v.fixedIn.groupBy(_.featureName)
    // two arches of openldap dedup to one (same version)
    assert(byName("openldap").length == 1)
    assert(byName("openldap").head.version == "2.4.57-1.el9_4")
    // the reference keys its per-namespace dedup map by VERSION string
    // (rocky.go:176-217), so openldap-servers — same version, 9.4
    // product floored into rocky:9 — is swallowed by the openldap
    // entry; mirrored faithfully
    assert(!byName.contains("openldap-servers"))
    // caret translated
    assert(byName("weird-caret").head.version == "0.20240806.gee36266-6.el9_5")
    // malformed nevra dropped
    assert(!byName.contains("bad"))
    assert(v.severity == "High")
    assert(v.cves.map(_.name) == Seq("CVE-2021-9999"))
    assert(v.issuedDate == java.sql.Timestamp.valueOf("2021-03-01 00:00:00"))
  }

  test("rocky: advisory x namespace explode; None severity -> Low") {
    assert(rocky.contains(("RLSA-2021:1234", "rocky:8"))) // the el8 package row
    assert(rocky(("RLSA-2021:1234", "rocky:8")).fixedIn.head.featureName == "other")
    assert(rocky(("RLSA-2021:5678", "rocky:8")).severity == "Low")
  }
}
