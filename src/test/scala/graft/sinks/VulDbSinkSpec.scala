package graft.sinks

import graft.SparkSpecBase
import graft.core._
import graft.operators.Namespacing
import graft.sources.AlpineSource

/** K1-K6 round-trip: write both artifacts from the Alpine fixture,
  * read them back through decrypt/gunzip/untar, check layout + shas. */
class VulDbSinkSpec extends SparkSpecBase {

  private def app(vul: String, mod: String) = AppModuleVul(
    vulName = vul, appName = "app", moduleName = mod,
    importPaths = Nil, symbols = Nil, description = "d", link = "l",
    score = 5.0, vectors = "AV:N", scoreV3 = 7.5, vectorsV3 = "CVSS:3.1/X",
    severity = "High", affectedVer = Seq(OpVersion("lt", "2.0")),
    fixedVer = Seq(OpVersion("gteq", "2.0")), unaffectedVer = Nil,
    issuedDate = null, lastModDate = null, cves = Seq(vul))

  private def vuln(name: String, ns: String) = Vulnerability(
    name = name, namespace = ns, description = s"d $name", link = "l",
    severity = "High", cvssV2Score = 5.0, cvssV2Vectors = "AV:N",
    cvssV3Score = 0.0, cvssV3Vectors = "", issuedDate = null, lastModDate = null,
    cves = Nil, fixedIn = Seq(FeatureVersion("pkg", ns, "1.0", "")), cpes = Nil,
    feedRating = "")

  test("each bucket file is its rows in (namespace, name) order, from one drain") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val tmp = java.nio.file.Files.createTempDirectory("sink").toString
    val namespaces = Seq("ubuntu:22.04", "debian:11", "ubuntu:20.04", "alpine:3.18",
      "rocky:9", "gentoo:1")
    val vulns = (for (i <- 0 until 30; ns = namespaces(i % namespaces.size))
      yield vuln(f"CVE-20${20 + i % 3}-${(i * 7919) % 1000}%04d", ns))
      .toDS().repartition(4)
    val (_, jobs) = countJobs(VulDbSink.write(vulns, Seq(app("CVE-2020-1111", "m1")).toDS(),
      Nil, tmp, "1.000", "2026-08-12T00:00:00Z")(spark))
    assert(jobs <= 8, s"write ran $jobs jobs")

    val files = VulDbSink.readDbFile(s"$tmp/cvedb.regular")._2
      .map(e => e.name -> new String(e.bytes, "UTF-8")).toMap
    val proj = VulDbSink.project(vulns)
    for ((_, p) <- VulDbSink.buckets; c <- Seq("index", "full")) {
      val want = proj.filter(col("bucket") === p).orderBy("namespace", "name")
        .select(s"${c}Json").collect().map(_.getString(0) + "\n").mkString
      assert(files(s"${p}_$c.tb") == want, s"${p}_$c.tb")
    }
    assert(Seq("ubuntu", "debian", "alpine", "rocky").forall(p => files(s"${p}_full.tb").nonEmpty))
    assert(files("wolfi_index.tb").isEmpty && files("wolfi_full.tb").isEmpty)
    assert(!files.values.exists(_.contains("gentoo:1")))
  }

  test("analytic sink writes bucket-partitioned parquet") {
    val tmp = java.nio.file.Files.createTempDirectory("analytic").toString
    val vulns = Namespacing(AlpineSource.load(spark, fixture("alpine_secdb.json")))
    VulDbSink.writeAnalytic(vulns, tmp)
    val back = spark.read.parquet(tmp)
    assert(back.count() == vulns.count())
    // partition column materialized from the directory layout
    assert(back.select("bucket").distinct().collect().map(_.getString(0)).toSet == Set("alpine"))
    assert(new java.io.File(tmp).listFiles().exists(_.getName == "bucket=alpine"))
  }

  test("write + read-back round trip") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("sink").toString
    val vulns = Namespacing(AlpineSource.load(spark, fixture("alpine_secdb.json")))
    val apps = Seq(app("CVE-2020-1111", "m1"), app("CVE-2020-2222", "m2")).toDS()

    val shas = VulDbSink.write(vulns, apps, Seq(VulDbSink.TarEntry("rhel-cpes.json", "{}".getBytes)),
      tmp, "1.000", "2026-08-12T00:00:00Z")(spark)

    // regular artifact: all 12 buckets * 2 + apps + raw
    val (header, entries) = VulDbSink.readDbFile(s"$tmp/cvedb.regular")
    assert(entries.map(_.name).toSet ==
      (VulDbSink.buckets.map(_._2).flatMap(p => Seq(s"${p}_index.tb", s"${p}_full.tb"))
        :+ "apps.tb" :+ "rhel-cpes.json").toSet)
    assert(header.contains("\"Version\":\"1.000\""))

    // alpine bucket carries the fixture rows as JSON lines
    val alpineFull = new String(entries.find(_.name == "alpine_full.tb").get.bytes, "UTF-8")
    val lines = alpineFull.split("\n").filter(_.nonEmpty)
    assert(lines.length == vulns.count())
    assert(lines.forall(l => l.startsWith("{\"N\":\"CVE-") && l.contains("\"NS\":\"alpine:3.6\"")))
    // canonical ordering by (namespace, name)
    val names = lines.map(l => l.split("\"")(3))
    assert(names.sameElements(names.sorted))

    // index projection is the short row
    val alpineIndex = new String(entries.find(_.name == "alpine_index.tb").get.bytes, "UTF-8")
    assert(alpineIndex.linesIterator.forall(l => !l.contains("\"D\":") && l.contains("Fixin")))

    // shas in header match actual bytes
    for ((name, sha) <- shas if header.contains(name)) {
      assert(header.contains(s""""$name":"$sha""""), s"sha mismatch for $name")
      val e = entries.find(_.name == name)
      if (e.isDefined) assert(VulDbSink.sha256Hex(e.get.bytes) == sha)
    }

    // compact artifact: only the 4 legacy buckets + apps, no raw files
    val (_, compactEntries) = VulDbSink.readDbFile(s"$tmp/cvedb.compact")
    assert(compactEntries.map(_.name).toSet ==
      (VulDbSink.compactPrefixes.flatMap(p => Seq(s"${p}_index.tb", s"${p}_full.tb"))
        :+ "apps.tb").toSet)

    // apps table ordered by (module, vul)
    val appsTb = new String(entries.find(_.name == "apps.tb").get.bytes, "UTF-8")
    val appLines = appsTb.split("\n").filter(_.nonEmpty)
    assert(appLines.length == 2)
    assert(appLines(0).contains("\"MN\":\"m1\""))
    assert(appLines(1).contains("\"MN\":\"m2\""))
    assert(appLines(0).contains("\"AV\":[{\"O\":\"lt\",\"V\":\"2.0\"}]"))
  }
}
