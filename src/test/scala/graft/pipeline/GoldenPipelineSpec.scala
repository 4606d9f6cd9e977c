package graft.pipeline

import graft.SparkSpecBase
import graft.core.{FeatureVersion, NvdMetadata, Vulnerability}
import graft.operators.AppEnrichOps
import graft.sinks.VulDbSink
import graft.sources._
import graft.sources.oval._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** SURVEY §5(a) — the golden end-to-end assertion: every fixture feed
  * through the full `VulDbPipeline` DAG (parse → namespacing →
  * app-dedup → calibration → gates → NVD enrichment → backfill),
  * BOTH encrypted artifacts written, decrypted back,
  * and the complete canonical output (headers with their sha
  * manifests + every tar member's JSON-lines content) compared
  * byte-for-byte against a checked-in expectation. The expected file
  * changes ONLY with an intentional semantic change to a source
  * adapter, an operator, a projection, or the artifact format — run
  * `GRAFT_REGEN_GOLDEN=1 sbt "testOnly graft.pipeline.GoldenPipelineSpec"`
  * to re-bless after such a change, and review the diff like code.
  *
  * Determinism relies on invariants the library already guarantees:
  * canonical (namespace, name) / (moduleName, vulName) sink ordering,
  * UTC session time, fixed version + updateTime here, and sha
  * manifests computed from the spooled bytes. The AES-GCM nonce is
  * random per run, so comparison happens on the DECRYPTED content —
  * which also re-exercises the crypto round-trip end to end. */
class GoldenPipelineSpec extends SparkSpecBase {

  private val goldenRel = "src/test/resources/golden/pipeline_golden.txt"

  private def buildInputs(fx: String)(implicit spark: SparkSession): VulDbPipeline.Inputs = {
    val ubuntu = UbuntuSource.load(spark, s"$fx/ubuntu-tracker")
    val goVulns = OsvSource.calibrateWithUbuntu(
      OsvSource.loadGo(spark, s"$fx/go-osv"),
      graft.operators.Namespacing(ubuntu))
    VulDbPipeline.Inputs(
      distroFeeds = Seq(
        AlpineSource.load(spark, s"$fx/alpine_secdb.json"),
        DebianSource.load(spark, s"$fx/debian_main.json", Seq(s"$fx/debian_archive.json")),
        PhotonSource.load(spark, s"$fx/photon4.json", "4.0"),
        RhelSource.load(spark, s"$fx/rhel_oval.xml", 8),
        OracleSource.load(spark, s"$fx/oracle_oval.xml"),
        SuseSource.load(spark, s"$fx/suse_oval.xml",
          SuseSource.FeedInfo("sles15", "SUSE Linux Enterprise Server 15 ", "sles:")),
        MarinerSource.load(spark, s"$fx/mariner_oval.xml"),
        ubuntu,
        RockySource.load(spark, s"$fx/rocky_api.json"),
        AmazonSource.load(spark, s"$fx/alas.rss", s"$fx/alas-pages", 1),
        OsvSource.loadChainguard(spark, s"$fx/cg-osv", "Chainguard", "chainguard"),
        OsvSource.loadChainguard(spark, s"$fx/cg-osv", "Wolfi", "wolfi")),
      appFeeds = Seq(
        goVulns,
        GhsaSource.load(spark, s"$fx/ghsa_maven.ndjson", "maven"),
        HtmlSources.loadNginx(spark, s"$fx/nginx_advisories.html"),
        HtmlSources.loadOpenssl(spark, s"$fx/openssl_advisories.html"),
        RubySource.load(spark, s"$fx/ruby-gems"),
        AppSources.k8s(spark, s"$fx/k8s.json"),
        AppSources.openshift(spark),
        AppSources.manual(spark, s"$fx/manual.db")),
      nvd = NvdSource.load(spark, s"$fx/nvd_sample.json"),
      calibration = Some(AppSources.calibration(spark, s"$fx/apps_calibration")),
      rawFiles = Seq(VulDbSink.TarEntry("rhel-cpes.json", "{}".getBytes("UTF-8"))))
  }

  test("one row per (namespace, name) with no upsert: two feeds sharing a CVE, and the fixture build") {
    import spark.implicits._
    def feed(desc: String, feedNs: String, fixed: String) = Seq(Vulnerability(
      name = "CVE-2018-14618", namespace = feedNs, description = desc, link = "l",
      severity = "High", cvssV2Score = 7.5, cvssV2Vectors = "", cvssV3Score = 0.0,
      cvssV3Vectors = "", issuedDate = null, lastModDate = null, cves = Nil,
      fixedIn = Seq(FeatureVersion("curl", "alpine:3.8", fixed, "")),
      cpes = Nil, feedRating = "")).toDS()
    val two = VulDbPipeline.build(VulDbPipeline.Inputs(
      distroFeeds = Seq(feed("first feed", "alpine:3.8", "7.61.1-r0"),
        feed("second feed", "alpine-mirror", "7.61.0-r0")),
      appFeeds = Nil, nvd = spark.emptyDataset[NvdMetadata])).vulns.collect()
    assert(two.length == 1)
    val v = two.head
    assert((v.namespace, v.name) == ("alpine:3.8", "CVE-2018-14618"))
    // the greater metadata struct wins; both feeds' fixes are kept
    assert(v.description == "second feed")
    assert(v.fixedIn.map(_.version).sorted == Seq("7.61.0-r0", "7.61.1-r0"))

    val fx = fixture("nvd_sample.json").stripSuffix("/nvd_sample.json")
    val repeated = VulDbPipeline.build(buildInputs(fx)).vulns
      .groupBy("namespace", "name").count().filter(col("count") > 1)
      .as[(String, String, Long)].collect()
    assert(repeated.isEmpty, s"repeated (namespace, name): ${repeated.mkString(", ")}")
  }

  test("full fixture-feed pipeline -> both artifacts -> decrypt matches the checked-in golden output") {
    val fx = fixture("nvd_sample.json").stripSuffix("/nvd_sample.json")
    val inputs = buildInputs(fx)
    val built = VulDbPipeline.build(inputs)
    val withBackfill = AppEnrichOps.backfillAffectedVersions(built.apps, inputs.nvd)
    val outDir = java.nio.file.Files.createTempDirectory("graft-golden").toFile
    try {
      VulDbSink.write(built.vulns, withBackfill, inputs.rawFiles,
        outDir.getAbsolutePath, "1.000", "2026-01-01T00:00:00Z")

      val doc = new StringBuilder
      for (artifact <- Seq("cvedb.compact", "cvedb.regular")) {
        val (header, entries) = VulDbSink.readDbFile(s"$outDir/$artifact")
        doc.append(s"== $artifact header\n").append(header).append('\n')
        entries.foreach { e =>
          val text = new String(e.bytes, "UTF-8")
          val n = text.linesIterator.count(_.nonEmpty)
          doc.append(s"== $artifact/${e.name} ($n rows)\n").append(text)
          if (text.nonEmpty && !text.endsWith("\n")) doc.append('\n')
        }
      }
      val actual = doc.toString

      if (sys.env.get("GRAFT_REGEN_GOLDEN").contains("1")) {
        val p = java.nio.file.Paths.get(goldenRel)
        java.nio.file.Files.createDirectories(p.getParent)
        java.nio.file.Files.write(p, actual.getBytes("UTF-8"))
        info(s"regenerated $goldenRel (${actual.length} chars) — review the diff and commit")
      } else {
        val res = getClass.getResourceAsStream("/golden/pipeline_golden.txt")
        assert(res != null,
          s"golden file missing — GRAFT_REGEN_GOLDEN=1 sbt test creates $goldenRel")
        val expected = try new String(res.readAllBytes(), "UTF-8") finally res.close()
        if (actual != expected) {
          val dump = java.nio.file.Paths.get("target/pipeline_golden_actual.txt")
          java.nio.file.Files.write(dump, actual.getBytes("UTF-8"))
          val aL = actual.linesIterator.toVector
          val eL = expected.linesIterator.toVector
          val idx = aL.zip(eL).indexWhere { case (a, b) => a != b }
          val where =
            if (idx >= 0) s"first diff at line ${idx + 1}:\n  expected: ${eL(idx)}\n  actual:   ${aL(idx)}"
            else s"line counts differ: expected ${eL.size}, actual ${aL.size}"
          fail(s"pipeline output diverged from the golden file ($where).\n" +
            s"Full actual output: $dump — if the change is intentional, " +
            "regenerate with GRAFT_REGEN_GOLDEN=1 and review the diff.")
        }
      }
    } finally {
      Option(outDir.listFiles()).foreach(_.foreach(_.delete())); outDir.delete(); ()
    }
  }
}
