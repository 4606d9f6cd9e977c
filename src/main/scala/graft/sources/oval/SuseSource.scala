package graft.sources.oval

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.core.{CveRef, FeatureVersion, Model, PkgVersion, Vulnerability}

/** S8 — SUSE/openSUSE OVAL (reference updater/fetchers/suse/suse.go).
  *
  * The criterion comments carry no versions; a `tests` section maps
  * test ids to `name op version` comments, consulted per criterion
  * (J7 — a broadcast-style lookup inside the per-file parser).
  * Semantics reproduced:
  *  - per-feed (displayName, nsPrefix) config; tumbleweed has no
  *    release version in its namespace;
  *  - CVE-only names; year floor 2014, 2004 for Liberty feeds;
  *  - the release criterion ("<displayName>... is installed") sets the
  *    namespace from ITS test version; the package criterion (not
  *    SUSE-prefixed, " is installed" / " is not affected") sets
  *    feature+version from its test; verStr "0" = not affected for
  *    all versions -> skipped;
  *  - per-definition (ns, feature) dedup last-wins (A7);
  *  - CVE references deduped by regex-extracted name (A10);
  *  - issued/lastMod mutual backfill.
  */
object SuseSource {

  final case class FeedInfo(filename: String, displayName: String, nsPrefix: String,
    noVersion: Boolean = false, liberty: Boolean = false)

  final case class TestInfo(name: String, op: String, version: String)

  val libertyFirstYear = 2004
  private val cveRe = "CVE-[0-9]+-[0-9]+".r
  private val ops = Seq("==", "<=", ">=", "<", ">")

  /** `pkg op version ...` test comment -> TestInfo (suse.go:334-365). */
  def parseTest(comment: String): Option[TestInfo] = {
    val s = comment.indexOf(' ')
    if (s < 0) return None
    val name = comment.substring(0, s)
    val rest = comment.substring(s + 1)
    ops.collectFirst { case op if rest.contains(op) =>
      var v = rest.substring(rest.indexOf(op) + op.length)
      val sp = v.indexOf(' ')
      if (sp >= 0) v = v.substring(0, sp)
      PkgVersion.parse(v).toOption.map(p => TestInfo(name, op, p.render))
    }.flatten
  }

  def featureVersions(feed: FeedInfo, criteria: Oval.Criteria,
      testMap: Map[String, TestInfo]): Seq[FeatureVersion] = {
    val byKey = scala.collection.mutable.LinkedHashMap.empty[String, FeatureVersion]
    for (criterions <- Oval.possibilities(criteria, Nil)) {
      var ns = ""
      var name = ""
      var version = ""
      for (c <- criterions) {
        if (c.comment.startsWith(feed.displayName) && c.comment.contains(" is installed")) {
          testMap.get(c.testRef).foreach { ti =>
            ns = if (feed.noVersion) feed.nsPrefix else feed.nsPrefix + ti.version
          }
        } else if (!c.comment.startsWith("SUSE") &&
            (c.comment.contains(" is installed") || c.comment.contains(" is not affected"))) {
          testMap.get(c.testRef).foreach { ti =>
            if (ti.version != "0") { name = ti.name; version = ti.version }
          }
        }
      }
      if (ns.nonEmpty && name.nonEmpty && version.nonEmpty)
        byKey(s"$ns:$name") = FeatureVersion(name, ns, version, "")
    }
    byKey.values.toSeq
  }

  def parseFile(feed: FeedInfo, xmlText: String): Seq[Vulnerability] = {
    val root = try scala.xml.XML.loadString(xmlText) catch { case _: Exception => return Nil }
    val testMap: Map[String, TestInfo] =
      (root \ "tests" \ "rpminfo_test").flatMap { t =>
        parseTest(t \@ "comment").map((t \@ "id") -> _)
      }.toMap

    (root \ "definitions" \ "definition").flatMap { d =>
      val defn = Oval.definition(d)
      val title = defn.title
      val i = title.indexOf(": ")
      val cvename = if (i > 0) title.substring(0, i).trim else title
      val yearFloor = if (feed.liberty) libertyFirstYear else Model.firstYear
      if (!cvename.startsWith("CVE-") || Model.cveYear(cvename.substring(4)) < yearFloor) None
      else {
        val pkgs = featureVersions(feed, defn.criteria, testMap)
        if (pkgs.isEmpty) None
        else {
          val issued = Oval.parseDate(defn.issued)
          val mod = Oval.parseDate(defn.updated)
          val link0 = Oval.refLink(defn.references, "SUSE CVE")
          val link = if (link0.isEmpty) Oval.refLink(defn.references, "CVE") else link0
          val cves = defn.cves.flatMap(c => cveRe.findFirstIn(c.id))
            .distinct.map(n => CveRef(n, 0.0, "", 0.0, ""))
          Some(Vulnerability(
            name = cvename, namespace = pkgs.head.featureNamespace,
            description = Oval.squeeze(defn.description), link = link,
            severity = Oval.severityOf(defn.severity),
            cvssV2Score = 0.0, cvssV2Vectors = "", cvssV3Score = 0.0, cvssV3Vectors = "",
            issuedDate = if (issued == null) mod else issued,
            lastModDate = if (mod == null) issued else mod,
            cves = cves, fixedIn = pkgs, cpes = Nil, feedRating = defn.severity))
        }
      }
    }
  }

  def load(spark: SparkSession, path: String, feed: FeedInfo): Dataset[Vulnerability] = {
    import spark.implicits._
    spark.read.option("wholetext", true).text(path).as[String].flatMap(parseFile(feed, _))
  }
}
