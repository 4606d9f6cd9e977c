package graft.sources.oval

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{CveRef, FeatureVersion, Model, PkgVersion, Records, Vulnerability}

/** S1 — RHEL/CentOS OVAL (reference updater/fetchers/rhel2/rhel.go).
  *
  * Per-definition parse (pure, runs in a per-file flatMap):
  *  - name = RHSA title prefix, else the CVE reference; year >= 2014;
  *  - criteria tree expanded (G1) with the RHEL ignore list;
  *  - " is earlier than " -> fix version (svn/v prefixes stripped
  *    after the epoch, rhel.go:614-626); `.unaffected:` test ->
  *    MinVersion; " is installed" -> MaxVersion; dedup last-wins per
  *    (ns, feature) within the definition (A7);
  *  - per-cve cvss attrs split "score/vector"; vuln-level = max (A6);
  *  - issued/lastMod mutual backfill; namespace centos:N.
  *
  * Relational post-pass (one shuffle each):
  *  - A2 merge by (ns, name): ordered dedup-union of FixedIn + CPEs;
  *  - J5 RHSA culling as an anti-join: a CVE record drops every
  *    feature name covered by an RHSA that references it (same ns);
  *    CVE records left with no features are dropped; RHSA records
  *    pass through unchanged.
  */
object RhelSource {

  val ignoredCriterions: Seq[String] = Seq(
    " is signed with Red Hat ", " Client is installed",
    " Workstation is installed", " ComputeNode is installed")

  private val earlierThan = " is earlier than "

  /** Version cleanup: strip svn/v prefixes while keeping the epoch
    * (rhel.go:614-626). */
  def cleanVersion(raw: String): String = {
    var verStr = raw
    var epoch = ""
    val a = verStr.indexOf(':')
    if (a > 0) { epoch = verStr.substring(0, a + 1); verStr = verStr.substring(a + 1) }
    if (verStr.startsWith("svn")) verStr = verStr.substring(3)
    if (verStr.startsWith("v")) verStr = verStr.substring(1)
    epoch + verStr
  }

  def featureVersions(os: Int, criteria: Oval.Criteria): Seq[FeatureVersion] = {
    val ns = s"centos:$os"
    val byKey = scala.collection.mutable.LinkedHashMap.empty[String, FeatureVersion]
    for (criterions <- Oval.possibilities(criteria, ignoredCriterions)) {
      var name = ""
      var version: Option[String] = None
      for (c <- criterions) {
        if (c.comment.contains(" is installed") && c.comment.contains("Red Hat Enterprise Linux ")) {
          // release marker; os version comes from the feed file itself
        } else if (c.comment.contains(earlierThan)) {
          name = c.comment.substring(0, c.comment.indexOf(earlierThan)).trim
          val raw = c.comment.substring(c.comment.indexOf(earlierThan) + earlierThan.length)
          version = PkgVersion.parse(cleanVersion(raw)).toOption.map(_.render)
        } else if (c.testRef.contains(".unaffected:")) {
          val i1 = c.comment.indexOf(" is not installed")
          val i2 = c.comment.indexOf(" is installed")
          if (i1 > 0) name = c.comment.substring(0, i1).trim
          else if (i2 > 0) name = c.comment.substring(0, i2).trim
          version = Some(PkgVersion.MinSentinel)
        } else if (c.comment.contains(" is installed")) {
          name = c.comment.substring(0, c.comment.indexOf(" is installed")).trim
          version = Some(PkgVersion.MaxSentinel)
        }
      }
      if (name.nonEmpty && version.exists(_.nonEmpty))
        byKey(s"$ns:$name") = FeatureVersion(name, ns, version.get, "")
    }
    byKey.values.toSeq
  }

  /** One OVAL file for one OS release -> raw per-definition records. */
  def parseFile(os: Int, xmlText: String): Seq[Vulnerability] =
    Oval.parseDefinitions(xmlText).flatMap { d =>
      val rhsaName = Oval.titleName(d.title)
      val cve = Oval.cveName(d.references)
      val nameId =
        if (rhsaName.startsWith("RHSA-")) {
          if (Model.cveYear(rhsaName.substring(5)) < Model.firstYear) "" else rhsaName
        } else if (cve.startsWith("CVE-")) {
          if (Model.cveYear(cve.substring(4)) < Model.firstYear) "" else cve
        } else ""
      if (nameId.isEmpty) None
      else {
        val pkgs = featureVersions(os, d.criteria)
        if (pkgs.isEmpty) None
        else {
          def split(attr: String): (Double, String) = {
            val s = attr.indexOf('/')
            if (s > 0) {
              try (attr.substring(0, s).toDouble, attr.substring(s + 1))
              catch { case _: NumberFormatException => (0.0, "") }
            } else (0.0, "")
          }
          val cves = d.cves.map { c =>
            val (s2, v2) = split(c.cvss2)
            val (s3, v3) = split(c.cvss3)
            CveRef(c.id, s2, v2, s3, v3)
          }
          val max2 = cves.filter(_.cvssV2Score > 0).sortBy(-_.cvssV2Score).headOption
          val max3 = cves.filter(_.cvssV3Score > 0).sortBy(-_.cvssV3Score).headOption
          val issued = Oval.parseDate(d.issued)
          val mod = Oval.parseDate(d.updated)
          val link0 =
            if (rhsaName == "RHSA-2016:1064") Oval.refLink(d.references, "CVE")
            else Oval.refLink(d.references, "RHSA")
          val link = if (link0.isEmpty) Oval.refLink(d.references, "CVE") else link0
          Some(Vulnerability(
            name = nameId, namespace = s"centos:$os",
            description = Oval.squeeze(d.description), link = link,
            severity = Oval.severityOf(d.severity),
            cvssV2Score = max2.map(_.cvssV2Score).getOrElse(0.0),
            cvssV2Vectors = max2.map(_.cvssV2Vectors).getOrElse(""),
            cvssV3Score = max3.map(_.cvssV3Score).getOrElse(0.0),
            cvssV3Vectors = max3.map(_.cvssV3Vectors).getOrElse(""),
            issuedDate = if (issued == null) mod else issued,
            lastModDate = if (mod == null) issued else mod,
            cves = cves, fixedIn = pkgs, cpes = d.cpes,
            feedRating = d.severity))
        }
      }
    }

  /** A2 + J5 as relational ops over the raw per-definition records. */
  def mergeAndCull(raw: Dataset[Vulnerability])(implicit spark: SparkSession): Dataset[Vulnerability] = {
    import spark.implicits._

    // A2: merge duplicates of (ns, name) — ordered dedup-union.
    val merged = raw.toDF()
      .withColumn("_ord", monotonically_increasing_id())
      .groupBy("namespace", "name")
      .agg(
        min(struct(col("_ord") +:
          Records.columns[Vulnerability]("name", "namespace", "fixedIn", "cpes"): _*)).as("m"),
        flatten(expr("transform(array_sort(collect_list(struct(_ord, fixedIn))), x -> x.fixedIn)")).as("fvAll"),
        flatten(expr("transform(array_sort(collect_list(struct(_ord, cpes))), x -> x.cpes)")).as("cpeAll"))
      .select(Records.row[Vulnerability](
        "name" -> col("name"),
        "namespace" -> col("namespace"),
        "fixedIn" -> expr("array_distinct(fvAll)"),
        "cpes" -> expr("array_distinct(cpeAll)"))(f => col(s"m.${f.name}")): _*)

    val isRhsa = lower(col("name")).contains("rhsa")
    val rhsas = merged.filter(isRhsa)
    val cveRecords = merged.filter(!isRhsa)

    // feature names covered by an RHSA, keyed by the CVE it references
    // (only pairs whose CVE record exists matter — the join enforces it)
    val rhsaFeatures = rhsas
      .select(col("namespace"), explode(col("cves")).as("cveRef"), col("fixedIn"))
      .select(col("namespace").as("r_ns"), col("cveRef.name").as("r_cve"),
        explode(col("fixedIn")).as("r_fv"))
      .select(col("r_ns"), col("r_cve"), col("r_fv.featureName").as("r_feature"))
      .distinct()

    // J5: explode CVE features, anti-join on (ns, cve, featureName)
    val culled = cveRecords
      .select(col("*"), explode(col("fixedIn")).as("fv"))
      .join(rhsaFeatures,
        col("namespace") === col("r_ns") && col("name") === col("r_cve") &&
          col("fv.featureName") === col("r_feature"),
        "left_anti")
      .groupBy("namespace", "name")
      .agg(
        min(struct(Records.columns[Vulnerability]("name", "namespace", "fixedIn"): _*)).as("m"),
        collect_list(col("fv")).as("fixedIn"))
      .select(Records.row[Vulnerability](
        "name" -> col("name"),
        "namespace" -> col("namespace"),
        "fixedIn" -> expr("array_sort(fixedIn)"))(f => col(s"m.${f.name}")): _*)

    culled.unionByName(rhsas).as[Vulnerability]
  }

  /** Read one-or-many OVAL xml files for an OS release. */
  def load(spark: SparkSession, path: String, os: Int): Dataset[Vulnerability] = {
    import spark.implicits._
    val raw = spark.read.option("wholetext", true).text(path)
      .as[String].flatMap(parseFile(os, _))
    mergeAndCull(raw)(spark)
  }
}
