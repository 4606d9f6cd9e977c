package graft.sources.oval

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{CveRef, FeatureVersion, PkgVersion, Records, Vulnerability}

/** S7 — Oracle ELSA OVAL (reference updater/fetchers/oracle/oracle.go).
  *
  * Differences from the RHEL adapter it otherwise mirrors:
  *  - name comes from the ELSA title only; no year gate;
  *  - os version parsed from the "Oracle Linux N is installed"
  *    criterion; releases below 7 dropped (firstConsideredELSA);
  *  - ignore list: ksplice + Oracle-signed criterions;
  *  - cve refs carry names only (no scores);
  *  - A3 merge by bare name: ordered dedup-union of FixedIn (keyed
  *    ns:name:version) and CVEs (keyed name); first non-empty
  *    desc/link/severity; min issued date, max lastMod date;
  *  - HTML-instead-of-XML responses skipped (handled in Oval.parse).
  */
object OracleSource {

  val ignoredCriterions: Seq[String] = Seq(" is signed with the Oracle Linux", ".ksplice1.")
  val firstConsideredElsa = 7

  private val earlierThan = " is earlier than "
  private val olPrefix = "Oracle Linux "

  def featureVersions(criteria: Oval.Criteria): Seq[FeatureVersion] = {
    val byKey = scala.collection.mutable.LinkedHashMap.empty[String, FeatureVersion]
    for (criterions <- Oval.possibilities(criteria, ignoredCriterions)) {
      var name = ""
      var version: Option[String] = None
      var os = 0
      for (c <- criterions) {
        if (c.comment.contains(" is installed")) {
          // "Oracle Linux N is installed" release marker (oracle.go:430-436)
          if (c.comment.startsWith(olPrefix)) {
            val rest = c.comment.substring(olPrefix.length)
            val sp = rest.indexOf(' ')
            if (sp > 0) os = try rest.substring(0, sp).trim.toInt catch { case _: NumberFormatException => 0 }
          }
        } else if (c.comment.contains(earlierThan)) {
          name = c.comment.substring(0, c.comment.indexOf(earlierThan)).trim
          val raw = c.comment.substring(c.comment.indexOf(earlierThan) + earlierThan.length)
          version = PkgVersion.parse(raw).toOption.map(_.render)
        }
      }
      if (os >= firstConsideredElsa) {
        val ns = s"oracle:$os"
        if (name.nonEmpty && version.exists(_.nonEmpty))
          byKey(s"$ns:$name") = FeatureVersion(name, ns, version.get, "")
      }
    }
    byKey.values.toSeq
  }

  def parseFile(xmlText: String): Seq[Vulnerability] =
    Oval.parseDefinitions(xmlText).flatMap { d =>
      val nameId = Oval.titleName(d.title)
      val pkgs = featureVersions(d.criteria)
      if (nameId.isEmpty || pkgs.isEmpty) None
      else {
        val issued = Oval.parseDate(d.issued)
        val mod = Oval.parseDate(d.updated)
        val link0 = Oval.refLink(d.references, "elsa")
        val link = if (link0.isEmpty) Oval.refLink(d.references, "CVE") else link0
        Some(Vulnerability(
          name = nameId, namespace = pkgs.head.featureNamespace,
          description = Oval.squeeze(d.description), link = link,
          severity = Oval.severityOf(d.severity),
          cvssV2Score = 0.0, cvssV2Vectors = "",
          cvssV3Score = 0.0, cvssV3Vectors = "",
          issuedDate = if (issued == null) mod else issued,
          lastModDate = if (mod == null) issued else mod,
          cves = d.cves.map(c => CveRef(c.id, 0.0, "", 0.0, "")),
          fixedIn = pkgs, cpes = Nil, feedRating = d.severity))
      }
    }

  /** A3 — merge by bare advisory name. */
  def merge(raw: Dataset[Vulnerability])(implicit spark: SparkSession): Dataset[Vulnerability] = {
    import spark.implicits._
    raw.toDF()
      .withColumn("_ord", monotonically_increasing_id())
      .groupBy("name")
      .agg(
        min(when(col("description") =!= "", struct(col("_ord"), col("description")))).as("dsc"),
        min(when(col("link") =!= "", struct(col("_ord"), col("link")))).as("lnk"),
        min(when(col("severity") =!= "Unknown", struct(col("_ord"), col("severity")))).as("sev"),
        min(struct(col("_ord"), col("namespace"))).as("nsp"),
        min(col("issuedDate")).as("issuedDate"),
        max(col("lastModDate")).as("lastModDate"),
        flatten(expr("transform(array_sort(collect_list(struct(_ord, fixedIn))), x -> x.fixedIn)")).as("fvAll"),
        flatten(expr("transform(array_sort(collect_list(struct(_ord, cves))), x -> x.cves)")).as("cveAll"))
      .select(Records.withDefaults[Vulnerability](
        "name" -> col("name"),
        "namespace" -> coalesce(col("nsp.namespace"), lit("")),
        "description" -> coalesce(col("dsc.description"), lit("")),
        "link" -> coalesce(col("lnk.link"), lit("")),
        "severity" -> coalesce(col("sev.severity"), lit("Unknown")),
        "issuedDate" -> col("issuedDate"),
        "lastModDate" -> col("lastModDate"),
        // dedup by full struct == the reference's name / ns:name:version
        // keys (all other fields are constant for this feed)
        "cves" -> expr("array_distinct(cveAll)"),
        "fixedIn" -> expr("array_distinct(fvAll)")): _*)
      .as[Vulnerability]
  }

  def load(spark: SparkSession, path: String): Dataset[Vulnerability] = {
    import spark.implicits._
    merge(spark.read.option("wholetext", true).text(path).as[String].flatMap(parseFile))(spark)
  }
}
