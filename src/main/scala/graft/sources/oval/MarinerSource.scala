package graft.sources.oval

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.core.{FeatureVersion, Model, PkgVersion, Vulnerability}
import graft.core.RecordEncoders._

/** S9 — CBL-Mariner OVAL (reference updater/fetchers/mariner/mariner.go).
  *
  * Criterions resolve through a three-level id indirection (J8):
  * criterion.test_ref -> test -> {object_ref -> package name,
  * state_ref -> evr version}. Ids are matched on their last
  * `:`-separated segment.
  * Semantics reproduced:
  *  - name/link from the CVE reference; year floor;
  *  - patchable "not applicable" -> record skipped; "true" -> features
  *    resolved; anything else -> record KEPT with no features;
  *  - namespace hard-coded mariner:1.0 for every feed file (upstream
  *    behavior, mirrored);
  *  - issuedDate from `advisory_date` (T-split); severity map uses
  *    "medium"/"high" words (unlike the moderate/important map).
  */
object MarinerSource {

  private def refNum(id: String): Option[String] = {
    val parts = id.split(":")
    if (parts.length == 4) Some(parts(3)) else None
  }

  def severityOf(s: String): String = s.toLowerCase match {
    case "low" => "Low"
    case "medium" => "Medium"
    case "high" => "High"
    case "critical" => "Critical"
    case _ => "Unknown"
  }

  def parseFile(xmlText: String): Seq[Vulnerability] = {
    val root = try scala.xml.XML.loadString(xmlText) catch { case _: Exception => return Nil }

    val objMap = (root \ "objects" \ "rpminfo_object").flatMap { o =>
      refNum(o \@ "id").map(_ -> (o \ "name").map(_.text))
    }.toMap
    val stateMap = (root \ "states" \ "rpminfo_state").flatMap { s =>
      refNum(s \@ "id").map(_ -> (s \ "evr").text)
    }.toMap
    val testMap = (root \ "tests" \ "rpminfo_test").flatMap { t =>
      refNum(t \@ "id").map(_ -> (
        (t \ "object").map(_ \@ "object_ref").headOption.getOrElse(""),
        (t \ "state").map(_ \@ "state_ref").headOption.getOrElse("")))
    }.toMap

    def features(criteria: Oval.Criteria): Seq[FeatureVersion] = {
      val byKey = scala.collection.mutable.LinkedHashMap.empty[String, FeatureVersion]
      for (criterions <- Oval.possibilities(criteria, Nil)) {
        var name = ""
        var version = ""
        for (c <- criterions; tid <- refNum(c.testRef); (objRef, stateRef) <- testMap.get(tid)) {
          val pkgNames = refNum(objRef).flatMap(objMap.get).getOrElse(Nil)
          val evr = refNum(stateRef).flatMap(stateMap.get).getOrElse("")
          if (pkgNames.nonEmpty) name = pkgNames.head
          version = PkgVersion.parse(evr).toOption.map(_.render).getOrElse("")
        }
        if (name.nonEmpty && version.nonEmpty)
          byKey(s"mariner:1.0:$name") = FeatureVersion(name, "mariner:1.0", version, "")
      }
      byKey.values.toSeq
    }

    (root \ "definitions" \ "definition").flatMap { d =>
      val refs = (d \ "metadata" \ "reference").map(r =>
        Oval.Reference(r \@ "source", r \@ "ref_id", r \@ "ref_url"))
      val cveName = Oval.cveName(refs)
      val patchable = (d \ "metadata" \ "patchable").text
      if (!cveName.startsWith("CVE-") || Model.cveYear(cveName.substring(4)) < Model.firstYear) None
      else if (patchable.equalsIgnoreCase("not applicable")) None
      else {
        val advisoryDate = (d \ "metadata" \ "advisory_date").text.split("T")(0)
        val crit = (d \ "criteria").headOption.map(Oval.parseCriteria)
          .getOrElse(Oval.Criteria("", Nil, Nil))
        val pkgs = if (patchable == "true") features(crit) else Nil
        Some(Vulnerability(
          name = cveName, namespace = "mariner:1.0",
          description = (d \ "metadata" \ "description").text,
          link = refs.find(_.source == "CVE").map(_.uri).getOrElse(""),
          severity = severityOf((d \ "metadata" \ "severity").text),
          cvssV2Score = 0.0, cvssV2Vectors = "", cvssV3Score = 0.0, cvssV3Vectors = "",
          issuedDate = Oval.parseDate(advisoryDate), lastModDate = null,
          cves = Nil, fixedIn = pkgs, cpes = Nil,
          feedRating = (d \ "metadata" \ "severity").text))
      }
    }
  }

  def load(spark: SparkSession, path: String): Dataset[Vulnerability] = {
    import spark.implicits._
    spark.read.option("wholetext", true).text(path).as[String].flatMap(parseFile)
  }
}
