package graft.sources

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.core.{AppModuleVul, OpVersion}
import graft.core.RecordEncoders._

/** S17/S18 — the nginx and OpenSSL advisory-page scrapers (reference
  * updater/fetchers/apps/nginx.go, openssl.go). The adapters take
  * pre-fetched page bytes (the hermetic local-mirror path), so tests
  * and offline runs need no network. */
object HtmlSources {

  // ---- nginx (nginx.go:20-172) ----------------------------------------

  private val nginxName = """">([A-Z0-9\-]*)</a><br>""".r.unanchored
  private val nginxAffected = """<br>Vulnerable: ([0-9a-zA-Z\s/.\-,]*)""".r.unanchored
  private val nginxFixed = """<br>Not vulnerable: ([0-9a-zA-Z.+\-,\s]*)<br>""".r.unanchored
  private val nginxDesc = """<li><p>(.*)<br>Severity:""".r.unanchored
  private val nginxSev = """<br>Severity: <?b?>?(high|major|medium|low)<?/?b?>?<br>""".r.unanchored
  private val nginxLink = """<a href="(.*)">Advisory""".r.unanchored
  private val rangePair = """([0-9.]+)-([0-9.]+)""".r
  private val bareVer = """([0-9.]+)""".r
  private val fixedVer = """([0-9.+]+)""".r

  /** `1.1.4-1.2.8, 1.3.9-1.4.0` -> gteq/lteq(+or) chain; `all` ->
    * Version "All" (nginx.go:114-151). */
  def nginxAffectedVersion(str: String): Seq[OpVersion] = {
    if (str.contains("all")) return Seq(OpVersion("", "All"))
    val pairs = rangePair.findAllMatchIn(str).toSeq
    val fromPairs = pairs.zipWithIndex.flatMap { case (m, i) =>
      Seq(OpVersion(if (i > 0) "orgteq" else "gteq", m.group(1)),
        OpVersion("lteq", m.group(2)))
    }
    if (fromPairs.nonEmpty) fromPairs
    else bareVer.findAllMatchIn(str).map(m => OpVersion("", m.group(1))).toSeq
  }

  /** `1.4.1+, 1.2.9+` -> gteq chain; `none` -> "None" (nginx.go:153-172). */
  def nginxFixedVersion(str: String): Seq[OpVersion] = {
    if (str.contains("none")) return Seq(OpVersion("", "None"))
    fixedVer.findAllMatchIn(str).map(m =>
      OpVersion("gteq", m.group(1).replace("+", ""))).toSeq
  }

  def parseNginxPage(body: String): Seq[AppModuleVul] =
    body.split("</p></li>").toSeq.flatMap { cve =>
      for {
        desc <- nginxDesc.findFirstMatchIn(cve).map(_.group(1))
        name <- nginxName.findFirstMatchIn(cve).map(_.group(1))
        affectedStr <- nginxAffected.findFirstMatchIn(cve).map(_.group(1))
        sevWord <- nginxSev.findFirstMatchIn(cve).map(_.group(1))
        if affectedStr.nonEmpty
      } yield {
        // the reference only word-replaces major/medium/low; a literal
        // "high" stays lowercase (an invalid Priority) and survives
        // only if NVD scores later band it — mirrored faithfully
        val sev = sevWord match {
          case "major" => "High"; case "medium" => "Medium"
          case "low" => "Low"; case s => s
        }
        AppModuleVul(
          vulName = name, appName = "nginx", moduleName = "nginx",
          importPaths = Nil, symbols = Nil, description = desc,
          link = nginxLink.findFirstMatchIn(cve).map(_.group(1)).getOrElse(""),
          score = 0.0, vectors = "", scoreV3 = 0.0, vectorsV3 = "",
          severity = sev,
          affectedVer = nginxAffectedVersion(affectedStr),
          fixedVer = nginxFixed.findFirstMatchIn(cve).map(m => nginxFixedVersion(m.group(1))).getOrElse(Nil),
          unaffectedVer = Nil, issuedDate = null, lastModDate = null,
          cves = Seq(name))
      }
    }

  def loadNginx(spark: SparkSession, pagePath: String): Dataset[AppModuleVul] = {
    import spark.implicits._
    spark.read.option("wholetext", true).text(pagePath).as[String].flatMap(parseNginxPage _)
  }

  // ---- OpenSSL (openssl.go:20-164) -------------------------------------

  private val osslName = """="(.*)">CVE-([0-9\-]+)""".r.unanchored
  private val osslRecordLink = """="(.*) target(.*)>CVE Record""".r.unanchored
  private val osslVer = """<li>from\s*\n*([0-9a-z.\-\s]+) before\s*\n*([0-9a-z.\-\s]+)</li>""".r.unanchored
  private val osslSev = """<span[^>]*>\s*Severity\s*</span>\s*</div>\s*<div[^>]*>\s*([A-Za-z]+)\s*</div>""".r.unanchored
  // the reference's Go pattern nests '[' in the class; Java needs it
  // escaped — same match set
  private val osslDesc = """<p>([a-zA-Z\[\S+\n\r\s]+)</p>""".r.unanchored

  /** `<li>from a before b</li>` list -> (fixedVer, affectedVer)
    * (openssl.go:126-164; expectations in apps_test.go:33-55). */
  def opensslVulVersion(line: String): Option[(Seq[OpVersion], Seq[OpVersion])] = {
    val ms = osslVer.findAllMatchIn(line).toSeq
    if (ms.isEmpty) return None
    val fver = scala.collection.mutable.ArrayBuffer.empty[OpVersion]
    val aver = scala.collection.mutable.ArrayBuffer.empty[OpVersion]
    for ((m, i) <- ms.zipWithIndex) {
      val fv = m.group(2).trim
      fver += OpVersion("", fv)
      var av = m.group(1).trim
      if (av.startsWith("since ")) av = av.substring(6).trim
      aver += OpVersion(if (i == 0) "lt" else "orlt", fv)
      aver += OpVersion("gteq", av)
    }
    Some((fver.toSeq, aver.toSeq))
  }

  def severityOfOpenssl(s: String): Option[String] = s match {
    case "Critical" => Some("Critical")
    case "High" => Some("High")
    case "Moderate" => Some("Medium")
    case "Low" => Some("Low")
    case _ => None
  }

  def parseOpensslPage(body: String): Seq[AppModuleVul] =
    body.split("h3 id").toSeq.drop(1).flatMap { section =>
      val line = section.stripPrefix("\n").stripSuffix("\n")
      for {
        nameM <- osslName.findFirstMatchIn(line)
        linkM <- osslRecordLink.findFirstMatchIn(line)
        vers <- opensslVulVersion(line)
        sevWord <- osslSev.findFirstMatchIn(line).map(_.group(1))
        sev <- severityOfOpenssl(sevWord)
        desc <- osslDesc.findFirstMatchIn(line).map(_.group(1))
      } yield AppModuleVul(
        vulName = "CVE-" + nameM.group(2), appName = "openssl", moduleName = "openssl",
        importPaths = Nil, symbols = Nil, description = desc,
        link = linkM.group(1).replace("\"", ""),
        score = 0.0, vectors = "", scoreV3 = 0.0, vectorsV3 = "",
        severity = sev, affectedVer = vers._2, fixedVer = vers._1,
        unaffectedVer = Nil, issuedDate = null, lastModDate = null,
        cves = Seq("CVE-" + nameM.group(2)))
    }

  def loadOpenssl(spark: SparkSession, pagePath: String): Dataset[AppModuleVul] = {
    import spark.implicits._
    spark.read.option("wholetext", true).text(pagePath).as[String].flatMap(parseOpensslPage _)
  }
}
