package graft.sources

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions.input_file_name

import graft.core.{CveRef, FeatureVersion, PkgVersion, Vulnerability}
import graft.core.RecordEncoders._

/** S6 — Amazon Linux ALAS RSS feeds + per-advisory page scrape
  * (reference updater/fetchers/amazon/amazon.go; FIXTURES.md §5).
  *
  * The adapter takes pre-fetched inputs (the hermetic mirror path):
  * the RSS XML and, per advisory, the HTML page stored as
  * `<pagesDir>/<ALAS-id>.html`. Semantics reproduced:
  *  - title `ALAS-... (severity): pkgs` — only critical/important/
  *    medium kept (important -> High);
  *  - description CVE list split on spaces, `,\n ` right-trimmed;
  *  - RFC1123 pubData/lastBuildDate with mutual backfill;
  *  - page parse: description between "Issue Overview:" and
  *    "Affected Packages:" on the tag-stripped text; package versions
  *    from the "New Packages:</b><pre>" block, version start located
  *    by `[a-z+]-[0-9]` (fallback `[0-9]-[0-9]`, first match), arch
  *    suffix dropped at the last dot;
  *  - advisories whose page yields no versions are dropped.
  */
object AmazonSource {

  def severityOf(token: String): Option[(String, String)] = token.toLowerCase match {
    case "(critical):"  => Some(("Critical", "Critical"))
    case "(important):" => Some(("Important", "High"))
    case "(medium):"    => Some(("Medium", "Medium"))
    case _              => None
  }

  private val verStart = "[a-z+]-[0-9]".r
  private val altVerStart = "[0-9]-[0-9]".r
  private val tagRe = "<[^>]*>".r

  /** `name-version.arch` token -> (pkg, version) (amazon.go:240-268). */
  def parsePackageToken(str: String): Option[(String, String)] = {
    val lastDot = str.lastIndexOf('.')
    if (lastDot < 0) return None
    val starts = verStart.findAllMatchIn(str).toSeq
    if (starts.isEmpty) {
      val alt = altVerStart.findAllMatchIn(str).toSeq
      if (alt.isEmpty) None
      else {
        val i = alt.head.start
        if (i + 2 > lastDot) None
        else Some((str.substring(0, i + 1), str.substring(i + 2, lastDot)))
      }
    } else {
      val i = starts.last.start
      if (i + 2 > lastDot) None
      else Some((str.substring(0, i + 1), str.substring(i + 2, lastDot)))
    }
  }

  /** (description, pkg -> version) from an ALAS page
    * (amazon.go:215-271; test HTML in amazon_test.go). */
  def parseAlasPage(body: String): (String, Map[String, String]) = {
    val plain = tagRe.replaceAllIn(body, "")
    var description = ""
    val a = plain.indexOf("Issue Overview:")
    if (a > 0) {
      val b = plain.indexOf("Affected Packages:")
      if (b > 0) description = plain.substring(a + 15, b).trim
    }
    val pkgVers = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val na = body.indexOf("New Packages:</b><pre>")
    if (na > 0) {
      var block = body.substring(na + 22)
      val nb = block.indexOf("</pre>")
      if (nb > 0) block = block.substring(0, nb)
      block = block.replace("<br />", " ").replace("&nbsp;", " ")
      for (raw <- block.split(" ")) {
        val str = raw.trim
        if (str.nonEmpty && !str.endsWith(":"))
          parsePackageToken(str).foreach { case (p, v) => pkgVers(p) = v }
      }
    }
    (description, pkgVers.toMap)
  }

  private def rfc1123(s: String): Timestamp =
    try Timestamp.from(java.time.ZonedDateTime.parse(s,
      java.time.format.DateTimeFormatter.RFC_1123_DATE_TIME).toInstant)
    catch { case _: Exception => null }

  /** Parse the RSS feed plus its page mirror. `version` = 1/2/2023. */
  def load(spark: SparkSession, rssPath: String, pagesDir: String, version: Int): Dataset[Vulnerability] = {
    import spark.implicits._
    val ns = s"amzn:$version"
    val pages = spark.sparkContext.broadcast(loadPages(pagesDir))

    spark.read.option("wholetext", true).text(rssPath).as[String].flatMap { xmlText =>
      val rootOpt = try Some(scala.xml.XML.loadString(xmlText)) catch { case _: Exception => None }
      rootOpt.toSeq.flatMap(root => (root \ "channel" \ "item")).iterator.flatMap { item =>
        val meta = (item \ "title").text
        val tokens = meta.split(" ")
        if (tokens.length < 3) None
        else severityOf(tokens(1)).flatMap { case (rating, sev) =>
          val name = tokens(0)
          val cves = (item \ "description").text.split(" ")
            .map(_.replaceAll("[,\n ]+$", "")).filter(_.nonEmpty)
            .map(c => CveRef(c, 0.0, "", 0.0, ""))
          val issued0 = rfc1123((item \ "pubData").text)
          val mod0 = rfc1123((item \ "lastBuildDate").text)
          val issued = if (issued0 == null) mod0 else issued0
          val mod = if (mod0 == null) issued0 else mod0
          pages.value.get(name).flatMap { pageBody =>
            val (desc, vers) = parseAlasPage(pageBody)
            if (vers.isEmpty) None
            else Some(Vulnerability(
              name = name, namespace = ns, description = desc.trim,
              link = (item \ "link").text,
              severity = sev, cvssV2Score = 0.0, cvssV2Vectors = "",
              cvssV3Score = 0.0, cvssV3Vectors = "",
              issuedDate = issued, lastModDate = mod,
              cves = cves.toSeq,
              fixedIn = vers.toSeq.sorted.flatMap { case (pkg, ver) =>
                PkgVersion.parse(ver).toOption.map(p =>
                  FeatureVersion(pkg, ns, p.render, ""))
              },
              cpes = Nil, feedRating = rating))
          }
        }
      }.toSeq
    }
  }

  private def loadPages(pagesDir: String): Map[String, String] = {
    val dir = new java.io.File(pagesDir)
    if (!dir.isDirectory) Map.empty
    else dir.listFiles().filter(_.getName.endsWith(".html")).map { f =>
      f.getName.stripSuffix(".html") ->
        new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
    }.toMap
  }
}
