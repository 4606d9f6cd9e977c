package graft.sources

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions.col

import graft.core.{FeatureVersion, Model, PkgVersion, Vulnerability}
import graft.core.RecordEncoders._
import graft.functions.VulFunctions

/** S3 — Ubuntu CVE tracker text files
  * (reference updater/fetchers/ubuntu/ubuntu.go; FIXTURES.md §4).
  *
  * One `active/` or `retired/` file per CVE, `key: value` lines plus
  * `release_package: status (note)` affect lines. Semantics:
  *  - file-name year gate (>= 2014), CVE- prefix only;
  *  - priority word (first token) -> severity; feedRating keeps it;
  *  - multi-line description until the next section keyword;
  *  - affect-line statuses kept: needed/active/deferred/released/
  *    not-affected; ignored releases dropped; unknown releases
  *    surfaced separately;
  *  - released + simple note -> parsed version (unparseable -> empty);
  *    complex comma note skipped (empty); not-affected -> MinVersion;
  *    needed/active/deferred -> MaxVersion; empty version -> row
  *    dropped;
  *  - upstream calibration (ubuntu.go:450-475): in the upstream
  *    namespace drop openssl and ubuntu-flavored versions, and apply
  *    the kernel calibration table;
  *  - withdrawn/rejected descriptions skipped; records without
  *    features dropped unless whitelisted (the govuln severity-map
  *    path passes `keepCves`).
  */
object UbuntuSource {

  val ignoredReleases: Set[String] = Set(
    "devel", "dapper", "edgy", "feisty", "gutsy", "hardy", "intrepid",
    "jaunty", "karmic", "lucid", "maverick", "natty", "oneiric", "saucy",
    "vivid/ubuntu-core", "vivid/stable-phone-overlay", "Patches", "product")

  private val affectsRe =
    """(.*)_(.*): ([^\s]*)( \(+([^()]*)\)+)?""".r

  private val cveUrl = "http://people.ubuntu.com/~ubuntu-security/cve/%s"
  private val trackerUri = "https://launchpad.net/ubuntu-cve-tracker"

  val kernelCalibration: Map[String, (String, String)] = Map(
    "CVE-2018-1087" -> ("", "4.17"),
    "CVE-2017-1000405" -> ("", "4.14"),
    "CVE-2017-17712" -> ("", "4.14.6"),
    "CVE-2017-16996" -> ("", "4.14.8"),
    "CVE-2017-16995" -> ("", "4.14.8"))

  def severityOf(priority: String): String = priority match {
    case "untriaged"  => "Unknown"
    case "negligible" => "Negligible"
    case "low"        => "Low"
    case "medium"     => "Medium"
    case "high"       => "High"
    case "critical"   => "Critical"
    case _            => "Unknown"
  }

  /** Parse one tracker file (pure; ubuntu.go:284-416). */
  def parseFile(content: String): Vulnerability = {
    var name = ""
    var link = ""
    var severity = ""
    var feedRating = ""
    var description = ""
    var readingDescription = false
    val fixedIn = scala.collection.mutable.ArrayBuffer.empty[FeatureVersion]

    for (rawLine <- content.linesIterator) {
      val line = rawLine.trim
      if (line.startsWith("#")) ()
      else if (line.startsWith("Candidate:")) {
        name = line.stripPrefix("Candidate:").trim
        link = cveUrl.format(name)
      } else if (line.startsWith("Priority:")) {
        // handled before the description state check, exactly as the
        // reference dispatches — a Priority line inside a description
        // sets severity without terminating the description
        var p = line.stripPrefix("Priority:").trim
        if (p.contains(" ")) p = p.substring(0, p.indexOf(' '))
        severity = severityOf(p)
        feedRating = p
      } else if (line.startsWith("Description:")) {
        readingDescription = true
        description = line.stripPrefix("Description:").trim
      } else {
        var continueLine = false
        if (readingDescription) {
          if (line.startsWith("Ubuntu-Description:") || line.startsWith("Notes:") ||
              line.startsWith("Bugs:") ||
              line.startsWith("Discovered-by:") || line.startsWith("Assigned-to:")) {
            readingDescription = false
          } else {
            description = description + " " + line
            continueLine = true
          }
        }
        if (!continueLine) line match {
          case affectsRe(release, pkg, status, _, note) =>
            val rel = release.trim
            val pk = pkg.trim
            val st = status.trim
            val nt = Option(note).map(_.trim).getOrElse("")
            val statusOk = Set("needed", "active", "deferred", "released", "not-affected")(st)
            if (statusOk && !ignoredReleases(rel) && Model.ubuntuReleases.contains(rel)) {
              val version: String =
                if (st == "released") {
                  if (nt.nonEmpty && !nt.contains(","))
                    PkgVersion.parse(nt).toOption.map(_.render).getOrElse("")
                  else ""
                } else if (st == "not-affected") PkgVersion.MinSentinel
                else PkgVersion.MaxSentinel
              if (version.nonEmpty)
                fixedIn += FeatureVersion(pk, "ubuntu:" + Model.ubuntuReleases(rel), version, "")
            }
          case _ =>
        }
      }
    }

    Vulnerability(
      name = name, namespace = "",
      description = description.trim,
      link = if (link.isEmpty) trackerUri else link,
      severity = if (severity.isEmpty) "Unknown" else severity,
      cvssV2Score = 0.0, cvssV2Vectors = "", cvssV3Score = 0.0, cvssV3Vectors = "",
      issuedDate = null, lastModDate = null,
      cves = Nil, fixedIn = fixedIn.toSeq, cpes = Nil, feedRating = feedRating)
  }

  /** Upstream calibration (ubuntu.go:450-475). */
  def upstreamCalibration(v: Vulnerability): Vulnerability = {
    val newFix = v.fixedIn.flatMap { fx =>
      if (!fx.featureNamespace.contains("upstream")) Some(fx)
      else if (fx.featureName == "openssl") None
      else if (fx.version.contains("ubuntu")) None
      else kernelCalibration.get(v.name) match {
        case Some((n, ver)) if n.isEmpty || n == fx.featureName =>
          Some(fx.copy(version = PkgVersion.parse(ver).toOption.map(_.render).getOrElse(fx.version)))
        case _ => Some(fx)
      }
    }
    v.copy(fixedIn = newFix)
  }

  /** Load a tracker checkout's active/ + retired/ folders.
    * `keepCves` mirrors CvesIncludeGoVuln: names kept even without
    * features (the govuln severity-calibration dependency, J6).
    *
    * Reads the two directories with a `CVE-*` name filter, not per-file
    * globs: a glob expands to one root path per tracker file, and above
    * Spark's 32-root-path threshold that lists the files in a parallel
    * job with one task per file. Two directory roots list on the driver
    * with no job. A missing folder fails as it always has.
    *
    * The files are read whole through the `binaryFile` source, with
    * their bytes cast to a UTF-8 string: the `text` source's `wholetext`
    * reader builds a new Hadoop `JobConf` (a copy of the whole
    * configuration) for every file, a fixed cost that hundreds of small
    * tracker files pay hundreds of times. Both give the same string for
    * the same bytes. The single-file feeds keep `text`, which decompresses
    * `.gz` files where `binaryFile` would return the compressed bytes. */
  def load(spark: SparkSession, repoDir: String, keepCves: Set[String] = Set.empty): Dataset[Vulnerability] = {
    import spark.implicits._
    val keep = spark.sparkContext.broadcast(keepCves)
    spark.read.format("binaryFile").option("pathGlobFilter", "CVE-*")
      .load(s"$repoDir/active", s"$repoDir/retired")
      .select(col("path"), col("content").cast("string"))
      .as[(String, String)]
      .filter { case (f, _) =>
        val base = f.substring(f.lastIndexOf('/') + 1)
        base.startsWith("CVE-") && Model.cveYear(base.substring(4)) >= Model.firstYear
      }
      .map { case (_, content) => upstreamCalibration(parseFile(content)) }
      .filter(v => v.fixedIn.nonEmpty || keep.value.contains(v.name))
      .filter(!VulFunctions.isWithdrawn(col("description")))
  }
}
