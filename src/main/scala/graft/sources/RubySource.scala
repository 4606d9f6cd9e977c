package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions.col

import graft.core.{AppModuleVul, OpVersion}
import graft.core.RecordEncoders._

/** S16 — Ruby advisory DB YAML files (reference
  * updater/fetchers/apps/ruby.go; FIXTURES.md §10).
  *
  * Semantics reproduced (apps_test.go pins the affected-version
  * conversion):
  *  - gems/NAME/CVE.yml tree, one advisory per file;
  *  - four range grammars ver1-ver4 (ruby.go:256-305): `~> a, >= b`
  *    keeps b with a two-segment prefix of a; `op a, op b` pairs;
  *    `~> a` keeps a two-segment (or len-1) prefix; `op a` direct;
  *  - version lists sorted by their symbol-trimmed text before opcode
  *    chaining; element index > 0 prepends `or`;
  *  - affectedVer generated from patched_versions with REVERSED ops
  *    (documented upstream as known-incorrect and unused by scanners —
  *    mirrored for parity);
  *  - records with neither patched nor unaffected versions dropped;
  *  - the reference's post-append `or`-prefix on unaffected chains
  *    mutates a stale slice (no-op) — mirrored by not applying it.
  */
object RubySource {

  private val ver1 = """~> ([0-9a-zA-Z.]+), >= ([0-9a-zA-Z.]+)""".r.unanchored
  private val ver2 = """([<>=]+) ([0-9a-zA-Z.]+), ([<>=]+) ([0-9a-zA-Z.]+)""".r.unanchored
  private val ver3 = """~> ([0-9a-zA-Z.]+)""".r.unanchored
  private val ver4 = """([<>=]+) ([0-9a-zA-Z.]+)""".r.unanchored

  def op(o: String, rev: Boolean): String = o match {
    case ">=" => if (rev) "lt" else "gteq"
    case ">"  => if (rev) "lteq" else "gt"
    case "<=" => if (rev) "gt" else "lteq"
    case "<"  => if (rev) "gteq" else "lt"
    case _    => "eq"
  }

  private def twoSegPrefix(v: String): String = {
    val s = v.split("\\.")
    if (s.length <= 2) s.dropRight(1).mkString(".") else s.take(2).mkString(".")
  }

  def parseRubyVersion(i: Int, pv: String, rev: Boolean): Option[Seq[OpVersion]] = {
    val orPrefix = if (i > 0) "or" else ""
    pv match {
      case ver1(a, b) =>
        val prefix = { val s = a.split("\\."); if (s.length <= 2) a else s.take(2).mkString(".") }
        Some(Seq(OpVersion(orPrefix + op(">=", rev), s"$b,$prefix")))
      case ver2(o1, v1, o2, v2) =>
        Some(Seq(OpVersion(orPrefix + op(o1, rev), v1), OpVersion(op(o2, rev), v2)))
      case ver3(a) =>
        Some(Seq(OpVersion(orPrefix + op(">=", rev), s"$a,${twoSegPrefix(a)}")))
      case ver4(o, v) =>
        Some(Seq(OpVersion(orPrefix + op(o, rev), v)))
      case _ => None
    }
  }

  /** Sort by symbol-trimmed text (ruby.go:180-197). */
  def sortVersions(vs: Seq[String]): Seq[String] =
    vs.sortBy(_.dropWhile(c => !c.isLetterOrDigit))

  def generateAffectedVer(patched: Seq[String]): Seq[OpVersion] =
    patched.zipWithIndex.flatMap { case (pv, i) => parseRubyVersion(i, pv, rev = true) }.flatten

  /** One YAML advisory -> record (None when droppable). */
  def parseYaml(text: String): Option[AppModuleVul] = {
    val yaml = new org.yaml.snakeyaml.Yaml()
    val m = try yaml.load[java.util.Map[String, Object]](text)
      catch { case _: Exception => return None }
    if (m == null) return None
    def str(k: String): String = m.get(k) match { case s: String => s; case _ => "" }
    def dbl(k: String): Double = m.get(k) match {
      case d: java.lang.Double => d
      case i: java.lang.Integer => i.doubleValue
      case _ => 0.0
    }
    def list(k: String): Seq[String] = m.get(k) match {
      case l: java.util.List[_] => l.asScala.collect { case s: String => s }.toSeq
      case _ => Nil
    }
    val gem = str("gem")
    val cve = if (m.containsKey("cve") && str("cve").nonEmpty) "CVE-" + str("cve") else ""
    val patched = sortVersions(list("patched_versions"))
    val unaffected = sortVersions(list("unaffected_versions"))
    if (patched.isEmpty && unaffected.isEmpty) return None

    val fixed = patched.zipWithIndex.flatMap { case (pv, i) =>
      parseRubyVersion(i, pv, rev = false) }.flatten
    val unaff = unaffected.zipWithIndex.flatMap { case (pv, i) =>
      parseRubyVersion(i, pv, rev = false) }.flatten

    Some(AppModuleVul(
      vulName = cve, appName = "ruby", moduleName = "ruby:" + gem,
      importPaths = Nil, symbols = Nil,
      description = str("title") + "/n" + str("description"),
      link = str("url"),
      score = dbl("cvss_v2"), vectors = "", scoreV3 = dbl("cvss_v3"), vectorsV3 = "",
      severity = "",
      affectedVer = generateAffectedVer(patched),
      fixedVer = fixed, unaffectedVer = unaff,
      issuedDate = null, lastModDate = null,
      cves = if (cve.nonEmpty) Seq(cve) else Nil))
  }

  /** Load the gems advisory tree (one yml per advisory under
    * `gemsDir/<gem>/`). One recursive read of `gemsDir` with a `*.yml`
    * name filter, not a per-file glob: the glob gives one root path per
    * advisory, and above 32 root paths Spark lists them in a job with a
    * task per file. The recursive read lists on the driver up to 32 gem
    * directories, and above that in one job with a task per directory.
    *
    * Advisories are read whole through the `binaryFile` source and cast
    * to a UTF-8 string, as `UbuntuSource.load` reads its tracker files:
    * the `text` source's `wholetext` reader copies the whole Hadoop
    * configuration for every file. The single-file feeds keep `text`,
    * which decompresses `.gz` files and `binaryFile` does not. */
  def load(spark: SparkSession, gemsDir: String): Dataset[AppModuleVul] = {
    import spark.implicits._
    spark.read.format("binaryFile").option("recursiveFileLookup", true)
      .option("pathGlobFilter", "*.yml").load(gemsDir)
      .select(col("content").cast("string"))
      .as[String]
      .flatMap(parseYaml _)
  }
}
