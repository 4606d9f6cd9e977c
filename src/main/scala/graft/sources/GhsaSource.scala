package graft.sources

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{AppModuleVul, OpVersion, RangeExpr}
import graft.core.RecordEncoders._

/** S14 — GHSA NDJSON dumps, one of six ecosystems per file
  * (reference updater/fetchers/apps/ghsa.go:66-200; FIXTURES.md §6).
  *
  * Semantics reproduced:
  *  - vuln name = first CVE identifier, else GHSA id, else first CWE id;
  *  - module name = ecosystem prefix + package name (lowercased for php);
  *  - `.jreN` version-suffix cleanup before range parsing;
  *  - multi-line merge per (vulName, module) in FILE LINE ORDER (A4):
  *    the first line with a KNOWN severity creates the record (earlier
  *    unknown-severity lines are dropped), later lines append their
  *    fixed versions and their `or`-chained affected ranges (an
  *    affected range whose first opcode is empty is not appended);
  *  - severity map critical/high/moderate/low; CVSS vector routed to
  *    v3 or v2 by its `CVSS:3` prefix;
  *  - a final FixedVer of exactly [0.0.0] means "no fixed version".
  *
  * Spark shape: native line-JSON read; per-file line order recovered
  * via zipWithIndex (split order follows file byte order); merge is a
  * groupByKey over (vulName, module) — the same one-shuffle shape the
  * hash-map merge implies, but deterministic.
  */
object GhsaSource {

  val schema: StructType = StructType.fromDDL(
    """id STRING,
       package STRUCT<ecosystem: STRING, name: STRING>,
       advisory STRUCT<ghsaId: STRING, severity: STRING, summary: STRING,
         description: STRING, publishedAt: STRING, updatedAt: STRING,
         permalink: STRING,
         cvss: STRUCT<vectorString: STRING, score: DOUBLE>,
         identifiers: ARRAY<STRUCT<type: STRING, value: STRING>>,
         cwes: STRUCT<nodes: ARRAY<STRUCT<cweid: STRING>>>>,
       vulnerableVersionRange STRING,
       firstPatchedVersion STRUCT<identifier: STRING>""")

  private val jreSuffix = "\\.jre\\d+".r

  private def cleanupVersion(v: String): String =
    if (v == null) "" else jreSuffix.replaceAllIn(v, "")

  private def sevMap(s: String): String = Option(s).map(_.toLowerCase) match {
    case Some("critical") => "Critical"
    case Some("high")     => "High"
    case Some("moderate") => "Medium"
    case Some("low")      => "Low"
    case _                => ""
  }

  private def parseTs(s: String): Timestamp =
    if (s == null || s.isEmpty) null
    else try Timestamp.from(java.time.Instant.parse(s))
    catch { case _: Exception => null }

  /** One ecosystem file -> merged AppModuleVul records.
    * app/prefix/lowercase per ghsaUpdate (ghsa.go:66-75). */
  def load(spark: SparkSession, path: String, app: String,
      prefix: String = "", lowercase: Boolean = false): Dataset[AppModuleVul] = {
    import spark.implicits._

    val raw = spark.read.schema(schema).json(path)
    val indexed = raw.rdd.zipWithIndex.map { case (row, idx) => (idx, row) }

    val parsed: Dataset[(String, Long, AppModuleVul, Boolean)] = spark.createDataset(
      indexed.map { case (idx, r) =>
        val adv = r.getAs[Row]("advisory")
        val pkg = r.getAs[Row]("package")
        val ids = Option(adv.getAs[scala.collection.Seq[Row]]("identifiers")).getOrElse(scala.collection.Seq.empty[Row])
        val cves = ids.filter(_.getAs[String]("type") == "CVE").map(_.getAs[String]("value")).toSeq
        val ghsaId = Option(adv.getAs[String]("ghsaId")).getOrElse("")
        val vulName =
          if (cves.nonEmpty) cves.head
          else if (ghsaId.isEmpty)
            Option(adv.getAs[Row]("cwes")).flatMap(c => Option(c.getAs[scala.collection.Seq[Row]]("nodes")))
              .flatMap(_.headOption).map(_.getAs[String]("cweid")).getOrElse("")
          else ghsaId
        var moduleName = prefix + Option(pkg.getAs[String]("name")).getOrElse("")
        if (lowercase) moduleName = moduleName.toLowerCase
        val affected = RangeExpr.parseRangeExpr(cleanupVersion(r.getAs[String]("vulnerableVersionRange")))
        val fixedRaw = Option(r.getAs[Row]("firstPatchedVersion"))
          .map(_.getAs[String]("identifier")).orNull
        val fixed = RangeExpr.parseRangeExpr(cleanupVersion(fixedRaw))
        val cvss = Option(adv.getAs[Row]("cvss"))
        val vectors = cvss.map(_.getAs[String]("vectorString")).filter(_ != null).getOrElse("")
        val score = cvss.map(c => Option(c.get(c.fieldIndex("score"))).map(_.asInstanceOf[Double]).getOrElse(0.0)).getOrElse(0.0)
        val (v2v, v2s, v3v, v3s) =
          if (vectors.nonEmpty && vectors.startsWith("CVSS:3")) ("", 0.0, vectors, score)
          else if (vectors.nonEmpty) (vectors, score, "", 0.0)
          else ("", 0.0, "", 0.0)
        val sev = sevMap(adv.getAs[String]("severity"))
        val vul = AppModuleVul(
          vulName = vulName, appName = app, moduleName = moduleName,
          importPaths = Nil, symbols = Nil,
          description = s"${Option(adv.getAs[String]("summary")).getOrElse("")}\n${Option(adv.getAs[String]("description")).getOrElse("")}\n",
          link = Option(adv.getAs[String]("permalink")).getOrElse(""),
          score = v2s, vectors = v2v, scoreV3 = v3s, vectorsV3 = v3v,
          severity = sev, affectedVer = affected, fixedVer = fixed,
          unaffectedVer = Nil,
          issuedDate = parseTs(adv.getAs[String]("publishedAt")),
          lastModDate = parseTs(adv.getAs[String]("updatedAt")),
          cves = cves)
        (s"$vulName-$moduleName", idx, vul, sev.nonEmpty)
      })

    parsed.groupByKey(_._1).flatMapGroups { (_, it) =>
      val rows = it.toSeq.sortBy(_._2)
      // creator = first line with a known severity
      rows.indexWhere(_._4) match {
        case -1 => Iterator.empty
        case ci =>
          val creator = rows(ci)._3
          val rest = rows.drop(ci + 1).map(_._3)
          val extraAffected = rest.flatMap { m =>
            if (m.affectedVer.nonEmpty && m.affectedVer.head.opCode != "")
              m.affectedVer.updated(0,
                OpVersion("or" + m.affectedVer.head.opCode, m.affectedVer.head.version))
            else Nil
          }
          val fixedAll = creator.fixedVer ++ rest.flatMap(_.fixedVer)
          val fixed = if (fixedAll.length == 1 && fixedAll.head.version == "0.0.0") Nil else fixedAll
          Iterator.single(creator.copy(
            affectedVer = creator.affectedVer ++ extraAffected,
            fixedVer = fixed))
      }
    }
  }
}
