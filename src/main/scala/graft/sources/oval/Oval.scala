package graft.sources.oval

import scala.xml.{Elem, Node, XML}

/** Shared OVAL XML model + criteria-tree expansion (SURVEY G1).
  * Reference parsers: rhel.go:47-99 (shape), rhel.go:511-584 /
  * oracle.go:343-416 (possibilities). The expansion is the reference's
  * algorithm re-stated: leaf criterions filtered by an ignore list;
  * OR = union of child possibility lists; AND = cartesian product.
  * Used inside per-file flatMap parsers — a pure function, no Spark
  * types here. */
object Oval {

  final case class Criterion(comment: String, testRef: String)
  final case class Criteria(operator: String, criterias: Seq[Criteria], criterions: Seq[Criterion])
  final case class CveRef(id: String, cvss2: String, cvss3: String, impact: String)
  final case class Reference(source: String, id: String, uri: String)
  final case class Definition(
    klass: String, title: String, description: String,
    references: Seq[Reference], severity: String,
    issued: String, updated: String, cves: Seq[CveRef], cpes: Seq[String],
    criteria: Criteria)

  def parseCriteria(n: Node): Criteria = Criteria(
    operator = (n \@ "operator"),
    criterias = (n \ "criteria").map(parseCriteria),
    criterions = (n \ "criterion").map(c => Criterion(c \@ "comment", c \@ "test_ref")))

  def parseDefinitions(xmlText: String): Seq[Definition] = {
    val trimmed = xmlText.dropWhile(_.isWhitespace)
    // HTML-instead-of-XML guard (oracle.go:188-201)
    if (trimmed.startsWith("<!DOCTYPE html") || trimmed.startsWith("<html")) return Nil
    val root: Elem =
      try XML.loadString(xmlText)
      catch {
        case _: Exception if trimmed.toLowerCase.contains("<html") || trimmed.toLowerCase.contains("<body") => return Nil
      }
    (root \ "definitions" \ "definition").map(definition)
  }

  /** One `<definition>` node -> Definition. */
  def definition(d: Node): Definition =
    Definition(
      klass = d \@ "class",
      title = (d \ "metadata" \ "title").text,
      description = (d \ "metadata" \ "description").text,
      references = (d \ "metadata" \ "reference").map(r =>
        Reference(r \@ "source", r \@ "ref_id", r \@ "ref_url")),
      severity = (d \ "metadata" \ "advisory" \ "severity").text,
      issued = (d \ "metadata" \ "advisory" \ "issued").map(_ \@ "date").headOption.getOrElse(""),
      updated = (d \ "metadata" \ "advisory" \ "updated").map(_ \@ "date").headOption.getOrElse(""),
      cves = (d \ "metadata" \ "advisory" \ "cve").map(c =>
        CveRef(c.text, c \@ "cvss2", c \@ "cvss3", c \@ "impact")),
      cpes = (d \ "metadata" \ "advisory" \ "affected_cpe_list" \ "cpe").map(_.text),
      criteria = (d \ "criteria").headOption.map(parseCriteria)
        .getOrElse(Criteria("", Nil, Nil)))

  /** Leaf handling: drop ignored criterions, then OR -> one possibility
    * per criterion, AND -> one possibility holding all. */
  def criterionGroups(node: Criteria, ignored: Seq[String]): Seq[Seq[Criterion]] = {
    val kept = node.criterions.filterNot(c => ignored.exists(c.comment.contains))
    node.operator match {
      case "AND" => Seq(kept)
      case "OR"  => kept.map(Seq(_))
      case _     => Nil
    }
  }

  /** Recursive possibilities: OR = concat, AND = cartesian product
    * (the reference composes child groups pairwise; identical result). */
  def possibilities(node: Criteria, ignored: Seq[String]): Seq[Seq[Criterion]] = {
    if (node.criterias.isEmpty) return criterionGroups(node, ignored)
    val groups: Seq[Seq[Seq[Criterion]]] =
      node.criterias.map(c => possibilities(c, ignored)) ++
        (if (node.criterions.nonEmpty) Seq(criterionGroups(node, ignored)) else Nil)
    node.operator match {
      case "AND" =>
        groups.tail.foldLeft(groups.head) { (acc, group) =>
          for (p <- acc; g <- group) yield p ++ g
        }
      case "OR" => groups.flatten
      case _ => Nil
    }
  }

  /** `2006-01-02`-layout date -> nullable Timestamp. */
  def parseDate(s: String): java.sql.Timestamp =
    try java.sql.Timestamp.valueOf(java.time.LocalDate.parse(s).atStartOfDay())
    catch { case _: Exception => null }

  /** Newline squeeze applied to descriptions (rhel.go:667-673). */
  def squeeze(desc: String): String =
    desc.replace("\n\n\n", " ").replace("\n\n", " ").replace("\n", " ")

  /** `TITLE: rest` -> TITLE (advisory id). */
  def titleName(title: String): String = {
    val i = title.indexOf(": ")
    if (i > 0) title.substring(0, i).trim else ""
  }

  def cveName(refs: Seq[Reference]): String =
    refs.find(_.source == "CVE").map(_.id).getOrElse("")

  def refLink(refs: Seq[Reference], source: String): String =
    refs.find(_.source == source).map(_.uri).getOrElse("")

  /** low/moderate/important/critical -> Priority (rhel.go:737-751). */
  def severityOf(s: String): String = s.toLowerCase match {
    case "low"       => "Low"
    case "moderate"  => "Medium"
    case "important" => "High"
    case "critical"  => "Critical"
    case _           => "Unknown"
  }
}
