package graft.sources

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{AppModuleVul, OpVersion, Records}

/** The small app-feed adapters: Kubernetes official feed (S19), manual
  * JSON-lines DBs (S21), OpenShift static records (S20), and the
  * apps_calibration lookup (S23). */
object AppSources {

  // ---- S19: kubernetes feed (k8s.go:32-82) ----------------------------

  private val k8sSchema = StructType(Seq(
    StructField("items", ArrayType(StructType(Seq(
      StructField("id", StringType),
      StructField("url", StringType),
      StructField("summary", StringType)))))))

  /** Id/url/summary-only rows; everything else comes from NVD later. */
  def k8s(spark: SparkSession, path: String): Dataset[AppModuleVul] = {
    import spark.implicits._
    spark.read.schema(k8sSchema).option("multiLine", true).json(path)
      .select(explode(col("items")).as("i"))
      .select(Records.withDefaults[AppModuleVul](
        "vulName" -> col("i.id"),
        "appName" -> lit("kubernetes"),
        "moduleName" -> lit("kubernetes"),
        "description" -> coalesce(col("i.summary"), lit("")),
        "link" -> coalesce(col("i.url"), lit("")),
        "cves" -> array(col("i.id"))): _*)
      .as[AppModuleVul]
  }

  // ---- S21: manual .db JSON-lines (manual.go:43-72) --------------------

  private val manualSchema = StructType(Seq(
    StructField("VN", StringType), StructField("AN", StringType),
    StructField("MN", StringType),
    StructField("IP", ArrayType(StringType)),
    StructField("SYM", ArrayType(StringType)),
    StructField("D", StringType), StructField("L", StringType),
    StructField("SC", DoubleType), StructField("VV2", StringType),
    StructField("SC3", DoubleType), StructField("VV3", StringType),
    StructField("SE", StringType),
    StructField("AV", ArrayType(StructType(Seq(
      StructField("O", StringType), StructField("V", StringType))))),
    StructField("FV", ArrayType(StructType(Seq(
      StructField("O", StringType), StructField("V", StringType))))),
    StructField("UV", ArrayType(StructType(Seq(
      StructField("O", StringType), StructField("V", StringType)))))))

  /** JSON-lines of AppModuleVul in the reference's Go tag names. */
  def manual(spark: SparkSession, path: String): Dataset[AppModuleVul] = {
    import spark.implicits._
    // a field the line leaves out is unset
    def tag(field: String, t: String) =
      field -> coalesce(col(t), Records.unset[AppModuleVul](field))
    def ops(field: String, t: String) = field -> coalesce(
      expr(s"transform($t, x -> struct(coalesce(x.O, '') AS opCode, coalesce(x.V, '') AS version))"),
      Records.unset[AppModuleVul](field))
    spark.read.schema(manualSchema).json(path)
      .filter(col("VN").isNotNull)
      .select(Records.withDefaults[AppModuleVul](
        "vulName" -> col("VN"),
        tag("appName", "AN"), tag("moduleName", "MN"),
        tag("importPaths", "IP"), tag("symbols", "SYM"),
        tag("description", "D"), tag("link", "L"),
        tag("score", "SC"), tag("vectors", "VV2"),
        tag("scoreV3", "SC3"), tag("vectorsV3", "VV3"),
        tag("severity", "SE"),
        ops("affectedVer", "AV"), ops("fixedVer", "FV"), ops("unaffectedVer", "UV"),
        "cves" -> array(col("VN"))): _*)
      .as[AppModuleVul]
  }

  // ---- S20: OpenShift static advisories (openshift.go:8-135) -----------

  /** The five hand-maintained OpenShift/Kubernetes records. Version
    * data from the public Red Hat advisories the reference encodes. */
  def openshift(spark: SparkSession): Dataset[AppModuleVul] = {
    import spark.implicits._
    def mv(pairs: (String, String)*): Seq[OpVersion] =
      pairs.map { case (o, v) => OpVersion(o, v) }
    def rec(vul: String, module: String, desc: String, link: String,
        score: Double, sev: String, av: Seq[OpVersion], fv: Seq[OpVersion]) =
      AppModuleVul(vul, "openshift.kubernetes", module, Nil, Nil, desc, link,
        score, "", 0.0, "", sev, av, fv, Nil, null, null, Seq(vul))

    val records = Seq(
      rec("CVE-2018-1002105", "openshift.kubernetes",
        "A flaw has been detected in kubernetes which allows privilege escalation and access to sensitive information in OpenShift products and services.",
        "https://access.redhat.com/security/vulnerabilities/3716411", 9.8, "Critical",
        mv("lt" -> "3.2.1.34-2,3.2", "orlt" -> "3.11.43-1,3.11", "orlt" -> "3.10.72-1,3.10",
          "orlt" -> "3.9.51-1,3.9", "orlt" -> "3.8.44-1,3.8", "orlt" -> "3.7.72-1,3.7",
          "orlt" -> "3.6.173.0.140-1,3.6", "orlt" -> "3.5.5.31.80-1,3.5",
          "orlt" -> "3.4.1.44.57-1,3.4", "orlt" -> "3.3.1.46.45-1,3.3"),
        mv("gteq" -> "3.2.1.34-2,3.2", "orgteq" -> "3.11.43-1,3.11", "orgteq" -> "3.10.72-1,3.10",
          "orgteq" -> "3.9.51-1,3.9", "orgteq" -> "3.8.44-1,3.8", "orgteq" -> "3.7.72-1,3.7",
          "orgteq" -> "3.6.173.0.140-1,3.6", "orgteq" -> "3.5.5.31.80-1,3.5",
          "orgteq" -> "3.4.1.44.57-1,3.4", "orgteq" -> "3.3.1.46.45-1,3.3")),
      rec("CVE-2019-1002101", "openshift.kubernetes",
        "A flaw was found in Kubernetes via the mishandling of symlinks when copying files from a running container.",
        "https://access.redhat.com/security/cve/cve-2019-1002101", 5.3, "Medium",
        mv("lt" -> "3.11.99,3.11", "orlt" -> "3.10.99,3.10", "orlt" -> "3.9.99,3.9"), Nil),
      rec("CVE-2021-25735", "openshift.kubernetes",
        "A security issue was discovered in kube-apiserver that could allow node updates to bypass a Validating Admission Webhook.",
        "https://access.redhat.com/security/cve/cve-2021-25735", 6.5, "Medium",
        mv("lt" -> "1.18.18,1.18", "orlt" -> "1.19.10,1.19", "orlt" -> "1.20.6,1.20"),
        mv("gteq" -> "1.18.18,1.18", "orgteq" -> "1.19.10,1.19", "orgteq" -> "1.20.6,1.20")),
      rec("CVE-2021-25741", "openshift.kubernetes",
        "A security issue was discovered in Kubernetes where a user may be able to create a container with subpath volume mounts to access files & directories outside of the volume, including on the host filesystem.",
        "https://access.redhat.com/security/cve/cve-2021-25741", 8.8, "High",
        mv("lt" -> "1.19.16,1.19", "orlt" -> "1.20.11,1.20", "orlt" -> "1.21.5,1.21", "orlt" -> "1.22.2,1.22"),
        mv("gteq" -> "1.19.16,1.19", "orgteq" -> "1.20.11,1.20", "orgteq" -> "1.21.5,1.21", "orgteq" -> "1.22.2,1.22")),
      rec("CVE-2020-8554", "kubernetes",
        "A security issue was discovered in Kubernetes where a user may be able to intercept traffic from other pods or nodes in a multi-tenant cluster via External IP services.",
        "https://access.redhat.com/security/cve/cve-2020-8554", 6.3, "Medium",
        mv("lt" -> "1.21.0,1.21"), Nil))
    records.toDS()
  }

  // ---- S23: apps_calibration lookup (apps.go:98-119) -------------------

  /** `CVE-xxxx-yyyy:{"O":"op","V":"ver"}` lines -> (cve, ranges). */
  def calibration(spark: SparkSession, path: String): Dataset[(String, Seq[OpVersion])] = {
    import spark.implicits._
    spark.read.text(path)
      .select(col("value"))
      .filter(instr(col("value"), ":") > 0)
      .select(
        expr("substring(value, 1, instr(value, ':') - 1)").as("cve"),
        from_json(expr("substring(value, instr(value, ':') + 1)"),
          StructType(Seq(StructField("O", StringType), StructField("V", StringType)))).as("m"))
      .filter(col("m").isNotNull && col("m.O").isNotNull)
      .groupBy("cve")
      .agg(collect_list(struct(col("m.O").as("opCode"), col("m.V").as("version"))).as("ranges"))
      .as[(String, Seq[OpVersion])]
  }
}
