package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.NvdMetadata
import graft.core.RecordEncoders._

/** S13 — the NVD 2.0 JSON corpus, the enrichment dimension table
  * (reference updater/nvd/nvd.go:226-322; field shapes FIXTURES.md §13).
  *
  * Field-precedence rules reproduced:
  *  - CVSS v3.1 preferred over v3.0, and only when baseScore != 0;
  *  - v2 severity used only when no v3 metric set one;
  *  - two date layouts (with/without seconds) coalesced;
  *  - only configurations[0]'s OR nodes contribute vulnerable ranges;
  *  - `microsoft:visual_studio_` CPEs excluded;
  *  - link = https://cve.mitre.org/... + id.
  *
  * Spark shape: schema-first multiLine json read -> one projection;
  * at scale the feed is one json file per year, read in parallel.
  */
object NvdSource {

  private val cvssData = StructType(Seq(
    StructField("vectorString", StringType),
    StructField("baseScore", DoubleType),
    StructField("baseSeverity", StringType)))

  private val metric = StructType(Seq(
    StructField("cvssData", cvssData),
    StructField("baseSeverity", StringType)))

  private val cpeMatch = StructType(Seq(
    StructField("criteria", StringType),
    StructField("vulnerable", BooleanType),
    StructField("versionStartIncluding", StringType),
    StructField("versionStartExcluding", StringType),
    StructField("versionEndIncluding", StringType),
    StructField("versionEndExcluding", StringType)))

  private val node = StructType(Seq(
    StructField("operator", StringType),
    StructField("cpeMatch", ArrayType(cpeMatch))))

  private val cveStruct = StructType(Seq(
    StructField("id", StringType),
    StructField("published", StringType),
    StructField("lastModified", StringType),
    StructField("descriptions", ArrayType(StructType(Seq(
      StructField("lang", StringType), StructField("value", StringType))))),
    StructField("metrics", StructType(Seq(
      StructField("cvssMetricV31", ArrayType(metric)),
      StructField("cvssMetricV30", ArrayType(metric)),
      StructField("cvssMetricV2", ArrayType(metric))))),
    StructField("configurations", ArrayType(StructType(Seq(
      StructField("nodes", ArrayType(node))))))))

  val schema: StructType = StructType(Seq(
    StructField("vulnerabilities", ArrayType(StructType(Seq(
      StructField("cve", cveStruct)))))))

  private val linkPrefix = "https://cve.mitre.org/cgi-bin/cvename.cgi?name="

  def load(spark: SparkSession, path: String): Dataset[NvdMetadata] =
    parse(spark.read.schema(schema).option("multiLine", true).json(path))(spark)

  def parse(raw: DataFrame)(implicit spark: SparkSession): Dataset[NvdMetadata] = {
    import spark.implicits._

    def ts(c: org.apache.spark.sql.Column) = coalesce(
      try_to_timestamp(c, lit("yyyy-MM-dd'T'HH:mm:ss")),
      try_to_timestamp(c, lit("yyyy-MM-dd'T'HH:mm")))

    raw.select(explode(col("vulnerabilities")).as("v"))
      .select(col("v.cve.*"))
      .filter(col("id").isNotNull && col("id") =!= "")
      .withColumn("m31", try_element_at(col("metrics.cvssMetricV31"), lit(1)))
      .withColumn("m30", try_element_at(col("metrics.cvssMetricV30"), lit(1)))
      .withColumn("m2", try_element_at(col("metrics.cvssMetricV2"), lit(1)))
      .withColumn("v3",
        when(col("m31.cvssData.baseScore").isNotNull && col("m31.cvssData.baseScore") =!= 0.0, col("m31"))
          .when(col("m30.cvssData.baseScore").isNotNull && col("m30.cvssData.baseScore") =!= 0.0, col("m30")))
      .withColumn("v3sev",
        when(upper(col("v3.cvssData.baseSeverity")).isin("LOW", "MEDIUM", "HIGH", "CRITICAL"),
          initcap(col("v3.cvssData.baseSeverity"))))
      .withColumn("v2ok", col("m2.cvssData.baseScore").isNotNull && col("m2.cvssData.baseScore") =!= 0.0)
      .withColumn("v2sev",
        when(col("v2ok") && upper(col("m2.baseSeverity")).isin("LOW", "MEDIUM", "HIGH", "CRITICAL"),
          initcap(col("m2.baseSeverity"))))
      .select(
        col("id").as("cve"),
        coalesce(try_element_at(expr("filter(descriptions, d -> d.lang = 'en')"), lit(1))("value"),
          try_element_at(col("descriptions"), lit(1))("value"), lit("")).as("description"),
        coalesce(col("v3sev"), col("v2sev"), lit("")).as("severity"),
        coalesce(when(col("v2ok"), col("m2.cvssData.baseScore")), lit(0.0)).as("cvssV2Score"),
        coalesce(when(col("v2ok"), col("m2.cvssData.vectorString")), lit("")).as("cvssV2Vectors"),
        coalesce(col("v3.cvssData.baseScore"), lit(0.0)).as("cvssV3Score"),
        coalesce(col("v3.cvssData.vectorString"), lit("")).as("cvssV3Vectors"),
        ts(col("published")).as("publishedDate"),
        ts(col("lastModified")).as("lastModifiedDate"),
        concat(lit(linkPrefix), col("id")).as("link"),
        expr(
          """transform(
               filter(
                 flatten(transform(
                   filter(try_element_at(configurations, 1).nodes, nd -> nd.operator = 'OR'),
                   nd -> nd.cpeMatch)),
                 m -> m.vulnerable
                      AND NOT contains(m.criteria, 'microsoft:visual_studio_')
                      AND (coalesce(m.versionStartIncluding, '') != ''
                        OR coalesce(m.versionStartExcluding, '') != ''
                        OR coalesce(m.versionEndIncluding, '') != ''
                        OR coalesce(m.versionEndExcluding, '') != '')),
               m -> struct(coalesce(m.versionStartIncluding, '') AS startIncluding,
                           coalesce(m.versionStartExcluding, '') AS startExcluding,
                           coalesce(m.versionEndIncluding, '') AS endIncluding,
                           coalesce(m.versionEndExcluding, '') AS endExcluding))""").as("vulnVersions"))
      .withColumn("vulnVersions", coalesce(col("vulnVersions"), expr(
        "CAST(array() AS array<struct<startIncluding:string,startExcluding:string,endIncluding:string,endExcluding:string>>)")))
      .as[NvdMetadata]
  }
}
