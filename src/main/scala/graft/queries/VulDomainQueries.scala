package graft.queries

import org.apache.spark.sql.functions._

import graft.functions.{VersionExpressions, VulFunctions}
import QueryDef.t

/** Vulnerability-domain operators exercised over the driver's tables:
  * dpkg version ordering (via the native version_cmp expression),
  * range-opcode evaluation, and the enrichment/coalesce pipeline shape
  * (SURVEY §2.3-§2.4). Where the domain restricts to numerics the
  * DuckDB oracle expresses the same semantics relationally; the full
  * dpkg domain (tilde, rc/pre, el-suffix) is pinned by ScalaTest
  * golden + property suites instead. */
object VulDomainQueries {

  val all: Seq[QueryDef] = Seq(

    // version_cmp on a numeric dotted subdomain — dpkg ordering
    // coincides with segment-wise numeric ordering, so the oracle can
    // state it in SQL. Exercises the native Catalyst expression.
    QueryDef("q50_version_cmp", Some("""
      SELECT CAST(sum(CASE WHEN cmp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_gt,
             CAST(sum(CASE WHEN cmp = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_lt,
             CAST(sum(CASE WHEN cmp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_eq
      FROM (SELECT CASE WHEN a.p_size > b.p_size THEN 1 WHEN a.p_size < b.p_size THEN -1
                        WHEN a.p_partkey % 10 > b.p_partkey % 10 THEN 1
                        WHEN a.p_partkey % 10 < b.p_partkey % 10 THEN -1
                        ELSE 0 END AS cmp
            FROM (SELECT * FROM part WHERE p_partkey < 200) a
            JOIN (SELECT * FROM part WHERE p_partkey < 200) b ON a.p_partkey < b.p_partkey)"""),
      (s, dir) => {
        val p = t(s, dir, "part")
          .filter(col("p_partkey") < 200)
          .select(col("p_partkey"),
            concat(col("p_size").cast("string"), lit("."),
              (col("p_partkey") % 10).cast("string")).as("ver"))
        val joined = p.as("a").join(p.as("b"), col("a.p_partkey") < col("b.p_partkey"))
          .select(VersionExpressions.version_cmp(col("a.ver"), col("b.ver")).as("cmp"))
        joined.agg(
          sum(when(col("cmp") === 1, 1).otherwise(0)).cast("bigint").as("n_gt"),
          sum(when(col("cmp") === -1, 1).otherwise(0)).cast("bigint").as("n_lt"),
          sum(when(col("cmp") === 0, 1).otherwise(0)).cast("bigint").as("n_eq"))
      }),

    // range_contains over an opcode chain — numeric subdomain oracle:
    // (>=10 AND <25) OR >=45  on p_size-as-version.
    QueryDef("q51_range_filter", Some("""
      SELECT p_brand, count(*) AS n FROM part
      WHERE (p_size >= 10 AND p_size < 25) OR p_size >= 45
      GROUP BY p_brand ORDER BY p_brand"""),
      (s, dir) => t(s, dir, "part")
        .filter(VulFunctions.range_contains(
          VulFunctions.parse_range_expr(lit(">=10 <25 || >=45")),
          col("p_size").cast("string")))
        .groupBy("p_brand").agg(count(lit(1)).as("n"))
        .orderBy("p_brand")),

    // The J1 enrichment shape end-to-end on testdata: a fact feed with
    // "missing" fields (NULLified), a dimension computed from the
    // corpus (the NVD analog, broadcast), coalesce precedence
    // feed-value > dimension-value, then severity banding + gate —
    // assignMetadata (updater.go:335-552) as one declarative plan.
    QueryDef("q52_enrich_pipeline", Some("""
      WITH dim AS (SELECT event_type, round(avg(value), 2) AS dim_score
                   FROM events GROUP BY event_type),
      feed AS (SELECT event_type, CASE WHEN value < 10 THEN NULL ELSE value END AS feed_score
               FROM events),
      enriched AS (SELECT coalesce(f.feed_score, d.dim_score) AS score
                   FROM feed f JOIN dim d ON f.event_type = d.event_type),
      banded AS (SELECT CASE WHEN score >= 90 THEN 'Critical' WHEN score >= 70 THEN 'High'
                             WHEN score >= 40 THEN 'Medium' WHEN score >= 10 THEN 'Low'
                             ELSE 'Unknown' END AS severity
                 FROM enriched)
      SELECT severity, count(*) AS n FROM banded
      WHERE severity IN ('Low', 'Medium', 'High', 'Critical')
      GROUP BY severity ORDER BY severity"""),
      (s, dir) => {
        val ev = t(s, dir, "events")
        val dim = ev.groupBy("event_type").agg(round(avg("value"), 2).as("dim_score"))
        val feed = ev.select(col("event_type"),
          when(col("value") < 10, null).otherwise(col("value")).as("feed_score"))
        feed.join(broadcast(dim), "event_type")
          .select(coalesce(col("feed_score"), col("dim_score")).as("score"))
          // same banding shape as Enrich.fixedSeverity, rescaled to the
          // events value domain (0-200) so the gate is non-trivial
          .select(when(col("score") >= 90, "Critical").when(col("score") >= 70, "High")
            .when(col("score") >= 40, "Medium").when(col("score") >= 10, "Low")
            .otherwise("Unknown").as("severity"))
          .filter(VulFunctions.severityAccepted(col("severity")))
          .groupBy("severity").agg(count(lit(1)).as("n"))
          .orderBy("severity")
      }),

    // A1 namespacing-regroup shape: explode nested fix entries, regroup
    // by the exploded namespace key with first-wins metadata.
    // (Here: orders exploded to items regrouped by part-derived key.)
    QueryDef("q53_namespacing_regroup", Some("""
      SELECT l_partkey % 50 AS ns, count(DISTINCT l_orderkey) AS n_vulns,
             count(*) AS n_features,
             CAST(min(l_orderkey) AS BIGINT) AS first_vuln
      FROM lineitem GROUP BY ns ORDER BY ns"""),
      (s, dir) => t(s, dir, "lineitem")
        .withColumn("ns", col("l_partkey") % 50)
        .groupBy("ns")
        .agg(countDistinct("l_orderkey").as("n_vulns"),
          count(lit(1)).as("n_features"),
          min("l_orderkey").cast("bigint").as("first_vuln"))
        .orderBy("ns")),

    // P10/P12 normalization family: whitespace squeeze + prefix strip.
    QueryDef("q54_normalize_text", Some("""
      SELECT source, count(DISTINCT regexp_replace(trim(text), ' +', ' ', 'g')) AS n_norm
      FROM documents GROUP BY source ORDER BY source"""),
      (s, dir) => t(s, dir, "documents")
        .select(col("source"), regexp_replace(trim(col("text")), " +", " ").as("norm"))
        .groupBy("source").agg(countDistinct("norm").as("n_norm"))
        .orderBy("source")),

    // K1 partition-split shape: route rows to namespace buckets and
    // count per-bucket payload bytes (the memdb splitDb analog).
    QueryDef("q55_partition_split", Some("""
      SELECT CASE WHEN n_name < 'F' THEN 'bucket_a' WHEN n_name < 'M' THEN 'bucket_b'
                  ELSE 'bucket_c' END AS bucket,
             count(*) AS n_rows,
             CAST(sum(length(n_name)) AS BIGINT) AS payload_chars
      FROM nation JOIN customer ON c_nationkey = n_nationkey
      GROUP BY bucket ORDER BY bucket"""),
      (s, dir) => t(s, dir, "nation")
        .join(t(s, dir, "customer"), col("c_nationkey") === col("n_nationkey"))
        .withColumn("bucket",
          when(col("n_name") < "F", "bucket_a")
            .when(col("n_name") < "M", "bucket_b")
            .otherwise("bucket_c"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_rows"),
          sum(length(col("n_name"))).cast("bigint").as("payload_chars"))
        .orderBy("bucket"))
  )
}
