package graft.operators

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Records, Vulnerability}
import graft.core.RecordEncoders._

/** SURVEY A1 — doVulnerabilitiesNamespacing
  * (reference updater/updater.go:642-671): explode each vuln's
  * `fixedIn` entries, regroup by (feature namespace, vuln name); the
  * regrouped record adopts the feature's namespace, appends all
  * feature versions, and keeps one representative copy of the
  * metadata.
  *
  * Deviation (documented): the reference's metadata pick is Go-map
  * insertion order (nondeterministic); we take the lexicographically
  * greatest metadata struct, which is deterministic across runs and
  * cluster layouts. In practice all records sharing (ns, name) within
  * one feed carry identical metadata.
  *
  * The output holds one row per (namespace, name), the key of the
  * reference's final upsert (A8, memdb.go:288-297); `VulDbPipeline`
  * relies on this and runs no upsert of its own.
  *
  * Scale: one shuffle on (namespace, name); collect_list is bounded by
  * per-vuln fix counts (tens), so no group blow-up.
  */
object Namespacing {

  def apply(vulns: Dataset[Vulnerability])(implicit spark: SparkSession): Dataset[Vulnerability] = {
    import spark.implicits._
    vulns.toDF()
      .select(col("*"), posexplode(col("fixedIn")).as(Seq("fv_pos", "fv")))
      .groupBy(col("fv.featureNamespace").as("groupNs"), col("name"))
      .agg(
        max(struct(Records.columns[Vulnerability]("name", "namespace", "fixedIn"): _*)).as("m"),
        sort_array(collect_list(struct(col("fv_pos"), col("fv")))).as("fvs"))
      .select(Records.row[Vulnerability](
        "name" -> col("name"),
        "namespace" -> col("groupNs"),
        "fixedIn" -> expr("transform(fvs, x -> x.fv)"))(f => col(s"m.${f.name}")): _*)
      .as[Vulnerability]
  }
}
