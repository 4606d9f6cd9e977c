package graft.pipeline

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.core.{AppModuleVul, NvdMetadata, OpVersion, Vulnerability}
import graft.core.RecordEncoders._
import graft.operators.{AppPostFilters, Enrich, Namespacing}
import graft.sinks.VulDbSink

/** The full DB build (reference dbgen.go:38-86 / updater.go:555-594 /
  * memdb.go:169-274) as one declarative assembly:
  *
  *   distro feeds -> union -> namespacing (A1)
  *   app feeds    -> rank-dedup (A9) -> calibration (J9) -> gate
  *   NVD dimension -> enrichment join + severity banding + gate (J1/J2)
  *   -> bucketed dual-projection encrypted artifacts (K1-K6)
  *
  * The reference's final keyed upsert (A8) has no step here: namespacing
  * already yields one distro row per (namespace, name), the upsert's
  * key, and enrichment keeps one row per input row.
  *
  * Each input is any Dataset produced by a graft.sources adapter, so
  * callers compose exactly the feed set they mirror locally.
  */
object VulDbPipeline {

  final case class Inputs(
    distroFeeds: Seq[Dataset[Vulnerability]],
    appFeeds: Seq[Dataset[AppModuleVul]],
    nvd: Dataset[NvdMetadata],
    calibration: Option[Dataset[(String, Seq[OpVersion])]] = None,
    rawFiles: Seq[VulDbSink.TarEntry] = Nil)

  final case class Outputs(
    vulns: Dataset[Vulnerability],
    apps: Dataset[AppModuleVul])

  /** Transform phase: everything up to (not including) the artifact
    * write, fully lazy. With a non-empty `tracer` (the `-debug
    * v=CVE-...` analogue), matching records are snapshotted after
    * parse/union, namespacing, enrichment, and before the sink. */
  def build(in: Inputs, tracer: VulTracer = VulTracer.disabled)(
      implicit spark: SparkSession): Outputs = {
    import spark.implicits._

    // taps return their (cached, when tracing) input — downstream must
    // consume the returned frame so the trace costs no extra pass
    val distro = tracer.tap("namespacing distro",
      if (in.distroFeeds.isEmpty) spark.emptyDataset[Vulnerability]
      else Namespacing(tracer.tap("parse distro",
        in.distroFeeds.reduce(_ unionByName _))))

    val appsMerged =
      if (in.appFeeds.isEmpty) spark.emptyDataset[AppModuleVul]
      else AppPostFilters.dedup(in.appFeeds.map(f =>
        tracer.tap("parse app", f, nameCol = "vulName")))
    val appsCalibrated = in.calibration
      .map(c => AppPostFilters.applyCalibration(appsMerged, c))
      .getOrElse(appsMerged)
    val appsGated = AppPostFilters.gate(appsCalibrated)

    val enrichedVulns = tracer.tap("post enrich distro", Enrich.distro(distro, in.nvd))
    val enrichedApps = tracer.tap("post enrich app", Enrich.app(appsGated, in.nvd),
      nameCol = "vulName")

    Outputs(tracer.tap("pre sink distro", enrichedVulns), enrichedApps)
  }

  /** Build + write both artifacts; returns per-file shas. `keys`
    * round-trips into both artifact headers (KeyVersion.Keys). */
  def run(in: Inputs, outDir: String, version: String, updateTime: String,
      tracer: VulTracer = VulTracer.disabled,
      keys: Map[String, String] = Map.empty)(
      implicit spark: SparkSession): Map[String, String] = {
    val out = build(in, tracer)
    VulDbSink.write(out.vulns, out.apps, in.rawFiles, outDir, version,
      updateTime, keys)
  }
}
