package vdbbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Observation, SparkSession}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._

import graft.core.{AppModuleVul, NvdMetadata, PkgVersion, Vulnerability}
import graft.operators.{AppPostFilters, Enrich, Namespacing, VulnMatch}
import graft.pipeline.VulDbPipeline
import graft.sinks.VulDbSink
import graft.sources._
import graft.sources.oval.RhelSource

/** One benchmark workload: a closed-loop operation, its output checks
  * and its traced layer breakdown. Checks return failure messages. */
trait Workload {
  /** Fewest timed operations per run, however long they take. */
  def minOps: Int = 1
  /** The timed operation; returns how many operations it counts as. */
  def op(): Int
  /** Output check of the operation that just ran (untimed). */
  def check(): Seq[String]
  /** Checks made once per run, after the timed section (untimed):
    * (operations they ran, failures). */
  def finalCheck(): (Int, Seq[String]) = (0, Nil)
  /** One traced operation under the root span "op", plus diagnostics
    * outside it; returns the per-layer metrics and failed checks. */
  def traced(t: Trace, sched: SchedListener): (Map[String, Double], Seq[String])
  /** Output digests the manifest records (see run.py --record). */
  def digests: Map[String, String]
  /** Every input yields rows through its adapter: (input, rows). */
  def inputRows(): Seq[(String, Long)]
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }
}

object Workload {
  def noop(df: DataFrame): Unit = graft.BenchAction.run(df)

  def stringMap(node: com.fasterxml.jackson.databind.JsonNode): Map[String, String] =
    Option(node).map(_.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap)
      .getOrElse(Map.empty)
}

/** `build_daily`: the full `VulDbPipeline.run` from the generated feed
  * files to `cvedb.compact` and `cvedb.regular`. The traced run also
  * measures the consumer scan layer on the generated fleet (FleetScan). */
final class BuildWorkload(inDir: String, workDir: String, seed: Long,
    expected: Map[String, String])(implicit spark: SparkSession) extends Workload {
  import Workload.noop

  private val outDir = s"$workDir/out"
  private val version = "1.000"
  private val updateTime = "2024-01-01T00:00:00Z"
  private val rawFiles = Seq(VulDbSink.TarEntry("rhel-cpes.json", "{}".getBytes("UTF-8")))
  private val distroFeeds = Seq("ubuntu", "debian", "alpine", "rhel")
  private val appFeeds = Seq("go", "ghsa")
  private val scanKey = "fleet_scan.affected_rows"
  private val expectedShas = expected - scanKey

  private def loadDistro(f: String): Dataset[Vulnerability] = f match {
    case "ubuntu" => UbuntuSource.load(spark, s"$inDir/ubuntu")
    case "debian" => DebianSource.load(spark, s"$inDir/debian/debian.json")
    case "alpine" => AlpineSource.load(spark, s"$inDir/alpine")
    case "rhel" => RhelSource.load(spark, s"$inDir/rhel/rhel-8.oval.xml", 8)
  }
  private def loadApp(f: String): Dataset[AppModuleVul] = f match {
    case "go" => OsvSource.loadGo(spark, s"$inDir/go")
    case "ghsa" => GhsaSource.load(spark, s"$inDir/ghsa/maven.ndjson", "maven")
  }
  private def loadNvd(): Dataset[NvdMetadata] = NvdSource.load(spark, s"$inDir/nvd")

  private def inputs(distro: Seq[Dataset[Vulnerability]], apps: Seq[Dataset[AppModuleVul]],
      nvd: Dataset[NvdMetadata]) =
    VulDbPipeline.Inputs(distroFeeds = distro, appFeeds = apps, nvd = nvd, rawFiles = rawFiles)

  private var lastShas = Map.empty[String, String]
  private var firstShas: Option[Map[String, String]] = None
  private var scanRows: Option[Long] = None

  def op(): Int = {
    lastShas = VulDbPipeline.run(
      inputs(distroFeeds.map(loadDistro), appFeeds.map(loadApp), loadNvd()),
      outDir, version, updateTime)
    1
  }

  private def artifact(name: String) = VulDbSink.readDbFile(s"$outDir/$name")

  /** Both artifacts round-trip; every entry's sha256 equals its header
    * `Shas` value; the shas are the same for every build of the run
    * and, when the manifest has this seed, equal to it. */
  def check(): Seq[String] = {
    val errs = mutable.ArrayBuffer.empty[String]
    for (name <- Seq("cvedb.regular", "cvedb.compact")) {
      val (header, entries) = artifact(name)
      val shas = Workload.stringMap(Json.parse(header).get("Shas"))
      if (entries.map(_.name).toSet != shas.keySet)
        errs += s"$name: entries ${entries.map(_.name).sorted} vs header ${shas.keys.toSeq.sorted}"
      entries.foreach { e =>
        if (!shas.get(e.name).contains(VulDbSink.sha256Hex(e.bytes)))
          errs += s"$name: sha mismatch for ${e.name}"
      }
      if (!shas.forall { case (k, v) => lastShas.get(k).contains(v) })
        errs += s"$name: header shas differ from the shas the build returned"
    }
    firstShas match {
      case None => firstShas = Some(lastShas)
      case Some(f) => if (f != lastShas) errs += "per-file shas differ between builds of one run"
    }
    if (expectedShas.nonEmpty && expectedShas != lastShas)
      errs += "per-file shas differ from the manifest: " + (expectedShas.keySet ++ lastShas.keySet)
        .filter(k => expectedShas.get(k) != lastShas.get(k)).toSeq.sorted.mkString(",")
    errs.toSeq
  }

  /** Artifact row counts equal the counts of `build`'s outputs. */
  private def rowCountErrors(vulns: Dataset[Vulnerability], apps: Dataset[AppModuleVul]): Seq[String] = {
    val byBucket = VulDbSink.project(vulns).filter(col("bucket").isNotNull)
      .groupBy("bucket").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val appRows = apps.count()
    def lines(e: VulDbSink.TarEntry) =
      new String(e.bytes, "UTF-8").linesIterator.count(_.nonEmpty).toLong
    val errs = mutable.ArrayBuffer.empty[String]
    for (name <- Seq("cvedb.regular", "cvedb.compact")) {
      artifact(name)._2.filter(_.name.endsWith(".tb")).foreach { e =>
        val want =
          if (e.name == "apps.tb") appRows
          else byBucket.getOrElse(e.name.substring(0, e.name.lastIndexOf('_')), 0L)
        if (lines(e) != want) errs += s"$name/${e.name}: ${lines(e)} rows, build has $want"
      }
    }
    if (byBucket.values.sum == 0 || appRows == 0) errs += "build produced no rows"
    errs.toSeq
  }

  def digests: Map[String, String] = lastShas ++ scanRows.map(r => scanKey -> r.toString)

  def inputRows(): Seq[(String, Long)] =
    distroFeeds.map(f => f -> loadDistro(f).count()) ++
      appFeeds.map(f => f -> loadApp(f).count()) ++
      Seq("nvd" -> loadNvd().count()) ++ new FleetScan(inDir, seed).inputRows

  /** Whether `ds`'s plan reads the cached data of `cached`. */
  private def readsCache(ds: Dataset[_], cached: Dataset[_]): Boolean = {
    def builders(d: Dataset[_]) = d.queryExecution.withCachedData.collect {
      case r: InMemoryRelation => r.cacheBuilder
    }
    builders(cached).headOption.exists(b => builders(ds).exists(_ eq b))
  }
  private var transformReadsPinned = false

  def traced(t: Trace, sched: SchedListener): (Map[String, Double], Seq[String]) = {
    val m = mutable.LinkedHashMap.empty[String, Double]
    val cached = mutable.ArrayBuffer.empty[Dataset[_]]
    def pin[T](ds: Dataset[T]): Dataset[T] = { ds.cache(); cached += ds; noop(ds.toDF()); ds }

    // the accounted build: every layer call on the way to the artifacts
    val (out, shas, feedSets, stages, sinkWindow) = t.span("op") {
      val distro = distroFeeds.map(f => f -> t.span(s"sources.$f.load")(loadDistro(f)))
      val apps = appFeeds.map(f => f -> t.span(s"sources.$f.load")(loadApp(f)))
      val nvd0 = t.span("sources.nvd.load")(loadNvd())
      val d = distro.map { case (f, ds) => t.span(s"sources.$f.parse")(pin(ds)) }
      val a = apps.map { case (f, ds) => t.span(s"sources.$f.parse")(pin(ds)) }
      val nvd = t.span("sources.nvd.parse")(pin(nvd0))

      // The transform's operators, each materialized under its own span,
      // then VulDbPipeline.build on the same inputs: its plan matches the
      // pinned operator outputs, so the cache serves them and the build
      // call adds only the final upsert (the transform's self time).
      val distroAll = d.reduce(_ unionByName _)
      val (built, ns, pf, ed, ea) = t.span("pipeline.transform") {
        val ns = t.span("namespacing")(pin(Namespacing(distroAll)))
        val pf = t.span("app_postfilters")(pin(AppPostFilters.gate(AppPostFilters.dedup(a))))
        val ed = t.span("enrich.distro")(pin(Enrich.distro(ns, nvd)))
        val ea = t.span("enrich.app")(pin(Enrich.app(pf, nvd)))
        val o = VulDbPipeline.build(inputs(d, a, nvd))
        transformReadsPinned = readsCache(o.vulns, ed) && readsCache(o.apps, ea)
        (VulDbPipeline.Outputs(pin(o.vulns), pin(o.apps)), ns, pf, ed, ea)
      }
      val (shas, window) = sched.measure(t.span("sink.write") {
        VulDbSink.write(built.vulns, built.apps, rawFiles, outDir, version, updateTime)
      })
      val feedSets: Seq[(String, Dataset[_])] =
        distroFeeds.zip(d) ++ appFeeds.zip(a) :+ ("nvd" -> nvd)
      (built, shas, feedSets, Seq(distroAll, ns, pf, ed, ea), window)
    }
    if (!transformReadsPinned) System.err.println("[vdbbench] warning: " +
      "VulDbPipeline.build recomputed the pinned operator outputs; pipeline.* double-counts them")
    val errs = mutable.ArrayBuffer.empty[String]
    if (shas != lastShas) errs += "traced build's shas differ from the untraced builds'"
    errs ++= rowCountErrors(out.vulns, out.apps)

    feedSets.foreach { case (f, ds) =>
      m(s"sources.$f.load_s") = t.seconds(s"sources.$f.load")
      m(s"sources.$f.parse_s") = t.seconds(s"sources.$f.parse")
      m(s"sources.$f.rows") = ds.count().toDouble
    }
    val Seq(nsIn, nsOut, pfOut, edOut, eaOut) = stages.map(_.count())
    m("namespacing.s") = t.seconds("namespacing")
    m("namespacing.rows_in") = nsIn.toDouble
    m("namespacing.rows_out") = nsOut.toDouble
    m("app_postfilters.s") = t.seconds("app_postfilters")
    m("app_postfilters.rows_out") = pfOut.toDouble
    m("enrich.distro_s") = t.seconds("enrich.distro")
    m("enrich.app_s") = t.seconds("enrich.app")
    m("enrich.rows_out") = (edOut + eaOut).toDouble
    m("pipeline.transform_s") = t.seconds("pipeline.transform")
    m("pipeline.upsert_self_s") = t.seconds("pipeline.transform") -
      Seq("namespacing", "app_postfilters", "enrich.distro", "enrich.app").map(t.seconds).sum
    m("sink.write_s") = t.seconds("sink.write")
    m("sink.jobs") = sinkWindow.jobs.toDouble

    // sink diagnostics outside the accounted op: the projections alone,
    // and the serial driver tar|gzip|AES chain over the same entries
    t.span("sink.project") {
      noop(VulDbSink.project(out.vulns)); noop(VulDbSink.projectApps(out.apps))
    }
    val (header, entries) = artifact("cvedb.regular")
    val encoded = new java.io.File(s"$workDir/encode.tmp")
    t.span("sink.encode") {
      VulDbSink.writeDbFileStreaming(encoded.getPath, header,
        entries.map(e => VulDbSink.BytesArtifactEntry(e.name, e.bytes)))
    }
    encoded.delete()
    m("sink.project_s") = t.seconds("sink.project")
    m("sink.encode_s") = t.seconds("sink.encode")
    m("sink.plain_mb") = entries.map(_.bytes.length.toLong).sum / 1048576.0
    m("sink.artifact_mb") = Seq("cvedb.regular", "cvedb.compact")
      .map(n => new java.io.File(s"$outDir/$n").length()).sum / 1048576.0
    cached.foreach(_.unpersist(blocking = true))

    // the consumer read path, on the generated fleet DB and inventory
    val scan = new FleetScan(inDir, seed)
    val (scanMetrics, scanRowsOut) = scan.traced(t)
    scanRows = Some(scanRowsOut)
    expected.get(scanKey).filter(_ != scanRowsOut.toString)
      .foreach(e => errs += s"fleet scan: $scanRowsOut affected rows, manifest has $e")
    errs ++= scan.sampleCheck()
    scan.release()
    (m.toMap ++ scanMetrics, errs.toSeq)
  }
}

/** `VulnMatch.scan` of a fleet inventory against a DB of generated
  * `Vulnerability` rows, both loaded and cached on construction. */
final class FleetScan(inDir: String, seed: Long)(implicit spark: SparkSession) {
  import spark.implicits._
  import Workload.noop

  private val db = spark.read.schema(org.apache.spark.sql.Encoders.product[Vulnerability].schema)
    .json(s"$inDir/fleet/db.jsonl").as[Vulnerability].cache()
  private val inventory = spark.read.schema("namespace STRING, feature STRING, version STRING")
    .csv(s"$inDir/fleet/inventory.csv").cache()

  def inputRows: Seq[(String, Long)] =
    Seq("fleet_db" -> db.count(), "fleet_inventory" -> inventory.count())

  def release(): Unit = { db.unpersist(blocking = true); inventory.unpersist(blocking = true) }

  /** Drain `df` to the noop sink, counting its rows on the way. */
  private def drain(df: DataFrame): Long = {
    val obs = Observation("scan_rows")
    noop(df.observe(obs, count(lit(1)).as("n")))
    obs.get("n").asInstanceOf[Long]
  }

  /** A seeded inventory sample's affected set equals a driver-side
    * `PkgVersion.compare` evaluation over the flattened fix ranges. */
  def sampleCheck(): Seq[String] = {
    val rng = new scala.util.Random(seed)
    val inv = inventory.as[(String, String, String)].collect()
    val sample = Seq.fill(400)(inv(rng.nextInt(inv.length)))
    val ranges = VulnMatch.fixRanges(db)
      .select("namespace", "feature", "vul_name", "fixed_version", "min_ver")
      .as[(String, String, String, String, String)].collect()
      .groupBy(r => (r._1, r._2))
    def v(s: String) = PkgVersion.parseUnsafe(s)
    val want = sample.flatMap { case (ns, ft, ver) =>
      ranges.getOrElse((ns, ft), Array.empty[(String, String, String, String, String)]).collect {
        case (_, _, name, fixed, min)
            if PkgVersion.compare(v(ver), v(fixed)) < 0 &&
              PkgVersion.compare(v(ver), v(Option(min).getOrElse(PkgVersion.MinSentinel))) >= 0 =>
          s"$ns|$ft|$ver|$name|$fixed"
      }
    }.sorted
    val got = VulnMatch.scan(sample.toDF("namespace", "feature", "version"), db)
      .select(concat_ws("|", col("namespace"), col("feature"), col("version"),
        col("vul_name"), col("fixed_version")))
      .as[String].collect().toSeq.sorted
    if (want == got && want.nonEmpty) Nil
    else Seq(s"fleet scan sample: ${got.length} affected rows, driver-side evaluation gives ${want.length}")
  }

  /** One warm-up scan, then the traced one under the root span "scan"
    * and a `version_cmp` projection; returns (metrics, affected rows). */
  def traced(t: Trace): (Map[String, Double], Long) = {
    val inventoryRows = inventory.count()
    val warm = drain(VulnMatch.scan(inventory, db))
    var rangesRows = 0L
    val rowsOut = t.span("scan") {
      val fr = t.span("vulnmatch.fix_ranges") {
        val d = VulnMatch.fixRanges(db).cache(); noop(d); d
      }
      rangesRows = fr.count()
      val n = t.span("vulnmatch.affected")(drain(VulnMatch.affected(inventory, fr)))
      fr.unpersist(blocking = true)
      n
    }
    if (rowsOut != warm) throw new IllegalStateException(
      s"fleet scan found $rowsOut affected rows traced, $warm untraced")

    // version_cmp alone, projected over seeded version pairs
    val rng = new scala.util.Random(seed)
    def ver() = s"${rng.nextInt(9) + 1}.${rng.nextInt(20)}.${rng.nextInt(40)}-${rng.nextInt(9) + 1}"
    val pairsN = 400000
    val pairs = Seq.fill(pairsN)((ver(), ver())).toDF("a", "b").cache()
    pairs.count()
    val cmp = pairs.select(graft.functions.VersionExpressions.version_cmp(col("a"), col("b")).as("c"))
    noop(cmp)
    t.span("functions.version_cmp")(noop(cmp))
    pairs.unpersist(blocking = true)

    (Map(
      "vulnmatch.fix_ranges_s" -> t.seconds("vulnmatch.fix_ranges"),
      "vulnmatch.fix_ranges_rows" -> rangesRows.toDouble,
      "vulnmatch.affected_s" -> t.seconds("vulnmatch.affected"),
      "vulnmatch.rows_out" -> rowsOut.toDouble,
      "vulnmatch.hit_frac" -> rowsOut.toDouble / inventoryRows,
      "functions.version_cmp_ns" -> t.seconds("functions.version_cmp") * 1e9 / pairsN), rowsOut)
  }
}

/** `prep_heavy`: the CorpusPrep-facade queries through
  * `SparkEntry.queries` under `BenchAction`, on the generated corpus. */
final class PrepWorkload(inDir: String, workDir: String, queries: Seq[String],
    expectedSums: Map[String, String])(implicit spark: SparkSession) extends Workload {

  private val sfDir = s"$workDir/sf"
  spark.read.schema("doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")
    .json(s"$inDir/docs/documents.jsonl").coalesce(1)
    .write.mode("overwrite").parquet(s"$sfDir/documents.parquet")

  private val sums = mutable.LinkedHashMap.empty[String, String]

  private def run(q: String): Unit = graft.BenchAction.run(graft.SparkEntry.queries(q)(spark, sfDir))

  override def minOps: Int = 2

  /** One pass over the queries. */
  def op(): Int = { queries.foreach(run); queries.length }

  def check(): Seq[String] = Nil

  /** Each query's result checksum, computed untimed, equals the
    * manifest's: the sha256 of the sorted rows' string forms. */
  override def finalCheck(): (Int, Seq[String]) = (queries.length, queries.flatMap { q =>
    val rows = graft.SparkEntry.queries(q)(spark, sfDir).collect().map(_.toString).sorted
    val sum = VulDbSink.sha256Hex(rows.mkString("\n").getBytes("UTF-8"))
    sums(q) = sum
    if (rows.isEmpty) Some(s"$q: empty result")
    else expectedSums.get(q) match {
      case Some(e) if e != sum => Some(s"$q: checksum $sum, manifest has $e")
      case Some(_) => None
      case None => Some(s"$q: no manifest checksum")
    }
  })

  def digests: Map[String, String] = sums.toMap

  def inputRows(): Seq[(String, Long)] =
    Seq("documents" -> spark.read.parquet(s"$sfDir/documents.parquet").count())

  def traced(t: Trace, sched: SchedListener): (Map[String, Double], Seq[String]) = {
    val m = mutable.LinkedHashMap.empty[String, Double]
    t.span("op") {
      queries.foreach { q =>
        val (_, w) = sched.measure(t.span(s"prep.$q")(run(q)))
        m(s"prep.$q.s") = w.wallS
        m(s"prep.$q.jobs") = w.jobs.toDouble
        m(s"prep.$q.driver_gap_s") = w.driverGapS
        m(s"prep.$q.shuffle_mb") = w.shuffleWriteMb
      }
    }
    (m.toMap, Nil)
  }
}
