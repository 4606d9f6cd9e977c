package graft.sinks

import java.io.{ByteArrayInputStream, FileOutputStream}
import java.nio.ByteBuffer
import java.security.MessageDigest
import java.util.zip.{GZIPInputStream, GZIPOutputStream}
import javax.crypto.Cipher
import javax.crypto.spec.{GCMParameterSpec, SecretKeySpec}

import org.apache.commons.compress.archivers.tar.{TarArchiveEntry, TarArchiveInputStream, TarArchiveOutputStream}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{AppModuleVul, Vulnerability}
import graft.operators.Actions

/** SURVEY K1-K6 — the output artifact writer
  * (reference memdb.go:82-274, common/db.go:18-61, common/crypto.go:11-34).
  *
  * Spark side: route each vuln to one of 12 namespace buckets
  * (substring match, first bucket wins — K1), project the dual
  * index/full JSON-lines rows (K2/K3), canonically ordered by
  * (namespace, name) — a documented deviation from the reference's
  * nondeterministic Go-map iteration order.
  *
  * Driver side (K4/K5/K6): per-file sha256 recorded in the plaintext
  * KeyVersion header; files tar'd, gzip'd, AES-256-GCM encrypted with
  * the all-zero 32-byte key (nonce || ciphertext || tag, as Go
  * gcm.Seal emits); artifact = [4-byte BE header len | header JSON |
  * ciphertext]. Compact DB carries only ubuntu/debian/centos/alpine
  * + apps (legacy header-size limit); regular carries all + raw files.
  *
  * The driver step streams: one cluster-side (bucket, namespace, name)
  * sort drained by one `toLocalIterator`, each row routed to its
  * bucket's spool files (sha256 via DigestOutputStream), then one
  * tar|gzip|AES-GCM OutputStream chain per artifact — the corpus is
  * never resident in driver memory. The artifact format itself is
  * inherently single-file and stays a driver step.
  */
object VulDbSink {

  /** (namespace substring, file prefix) in routing order (memdb.go:169-187). */
  val buckets: Seq[(String, String)] = Seq(
    "ubuntu" -> "ubuntu", "debian" -> "debian", "centos" -> "centos",
    "alpine" -> "alpine", "amzn" -> "amazon", "oracle" -> "oracle",
    "mariner" -> "mariner", "sles" -> "suse", "photon" -> "photon",
    "rocky" -> "rocky", "wolfi" -> "wolfi", "chainguard" -> "chainguard")

  val compactPrefixes: Seq[String] = Seq("ubuntu", "debian", "centos", "alpine")

  private val goZeroTime = "0001-01-01T00:00:00Z"

  /** Bucket routing column: first bucket whose namespace substring
    * matches (memdb.go:88-94). */
  private def bucketCol = buckets.foldLeft(lit(null).cast("string")) {
    case (acc, (ns, prefix)) => coalesce(acc, when(col("namespace").contains(ns), prefix))
  }

  private def goTime(c: org.apache.spark.sql.Column) =
    coalesce(date_format(c, "yyyy-MM-dd'T'HH:mm:ss'Z'"), lit(goZeroTime))

  /** The dual JSON projections, one row per vuln:
    * (bucket, name, namespace, indexJson, fullJson). */
  def project(vulns: Dataset[Vulnerability]): DataFrame = {
    val indexJson = to_json(struct(
      col("name").as("N"),
      col("namespace").as("NS"),
      expr("transform(fixedIn, f -> struct(f.featureName AS N, f.version AS V, f.minVer AS MV))").as("Fixin"),
      col("cpes").as("CPE")))
    val fullJson = to_json(struct(
      col("name").as("N"),
      col("namespace").as("NS"),
      col("description").as("D"),
      col("link").as("L"),
      col("severity").as("S"),
      struct(col("cvssV2Vectors").as("Vectors"), col("cvssV2Score").as("Score")).as("C2"),
      struct(col("cvssV3Vectors").as("Vectors"), col("cvssV3Score").as("Score")).as("C3"),
      lit("").as("FB"),
      expr("transform(fixedIn, f -> struct(f.featureName AS N, f.version AS V, f.minVer AS MV, '' AS A))").as("FI"),
      col("cpes").as("CPE"),
      expr("transform(cves, c -> c.name)").as("CVE"),
      col("feedRating").as("RATE"),
      goTime(col("issuedDate")).as("Issue"),
      goTime(col("lastModDate")).as("LastMod")))
    vulns.toDF()
      .withColumn("bucket", bucketCol)
      .select(col("bucket"), col("name"), col("namespace"),
        indexJson.as("indexJson"), fullJson.as("fullJson"))
  }

  /** App table JSON-lines rows (memdb.go:118-123), canonical order. */
  def projectApps(apps: Dataset[AppModuleVul]): DataFrame =
    apps.toDF()
      // field names = the reference's Go JSON tags (types.go:95-114);
      // CVEs is tagged "-" there and therefore not serialized
      .withColumn("appJson", to_json(struct(
        col("vulName").as("VN"),
        col("appName").as("AN"),
        col("moduleName").as("MN"),
        col("importPaths").as("IP"),
        col("symbols").as("SYM"),
        col("description").as("D"),
        col("link").as("L"),
        col("score").as("SC"),
        col("vectors").as("VV2"),
        col("scoreV3").as("SC3"),
        col("vectorsV3").as("VV3"),
        col("severity").as("SE"),
        expr("transform(affectedVer, v -> struct(v.opCode AS O, v.version AS V))").as("AV"),
        expr("transform(fixedVer, v -> struct(v.opCode AS O, v.version AS V))").as("FV"),
        expr("transform(unaffectedVer, v -> struct(v.opCode AS O, v.version AS V))").as("UV"),
        goTime(col("issuedDate")).as("Issue"),
        goTime(col("lastModDate")).as("LastMod"))))
      .select(col("moduleName"), col("vulName"), col("appJson"))

  // ---- driver-side assembly -------------------------------------------

  final case class TarEntry(name: String, bytes: Array[Byte])

  def sha256Hex(b: Array[Byte]): String =
    MessageDigest.getInstance("SHA-256").digest(b).map("%02x".format(_)).mkString

  private val zeroKey = new Array[Byte](32)

  /** Open an AES-256-GCM seal: the 12-byte nonce, then the ciphertext
    * with its 16-byte tag, as Go's gcm.Seal emits them. */
  def decrypt(sealedBytes: Array[Byte]): Array[Byte] = {
    val nonce = sealedBytes.take(12)
    val cipher = Cipher.getInstance("AES/GCM/NoPadding")
    cipher.init(Cipher.DECRYPT_MODE, new SecretKeySpec(zeroKey, "AES"),
      new GCMParameterSpec(128, nonce))
    cipher.doFinal(sealedBytes.drop(12))
  }

  private def jsonEscape(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  /** KeyVersion header JSON (types.go:46-51 — Go field names). */
  def keyVersionJson(version: String, updateTime: String,
      keys: Map[String, String], shas: Map[String, String]): String = {
    def m(kv: Map[String, String]) =
      kv.toSeq.sortBy(_._1).map { case (k, v) => s""""${jsonEscape(k)}":"${jsonEscape(v)}"""" }
        .mkString("{", ",", "}")
    s"""{"Version":"${jsonEscape(version)}","UpdateTime":"${jsonEscape(updateTime)}","Keys":${m(keys)},"Shas":${m(shas)}}"""
  }

  /** One tar member for the streaming assembler: either an on-disk
    * spool file (bounded driver memory) or small in-memory bytes
    * (raw passthrough files). */
  sealed trait ArtifactEntry {
    def name: String
    def size: Long
    def writeTo(out: java.io.OutputStream): Unit
  }
  final case class FileArtifactEntry(name: String, file: java.io.File) extends ArtifactEntry {
    def size: Long = file.length()
    def writeTo(out: java.io.OutputStream): Unit = {
      val in = new java.io.FileInputStream(file)
      try {
        val buf = new Array[Byte](1 << 16)
        var n = in.read(buf)
        while (n >= 0) { if (n > 0) out.write(buf, 0, n); n = in.read(buf) }
      } finally in.close()
    }
  }
  final case class BytesArtifactEntry(name: String, bytes: Array[Byte]) extends ArtifactEntry {
    def size: Long = bytes.length.toLong
    def writeTo(out: java.io.OutputStream): Unit = out.write(bytes)
  }

  /** Assemble one artifact: [4-byte BE header len | header |
    * AES-256-GCM(tar.gz)], with a random 12-byte nonce ahead of the
    * ciphertext and the 16-byte tag after it. The tar/gzip/AES-GCM chain
    * is a single OutputStream pipeline fed entry by entry, so the
    * artifact is never resident in driver memory. */
  def writeDbFileStreaming(path: String, headerJson: String,
      entries: Seq[ArtifactEntry]): Unit = {
    val header = headerJson.getBytes("UTF-8")
    val nonce = new Array[Byte](12)
    new java.security.SecureRandom().nextBytes(nonce)
    val cipher = Cipher.getInstance("AES/GCM/NoPadding")
    cipher.init(Cipher.ENCRYPT_MODE, new SecretKeySpec(zeroKey, "AES"),
      new GCMParameterSpec(128, nonce))
    val fos = new FileOutputStream(path)
    try {
      fos.write(ByteBuffer.allocate(4).putInt(header.length).array())
      fos.write(header)
      fos.write(nonce)
      val tar = new TarArchiveOutputStream(new GZIPOutputStream(
        new javax.crypto.CipherOutputStream(
          new java.io.BufferedOutputStream(fos, 1 << 16), cipher)))
      tar.setLongFileMode(TarArchiveOutputStream.LONGFILE_GNU)
      entries.foreach { e =>
        val te = new TarArchiveEntry(e.name)
        te.setSize(e.size)
        tar.putArchiveEntry(te)
        e.writeTo(tar)
        tar.closeArchiveEntry()
      }
      tar.finish()
      tar.close() // flushes gzip trailer + GCM tag through the chain
    } finally fos.close()
  }

  /** Read an artifact back (for tests / consumers):
    * (headerJson, entries). */
  def readDbFile(path: String): (String, Seq[TarEntry]) = {
    val all = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    val headerLen = ByteBuffer.wrap(all, 0, 4).getInt
    val header = new String(all, 4, headerLen, "UTF-8")
    val plain = decrypt(all.drop(4 + headerLen))
    val tar = new TarArchiveInputStream(new GZIPInputStream(new ByteArrayInputStream(plain)))
    val entries = Iterator.continually(tar.getNextEntry).takeWhile(_ != null).map { e =>
      TarEntry(e.getName, tar.readAllBytes())
    }.toSeq
    (header, entries)
  }

  /** Analytic sink: the same dual projection written as
    * bucket-partitioned parquet instead of the consumer artifact —
    * the shape a downstream Spark/warehouse reader wants. 12 static
    * buckets -> 12 write groups, no skew; rows outside the bucket
    * routes land under bucket=__unrouted for auditability rather than
    * silently dropping. */
  def writeAnalytic(vulns: Dataset[Vulnerability], outDir: String): Unit =
    project(vulns)
      .withColumn("bucket", coalesce(col("bucket"), lit("__unrouted")))
      .write.mode("overwrite")
      .partitionBy("bucket")
      .parquet(outDir)

  /** Full sink: vulns + apps (+ raw passthrough files) -> compact +
    * regular artifacts in outDir. Returns per-file shas.
    *
    * Streamed end to end through one sorted stream: the routed rows are
    * range-sorted by (bucket, namespace, name) on the cluster and one
    * `toLocalIterator` appends each row to its bucket's index and full
    * spool files, so a bucket's file is its rows in (namespace, name)
    * order and an empty bucket gives an empty file. The apps table
    * drains the same way, concurrently, into apps.tb. A job per bucket
    * would pay a sort and a drain for each of the 12 routes, most of
    * them empty. Sha256 is computed on the fly (DigestOutputStream);
    * artifact assembly then streams the spools through one
    * tar|gzip|AES-GCM OutputStream chain. Driver memory stays O(one
    * partition per stream).
    *
    * `keys` round-trips into both artifact headers' KeyVersion.Keys
    * (reference memdb.go:209,239, common/types.go:49). */
  def write(vulns: Dataset[Vulnerability], apps: Dataset[AppModuleVul],
      rawFiles: Seq[TarEntry], outDir: String, version: String,
      updateTime: String, keys: Map[String, String] = Map.empty)
      (implicit spark: SparkSession): Map[String, String] = {

    new java.io.File(outDir).mkdirs()
    val tmpDir = java.nio.file.Files.createTempDirectory("graft-sink").toFile

    final case class Spool(file: java.io.File, digest: MessageDigest,
        out: java.io.OutputStream)
    val spools = scala.collection.mutable.LinkedHashMap.empty[String, Spool]
    def spool(name: String): Spool = spools.getOrElseUpdate(name, {
      val f = new java.io.File(tmpDir, name)
      val md = MessageDigest.getInstance("SHA-256")
      Spool(f, md, new java.io.BufferedOutputStream(
        new java.security.DigestOutputStream(new FileOutputStream(f), md), 1 << 16))
    })
    def appendLine(s: Spool, json: String): Unit = {
      s.out.write(json.getBytes("UTF-8"))
      s.out.write('\n')
    }
    try {
      // every bucket file exists even when its bucket is empty; all
      // spools are created up front so the two drains only read the map
      val bucketSpools = buckets.map { case (_, p) =>
        p -> (spool(s"${p}_index.tb"), spool(s"${p}_full.tb")) }.toMap
      val appSpool = spool("apps.tb")

      Actions.inParallel(
        () => {
          // rows whose namespace is outside the 12 routes have a null
          // bucket and don't ship
          val it = project(vulns).filter(col("bucket").isNotNull)
            .orderBy("bucket", "namespace", "name")
            .select("bucket", "indexJson", "fullJson")
            .toLocalIterator()
          while (it.hasNext) {
            val r = it.next()
            val (si, sf) = bucketSpools(r.getString(0))
            appendLine(si, r.getString(1)); appendLine(sf, r.getString(2))
          }
        },
        () => {
          val it = projectApps(apps).orderBy("moduleName", "vulName")
            .select("appJson").toLocalIterator()
          while (it.hasNext) appendLine(appSpool, it.next().getString(0))
        })

      spools.values.foreach(_.out.close())
      val shas = scala.collection.mutable.Map[String, String]()
      spools.foreach { case (name, s) =>
        shas(name) = s.digest.digest().map("%02x".format(_)).mkString
      }
      rawFiles.foreach(f => shas(f.name) = sha256Hex(f.bytes))

      def entriesFor(prefixes: Seq[String]): Seq[ArtifactEntry] =
        prefixes.flatMap(p => Seq(s"${p}_index.tb", s"${p}_full.tb"))
          .map(n => FileArtifactEntry(n, spools(n).file)) :+
          FileArtifactEntry("apps.tb", spools("apps.tb").file)

      val compactShas = shas.toMap.filter { case (k, _) =>
        compactPrefixes.exists(p => k.startsWith(p + "_")) || k == "apps.tb" }
      writeDbFileStreaming(s"$outDir/cvedb.compact",
        keyVersionJson(version, updateTime, keys, compactShas),
        entriesFor(compactPrefixes))

      writeDbFileStreaming(s"$outDir/cvedb.regular",
        keyVersionJson(version, updateTime, keys, shas.toMap),
        entriesFor(buckets.map(_._2)) ++
          rawFiles.map(f => BytesArtifactEntry(f.name, f.bytes)))

      shas.toMap
    } finally {
      // failed runs must not leak open streams or the spool directory
      spools.values.foreach(s =>
        try s.out.close() catch { case _: java.io.IOException => () })
      spools.values.foreach(s => s.file.delete())
      tmpDir.listFiles() match {
        case null => ()
        case fs => fs.foreach(_.delete())
      }
      tmpDir.delete()
    }
  }
}
