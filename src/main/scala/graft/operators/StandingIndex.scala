package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The on-disk lifecycle the standing-index families share — BM25
  * postings (`TextStats`), IVF inverted lists (`Similarity`) and
  * hash-band signature lists (`Dedup`, whose positional GIF, audio
  * and keyframe variants ride the same cores). This is the only code
  * that knows the lifecycle layout under an index root:
  *
  *  - `_current_vN` — an empty VERSION POINTER file naming
  *    `<prefix>vN/` (`postings_v`, `index_v`, `bands_v`) as the
  *    servable data dir. A pointer is created only AFTER its dir's
  *    write completes, so the highest pointer always names a complete
  *    dir, and a swap is one atomic file create — never a
  *    delete→rename window. No pointer = the family's flat layout
  *    (BM25 `postings/`, IVF the root itself); the hash-band family
  *    is versioned from birth and has none.
  *  - `_compact_inprogress` — WRITER mutual exclusion for a versioned
  *    rewrite (compaction, every hash-band write). Probes never
  *    block, and a stale lock from a crashed rewrite is safe to delete
  *    and rerun: nothing between lock and swap mutates servable state.
  *  - `_tombstones/` — pending deleted ids (one column, the family's
  *    id column; underscore-prefixed, so a flat parquet layout never
  *    reads it as data). Every read applies them as an anti-join; a
  *    rewrite applies them materially and then clears exactly the
  *    FILE SNAPSHOT it read.
  *
  * Plain functions over a Hadoop `FileSystem`; each family passes its
  * own dir prefix and flat layout. */
private[operators] object StandingIndex {

  private val Pointer = "_current_v"
  private val Lock = "_compact_inprogress"
  private val Tombstones = "_tombstones"

  def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sessionState.newHadoopConf())

  /** The standing-index families, as their on-disk layouts tell them
    * apart; `name` is the family's name in health reports. */
  sealed abstract class Family(val name: String)
  case object HashBand extends Family("hashband")
  case object Bm25 extends Family("bm25")
  case object Ivf extends Family("ivf")

  /** Which family wrote the root at `path`, from the layout alone:
    * hash-band indexes are versioned from birth (`bands_vN`), BM25
    * carries its `df`/`meta` table dirs, IVF carries `index_vN` after
    * a compaction or `cid=...` list partitions while flat. None for a
    * missing root or an unrecognized layout. */
  def detectFamily(fs: FileSystem, path: String): Option[Family] = {
    val p = new Path(path)
    if (!fs.exists(p)) return None
    val names = fs.listStatus(p).map(_.getPath.getName).toSet
    if (names.exists(_.startsWith("bands_v"))) Some(HashBand)
    else if (names.contains("df") && names.contains("meta")) Some(Bm25)
    else if (names.exists(_.startsWith("index_v")) ||
        names.exists(_.startsWith("cid="))) Some(Ivf)
    else None
  }

  /** ONE definition of "is this entry name a version pointer" — the
    * resolver and every rebuild's name-scoped reset share it, so the
    * delete-set and the resolve-set cannot drift apart (a pointer the
    * resolver honors but a reset no longer clears would resurrect a
    * stale version after rebuild). */
  private def isVersionName(n: String, prefix: String): Boolean =
    n.startsWith(prefix) && n.length > prefix.length &&
      n.drop(prefix.length).forall(_.isDigit)

  /** Published versions under an index root (empty when none). */
  def versions(fs: FileSystem, path: String): Seq[Long] = {
    val root = new Path(path)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq.map(_.getPath.getName)
      .collect { case n if isVersionName(n, Pointer) => n.drop(Pointer.length).toLong }
  }

  /** The servable data dir: `<prefix>vN` under the highest pointer,
    * else the family's `flat` layout. `flat = None` is the
    * versioned-from-birth layout, where "no pointer" is never a legal
    * servable state — a rebuild crashed before publishing, or the
    * path is not such an index — so it refuses rather than falling
    * back to the root (a user file co-located at the root survives
    * the name-scoped reset and must not be read as the index). */
  def currentDir(fs: FileSystem, path: String, prefix: String,
      flat: Option[String]): String = {
    val vs = versions(fs, path)
    require(vs.nonEmpty || flat.isDefined,
      s"no published version pointer under $path — a rebuild crashed " +
        "before publishing (rerun writeHashBandIndex), or this dir was " +
        "not written by writeHashBandIndex (the layout is versioned " +
        "from birth)")
    if (vs.nonEmpty) s"$path/$prefix${vs.max}" else flat.get
  }

  /** Writers that must not run under a live (or crashed) rewrite.
    * A REBUILD is refused because deleting the lock would let the
    * rewrite finish later and drop a pointer that silently shadows the
    * rebuild with pre-rebuild data; a delete adds `why` to the reason. */
  def refuseIfCompacting(fs: FileSystem, path: String, rebuild: Boolean,
      why: String = ""): Unit =
    require(!fs.exists(new Path(s"$path/$Lock")),
      s"a compaction is running (or crashed) under $path — " + (
        if (rebuild) "rebuilding now would be shadowed by its version-pointer " +
          s"swap; wait for it (or delete a stale $Lock) and rerun"
        else s"${why}wait for it (or clear a stale $Lock) and retry"))

  /** Publish version `v`: the atomic pointer create IS the swap. */
  def publish(fs: FileSystem, path: String, v: Long, clash: String): Unit =
    require(fs.createNewFile(new Path(s"$path/$Pointer$v")),
      s"pointer $Pointer$v already exists under $path — $clash")

  /** The versioned rewrite behind every compaction and every hash-band
    * write (a rebuild is a rewrite from an empty base), in this order:
    * take the lock and pick the next version; snapshot the tombstone
    * files; run `write(dir, snapshot)` into `<prefix>v<next>`
    * (returning None declines to publish — the all-deleted skip — and
    * leaves every file but the lock as it was);
    * publish the pointer; delete the stale pointers, EVERY superseded
    * version dir (a crash between an earlier swap and its housekeeping
    * leaves several, and the rerun must reclaim them all) and the flat
    * base (`flat` — the root itself only on the first rewrite, when
    * by contract it holds only the flat index data); clear exactly the
    * snapshot; release the lock. A crash at any step leaves a
    * probe-consistent index: before the pointer lands readers resolve
    * the old dir, after it the complete new one; a rerun's overwrite
    * reclaims a half-written dir. Readers that resolved a superseded
    * dir before the swap should tolerate one retry if housekeeping
    * deletes it mid-scan. `growth` picks a rebuild's wording. */
  def rewrite[A](fs: FileSystem, path: String, prefix: String,
      flat: Option[String], growth: Boolean = false)(
      write: (String, Seq[String]) => Option[A]): Option[A] = {
    val lock = new Path(s"$path/$Lock")
    require(fs.createNewFile(lock),
      if (growth) s"could not create the rewrite lock under $path — a " +
        "compaction or rebuild is running, or a previous one crashed. The " +
        "index is still probe-consistent either way (swaps are atomic); if " +
        s"nothing is live, delete $Lock and rerun"
      else s"could not create compaction lock under $path — another " +
        "compaction is running, or a previous one crashed. The index is " +
        "still probe-consistent either way (the swap is atomic); if no " +
        s"compaction is live, delete $Lock and rerun")
    try {
      val vs = versions(fs, path)
      val next = (0L +: vs).max + 1
      val snapshot = tombstoneFiles(fs, path)
      val out = write(s"$path/$prefix$next", snapshot)
      if (out.isDefined) {
        val racers = if (growth) "rewrites" else "compactions"
        publish(fs, path, next,
          s"concurrent $racers? The servable index is unchanged")
        vs.foreach(v => fs.delete(new Path(s"$path/$Pointer$v"), false))
        vs.foreach(v => fs.delete(new Path(s"$path/$prefix$v"), true))
        flat.foreach { f =>
          if (f != path) fs.delete(new Path(f), true)
          else if (vs.isEmpty) fs.listStatus(new Path(path))
            .filterNot(st => Set(s"$prefix$next", s"$Pointer$next", Lock,
              Tombstones).contains(st.getPath.getName))
            .foreach(st => fs.delete(st.getPath, true))
        }
        clearTombstoneSnapshot(fs, path, snapshot)
      }
      out
    } finally { fs.delete(lock, false); () }
  }

  /** The BM25 rebuild's reset to an empty lifecycle, NAME-SCOPED to
    * the family's own entries — tombstones, pointers and `<prefix>N`
    * dirs: a catch-all root sweep would eat anything a user co-located
    * at the root (a mistyped path or a neighboring artifact dies
    * silently BEFORE any write). */
  def resetVersions(fs: FileSystem, path: String, prefix: String): Unit =
    fs.listStatus(new Path(path)).toSeq.map(_.getPath)
      .filter { p =>
        val n = p.getName
        n == Tombstones || isVersionName(n, Pointer) || isVersionName(n, prefix)
      }
      .foreach(fs.delete(_, true))

  def tombstoneDir(path: String): String = s"$path/$Tombstones"

  /** Data files currently under `_tombstones/`. The FILE LIST is the
    * unit of delete/compaction race safety: a rewrite reads exactly a
    * snapshot of these paths and post-swap deletes exactly that
    * snapshot — so a delete landing mid-rewrite writes a file outside
    * the snapshot, survives the clear, and stays pending, instead of
    * being erased unapplied. An existing-but-file-less dir reads as
    * "no tombstones" (a cleared snapshot may leave the empty dir). */
  def tombstoneFiles(fs: FileSystem, path: String): Seq[String] = {
    val dir = new Path(tombstoneDir(path))
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.map(_.getPath)
      .filter(p => !p.getName.startsWith("_") && !p.getName.startsWith("."))
      .map(_.toString)
  }

  /** The tombstone files read EAGERLY into a driver-local frame (a
    * LocalRelation — delete-request-sized by contract, so the collect
    * is bounded). Probes are not covered by the single-writer
    * contract, and a compaction finishing between a read and a lazily
    * executed probe deletes exactly those files — an eager snapshot
    * makes every probe built on a read immune to that. */
  def localTombstones(spark: SparkSession, files: Seq[String]): DataFrame = {
    val df = spark.read.parquet(files: _*)
    val rows = df.distinct().collect()
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
  }

  /** `df` minus the rows whose id is tombstoned in `files` — a
    * broadcast anti-join on the tombstone column, which sits above the
    * scan and keeps any partition pruning below it. */
  def withoutTombstones(df: DataFrame, files: Seq[String]): DataFrame =
    if (files.isEmpty) df
    else {
      val ts = localTombstones(df.sparkSession, files)
      df.join(broadcast(ts), Seq(ts.columns.head), "left_anti")
    }

  /** Append deleted ids (a single-column frame, renamed to `idCol`)
    * to `_tombstones/`: nulls dropped, distinct, and skipped when
    * empty — a zero-row parquet append can leave a footer-less dir
    * that fails schema inference on read. Duplicate and
    * already-deleted ids are harmless (the anti-join is idempotent). */
  def appendTombstones(fs: FileSystem, path: String, ids: DataFrame,
      idCol: String): Unit = {
    require(ids.columns.length == 1,
      s"ids must be a single-column frame, got ${ids.columns.mkString(", ")}")
    val dir = tombstoneDir(path)
    if (fs.exists(new Path(dir))) {
      val existing = ids.sparkSession.read.parquet(dir).columns
      require(existing.sameElements(Array(idCol)),
        s"index at $path already has tombstones on '${existing.mkString(",")}'" +
          s", got idCol '$idCol'")
    }
    val newIds = ids.select(col(ids.columns.head).as(idCol))
      .filter(col(idCol).isNotNull).distinct()
    if (!newIds.isEmpty) newIds.write.mode("append").parquet(dir)
  }

  /** Refuse an append that re-adds a tombstoned id: probes anti-join
    * the tombstones, so the new rows would be SILENTLY invisible (and
    * collide with the old rows at the next compaction). Column-pruned
    * to the id, so an expensive upstream batch plan is not re-executed
    * wholesale; one broadcast semi-join short-circuited by isEmpty,
    * only when deletions are pending. */
  def refuseReAdds(fs: FileSystem, path: String, batch: DataFrame,
      remedy: String): Unit = {
    val files = tombstoneFiles(fs, path)
    if (files.nonEmpty) {
      val ts = localTombstones(batch.sparkSession, files)
      val id = ts.columns.head
      require(batch.select(id).join(broadcast(ts), Seq(id), "left_semi").isEmpty,
        s"append batch re-adds tombstoned ids under $path — $remedy")
    }
  }

  /** Post-swap tombstone-SNAPSHOT clear: delete exactly the files the
    * rewrite read and applied (a racing delete's newer files stay
    * pending), sweep marker files, then a best-effort NON-recursive
    * rmdir — if a racing delete committed a data file since the
    * listing, the rmdir fails and the dir (correctly) stays pending;
    * a recursive delete would erase that file unapplied. */
  def clearTombstoneSnapshot(fs: FileSystem, path: String,
      snapshot: Seq[String]): Unit = {
    snapshot.foreach(f => fs.delete(new Path(f), false))
    val dir = new Path(tombstoneDir(path))
    if (snapshot.nonEmpty && fs.exists(dir)) {
      fs.listStatus(dir).toSeq.map(_.getPath)
        .filter(p => p.getName.startsWith("_") || p.getName.startsWith("."))
        .foreach(fs.delete(_, false))
      try { fs.delete(dir, false); () }
      catch { case _: java.io.IOException => () }
    }
  }

  /** Data files under a servable dir for the stats twins: (files,
    * bytes, files per stripe group). A data file is a non-hidden file
    * directly in `dir` or in a partition dir (`k=v`) under it — so a
    * flat IVF root's `_tombstones/` files are not counted — grouped by
    * its parent dir's name (each append adds one stripe per touched
    * partition; a non-partitioned layout is one group). */
  def dataFiles(fs: FileSystem, dir: String): (Long, Long, Map[String, Long]) = {
    val root = fs.makeQualified(new Path(dir))
    val it = fs.listFiles(root, true)
    var files = 0L
    var bytes = 0L
    val stripes = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    while (it.hasNext) {
      val st = it.next()
      val name = st.getPath.getName
      val parent = st.getPath.getParent
      if (!name.startsWith("_") && !name.startsWith(".") &&
          (parent == root || parent.getName.contains("="))) {
        files += 1
        bytes += st.getLen
        stripes(parent.getName) += 1
      }
    }
    (files, bytes, stripes.toMap)
  }

  /** (distinct tombstoned ids, rows of `data` carrying one) — the
    * pending-deletion half of every stats twin. */
  def tombstoneCounts(data: DataFrame, files: Seq[String]): (Long, Long) =
    if (files.isEmpty) (0L, 0L)
    else {
      val ts = localTombstones(data.sparkSession, files)
      (ts.count(), data.join(broadcast(ts), Seq(ts.columns.head), "left_semi").count())
    }
}
