package graft.table

import graft.util.JobDescription
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.SchemaBridge
import org.apache.spark.sql.types.{DataType, StructType}
import org.json4s._
import org.json4s.jackson.Serialization

import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.UUID

/** One immutable data file registered in a snapshot manifest.
  * `bucket` is the key-partition it belongs to (bucket = pmod(xxhash64(doc_id), numBuckets));
  * `minLsn`/`maxLsn`/`rows` are file-level stats used for scan pruning —
  * the Spark-native analog of the reference pushing its filter into the
  * keyed store instead of scanning client-side
  * (reference `PontusIdGenerator.java:68-76,299`).
  *
  * The manifest is the table's file listing: `bytes` and `mtime` are the
  * file's exact length and modification time, taken from the status the
  * writer's staging listing already returned, so a scan plans from the
  * entries alone with no listing I/O ([[LakeTable.scanFiles]]). Entries
  * written before these fields existed read back with -1 in both.
  */
final case class FileEntry(
    path: String,
    bucket: Int,
    rows: Long,
    minLsn: Long,
    maxLsn: Long,
    /** Merge-on-read delta: true for files APPENDED by a trickle-batch
      * commit without rewriting the bucket — they may carry newer
      * versions of keys that also live in the bucket's base file, plus
      * tombstones; readers resolve last-writer-wins at scan time
      * ([[LakeTable.resolveLatest]]) and compaction folds deltas back
      * into one base file per bucket.
      */
    isDelta: Boolean = false,
    bytes: Long = -1L,
    mtime: Long = -1L)

/** One immutable per-bucket-range manifest file referenced from a
  * snapshot's manifest list: `path` is the file's name under `meta/`,
  * `range` its bucket-range id (`LakeTable.rangeOf`), `minBucket`/
  * `maxBucket` the range's bucket span and `minLsn`/`maxLsn`/`nFiles`/
  * `rows` aggregate stats for list-level pruning — a reader (or an
  * LSN-range scan) can skip whole ranges without opening them.
  */
final case class ManifestRef(
    path: String,
    range: Int,
    minBucket: Int,
    maxBucket: Int,
    nFiles: Int,
    rows: Long,
    minLsn: Long,
    maxLsn: Long)

/** Content of one manifest file (kept as a wrapper object so the JSON
  * stays self-describing and extensible).
  */
final case class ManifestFile(files: Seq[FileEntry])

/** A snapshot of the table: manifest LIST + schema + commit ledger.
  *
  * The file listing lives in immutable per-bucket-range manifest files
  * (`manifests`), Iceberg-style: a commit rewrites only the ranges its
  * batch touched plus this small head document — O(touched ranges + 1)
  * metadata I/O instead of O(all files) — and untouched ranges' manifest
  * files are SHARED across snapshots, so retained time-travel history
  * costs O(changed ranges), not O(files x snapshots). Readers resolve
  * the file listing through `LakeTable.filesOf`.
  *
  * `ledger` maps "checkpointId/batchId" -> snapshotId and makes commits
  * idempotent under streaming replay: re-running a batch that already
  * committed is a no-op (the exactly-once upgrade of the reference's
  * at-least-once commit/rollback, `PontusIdGenerator.java:361-378`,
  * modeled on the version-checked ZK update in
  * `JWTStoreClientProcessor.java:165-168`).
  *
  * The ledger is RETAINED, not unbounded: at 10^5+ micro-batches a full
  * per-batch map would make every commit rewrite O(all history) (O(n^2)
  * cumulative commit I/O). Older entries compact into `floorBatch`
  * (checkpointId -> highest compacted-away batchId); because a stream
  * engine assigns batchIds monotonically per checkpoint, any batchId at
  * or below the floor is by construction already committed, so the
  * idempotence decision stays exact with O(retention) manifest bytes.
  */
final case class Manifest(
    version: Long,
    snapshotId: String,
    parentSnapshotId: Option[String],
    schemaJson: String,
    numBuckets: Int,
    ledger: Map[String, String],
    floorBatch: Map[String, Long] = Map.empty,
    manifests: Seq[ManifestRef] = Nil) {
  def schema: StructType = DataType.fromJson(schemaJson).asInstanceOf[StructType]

  /** Was (checkpointId, batchId) already committed? Exact under the
    * monotonic-batchId invariant; `snapshotIdOf` is only known for
    * entries still inside the retention window.
    */
  def isCommitted(checkpointId: String, batchId: Long): Boolean =
    ledger.contains(s"$checkpointId/$batchId") ||
      floorBatch.get(checkpointId).exists(batchId <= _)

  def snapshotIdOf(checkpointId: String, batchId: Long): Option[String] =
    ledger.get(s"$checkpointId/$batchId")
}

object Manifest {
  /** Compact `ledger` down to at most `retention` newest batchIds per
    * checkpoint, folding everything older into the floor map.
    */
  def compactLedger(ledger: Map[String, String], floor: Map[String, Long],
      retention: Int): (Map[String, String], Map[String, Long]) = {
    val parsed = ledger.toSeq.map { case (k, v) =>
      val i = k.lastIndexOf('/')
      (k.substring(0, i), k.substring(i + 1).toLong, k, v)
    }
    val byCp = parsed.groupBy(_._1)
    val kept = Map.newBuilder[String, String]
    var newFloor = floor
    byCp.foreach { case (cp, entries) =>
      val sorted = entries.sortBy(-_._2)
      sorted.take(retention).foreach(e => kept += (e._3 -> e._4))
      val dropped = sorted.drop(retention)
      if (dropped.nonEmpty) {
        val hi = dropped.map(_._2).max
        newFloor = newFloor.updated(cp, newFloor.getOrElse(cp, Long.MinValue).max(hi))
      }
    }
    (kept.result(), newFloor)
  }
}

/** Thrown when a CAS commit loses the race (another writer committed the
  * same version first). Callers re-read and retry.
  */
final class CommitConflictException(msg: String) extends RuntimeException(msg)

/** Minimal Iceberg-style table: immutable Parquet data files + JSON
  * manifest per snapshot + atomic compare-and-swap commit.
  *
  * Layout under `root`:
  * {{{
  *   meta/v%020d.json             one manifest per snapshot; highest version = current
  *   data/s<version>/<attempt>/...  data files staged by one write attempt at a version
  * }}}
  *
  * The CAS publishes a head written under a temp name as `v%020d.json` only
  * if no head holds that version, so exactly one writer wins each version
  * ([[commit]]): on `file:` by a hard link, since link(2) fails when the
  * destination exists where POSIX rename(2) would replace it; on HDFS and
  * other stores by Hadoop's rename, which fails onto an existing file.
  *
  * The table resolves its `FileSystem` from `conf`, on which it installs
  * [[graft.util.LocalFs]]: on `file:` the metadata files and `meta/` are
  * written through Hadoop `create`/`mkdirs` without the forked `chmod` per
  * file and per `.crc` that Hadoop's local filesystem pays when libhadoop
  * is absent.
  *
  * Every scan of table data (reads, time travel, compaction, rebucket, the
  * merge's target scan) plans from the manifest's [[FileEntry]]s through
  * [[scanFiles]]: the manifest is the listing, so a scan does no listing
  * I/O and launches no Spark listing job, however many files it reads.
  *
  * == Manifest list (the metadata scale path) ==
  * The per-version document is a MANIFEST LIST: the head (`v*.json`)
  * holds schema/ledger/stats plus references to immutable per-bucket-range
  * manifest files (`m-*.json`, each listing its bucket range's data files
  * + stats). A commit writes new manifest files ONLY for the ranges its
  * batch touched and carries the rest by reference — O(touched ranges +
  * 1) metadata I/O per commit instead of O(all files) — with the CAS
  * unchanged (manifest files are orphans until the head rename wins).
  * Readers prune at the list level by bucket/LSN range before opening
  * per-range manifests ([[filesOf]]), and untouched ranges' manifest
  * files are shared across retained snapshots, so time-travel history
  * costs O(changed ranges) per snapshot. At 10^5+ files (numBuckets =
  * 2^14, retained snapshots) the head stays a few KB and a trickle
  * commit rewrites one range instead of a multi-MB listing. Bucket space
  * splits into `min(numBuckets, 64)` ranges — fine enough that a
  * 1-bucket commit rewrites ~1/64 of the metadata, coarse enough that a
  * full-spread batch writes at most 64 small files. A head in the
  * pre-list format (an inline `files` listing) is rejected on read, never
  * read as an empty table ([[readManifest]]).
  */
final class LakeTable private (val root: String, val conf: Configuration) {

  private implicit val fmts: Formats = DefaultFormats

  graft.util.LocalFs.install(conf)

  private val rootPath = new Path(root)
  private[table] val metaDir = new Path(rootPath, "meta")
  private val dataDir = new Path(rootPath, "data")
  private[table] def fs: FileSystem = rootPath.getFileSystem(conf)

  private def manifestPath(version: Long): Path =
    new Path(metaDir, f"v$version%020d.json")

  private def hintPath: Path = new Path(metaDir, "version-hint.text")

  /** The heads in `meta/` (`v<version>.json`) and their versions, by listing. */
  private[table] def listedHeads(): Seq[(Long, Path)] =
    LakeTable.versionsIn(fs, metaDir, "v", ".json")

  /** The staging directories `data/s<version>` and their versions, by listing. */
  private[table] def listedStagingDirs(): Seq[(Long, Path)] =
    LakeTable.versionsIn(fs, dataDir, "s", "")

  // ---- snapshot log ----------------------------------------------------

  /** Highest committed version, or -1 if the table has no snapshot yet.
    *
    * Fast path: a non-authoritative `version-hint.text` + an upward
    * existence probe — O(1) metadata ops in steady state instead of a
    * directory LISTING per read. The listing-per-read was the last
    * per-batch O(history) term: at 10^5 commits `meta/` holds 10^5 head
    * documents plus the manifest files, and a streaming driver calls this
    * every micro-batch (on an object store that is a LIST per batch).
    * The hint is best-effort: written after each commit, may be stale
    * (probe catches up), corrupt, or missing (authoritative listing
    * fallback) — correctness never depends on it.
    */
  def currentVersion(): Long = {
    val f = fs
    val hinted =
      try {
        if (!f.exists(hintPath)) None
        else {
          val in = f.open(hintPath)
          val s =
            try new String(org.apache.commons.io.IOUtils.toByteArray(in),
              StandardCharsets.UTF_8).trim
            finally in.close()
          s.toLongOption
        }
      } catch { case _: Exception => None }
    hinted match {
      case Some(h) if h >= 0 && f.exists(manifestPath(h)) =>
        var v = h
        while (f.exists(manifestPath(v + 1))) v += 1
        v
      case _ => listedVersion()
    }
  }

  /** Authoritative fallback: list `meta/` for the highest head. */
  private def listedVersion(): Long = listedHeads().map(_._1).maxOption.getOrElse(-1L)

  def currentManifest(): Manifest = {
    val v = currentVersion()
    require(v >= 0, s"table at $root has no committed snapshot")
    readManifest(v)
  }

  def currentManifestOpt(): Option[Manifest] = {
    val v = currentVersion()
    if (v < 0) None else Some(readManifest(v))
  }

  /** Read the head of snapshot `version`. A head that still carries an
    * inline `files` listing (the format before manifest lists) fails with
    * an IllegalStateException: the list-only reader would otherwise see
    * no data files and serve the table as empty.
    */
  def readManifest(version: Long): Manifest = {
    val path = manifestPath(version)
    val in = fs.open(path)
    val json =
      try org.json4s.jackson.JsonMethods.parse(new String(
        org.apache.commons.io.IOUtils.toByteArray(in), StandardCharsets.UTF_8))
      finally in.close()
    json \ "files" match {
      case JArray(listed) if listed.nonEmpty =>
        throw new IllegalStateException(s"$path lists ${listed.size} " +
          "data files inline (the format before manifest lists), which this " +
          "reader does not support; re-create the table")
      case _ => json.extract[Manifest]
    }
  }

  // ---- manifest list ---------------------------------------------------

  /** Data files of snapshot `m`, resolved through the manifest list with
    * list-level pruning: when `buckets` is given, only manifest files
    * whose bucket range intersects it are opened (and their entries
    * filtered).
    */
  def filesOf(m: Manifest, buckets: Option[Set[Int]] = None): Seq[FileEntry] =
    buckets match {
      case Some(bs) =>
        m.manifests.filter(r => bs.exists(b => b >= r.minBucket && b <= r.maxBucket))
          .sortBy(_.range).flatMap(readManifestFile).filter(f => bs.contains(f.bucket))
      case None => m.manifests.sortBy(_.range).flatMap(readManifestFile)
    }

  /** Read one manifest file's entries (immutable content — cached JVM-wide
    * by name, so a streaming driver re-reads only the ranges each commit
    * actually rewrote).
    */
  def readManifestFile(ref: ManifestRef): Seq[FileEntry] = {
    val cached = LakeTable.manifestCache.get(ref.path)
    if (cached != null) return cached
    val in = fs.open(new Path(metaDir, ref.path))
    val entries =
      try Serialization.read[ManifestFile](new String(
        org.apache.commons.io.IOUtils.toByteArray(in), StandardCharsets.UTF_8)).files
      finally in.close()
    LakeTable.manifestCache.putBounded(ref.path, entries)
    entries
  }

  /** Write one immutable manifest file for `range`; returns its ref.
    * The file is an orphan until a head referencing it wins the CAS.
    */
  private def writeManifestFile(range: Int, numBuckets: Int,
      entries: Seq[FileEntry]): ManifestRef = {
    val name = s"m-${UUID.randomUUID()}.json"
    writeMetaFile(fs, new Path(metaDir, name), Serialization.write(
      ManifestFile(entries)).getBytes(StandardCharsets.UTF_8), overwrite = false)
    val (lo, hi) = LakeTable.rangeSpan(range, numBuckets)
    val ref = ManifestRef(
      path = name, range = range, minBucket = lo, maxBucket = hi,
      nFiles = entries.size, rows = entries.map(_.rows).sum,
      minLsn = entries.map(_.minLsn).minOption.getOrElse(Long.MaxValue),
      maxLsn = entries.map(_.maxLsn).maxOption.getOrElse(Long.MinValue))
    LakeTable.manifestCache.putBounded(name, entries.toIndexedSeq)
    ref
  }

  /** Compose the next snapshot's manifest list: ranges intersecting
    * `touched` buckets (or receiving `newFiles`) are rewritten — their
    * content = parent entries of UNtouched buckets in the range plus the
    * new files — and every other range's manifest file carries over by
    * reference, untouched and unread. With no parent, `newFiles` is the
    * whole listing.
    */
  def composeManifests(parent: Option[Manifest], touched: Set[Int],
      newFiles: Seq[FileEntry], numBuckets: Int): Seq[ManifestRef] = {
    fs.mkdirs(metaDir)
    val rng: Int => Int = LakeTable.rangeOf(_, numBuckets)
    val newByRange = newFiles.groupBy(f => rng(f.bucket))
    // manifest files are independent — write them concurrently (a serial
    // loop of N small FS creates is pure latency on the per-batch commit
    // path; measured ~130 ms/commit at 32 ranges on local FS, worse on an
    // object store)
    def writeAll(ranges: Seq[(Int, Seq[FileEntry])]): Seq[ManifestRef] = {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      implicit val ec: ExecutionContext = ExecutionContext.global
      Await.result(
        Future.sequence(ranges.map { case (r, es) =>
          Future(writeManifestFile(r, numBuckets, es))
        }), Duration.Inf)
    }
    val parentRefs = parent.map(_.manifests).getOrElse(Nil)
    val parentByRange = parentRefs.map(r => r.range -> r).toMap
    val touchedRanges = touched.map(rng) ++ newByRange.keySet
    val carried = parentRefs.filterNot(r => touchedRanges.contains(r.range))
    val rewritten = writeAll(touchedRanges.toSeq.sorted.flatMap { r =>
      val kept = parentByRange.get(r).map(readManifestFile).getOrElse(Nil)
        .filterNot(f => touched.contains(f.bucket))
      val content = kept ++ newByRange.getOrElse(r, Nil)
      if (content.isEmpty) None else Some(r -> content)
    })
    (carried ++ rewritten).sortBy(_.range)
  }

  /** Atomic CAS commit of `m` at `m.version`. Exactly one concurrent caller
    * can commit a given version; losers get [[CommitConflictException]].
    */
  def commit(m: Manifest): Unit = {
    val f = fs
    f.mkdirs(metaDir)
    val target = manifestPath(m.version)
    if (f.exists(target))
      throw new CommitConflictException(s"version ${m.version} already committed")
    val tmp = new Path(metaDir, s".tmp-${UUID.randomUUID()}.json")
    writeMetaFile(f, tmp, Serialization.write(m).getBytes(StandardCharsets.UTF_8),
      overwrite = false)
    // The CAS. On HDFS-like stores rename-if-absent is atomic and fails
    // when the target exists. On the LOCAL filesystem it is NOT a CAS:
    // Hadoop's RawLocalFileSystem.rename delegates to File.renameTo =
    // POSIX rename(2), which silently REPLACES an existing destination —
    // two racers passing the exists() pre-check would both "win" and the
    // loser's head would clobber the winner's (losing its ledger entry =>
    // a replayed batch re-applies). So local schemes arbitrate through
    // hard-link creation instead: link(2) is atomic and fails with EEXIST
    // when the target exists. A crash between link and tmp-delete leaves
    // only an orphaned .tmp-* file (no liveness impact, vacuumable).
    val won =
      if (isLocal(f)) {
        try {
          Files.createLink(nioPath(target), nioPath(tmp))
          true
        } catch {
          case _: java.nio.file.FileAlreadyExistsException => false
          case _: UnsupportedOperationException | _: java.nio.file.FileSystemException =>
            // mount without link(2) support (FAT/exFAT, CIFS without unix
            // extensions): fall back to rename-if-absent — functional, but
            // only a true CAS on stores that honor dest-must-not-exist
            System.err.println("[graft] WARN: hard links unsupported under " +
              s"$metaDir; commit CAS falls back to rename-if-absent, which " +
              "POSIX rename(2) does not arbitrate — avoid concurrent " +
              "writers on this mount")
            f.rename(tmp, target)
        }
      } else f.rename(tmp, target)
    if (!won) {
      f.delete(tmp, false)
      throw new CommitConflictException(
        s"lost CAS race committing version ${m.version}")
    }
    // the head is linked under its version name: drop the temp name and
    // its `.crc` (a no-op after the rename fallback)
    if (isLocal(f)) f.delete(tmp, false)
    // best-effort hint refresh AFTER the CAS: concurrent writers race
    // (last write wins), a crash can leave it stale or torn — all safe,
    // currentVersion probes upward and falls back to the listing
    try writeMetaFile(f, hintPath,
      m.version.toString.getBytes(StandardCharsets.UTF_8), overwrite = true)
    catch { case _: Exception => () }
  }

  /** Commit the snapshot after `parent` (version 0 without one): the one
    * snapshot-write path of merges, compactions and rebuckets.
    *
    *  - `files` replace every file of the `replaced` buckets, and the
    *    parent's other buckets carry over by reference
    *    ([[composeManifests]]). Under a `numBuckets` other than the
    *    parent's, bucket ids and the range layout change: nothing carries
    *    over and `files` are the whole table.
    *  - The parent's ledger and batch floor always carry forward. Once
    *    retention has folded old batches into `floorBatch`, the floor is
    *    the only record that they committed; a snapshot without it would
    *    let a replayed pre-floor batch re-apply, and after a compaction
    *    that GC'd its tombstones, resurrect deleted keys.
    *    `ledgerEntry = Some(key -> retention)` also records batch `key`
    *    ("checkpointId/batchId") at `snapshotId` and folds the ledger to
    *    `retention` entries per checkpoint ([[Manifest.compactLedger]]).
    *  - `beforeCas` runs after the manifest files are written and just
    *    before the CAS ([[commit]]), for work that must land before the
    *    snapshot is visible (the merge's lineage).
    *
    * A lost CAS throws [[CommitConflictException]]; the caller redoes its
    * whole attempt ([[LakeTable.retryConflicts]]).
    */
  def commitNext(parent: Option[Manifest], replaced: Set[Int],
      files: Seq[FileEntry], schemaJson: String, numBuckets: Int,
      ledgerEntry: Option[(String, Int)] = None,
      snapshotId: String = UUID.randomUUID().toString,
      beforeCas: () => Unit = () => ()): Manifest = {
    val parentLedger = parent.map(_.ledger).getOrElse(Map.empty[String, String])
    val parentFloor = parent.map(_.floorBatch).getOrElse(Map.empty[String, Long])
    val (ledger, floor) = ledgerEntry match {
      case Some((key, retention)) => Manifest.compactLedger(
        parentLedger + (key -> snapshotId), parentFloor, retention.max(1))
      case None => (parentLedger, parentFloor)
    }
    val m = Manifest(
      version = parent.map(_.version + 1).getOrElse(0L),
      snapshotId = snapshotId,
      parentSnapshotId = parent.map(_.snapshotId),
      schemaJson = schemaJson,
      numBuckets = numBuckets,
      ledger = ledger,
      floorBatch = floor,
      manifests = composeManifests(parent.filter(_.numBuckets == numBuckets),
        replaced, files, numBuckets))
    beforeCas()
    commit(m)
    m
  }

  /** Is `f` the local filesystem? Decided by the RESOLVED FileSystem's
    * scheme, not the (possibly scheme-less) Path: a bare /warehouse/t path
    * on a cluster whose fs.defaultFS is HDFS must stay on Hadoop calls —
    * its files live on HDFS, and local java.nio paths would not exist.
    */
  private def isLocal(f: FileSystem): Boolean =
    Option(f.getUri.getScheme).getOrElse("file") == "file"

  private def nioPath(p: Path): java.nio.file.Path =
    java.nio.file.Paths.get(p.toUri.getPath)

  /** Write one small metadata file (manifest file, head temp file, version
    * hint) in a single call. */
  private def writeMetaFile(f: FileSystem, p: Path, bytes: Array[Byte],
      overwrite: Boolean): Unit = {
    val out = f.create(p, overwrite)
    try out.write(bytes)
    finally out.close()
  }

  /** Already-committed snapshot for this (checkpointId, batchId), if any —
    * the idempotence lookup done at the top of every foreachBatch. A batch
    * compacted below the ledger floor reports the CURRENT snapshot (it is
    * committed; its own snapshot id is outside the retention window).
    */
  def committedSnapshot(checkpointId: String, batchId: Long): Option[String] =
    currentManifestOpt().flatMap { m =>
      m.snapshotIdOf(checkpointId, batchId)
        .orElse(if (m.isCommitted(checkpointId, batchId)) Some(m.snapshotId) else None)
    }

  // ---- data files ------------------------------------------------------

  /** Directory under which every write attempt at `version` stages its
    * data files ([[attemptDir]]). Vacuum reads the version from its name
    * (`s<version>`), and so does [[LakeTable.resolveLatest]].
    */
  def stagingDir(version: Long): String = new Path(dataDir, s"s$version").toString

  /** A new directory, under [[stagingDir]], for one write attempt at
    * `version`. Every attempt gets its own: two writers that read the same
    * parent both stage at the same version, and the one that loses the CAS
    * must not touch the files the winner committed there. Files are
    * immutable once the manifest referencing them is committed; a lost CAS
    * race leaves orphans that a vacuum can collect (never referenced).
    */
  private def attemptDir(version: Long): String =
    new Path(stagingDir(version), UUID.randomUUID().toString).toString

  /** Stage one write attempt at `version`, the one data-write path of
    * merges, compactions and rebuckets: `placed` carries `_bucket` and is
    * already partitioned into the caller's write tasks; each task is
    * sorted by (`_bucket`, `doc_id`) and written partitioned by `_bucket`
    * into a fresh [[attemptDir]], under the job description `step`. A task
    * writes its buckets one after another, so a bucket placed in one task
    * gets exactly one file. Returns the attempt's directory and its files
    * with footer stats ([[enumerateStagedWithStats]]) for [[commitNext]].
    */
  def stage(placed: DataFrame, version: Long, step: String,
      isDelta: Boolean = false): (String, Seq[FileEntry]) = {
    val dir = attemptDir(version)
    JobDescription(placed.sparkSession, step) {
      placed.sortWithinPartitions(col("_bucket"), col("doc_id"))
        .write.partitionBy("_bucket").mode("errorifexists").parquet(dir)
    }
    (dir, enumerateStagedWithStats(dir, isDelta))
  }

  /** Enumerate the parquet files Spark wrote under `dir/_bucket=N/`, with
    * EXACT per-file (rows, lsn min/max) read from the parquet FOOTERS — driver-side, parallel, no Spark job. The
    * footer statistics are what the write itself recorded; harvesting
    * them costs one small ranged read per file instead of a cluster pass
    * over the staged data (the read-back job this replaces was a fixed
    * per-commit cost on the serial path — the Amdahl term the scaling
    * north rule keeps paying). A footer that lacks `lsn` statistics for a
    * non-empty file (foreign writer) gets UNPRUNABLE bounds
    * (Long.MinValue/Long.MaxValue) — never the empty-file sentinel, which
    * would let LSN pruning skip live data. Each entry also records the
    * file's length and modification time from the same listing, which is
    * what lets [[scanFiles]] plan with no I/O.
    */
  private def enumerateStagedWithStats(dir: String,
      isDelta: Boolean): Seq[FileEntry] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    val f = fs
    val d = new Path(dir)
    if (!f.exists(d)) return Nil
    val listed = f.listStatus(d).toIndexedSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("_bucket="))
      .flatMap { bdir =>
        val bucket = bdir.getPath.getName.stripPrefix("_bucket=").toInt
        f.listStatus(bdir.getPath).toIndexedSeq
          .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
          .map(s => (s, bucket))
      }
    Await.result(
      Future.sequence(listed.map { case (s, bucket) =>
        Future {
          val (rows, minL, maxL) = footerStats(s.getPath)
          FileEntry(s.getPath.toString, bucket, rows, minL, maxL, isDelta,
            s.getLen, s.getModificationTime)
        }
      }), Duration.Inf)
  }

  /** (rows, min lsn, max lsn) of one parquet file from its footer. */
  private def footerStats(p: Path): (Long, Long, Long) = {
    import scala.jdk.CollectionConverters._
    // Spark's footer reader: ~0.1 ms a file, where opening a
    // ParquetFileReader costs milliseconds
    val blocks = org.apache.spark.sql.execution.datasources.parquet.ParquetFooterReader
      .readFooter(org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf),
        org.apache.parquet.format.converter.ParquetMetadataConverter.NO_FILTER)
      .getBlocks.asScala.toSeq
    val rows = blocks.map(_.getRowCount).sum
    if (rows == 0L) return (0L, Long.MaxValue, Long.MinValue)
    var minL = Long.MaxValue
    var maxL = Long.MinValue
    var sawStats = true
    blocks.foreach { b =>
      b.getColumns.asScala.find(_.getPath.toDotString == "lsn") match {
        case Some(c) if c.getStatistics != null &&
            !c.getStatistics.isEmpty && c.getStatistics.hasNonNullValue =>
          (c.getStatistics.genericGetMin, c.getStatistics.genericGetMax) match {
            case (lo: java.lang.Long, hi: java.lang.Long) =>
              if (lo < minL) minL = lo
              if (hi > maxL) maxL = hi
            case _ => sawStats = false
          }
        case _ => sawStats = false
      }
    }
    if (sawStats) (rows, minL, maxL)
    else (rows, Long.MinValue, Long.MaxValue)
  }

  // ---- read path -------------------------------------------------------

  /** Read the current table state (live rows only — delete tombstones are
    * filtered out and the tombstone flag dropped). `buckets`, when given,
    * prunes the scan to those key-partitions (manifest-stat file pruning —
    * no Spark task touches the untouched buckets). Old files missing
    * newly-ADDed columns null-fill because the read is schema-first; files
    * written before an int->long widening read back widened (Parquet type
    * promotion, Spark 4).
    */
  def read(spark: SparkSession, buckets: Option[Set[Int]] = None): DataFrame = {
    currentManifestOpt() match {
      case None =>
        readStored(spark, buckets)
          .filter(!col(LakeTable.TOMBSTONE)).drop(LakeTable.TOMBSTONE)
      case Some(m) =>
        val stored = LakeTable.storedSchema(m.schema)
        scanResolved(spark, stored, filesOf(m, buckets))
          .filter(!col(LakeTable.TOMBSTONE)).drop(LakeTable.TOMBSTONE)
    }
  }

  /** Scan `files` with the LWW resolution applied ONLY to buckets that
    * actually contain delta files — delta-free buckets scan plain, no
    * window, no shuffle. At scale deltas concentrate in recently-written
    * buckets; reading the whole table must not pay a resolution exchange
    * for the compacted majority.
    *
    * `singlePartition` coalesces each scan to one partition BELOW the
    * resolution window, so SinglePartition satisfies its clustering
    * requirement and even the delta-bearing buckets resolve with no
    * Exchange — for callers (small-batch merge, small-table compaction)
    * that already know from the manifest stats the whole scan fits one
    * task. Results are identical; only the partitioning changes.
    */
  def scanResolved(spark: SparkSession, stored: StructType,
      files: Seq[FileEntry], singlePartition: Boolean = false): DataFrame = {
    def scan(fs: Seq[FileEntry]): DataFrame = {
      val df = scanFiles(spark, stored, fs)
      if (singlePartition) df.coalesce(1) else df
    }
    val deltaBuckets = files.filter(_.isDelta).map(_.bucket).toSet
    if (deltaBuckets.isEmpty) scan(files)
    else {
      val (affected, plain) = files.partition(f => deltaBuckets.contains(f.bucket))
      val resolved = LakeTable.resolveLatest(scan(affected))
      if (plain.isEmpty) resolved
      else {
        val all = resolved.unionByName(scan(plain))
        // the union re-fans to 2 partitions; honor the contract here so
        // callers need no per-site re-coalesce
        if (singlePartition) all.coalesce(1) else all
      }
    }
  }

  /** Time travel: live rows as of snapshot `version` (every manifest is
    * immutable and self-contained, so this is just a read of an older
    * file listing — until a vacuum retires it).
    */
  def readVersion(spark: SparkSession, version: Long): DataFrame = {
    val m = readManifest(version)
    val stored = LakeTable.storedSchema(m.schema)
    scanResolved(spark, stored, filesOf(m))
      .filter(!col(LakeTable.TOMBSTONE)).drop(LakeTable.TOMBSTONE)
  }

  /** Read the physical table state including tombstone rows. */
  def readStored(spark: SparkSession, buckets: Option[Set[Int]] = None): DataFrame =
    currentManifestOpt() match {
      case None =>
        scanFiles(spark, LakeTable.storedSchema(graft.model.Schemas.seqTable), Nil)
      case Some(m) =>
        scanFiles(spark, LakeTable.storedSchema(m.schema), filesOf(m, buckets))
    }

  /** The one scan of table data: `files` read under `stored`, planned from
    * their manifest entries with no listing I/O.
    *
    * `spark.read.parquet(paths)` lists every path again (one `exists` and
    * one status each, and past `parallelPartitionDiscovery.threshold`
    * paths a Spark job with a task per file). Here Spark's own
    * `InMemoryFileIndex` gets a status cache already filled from the
    * entries, one status per file keyed by its qualified path, so it finds
    * every file cached and lists nothing; base paths and partition
    * inference stay Spark's (a file's base path is its own directory, so
    * no `_bucket` column appears) and `input_file_name()` names the same
    * files ([[LakeTable.resolveLatest]] reads their versions from it).
    * The relation's schema is `stored` made all-nullable, as the reader's
    * `DataSource` makes it, so rewrites write the same footers.
    *
    * A length is never estimated (Parquet seeks the footer from it): an
    * entry without `bytes` (manifests written before the field) costs one
    * driver-side `getFileStatus`, which also fails a missing file at
    * planning time, as the reader's existence check did.
    */
  def scanFiles(spark: SparkSession, stored: StructType,
      files: Seq[FileEntry]): DataFrame = {
    val schema = SchemaBridge.asNullable(stored)
    if (files.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    val f = fs
    val statuses = files.map { e =>
      val p = f.makeQualified(new Path(e.path))
      // replication and block size are not used by the parquet scan
      if (e.bytes >= 0) new FileStatus(e.bytes, false, 0, 1L, e.mtime, p)
      else f.getFileStatus(p)
    }
    val index = new InMemoryFileIndex(spark, statuses.map(_.getPath),
      Map.empty, Some(schema), new LakeTable.ManifestListing(statuses))
    spark.baseRelationToDataFrame(HadoopFsRelation(index, index.partitionSchema,
      schema, None, new ParquetFileFormat, Map.empty)(spark))
  }
}

object LakeTable {

  /** Row-count ceiling under which a table-layer rewrite (merge batch,
    * compaction, rebucket) plans as ONE exchange-free single-task stage —
    * the shared default behind `MergeConfig.singleTaskRows` and the
    * maintenance rewrites, kept in one place so the rule cannot drift
    * between call sites. Scale-adaptive logic, not a local-mode constant:
    * at any cluster size a sub-100k-row job is scheduling-floor-bound,
    * and one task bounded by this count cannot skew or spill.
    */
  val SingleTaskRows: Long = 100000L

  /** Placement of a parallel bucket rewrite (a merge batch or compaction
    * above [[SingleTaskRows]]): hash-partition on `_bucket` into
    * `min(touched buckets, defaultParallelism)` tasks. Every row of a
    * bucket lands in one task, and callers sort each task by `_bucket`
    * before the partitioned write, so a task writes its buckets' files one
    * after another and each bucket still gets exactly one file. Sizing by
    * task slots rather than by bucket count keeps the per-task fixed cost
    * (scheduling, writer set-up) bounded by the cores, not by the bucket
    * count: a ~2 MB batch touching 32 buckets would otherwise run 32 write
    * tasks on a 4-core host.
    */
  def repartitionByBucket(df: DataFrame, touchedBuckets: Int): DataFrame = {
    val slots = df.sparkSession.sparkContext.defaultParallelism
    df.repartition(math.min(touchedBuckets, slots).max(1), col("_bucket"))
  }

  /** Lost CAS races a merge, compaction or rebucket retries against the
    * winner's snapshot before the conflict surfaces.
    */
  val CommitRetries: Int = 3

  /** Run `attempt`, and run it again after each lost CAS
    * ([[CommitConflictException]]), at most `retries` more times; the
    * last conflict surfaces. An attempt reads the manifest itself, so a
    * retry redoes its work against the winner's snapshot, and the files a
    * lost attempt staged are orphans for a vacuum.
    */
  def retryConflicts[T](retries: Int)(attempt: => T): T = {
    var lost = 0
    while (true) {
      try return attempt
      catch {
        case e: CommitConflictException =>
          lost += 1
          if (lost > retries) throw e
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Bucket ranges per table: fine enough that a 1-bucket commit rewrites
    * ~1/64 of the metadata, coarse enough that a full-spread batch writes
    * at most 64 small manifest files.
    */
  def numRangesFor(numBuckets: Int): Int = math.min(numBuckets, 64)

  /** Range id of a bucket (contiguous equal-width ranges). */
  def rangeOf(bucket: Int, numBuckets: Int): Int =
    (bucket.toLong * numRangesFor(numBuckets) / numBuckets).toInt

  /** Inclusive bucket span [min, max] of a range. */
  def rangeSpan(range: Int, numBuckets: Int): (Int, Int) = {
    val nr = numRangesFor(numBuckets)
    val lo = math.ceil(range.toDouble * numBuckets / nr).toInt
    val hi = math.ceil((range + 1).toDouble * numBuckets / nr).toInt - 1
    (lo, hi)
  }

  /** The file statuses of one scan, served to Spark's `InMemoryFileIndex`
    * as its listing cache: each file's path maps to its own status, so the
    * index never lists. Immutable (table files never change), so a refresh
    * serves the same files again.
    */
  private final class ManifestListing(statuses: Seq[FileStatus]) extends FileStatusCache {
    private val byPath = statuses.map(s => s.getPath -> Array(s)).toMap
    override def getLeafFiles(path: Path): Option[Array[FileStatus]] = byPath.get(path)
    override def putLeafFiles(path: Path, files: Array[FileStatus]): Unit = ()
    override def invalidateAll(): Unit = ()
  }

  /** JVM-wide cache of manifest-file contents. Entries are immutable once
    * written (new content always gets a new name), so caching by name is
    * safe across LakeTable instances; bounded by wholesale clear — a rare
    * event that only costs re-reads.
    */
  private[table] object manifestCache {
    private val m = new java.util.concurrent.ConcurrentHashMap[String, Seq[FileEntry]]()
    def get(k: String): Seq[FileEntry] = m.get(k)
    def putBounded(k: String, v: Seq[FileEntry]): Unit = {
      if (m.size > 4096) m.clear()
      m.put(k, v): Unit
    }
  }

  /** Resolve multi-version stored rows (base + merge-on-read delta files)
    * to the winning version per key: highest `lsn` wins, and on equal
    * LSNs the row from the NEWER data file (higher staging version in
    * the file path) wins — mirroring the merge kernel's
    * change-wins-ties rule (`c.lsn >= t.lsn`). Whole-stage-codegen'd
    * window; Spark 4 plans the rn=1 filter with a map-side
    * WindowGroupLimit, so a hot key never concentrates its versions on
    * one task before partial top-1 pruning.
    */
  def resolveLatest(df: DataFrame): DataFrame = {
    // greedy ".*" prefix anchors the match to the LAST /s<digits>/ path
    // segment — the staging dir (data/s<version>/<attempt>/_bucket=N/...;
    // an attempt is a UUID, which never starts with "s"), never an
    // earlier coincidental segment in the table root (e.g. /home/s123/...),
    // which would flatten _file_ver and make equal-LSN base-vs-delta ties
    // nondeterministic instead of newer-commit-wins
    val ver = regexp_extract(input_file_name(), ".*/s([0-9]+)/", 1).cast("long")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("lsn").desc, col("_file_ver").desc)
    df.withColumn("_file_ver", ver)
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn", "_file_ver")
  }

  /** System column marking delete tombstones in stored files. Tombstones
    * keep the delete's LSN so an out-of-order older event in a later batch
    * cannot resurrect a deleted key.
    */
  val TOMBSTONE = "_tombstone"

  /** Physical (stored) schema = logical schema + tombstone flag. */
  def storedSchema(logical: StructType): StructType =
    StructType(logical.fields.toIndexedSeq :+
      org.apache.spark.sql.types.StructField(TOMBSTONE,
        org.apache.spark.sql.types.BooleanType, nullable = false))

  /** Each entry of `dir` named `<prefix><digits><suffix>`, with the number
    * its name carries; nothing when `dir` does not exist.
    */
  private def versionsIn(fs: FileSystem, dir: Path, prefix: String,
      suffix: String): Seq[(Long, Path)] =
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toIndexedSeq.map(_.getPath).flatMap { p =>
      val n = p.getName
      val digits = n.stripPrefix(prefix).stripSuffix(suffix)
      if (n.startsWith(prefix) && n.endsWith(suffix) && digits.nonEmpty &&
          digits.forall(_.isDigit)) Some(digits.toLong -> p)
      else None
    }

  def apply(root: String, conf: Configuration = new Configuration()): LakeTable =
    new LakeTable(root, conf)

  /** The bucket of a row, the one bucket function of the engine: stable
    * hash-partitioning of the merge key. xxhash64 is deterministic across
    * Spark versions and executors.
    */
  def bucketExpr(numBuckets: Int): org.apache.spark.sql.Column =
    pmod(xxhash64(col("doc_id")), lit(numBuckets.toLong)).cast("int")
}
