package graft.table

import graft.util.LocalFs
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Table maintenance for long-running CDC ingest: bucket compaction,
  * tombstone garbage collection, and orphan-file vacuum. All are
  * snapshot-in/snapshot-out (never mutate referenced files) and commit
  * through the same CAS as the merge path; a compaction or rebucket that
  * loses its version to a concurrent writer re-reads the manifest and
  * redoes its rewrite against the winner, as a merge does.
  *
  * At 10^10-event scale these are what keep read amplification bounded: a
  * busy bucket accumulates one file per micro-batch, and every delete
  * leaves a tombstone row that only exists to fence out-of-order stragglers.
  */
object Maintenance {

  /** Result of a compaction run. */
  final case class CompactionResult(
      snapshotId: String,
      version: Long,
      filesBefore: Int,
      filesAfter: Int,
      tombstonesDropped: Boolean)

  /** Rewrite each selected bucket's file set into one file per bucket,
    * dropping tombstone rows whose LSN is at or below `tombstoneWatermark`.
    *
    * The watermark is the caller's promise that no in-flight change event
    * has an LSN <= it (e.g. the feed's committed low-watermark): a
    * tombstone only exists to fence out-of-order events older than the
    * delete, so once the feed has advanced past that LSN the tombstone is
    * dead weight. Pass Long.MinValue to keep all tombstones.
    *
    * `buckets = None` compacts the whole table. At 100 TB that is a
    * full-table rewrite per maintenance run — pass an explicit subset
    * (or use [[mostFragmented]]) so each run is O(touched buckets):
    * untouched buckets' files carry over into the new manifest with no
    * I/O, exactly like the merge path's bucket pruning.
    */
  def compact(spark: SparkSession, table: LakeTable,
      tombstoneWatermark: Long = Long.MinValue,
      buckets: Option[Set[Int]] = None): CompactionResult = {
    LocalFs.install(spark)
    LakeTable.retryConflicts(LakeTable.CommitRetries) {
      compactOnce(spark, table, tombstoneWatermark, buckets)
    }
  }

  private def compactOnce(spark: SparkSession, table: LakeTable,
      tombstoneWatermark: Long, buckets: Option[Set[Int]]): CompactionResult = {
    val m = table.currentManifest()
    val stored = LakeTable.storedSchema(m.schema)
    val nextVersion = m.version + 1

    // manifest-LIST pruning: a bucket-subset compaction opens only the
    // ranges it touches; the rest carry over by reference
    val touched = table.filesOf(m, buckets)
    val filesBefore = m.manifests.map(_.nFiles).sum
    if (touched.isEmpty) {
      // nothing selected: commit nothing, report the no-op
      return CompactionResult(m.snapshotId, m.version,
        filesBefore, filesBefore, tombstonesDropped = false)
    }
    val touchedBuckets = touched.map(_.bucket).toSet

    // merge-on-read deltas fold back into one base file per bucket here:
    // LWW-resolve multi-version keys FIRST (delta-bearing buckets only),
    // then the tombstone filter (the resolved winner may be a tombstone —
    // the key must drop, not fall back to a stale base row).
    // Size-adaptive single-task plan (same rule as the merge kernel's
    // MergeConfig.singleTaskRows): when the manifest stats say the touched
    // buckets fit one task, coalesce BELOW the resolution window so the
    // whole fold+filter+sort+write is one exchange-free stage instead of
    // a 2-3 stage job — a maintenance cycle over trickle-sized buckets is
    // scheduling-floor-bound, not data-bound. Larger selections hash on
    // _bucket into min(touched buckets, task slots) tasks, the merge
    // kernel's rule (LakeTable.repartitionByBucket): each bucket lands in
    // one task and, sorted by _bucket below, in one file.
    val singleTask = touched.map(_.rows).sum <= LakeTable.SingleTaskRows
    val df = table.scanResolved(spark, stored, touched, singlePartition = singleTask)
      .filter(!col(LakeTable.TOMBSTONE) || col("lsn") > tombstoneWatermark)
      .withColumn("_bucket", LakeTable.bucketExpr(m.numBuckets))

    val placed =
      if (singleTask) df
      else LakeTable.repartitionByBucket(df, touchedBuckets.size)
    val (_, newFiles) = table.stage(placed, nextVersion, s"compact v$nextVersion")
    val next = table.commitNext(Some(m), touchedBuckets, newFiles,
      m.schemaJson, m.numBuckets)
    CompactionResult(next.snapshotId, next.version, filesBefore,
      next.manifests.map(_.nFiles).sum, tombstoneWatermark > Long.MinValue)
  }

  /** Scale the table's bucket count in place: rewrite the data files under
    * `newNumBuckets` key partitions and commit a snapshot carrying the new
    * count. The MERGE kernel reads `numBuckets` from the manifest (not its
    * config), so every subsequent batch buckets by the new scheme with no
    * caller change.
    *
    * A fixed-at-creation bucket count is the classic lake-table scale
    * trap: a table created at 32 buckets has ~3 TB buckets at 100 TB, and
    * every touched-bucket rewrite, compaction cycle, and skew event is a
    * multi-TB job. Growing the count must therefore be an ONLINE
    * operation, and restricting it to integer multiples (`newNumBuckets =
    * k * numBuckets`) makes the rewrite SHUFFLE-FREE: `pmod(h, kN) mod N
    * == pmod(h, N)`, so all rows of old bucket `b` land in the k new
    * buckets `{b, b+N, ..., b+(k-1)N}` — each scan task splits its rows
    * locally into at most k output files and the plan needs NO exchange
    * (the write below deliberately has no repartition; RebucketSpec
    * asserts the plan is exchange-free on a delta-free table). On a
    * 1000-executor cluster the rewrite is embarrassingly parallel and
    * bounded by scan+write bandwidth, never by shuffle.
    *
    * Merge-on-read deltas fold into the rewrite (`scanResolved`);
    * tombstones are KEPT — rebucketing must not weaken out-of-order
    * fencing — and the idempotence ledger + floor carry over unchanged,
    * so a replayed batch is still recognized after the rescale.
    */
  def rebucket(spark: SparkSession, table: LakeTable,
      newNumBuckets: Int): CompactionResult = {
    LocalFs.install(spark)
    LakeTable.retryConflicts(LakeTable.CommitRetries)(rebucketOnce(spark, table, newNumBuckets))
  }

  private def rebucketOnce(spark: SparkSession, table: LakeTable,
      newNumBuckets: Int): CompactionResult = {
    val m = table.currentManifest()
    require(newNumBuckets > m.numBuckets,
      s"rebucket only grows the bucket count (${m.numBuckets} -> $newNumBuckets)")
    require(newNumBuckets % m.numBuckets == 0,
      s"newNumBuckets must be an integer multiple of ${m.numBuckets} " +
        s"(got $newNumBuckets) — multiples keep the rewrite shuffle-free")
    val stored = LakeTable.storedSchema(m.schema)
    val nextVersion = m.version + 1
    val files = table.filesOf(m)
    // coalesce (narrow — the plan stays exchange-free, RebucketSpec's
    // invariant) to one task when the manifest stats say the whole table
    // fits it: a small table's rewrite is otherwise fanned over one task
    // per input file, each paying parquet-writer setup for up to k output
    // files
    val singleTask = files.map(_.rows).sum <= LakeTable.SingleTaskRows
    val newFiles =
      if (files.isEmpty) Nil
      else table.stage(
        table.scanResolved(spark, stored, files, singlePartition = singleTask)
          .withColumn("_bucket", LakeTable.bucketExpr(newNumBuckets)),
        nextVersion, s"rebucket v$nextVersion")._2
    // under the new count every bucket is replaced
    val next = table.commitNext(Some(m), Set.empty, newFiles, m.schemaJson,
      newNumBuckets)
    CompactionResult(next.snapshotId, next.version, files.size,
      next.manifests.map(_.nFiles).sum, tombstonesDropped = false)
  }

  /** The `n` buckets that most need compaction: highest file count first
    * (ties broken by bucket id for determinism), only buckets with more
    * than one file. Driver-side over the manifest's file list — O(files)
    * metadata, no data I/O — so a maintenance loop can call
    * `compact(spark, table, wm, Some(mostFragmented(table, n)))` each
    * cycle and keep every run bounded.
    */
  def mostFragmented(table: LakeTable, n: Int): Set[Int] =
    table.filesOf(table.currentManifest())
      .groupBy(_.bucket).view.mapValues(fs => (fs.size, fs.exists(_.isDelta)))
      .toSeq
      // a bucket needs folding when it has >1 file OR any delta file: a
      // single delta file (trickle append into a previously-empty bucket)
      // still pays the scan-time LWW resolution window on every read and
      // holds GC-able tombstones — with >1-file-only selection it would
      // never compact
      .filter { case (_, (c, hasDelta)) => c > 1 || hasDelta }
      .sortBy { case (b, (c, _)) => (-c, b) }
      .take(n).map(_._1).toSet

  /** Retire snapshot history below `retainFromVersion`: first [[vacuum]]
    * (unreferenced data files + superseded manifest files, which must be
    * resolved while the old heads are still readable), then delete the
    * expired HEAD documents themselves. Bounds the metadata footprint of
    * a long-running table — without it a 10^5-commit table keeps 10^5
    * head documents forever, and the listing fallback of
    * `currentVersion` (plus any meta-dir scan) pays for all of them.
    * Time travel below the horizon stops working — that is the point.
    * Returns every deleted path (data + manifest files + heads).
    */
  def expireSnapshots(table: LakeTable, retainFromVersion: Long): Seq[String] = {
    val removed = vacuum(table, retainFromVersion)
    val fs = table.fs
    val heads = table.listedHeads().collect {
      case (v, p) if v < retainFromVersion.max(0) && fs.delete(p, false) => p.toString
    }
    removed ++ heads
  }

  /** Delete data files not referenced by any manifest at or above
    * `retainFromVersion` (orphans from lost CAS races or superseded
    * snapshots). Returns the deleted paths. Time-travel to versions below
    * the horizon stops working — that is the point.
    *
    * Concurrent-writer safety: staging directories for versions ABOVE the
    * current committed version (`data/s<v>` with v > current) belong to
    * in-flight merges that may yet win their CAS — their files are never
    * touched, so vacuum can run alongside writers. (The same guard an
    * Iceberg orphan-file sweep gets from a minimum file age.)
    */
  def vacuum(table: LakeTable, retainFromVersion: Long,
      orphanManifestAgeMs: Long = Long.MaxValue): Seq[String] = {
    val fs = table.fs
    val current = table.currentVersion()
    if (current < 0) return Nil
    val retainFrom = retainFromVersion.max(0)
    def heads(vs: Iterable[Long]): Seq[Manifest] = vs.flatMap { v =>
      try Some(table.readManifest(v))
      catch { case _: java.io.FileNotFoundException => None }
    }.toSeq
    // each retained head is read once, for its data files and its
    // manifest-file refs
    val retained = heads(retainFrom to current)
    val live: Set[String] = retained.flatMap { m =>
      try table.filesOf(m)
      catch { case _: java.io.FileNotFoundException => Nil }
    }.map(f => Path.getPathWithoutSchemeAndAuthority(new Path(f.path)).toString).toSet
    // manifest-file GC: m-*.json referenced ONLY by heads below the
    // horizon are superseded metadata. Files referenced by NO head at all
    // are left alone UNLESS older than `orphanManifestAgeMs` — a young
    // unreferenced manifest may belong to an in-flight commit whose head
    // CAS has not landed yet (the age window is the same guard an Iceberg
    // orphan sweep uses; the data sweep gets it from the s<v> <= current
    // rule). Without the age sweep, manifests orphaned by LOST CAS races
    // would leak forever — no committed-version rule ever covers them.
    def refsOf(ms: Seq[Manifest]): Set[String] = ms.flatMap(_.manifests.map(_.path)).toSet
    val liveRefs = refsOf(retained)
    val belowHorizon = refsOf(heads(0L until retainFrom))
    val deadRefs = belowHorizon -- liveRefs
    val metaDir = table.metaDir
    // referenced-anywhere set for the orphan sweep — reuse the two read
    // passes above (re-reading the expired heads would double the
    // O(expired-history) metadata I/O of every vacuum)
    val allRefs = liveRefs ++ belowHorizon
    val now = System.currentTimeMillis()
    val agedOrphans: Set[String] =
      if (orphanManifestAgeMs == Long.MaxValue || !fs.exists(metaDir)) Set.empty
      else fs.listStatus(metaDir).toIndexedSeq
        .filter(s => s.isFile && s.getPath.getName.startsWith("m-") &&
          s.getPath.getName.endsWith(".json") &&
          !allRefs.contains(s.getPath.getName) &&
          now - s.getModificationTime > orphanManifestAgeMs)
        .map(_.getPath.getName).toSet
    val deletedManifests = (deadRefs ++ agedOrphans).toSeq.sorted.filter { name =>
      fs.delete(new Path(metaDir, name), false)
    }.map(name => new Path(metaDir, name).toString)
    // only sweep staging dirs of committed versions: s<v> with v <= current
    val committedStaging = table.listedStagingDirs().collect {
      case (v, dir) if v <= current => dir
    }
    val deleted = Seq.newBuilder[String]
    deleted ++= deletedManifests
    committedStaging.foreach { sd =>
      val it = fs.listFiles(sd, true)
      while (it.hasNext) {
        val st = it.next()
        if (st.isFile && st.getPath.getName.endsWith(".parquet")) {
          val p = Path.getPathWithoutSchemeAndAuthority(st.getPath).toString
          if (!live.contains(p)) {
            fs.delete(st.getPath, false)
            deleted += p
          }
        }
      }
    }
    deleted.result()
  }
}
