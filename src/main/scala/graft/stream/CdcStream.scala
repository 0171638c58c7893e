package graft.stream

import graft.merge.{MergeConfig, MergeInto}
import graft.table.{LakeTable, Maintenance}
import graft.util.LocalFs
import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.datasources.FileScanRDD
import org.apache.spark.sql.execution.datasources.parquet.ParquetFooterReader
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import scala.jdk.CollectionConverters._

/** Configuration of a CDC tail job.
  *
  * @param feedDir           directory of LSN-ordered change-feed parquet
  *                          segments (the binlog/WAL being tailed)
  * @param tableDir          LakeTable root to merge into
  * @param checkpointDir     Structured Streaming checkpoint location
  * @param checkpointId      stable id naming this stream in the table's
  *                          idempotence ledger (survives restarts)
  * @param maxFilesPerTrigger admission cap per micro-batch — the Spark
  *                          analog of the reference's WaitAndBatch drain
  *                          ceiling (`WaitAndBatch.java:32-33`: sleep T,
  *                          then read at most N)
  * @param processingTime    trigger interval; None = Trigger.AvailableNow
  *                          (drain the feed, then stop — used for replay
  *                          verification and benchmarks)
  * @param maintenanceEvery  run table maintenance inline every N APPLIED
  *                          batches (0 = off): compact the most-fragmented
  *                          buckets (folds merge-on-read deltas back into
  *                          base files, drops tombstones at or below the
  *                          feed's applied low-watermark) and expire
  *                          snapshot history beyond `retainSnapshots`.
  *                          This is the 100-TB operating mode — delta
  *                          append + periodic fold + metadata expiry —
  *                          wired into the stream itself, matching the
  *                          reference's flow-embedded maintenance posture
  *                          (its upserts groom the keyed store inline, not
  *                          from a separate operator run). Maintenance
  *                          commits ride the same CAS as merges, so a
  *                          crash mid-maintenance is safe; a replay skips
  *                          the merge (ledger) and simply re-grooms.
  * @param maintenanceBuckets buckets compacted per maintenance cycle
  *                          (bounded work per cycle — the run is
  *                          O(selected buckets), never a table rewrite)
  * @param retainSnapshots   snapshot heads kept when maintenance expires
  *                          history (time travel below the horizon stops
  *                          working — that is the point)
  * @param cleanSource       file-source hygiene: "delete" removes feed
  *                          segments once committed, "archive" moves them
  *                          under `sourceArchiveDir`. Without it a
  *                          year-long feed's source listing (and the
  *                          checkpoint's seen-files log) grows O(history)
  *                          — the same debt class the table side's
  *                          version hint killed.
  * @param sourceArchiveDir  destination for cleanSource = "archive"
  *
  * An event the kernel cannot apply (null `doc_id` or `lsn`, unknown
  * `op`) goes to `merge.deadLetterDir`; without one, it stops the stream
  * with the kernel's error before its micro-batch writes anything.
  */
final case class StreamConfig(
    feedDir: String,
    tableDir: String,
    checkpointDir: String,
    checkpointId: String = "cdc",
    maxFilesPerTrigger: Int = 4,
    processingTime: Option[String] = None,
    merge: MergeConfig = MergeConfig(),
    maintenanceEvery: Int = 0,
    maintenanceBuckets: Int = 4,
    retainSnapshots: Int = 8,
    /** Bounded-disorder promise for tombstone GC: no change event arrives
      * more than this many LSNs behind the highest LSN already applied.
      * Maintenance then GCs tombstones at or below (max applied LSN -
      * slack) — they can no longer fence anything the feed will still
      * deliver. Long.MaxValue (default) = no promise, keep all tombstones
      * (compaction still folds deltas and merges files).
      *
      * The promise must cover the feed's TOTAL reordering — transport
      * jitter AND redelivery (an at-least-once feed re-sending an event
      * later keeps its original LSN). Understating it re-opens the
      * resurrection window the tombstones exist to close.
      */
    tombstoneSlackLsn: Long = Long.MaxValue,
    cleanSource: Option[String] = None,
    sourceArchiveDir: Option[String] = None,
    /** Online bucket-count scaling (0 = off): at each maintenance cycle,
      * if the table's stored rows per bucket exceed this, DOUBLE the
      * bucket count ([[Maintenance.rebucket]] — a shuffle-free split of
      * each bucket into two) before compacting, up to `maxNumBuckets`.
      * This closes the fixed-at-creation bucket-count trap for a table
      * that grows 1000x under a long-running tail: rewrite amplification
      * per batch stays O(table/numBuckets) instead of degrading linearly
      * with table growth.
      *
      * The row count is STORED rows (manifest stats): tombstones and
      * not-yet-folded delta duplicates count toward the threshold. That
      * is deliberate — stored rows are what a bucket rewrite actually
      * moves — but it means a delete/churn-heavy table should run this
      * together with a finite `tombstoneSlackLsn` (tombstone GC) and the
      * fragmentation compaction (both part of the same maintenance
      * cycle), which keep stored ~ live; `maxNumBuckets` caps the worst
      * case regardless.
      */
    rebucketAtRows: Long = 0L,
    maxNumBuckets: Int = 1 << 14)

/** Structured Streaming driver: tail the change feed, apply each
  * micro-batch through the MERGE kernel, commit exactly-once.
  *
  * The reference pipeline's shape (`GetFile` source -> `WaitAndBatch`
  * micro-batching -> `PontusTinkerPopClientRecordBulk` one-upsert-per-batch,
  * `PontusTinkerPopClientRecordBulk.java:91-126`) maps 1:1 onto
  * `readStream -> trigger/admission -> foreachBatch(merge)`; the
  * at-least-once session commit/rollback (`PontusIdGenerator.java:361-378`)
  * is upgraded to exactly-once by the table's (checkpointId, batchId)
  * ledger: a batch replayed after a crash between table commit and
  * checkpoint write is recognized and skipped.
  */
object CdcStream {

  /** Schema of the feed dir (batch-inferred once at start; a CDC schema
    * change is a restart point — the new run re-infers and the MERGE
    * kernel evolves the table). A segment that adds a column while the
    * stream runs fails the stream ([[checkNoNewColumns]]); the file source
    * would otherwise read it without that column.
    */
  def feedSchema(spark: SparkSession, feedDir: String): StructType =
    spark.read.parquet(feedDir).schema

  /** Start tailing. `onBatch` is a test/metrics hook invoked after each
    * merge with (batchId, result).
    */
  def start(
      spark: SparkSession,
      cfg: StreamConfig,
      onBatch: (Long, graft.merge.MergeResult) => Unit = (_, _) => ()): StreamingQuery = {
    // before the query exists: its checkpoint logs resolve their
    // FileContext from a copy of the session's configuration
    LocalFs.install(spark)
    val schema = feedSchema(spark, cfg.feedDir)
    val feed0 = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", cfg.maxFilesPerTrigger)
    val feed1 = cfg.cleanSource.foldLeft(feed0)(_.option("cleanSource", _))
    val feed = cfg.sourceArchiveDir.foldLeft(feed1)(_.option("sourceArchiveDir", _))
      .parquet(cfg.feedDir)

    val table = LakeTable(cfg.tableDir)
    // applied (non-skipped) batches since start — drives the maintenance
    // cadence; deliberately NOT batchId-based so a restart that replays a
    // skipped batch doesn't double-groom
    var applied = 0L
    // highest LSN applied so far — the tombstone-GC watermark base under
    // the bounded-disorder promise (tombstoneSlackLsn)
    var maxAppliedLsn = Long.MinValue
    val writer = feed.writeStream
      .queryName(s"cdc-${cfg.checkpointId}")
      .option("checkpointLocation", cfg.checkpointDir)
      .trigger(cfg.processingTime
        .map(t => Trigger.ProcessingTime(t): Trigger)
        .getOrElse(Trigger.AvailableNow()))
      .foreachBatch { (df: org.apache.spark.sql.Dataset[Row], batchId: Long) =>
        checkNoNewColumns(df, schema)
        // `seg`/`phase` are feed bookkeeping (partition dirs), not payload
        val batch = df.drop("seg", "phase")
        val res = MergeInto.apply(df.sparkSession, table, batch,
          cfg.checkpointId, batchId, cfg.merge)
        if (!res.skipped) {
          applied += 1
          maxAppliedLsn = (maxAppliedLsn +:
            res.lineage.map(_.max_lsn)).filter(_ != Long.MinValue)
            .maxOption.getOrElse(Long.MinValue)
          if (cfg.maintenanceEvery > 0 && applied % cfg.maintenanceEvery == 0)
            maintain(df.sparkSession, table, cfg, maxAppliedLsn)
        }
        onBatch(batchId, res)
      }
    writer.start()
  }

  /** Fail when a file of the micro-batch `df` has a column that the
    * stream's `schema` lacks. Reads only the parquet footers of the files
    * the source already listed for the batch, on the driver: no Spark job,
    * no listing. `foreachBatch` hands over a `LogicalRDD` over the planned
    * scan, whose `inputFiles` is empty, so the files are taken from the
    * scan's `FileScanRDD` in the RDD lineage.
    */
  private def checkNoNewColumns(df: DataFrame, schema: StructType): Unit = {
    val spark = df.sparkSession
    val caseSensitive = spark.conf.get("spark.sql.caseSensitive").toBoolean
    def norm(n: String) = if (caseSensitive) n else n.toLowerCase(java.util.Locale.ROOT)
    val known = schema.fieldNames.map(norm).toSet
    val conf = spark.sparkContext.hadoopConfiguration
    def scans(rdd: RDD[_]): Seq[FileScanRDD] = rdd match {
      case f: FileScanRDD => Seq(f)
      case r => r.dependencies.flatMap(d => scans(d.rdd))
    }
    val files = df.queryExecution.logical match {
      case l: LogicalRDD =>
        scans(l.rdd).flatMap(_.filePartitions.flatMap(_.files.map(_.filePath.toPath)))
      case _ => df.inputFiles.toSeq.map(new Path(_))
    }
    files.foreach { f =>
      // Spark's footer reader: ~0.1 ms a file, where opening a
      // ParquetFileReader costs milliseconds
      val names = ParquetFooterReader.readFooter(HadoopInputFile.fromPath(f, conf),
        ParquetMetadataConverter.SKIP_ROW_GROUPS).getFileMetaData.getSchema.getFields
        .asScala.map(_.getName)
      val extra = names.filterNot(n => known(norm(n)))
      if (extra.nonEmpty) throw new IllegalStateException(
        s"feed segment file $f has column(s) ${extra.mkString(", ")} that the " +
          s"stream schema (${schema.fieldNames.mkString(", ")}) lacks; the " +
          "stream stops rather than drop them (a feed schema change is a " +
          "restart point, see CdcStream.feedSchema)")
    }
  }

  /** One inline maintenance cycle: compact the k most fragmented buckets
    * (folding merge-on-read deltas back into base files; GC'ing
    * tombstones at or below `maxAppliedLsn - tombstoneSlackLsn`, which
    * the bounded-disorder promise says nothing in the feed can still
    * undercut), then expire snapshot history beyond the retention window.
    */
  private def maintain(spark: SparkSession, table: LakeTable,
      cfg: StreamConfig, maxAppliedLsn: Long): Unit = {
    // growth check first: a rebucket rewrites (and implicitly compacts)
    // everything, so the fragmentation pass below can skip that cycle
    if (cfg.rebucketAtRows > 0) {
      val m = table.currentManifest()
      val rows = m.manifests.map(_.rows).sum
      if (m.numBuckets * 2 <= cfg.maxNumBuckets &&
          rows / m.numBuckets.max(1) > cfg.rebucketAtRows) {
        Maintenance.rebucket(spark, table, m.numBuckets * 2): Unit
        val horizon = table.currentVersion() - cfg.retainSnapshots.max(1)
        if (horizon > 0) Maintenance.expireSnapshots(table, horizon): Unit
        return
      }
    }
    val frag = Maintenance.mostFragmented(table, cfg.maintenanceBuckets)
    if (frag.nonEmpty) {
      val wm =
        if (cfg.tombstoneSlackLsn == Long.MaxValue ||
          maxAppliedLsn == Long.MinValue) Long.MinValue
        else try math.subtractExact(maxAppliedLsn, cfg.tombstoneSlackLsn)
        catch { case _: ArithmeticException => Long.MinValue }
      Maintenance.compact(spark, table, wm, Some(frag)): Unit
    }
    val horizon = table.currentVersion() - cfg.retainSnapshots.max(1)
    if (horizon > 0) Maintenance.expireSnapshots(table, horizon): Unit
  }

  /** Drain the whole feed synchronously (AvailableNow + await). Returns the
    * final table state.
    */
  def runToCompletion(spark: SparkSession, cfg: StreamConfig,
      onBatch: (Long, graft.merge.MergeResult) => Unit = (_, _) => ()): DataFrame = {
    val q = start(spark, cfg.copy(processingTime = None), onBatch)
    q.awaitTermination()
    LakeTable(cfg.tableDir).read(spark)
  }
}
