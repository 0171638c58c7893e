package graft.merge

import graft.model.{Ops, SchemaEvolution, Schemas}
import graft.table.{FileEntry, LakeTable, Manifest}
import graft.util.{BatchFiles, JobDescription, LocalFs}
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.util.UUID

/** Result of applying one micro-batch. */
final case class MergeResult(
    snapshotId: String,
    version: Long,
    lineage: Seq[graft.model.LineageRow],
    skipped: Boolean)

/** Per-column update policy — the reference's declarative `updatereq`
  * per-property rules (`flow.xml:1163-1307`: `excludeFromUpdate`,
  * coalescing post-processors). Applies only to a genuine UPDATE of a
  * live row; inserts (and re-inserts over a tombstone) always take the
  * incoming value.
  */
sealed trait ColumnPolicy
object ColumnPolicy {
  /** Default: winning change overwrites the stored value. */
  case object Overwrite extends ColumnPolicy
  /** Value is fixed at insert time; updates never touch it
    * (`excludeFromUpdate` in the updatereq rule doc).
    */
  case object ExcludeFromUpdate extends ColumnPolicy
  /** A null incoming value keeps the stored one (sparse updates). */
  case object CoalesceExisting extends ColumnPolicy
  /** Accumulating policies for metric-bearing rows (edge observation
    * counts / LSN ranges, the reference's incremental edge upserts,
    * `flow.xml:1298-1307`): a genuine update folds the incoming value
    * into the stored one instead of replacing it. Correct across batches
    * because batch LSNs are monotone per key and the exactly-once ledger
    * prevents a replayed batch from folding twice; a genuinely STALE
    * change (lower LSN than stored) is dropped, not folded.
    */
  case object AddExisting extends ColumnPolicy
  case object MinExisting extends ColumnPolicy
  case object MaxExisting extends ColumnPolicy
}

/** Tuning knobs for the MERGE kernel.
  *
  * @param numBuckets   key-partition count of a NEW table; an existing
  *                     table's count comes from its manifest (grown online
  *                     by `Maintenance.rebucket`).
  *                     At 100 TB this is the unit of rewrite amplification:
  *                     more buckets => smaller rewrites per touched key,
  *                     more files — not more write tasks: a parallel
  *                     rewrite runs min(touched buckets,
  *                     defaultParallelism) tasks, each writing several
  *                     buckets' files ([[graft.table.LakeTable.repartitionByBucket]]).
  *                     Size so one bucket's rewrite fits an executor's
  *                     shuffle memory.
  * @param saltFactor   >1 enables the two-stage salted dedupe: stage 1
  *                     pre-reduces each (doc_id, salt) group with a
  *                     struct-max (map-side combine absorbs hot keys),
  *                     stage 2 runs the final row_number window over at most
  *                     `saltFactor` rows per key. Default 0 (plain window):
  *                     measured plans show Spark 4's WindowGroupLimit
  *                     already performs a map-side partial top-1-per-key
  *                     before the exchange, which bounds a hot key to
  *                     #map-partitions rows post-shuffle — the salting
  *                     stage costs an extra SortAggregate + Exchange for
  *                     no additional skew protection (see BENCH.md).
  * @param broadcastThreshold  raw batch row count below which the changes
  *                     side of the MERGE join is broadcast (no shuffle of
  *                     the rewritten target buckets) — the trickle-batch
  *                     fast path. Large batches use the shuffle merge:
  *                     measured crossover is a few 100k rows (driver-side
  *                     broadcast build is serial; see BENCH.md). The
  *                     single-task plan (`singleTaskRows`) takes precedence:
  *                     a batch that fits it never broadcasts.
  * @param lineageDir   where each batch's lineage rows land, exactly-once.
  *                     When set, the merge also computes the per-status
  *                     counters (n_insert / n_update / n_delete /
  *                     n_dedup_dropped) through a post-write `_status`
  *                     read-back job, overlapped with manifest composition:
  *                     written lineage must be exact. Without it that job
  *                     does not run (it would scan O(rewritten buckets) rows
  *                     on the per-batch serial path purely for counters)
  *                     and `MergeResult.lineage` rows carry -1 in the four
  *                     counters (explicitly "not computed", never a silent
  *                     0). The fields the engine itself consumes (per-bucket
  *                     LSN ranges, batch and snapshot ids; the stream's
  *                     tombstone-GC watermark reads `max_lsn`) are set
  *                     either way: on the rewrite path from the pre-pass
  *                     stats (the batch's raw LSN range per bucket), on the
  *                     delta path from the staged files' footers (`max_lsn`
  *                     the same, `min_lsn` the lowest LSN written). A
  *                     lineageDir run always takes the pre-pass, so a delta
  *                     batch under it runs that job too.
  * @param deadLetterDir quarantine for the events the kernel cannot apply:
  *                     a null `doc_id`, a null `lsn`, or an `op` outside
  *                     [[graft.model.Ops.all]]. They are written to
  *                     `<dir>/cp=<checkpointId>/batch=<batchId>` before the
  *                     commit (idempotent overwrite) and the rest of the
  *                     batch is applied. None (default) fails such a batch
  *                     before its commit, with nothing left staged (a
  *                     one-job delta batch removes the attempt it staged).
  */
final case class MergeConfig(
    numBuckets: Int = 32,
    saltFactor: Int = 0,
    broadcastThreshold: Long = 200000L,
    lineageDir: Option[String] = None,
    deadLetterDir: Option[String] = None,
    preCommitHook: () => Unit = () => (),
    columnPolicy: Map[String, ColumnPolicy] = Map.empty,
    /** Newest ledger entries kept per checkpoint; older ones fold into the
      * manifest's batch floor (exact idempotence at O(retention) manifest
      * bytes — see [[graft.table.Manifest]]).
      */
    ledgerRetention: Int = 1024,
    /** Logical schema a FRESH table starts from (defaults to the
      * tokenized-sequence shape). Non-seq-shaped tables — e.g. an edges
      * table keyed by edge key — pass their own base so evolution doesn't
      * graft the seq columns onto them.
      */
    initialSchema: Option[StructType] = None,
    /** Merge-on-read trickle path: a batch with at most this many raw
      * rows APPENDS delta files to its touched buckets instead of
      * rewriting them — no target read, no join, write O(batch) instead
      * of O(touched buckets' data). Readers resolve last-writer-wins at
      * scan time and compaction folds deltas back into base files, so
      * the final state is identical to the rewrite path (DeltaAppendSpec
      * proves equivalence batch-size-independently). 0 (default) = off.
      * Ignored when `columnPolicy` is non-empty (policies need the
      * stored row) and while the table holds no file (the bootstrap).
      * The raw row count comes from the batch's parquet footers when the
      * batch is one file scan (a stream micro-batch, `spark.read.parquet`);
      * such a delta batch with no `lineageDir` runs one Spark job, the
      * write, with its rejects counted inside it. Any other batch counts
      * its rows in the pre-pass. Lineage for delta batches is op-typed (an
      * I counts as insert, a U/UPSERT as update, a D as delete) since
      * match status is unknown without reading the target, and its LSN
      * ranges are those of the files written (see `lineageDir`).
      */
    deltaAppendThreshold: Long = 0L,
    /** Row-count ceiling for the SINGLE-TASK merge plan (round 6): when
      * the batch (and, for the rewrite path, batch + touched-target rows
      * from the manifest stats) fits under this, the merge coalesces its
      * inputs to one partition FIRST — SinglePartition satisfies every
      * downstream clustering requirement, so dedupe window, full-outer
      * join and the bucket-partitioned write all plan as ONE exchange-free
      * single-task stage (one Spark job instead of 3-4 per batch). This is
      * scale-ADAPTIVE, not a local-mode constant: at any cluster size, a
      * sub-100k-row micro-batch is dominated by per-job scheduling floor,
      * and one task bounded by this row count cannot skew or spill.
      * Batches above the ceiling keep the parallel plans unchanged.
      * Default = [[graft.table.LakeTable.SingleTaskRows]], the table
      * layer's shared single-task rule.
      */
    singleTaskRows: Long = LakeTable.SingleTaskRows)

/** The MERGE INTO kernel: apply one micro-batch of change events to a
  * [[LakeTable]] with last-writer-wins by (doc_id, lsn), schema evolution,
  * bucket-pruned rewrite, delete tombstones, per-partition lineage, and an
  * idempotent CAS commit.
  *
  * Spark-first re-expression of the reference's match-or-create upsert
  * (`PontusIdGenerator.java:266-381`: scan keyed store -> 1 match = update,
  * 0 = insert; commit/rollback at :361-378) and its bulk micro-batch client
  * (`PontusTinkerPopClientRecordBulk.java:91-126`: one upsert query per
  * drained batch): the whole micro-batch becomes ONE set-oriented
  * full-outer equi-join on the merge key, touching only the buckets the
  * batch's keys hash to, instead of a per-record RPC.
  *
  * Deletes write tombstone rows (`_tombstone = true`, lsn = delete LSN) so
  * that an out-of-order *older* event arriving in a later batch cannot
  * resurrect a deleted key, while a genuinely newer upsert can.
  */
object MergeInto {

  val TOMBSTONE: String = LakeTable.TOMBSTONE

  private def storedSchema(logical: StructType): StructType =
    LakeTable.storedSchema(logical)

  /** Dedupe a batch to one winning event per doc_id (last-writer-wins by
    * highest lsn). The final stage is the north-rule shape:
    * `row_number() over (partition by doc_id order by lsn desc) = 1`.
    * With `saltFactor > 1` a salted pre-reduction runs first so a hot key
    * (Zipf head) never concentrates a full window partition on one task:
    * stage 1 groups by (doc_id, xxhash64(lsn) % S) and keeps the max-by-lsn
    * row via a partial-aggregable struct max (map-side combine), leaving
    * <= S rows per key for the final window.
    */
  def dedupeLatest(batch: DataFrame, saltFactor: Int): DataFrame = {
    val cols = batch.columns.toIndexedSeq
    val pre =
      if (saltFactor <= 1) batch
      else {
        val payload = struct((col("lsn") +: cols.filterNot(_ == "lsn").map(col)): _*)
        batch
          .groupBy(col("doc_id"), pmod(xxhash64(col("lsn")), lit(saltFactor.toLong)).as("_salt"))
          .agg(max(payload).as("_w"))
          .select(cols.map(c => col(s"_w.$c").as(c)): _*)
      }
    val w = Window.partitionBy(col("doc_id")).orderBy(col("lsn").desc)
    pre.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn")
  }

  /** Structural type equality ignoring nullability/containsNull flags. */
  def sameTypeIgnoreNull(a: DataType, b: DataType): Boolean = (a, b) match {
    case (ArrayType(ea, _), ArrayType(eb, _)) => sameTypeIgnoreNull(ea, eb)
    case (MapType(ka, va, _), MapType(kb, vb, _)) =>
      sameTypeIgnoreNull(ka, kb) && sameTypeIgnoreNull(va, vb)
    case (StructType(fa), StructType(fb)) =>
      fa.length == fb.length && fa.zip(fb).forall { case (x, y) =>
        x.name == y.name && sameTypeIgnoreNull(x.dataType, y.dataType)
      }
    case _ => a == b
  }

  /** Align `df` to `target` schema: add missing columns as nulls, cast
    * widened columns, order columns. Columns differing only in nullability
    * are passed through uncast.
    */
  def alignTo(df: DataFrame, target: StructType): DataFrame = {
    val have = typesOf(df)
    df.select(target.fields.toIndexedSeq.map(alignCol(have, _)): _*)
  }

  private def typesOf(df: DataFrame): Map[String, DataType] =
    df.schema.fields.map(f => f.name -> f.dataType).toMap

  /** Column `f` of a frame whose columns have the types `have`. */
  private def alignCol(have: Map[String, DataType], f: StructField): Column =
    have.get(f.name) match {
      case Some(dt) if sameTypeIgnoreNull(dt, f.dataType) => col(f.name)
      case Some(_) => col(f.name).cast(f.dataType).as(f.name)
      case None => lit(null).cast(f.dataType).as(f.name)
    }

  /** The merge-on-read rows of a deduped batch, in one projection: every
    * table column of `evolved` (a missing one null, a widened one cast),
    * the tombstone flag, an op-typed `_status` (an I counts as insert, a D
    * as delete, the rest as update: match status is unknown without the
    * target) and `_bucket`.
    */
  private def deltaRows(deduped: DataFrame, evolved: StructType, numBuckets: Int): DataFrame = {
    val have = typesOf(deduped)
    val isDel = col("op") === Ops.Delete
    val status = when(isDel, lit("delete"))
      .when(col("op") === Ops.Insert, lit("insert"))
      .otherwise(lit("update"))
    val (key, data) = evolved.fields.toIndexedSeq.partition(_.name == "doc_id")
    deduped.select(((key ++ data).map(alignCol(have, _)) :+ isDel.as(TOMBSTONE) :+
      status.as("_status") :+ LakeTable.bucketExpr(numBuckets).as("_bucket")): _*)
  }

  /** Per bucket, the lowest and highest LSN that `files` hold. */
  private def lsnRanges(files: Seq[FileEntry]): Map[Int, (Long, Long)] =
    files.groupBy(_.bucket).view.mapValues(fs =>
      (fs.map(_.minLsn).min, fs.map(_.maxLsn).max)).toMap

  /** Rows of `batch` known without a Spark job: the footer row counts of
    * its files when it is one parquet scan ([[BatchFiles.scanned]]).
    */
  private def footerRows(batch: DataFrame): Option[Long] =
    BatchFiles.scanned(batch).flatMap(files => scala.util.Try(BatchFiles.footerRows(
      batch.sparkSession.sparkContext.hadoopConfiguration, files)).toOption)

  /** Rejects go to the dead-letter directory (the reference's failure
    * relationship, PontusTinkerPopClient.java:213-258) before the commit,
    * at an idempotent per-batch path: a crash between the commit and a
    * later write would skip them on replay. With no directory the batch
    * fails before its commit, after `discard` removed what it staged.
    */
  private def routeRejects(batch0: DataFrame, goodPred: Column, rejectCount: Long,
      checkpointId: String, batchId: Long, cfg: MergeConfig, discard: () => Unit): Unit =
    if (rejectCount > 0) cfg.deadLetterDir match {
      case Some(dir) =>
        JobDescription(batch0.sparkSession, s"merge rejects $checkpointId/$batchId") {
          batch0.filter(!goodPred).write.mode("overwrite")
            .parquet(s"$dir/cp=$checkpointId/batch=$batchId")
        }
      case None =>
        discard()
        throw new IllegalArgumentException(s"batch $checkpointId/$batchId has $rejectCount " +
          "invalid event(s) (null doc_id, null lsn, or op not in " +
          s"${Ops.all.mkString("/")}); nothing was written. Set " +
          "MergeConfig.deadLetterDir to quarantine them and apply the rest.")
    }

  /** Apply one micro-batch to `table`. Idempotent per (checkpointId,
    * batchId): if the ledger already records this batch, the call is a
    * no-op returning the committed snapshot. Safe under concurrent
    * writers: a lost manifest CAS re-runs the merge against the winner's
    * snapshot (the loser's staged files become orphans for vacuum), up to
    * [[LakeTable.CommitRetries]] more times.
    *
    * Only valid events reach the table: one with a null `doc_id`, a null
    * `lsn` or an `op` outside [[Ops.all]] goes to `cfg.deadLetterDir`, or,
    * without one, fails the batch before anything is written.
    */
  def apply(
      spark: SparkSession,
      table: LakeTable,
      batch: DataFrame,
      checkpointId: String,
      batchId: Long,
      cfg: MergeConfig = MergeConfig()): MergeResult = {
    LocalFs.install(spark)
    LakeTable.retryConflicts(LakeTable.CommitRetries) {
      applyOnce(spark, table, batch, checkpointId, batchId, cfg)
    }
  }

  private def applyOnce(
      spark: SparkSession,
      table: LakeTable,
      batch0: DataFrame,
      checkpointId: String,
      batchId: Long,
      cfg: MergeConfig): MergeResult = {

    // `good` is two-valued by construction (coalesce over the three-valued
    // op membership test): a null op must land in the rejects, not vanish
    // from both sides of the split.
    val goodPred = col("doc_id").isNotNull && col("lsn").isNotNull &&
      coalesce(col("op").isInCollection(Ops.all), lit(false))
    val batch = batch0.filter(goodPred)

    val current = table.currentManifestOpt()

    // -- 0. idempotence: replayed batch => no-op ------------------------
    val ledgerKey = s"$checkpointId/$batchId"
    current.filter(_.isCommitted(checkpointId, batchId)) match {
      case Some(m) =>
        val snap = m.snapshotIdOf(checkpointId, batchId).getOrElse(m.snapshotId)
        return MergeResult(snap, m.version, Nil, skipped = true)
      case None => ()
    }

    val numBuckets = current.map(_.numBuckets).getOrElse(cfg.numBuckets)

    // -- 1. schema evolution -------------------------------------------
    // Logical table columns = seq-table shape + any extra change columns
    // seen so far (ADD COLUMN), types widened per the lattice. `op` stays
    // feed-only.
    val tableSchema = current.map(_.schema)
      .orElse(cfg.initialSchema)
      .getOrElse(Schemas.seqTable)
    val incomingAsTable = StructType(
      batch.schema.fields.filterNot(_.name == "op").toIndexedSeq)
    val evolved = SchemaEvolution.evolve(tableSchema, incomingAsTable)

    // -- 2. the merge-on-read trickle path needs a table that holds files,
    // no column policy (policies need the stored row) and a batch of at
    // most deltaAppendThreshold raw rows. The row count only picks a plan:
    // the final state is the same on either path (DeltaAppendSpec). When
    // the batch's parquet footers give it, a delta batch runs one Spark
    // job ([[applyDeltaOneJob]]); a lineageDir run keeps the pre-pass,
    // whose per-bucket raw counts its counters need.
    val deltaEligible = cfg.deltaAppendThreshold > 0 && cfg.columnPolicy.isEmpty &&
      current.exists(_.manifests.exists(_.nFiles > 0))
    def takesDelta(rawRows: Long): Boolean =
      deltaEligible && rawRows <= cfg.deltaAppendThreshold
    val knownRows =
      if (deltaEligible && cfg.lineageDir.isEmpty) footerRows(batch0) else None
    (current, knownRows) match {
      case (Some(m), Some(rawRows)) if takesDelta(rawRows) =>
        return applyDeltaOneJob(table, batch0, goodPred, m, evolved, rawRows,
          checkpointId, batchId, cfg)
      case _ => ()
    }

    // Otherwise ONE pre-pass over the batch: touched buckets, per-bucket raw
    // counts, distinct keys (== post-dedupe rows), LSN ranges, and the
    // reject count in a `_good = false` group. Partial-aggregable,
    // <= 2 x numBuckets result rows.
    val rawStats = JobDescription(spark, s"merge stats $ledgerKey") {
      batch0
        .groupBy(goodPred.as("_good"), LakeTable.bucketExpr(numBuckets).as("_bucket"))
        .agg(count(lit(1)).as("n_raw"),
          min("lsn").as("minL"), max("lsn").as("maxL"))
        .collect()
    }
    val batchStats = rawStats.filter(_.getBoolean(0))
      .map(r => r.getInt(1) -> ((r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap // bucket -> (n_raw, minL, maxL)
    val rejectCount = rawStats.filterNot(_.getBoolean(0)).map(_.getLong(2)).sum
    // nothing is staged yet: a failing batch has nothing to discard
    routeRejects(batch0, goodPred, rejectCount, checkpointId, batchId, cfg, () => ())
    val touched: Set[Int] = batchStats.keySet

    val ledgerEntry = Some(ledgerKey -> cfg.ledgerRetention)
    if (touched.isEmpty) {
      // empty batch: still record the ledger entry (exactly-once bookkeeping)
      val m = table.commitNext(current, Set.empty, Nil, evolved.json, numBuckets,
        ledgerEntry)
      return MergeResult(m.snapshotId, m.version, Nil, skipped = false)
    }
    // conservative broadcast decision: raw count >= deduped count
    val rawRows = batchStats.valuesIterator.map(_._1).sum
    val isDeltaAppend = takesDelta(rawRows)

    // manifest-LIST pruning, hoisted above the dedupe (driver-side
    // metadata only): only the ranges the batch touches are even opened,
    // untouched buckets carry over by reference with no metadata or data
    // I/O — the analog of the reference pushing its filter into the keyed
    // store, PontusIdGenerator.java:299. A delta batch reads no target.
    val touchedFiles =
      if (isDeltaAppend) Nil
      else current.map(m => table.filesOf(m, Some(touched))).getOrElse(Nil)

    // -- 3. dedupe to one winner per key, salted against skew -----------
    // A SMALL batch coalesces to one partition FIRST: SinglePartition
    // satisfies the window's clustering requirement (and, on the rewrite
    // path, the merge join's), so dedupe+join+project+sort+write all plan
    // as ONE exchange-free single-task stage (guide §2.4) — one Spark job
    // per batch instead of 3-4 (window exchange, broadcast builds, keys
    // scan). Decided from sizes the driver already has: the stats
    // pre-pass gives rawRows, the manifest file stats give the touched
    // buckets' stored rows. Batches above `singleTaskRows` keep the
    // parallel plans unchanged.
    val targetRows = touchedFiles.map(_.rows).sum
    val deltaSingleTask = isDeltaAppend && rawRows <= cfg.singleTaskRows
    val mergeSingleTask = !isDeltaAppend &&
      rawRows + targetRows <= cfg.singleTaskRows
    val deduped = dedupeLatest(
      if (deltaSingleTask || mergeSingleTask) batch.coalesce(1) else batch,
      cfg.saltFactor)

    // -- 4. read ONLY the touched buckets of the target -----------------
    // (touchedFiles hoisted above the dedupe — see the pruning note there)
    val storedOld = storedSchema(tableSchema)
    val storedNew = storedSchema(evolved)
    // delta files carry multiple versions per key: the target side of the
    // join must be LWW-resolved first or matched keys would fan out
    // (resolution windows ONLY the delta-bearing buckets)
    // the single-task merge coalesces the target scan BELOW any delta
    // resolution window, keeping the whole plan exchange-free even when
    // the touched buckets carry deltas
    def scanTarget(): DataFrame =
      alignTo(table.scanResolved(spark, storedOld, touchedFiles,
        singlePartition = mergeSingleTask), storedNew)

    // -- 5. MERGE join on the key ---------------------------------------
    val dataCols = evolved.fieldNames.filterNot(_ == "doc_id").toIndexedSeq
    val ch = alignTo(
      deduped.withColumn("_has_change", lit(true)),
      StructType(evolved.fields.toIndexedSeq :+ StructField("op", StringType) :+
        StructField("_has_change", BooleanType)))

    // insert-shaped projection of change rows that match no target row
    def insertProject(unmatchedCh: DataFrame): DataFrame = {
      val isDel = col("op") === Ops.Delete
      unmatchedCh.select(
        (col("doc_id") +:
          dataCols.map(col) :+
          isDel.as(TOMBSTONE) :+
          when(isDel, lit("delete_noop")).otherwise(lit("insert")).as("_status")): _*)
    }

    // matched/kept projection from a (target x change) join frame
    def matchProject(joined: DataFrame, hasTExpr: Column): DataFrame = {
      val hasT = hasTExpr
      val hasC = coalesce(col("c._has_change"), lit(false))
      // change wins iff present and as-new-as the stored row (replay-safe >=)
      val changeWins = hasC && (!hasT || col("c.lsn") >= col("t.lsn"))
      val isDelete = col("c.op") === Ops.Delete
      val wasTombstone = hasT && col(s"t.$TOMBSTONE")
      val status = when(!hasC, lit("keep"))
        .when(!changeWins, lit("stale"))
        .when(isDelete && hasT && !wasTombstone, lit("delete"))
        .when(isDelete, lit("delete_noop"))
        .when(hasT && !wasTombstone, lit("update"))
        .otherwise(lit("insert"))
      // genuine UPDATE of a live row — the only case column policies gate
      val genuineUpdate = changeWins && hasT && !wasTombstone && !isDelete
      def valueOf(c: String): Column = {
        val base = when(changeWins, col(s"c.$c")).otherwise(col(s"t.$c"))
        cfg.columnPolicy.getOrElse(c, ColumnPolicy.Overwrite) match {
          case ColumnPolicy.Overwrite => base
          case ColumnPolicy.ExcludeFromUpdate =>
            when(genuineUpdate, col(s"t.$c")).otherwise(base)
          case ColumnPolicy.CoalesceExisting =>
            when(genuineUpdate, coalesce(col(s"c.$c"), col(s"t.$c"))).otherwise(base)
          case ColumnPolicy.AddExisting =>
            when(genuineUpdate, col(s"t.$c") + col(s"c.$c")).otherwise(base)
          case ColumnPolicy.MinExisting =>
            when(genuineUpdate, least(col(s"t.$c"), col(s"c.$c"))).otherwise(base)
          case ColumnPolicy.MaxExisting =>
            when(genuineUpdate, greatest(col(s"t.$c"), col(s"c.$c"))).otherwise(base)
        }
      }
      joined.select(
        (coalesce(col("t.doc_id"), col("c.doc_id")).as("doc_id") +:
          dataCols.map(c => valueOf(c).as(c)) :+
          when(changeWins, isDelete)
            .otherwise(coalesce(col(s"t.$TOMBSTONE"), lit(false))).as(TOMBSTONE) :+
          status.as("_status")): _*)
    }

    val useBroadcast = rawRows <= cfg.broadcastThreshold
    // merge-on-read trickle path: append deltas, skip the target read and
    // the join entirely; the LWW decision defers to scan-time resolution
    // (equivalent outcome for Overwrite-policy columns: the read window's
    // max-lsn winner == the kernel's change-wins-ties rule)
    val merged: DataFrame =
      if (isDeltaAppend) deltaRows(deduped, evolved, numBuckets)
      else (if (touchedFiles.isEmpty) {
        // nothing to match: the whole batch inserts (or tombstones)
        insertProject(ch)
      } else if (useBroadcast && !mergeSingleTask) {
        // Broadcast MERGE: the big target side NEVER shuffles. Spark's
        // BroadcastHashJoin cannot build a full-outer join, so decompose:
        //   (a) target LEFT OUTER broadcast(changes)   — matched + kept
        //   (b) changes LEFT ANTI broadcast(matchedKeys) — pure inserts,
        //       where matchedKeys comes from a keys-only (column-pruned)
        //       scan of the touched files semi-joined with the change keys
        val tg = scanTarget().withColumn("_has_target", lit(true))
        val leftPart = matchProject(
          tg.as("t").join(broadcast(ch).as("c"),
            col("t.doc_id") === col("c.doc_id"), "left_outer"),
          hasTExpr = lit(true))
        val targetKeys = table.scanFiles(spark, storedOld, touchedFiles).select("doc_id")
        val matchedKeys = targetKeys
          .join(broadcast(deduped.select("doc_id")), Seq("doc_id"), "left_semi")
        val insertPart = insertProject(
          ch.join(broadcast(matchedKeys), Seq("doc_id"), "left_anti"))
        leftPart.unionByName(insertPart)
      } else {
        // full-outer sort-merge join on the key. A SMALL batch
        // (mergeSingleTask) has both sides coalesced to one partition
        // already (the dedupe input above and scanTarget): SinglePartition
        // is co-partitioned with itself, so the join plans with ZERO
        // exchanges and the whole merge is one single-task Spark job. A
        // large batch shuffles (AQE handles skewed partitions). Note: a
        // bucket-aligned variant (repartition both sides on _bucket, join
        // on (_bucket, doc_id), write without shuffle) was measured 2.3x
        // SLOWER at local scale — manual repartition disables AQE
        // coalescing and loses the window exchange reuse; see BENCH.md.
        val tg = scanTarget().withColumn("_has_target", lit(true))
        matchProject(
          tg.as("t").join(ch.as("c"),
            col("t.doc_id") === col("c.doc_id"), "full_outer"),
          hasTExpr = coalesce(col("t._has_target"), lit(false)))
      }).withColumn("_bucket", LakeTable.bucketExpr(numBuckets))

    // -- 6. write the merged buckets, KEEPING the _status column in the
    // staged files. Table reads are schema-first (explicit StructType), so
    // the extra column is pruned for free on every later scan; its cost is
    // ~1 dictionary-encoded byte/row once. The column exists to feed the
    // per-bucket status READ-BACK at step 8 (see there for the two
    // riding-the-write designs that were measured and rejected).
    val bucketIds = touched.toSeq.sorted
    val nextVersion = current.map(_.version + 1).getOrElse(0L)
    // Write placement, one file per touched bucket on every path:
    // - single-task plans: the input is already one partition.
    // - a trickle delta batch writes ONE task: coalesce(1), not
    //   repartition(1, _bucket), which would add a full Exchange (and
    //   stage) to move every row where coalesce reaches narrowly.
    // - the parallel rewrite hashes on _bucket into min(touched buckets,
    //   task slots) tasks (LakeTable.repartitionByBucket): a task writes
    //   several buckets in turn, sorted by _bucket, and never splits one.
    val placed =
      if (deltaSingleTask || mergeSingleTask) merged
      else if (isDeltaAppend) merged.coalesce(1)
      else LakeTable.repartitionByBucket(merged, touched.size)
    // -- 7. each staged file's manifest entry carries exact pruning stats
    // (rows, lsn min/max) from its parquet footer, read with no Spark job
    val (staging, newFiles) = table.stage(placed, nextVersion,
      s"merge write $ledgerKey", isDelta = isDeltaAppend)

    // -- 8. per-bucket STATUS counts (insert/update/delete/noop/stale)
    // for the lineage metrics — the one thing footers cannot provide.
    // The read-back job runs ASYNC so it overlaps manifest composition
    // (both are per-batch latency with no data dependency) and joins
    // before the CAS via the finishLineage thunk below. Layout: columnar
    // scan of 2 columns of the just-written output, fixed plan shape
    // (codegen-cache-friendly across batches). Two riding-the-write
    // designs were measured and REJECTED in favor of it — (a) 8 x
    // numBuckets flat conditional aggregates in an Observation: a
    // 256-expression CollectMetrics re-analyzed + janino-recompiled
    // every batch, ~5 s serial driver time (round 2); (b) ONE
    // typed-Aggregator Observation: O(1) analysis, but the untyped-UDAF
    // per-row update runs on EVERY merged row inside the write stage and
    // CollectMetrics breaks whole-stage codegen around it — ~1.9 s/batch
    // SLOWER than the read-back on identical 255k-row batches (round 5,
    // A/B in BENCH.md).
    val readbackSchema = StructType(Seq(
      StructField("_status", StringType), StructField("_bucket", IntegerType)))
    // round 6: the read-back runs ONLY when lineageDir stores the
    // counters — for every other caller it was a pure-observability Spark
    // job on the per-batch serial path
    val wantCounts = cfg.lineageDir.isDefined
    val statF: Option[scala.concurrent.Future[Map[Int, Array[Long]]]] =
      if (!wantCounts) None
      else Some {
        import scala.concurrent.{ExecutionContext, Future}
        implicit val ec: ExecutionContext = ExecutionContext.global
        // a pool thread: its description is set here, not inherited
        Future(JobDescription(spark, s"merge status read-back $ledgerKey") {
          spark.read.schema(readbackSchema).parquet(staging)
            .groupBy(col("_bucket"))
            .agg(
              sum(when(col("_status") === "insert", 1L).otherwise(0L)).as("nI"),
              sum(when(col("_status") === "update", 1L).otherwise(0L)).as("nU"),
              sum(when(col("_status") === "delete", 1L).otherwise(0L)).as("nD"),
              sum(when(col("_status") === "delete_noop", 1L).otherwise(0L)).as("nDn"),
              sum(when(col("_status") === "stale", 1L).otherwise(0L)).as("nS"))
            .collect()
            .map(r => r.getInt(0) -> Array(r.getLong(1), r.getLong(2),
              r.getLong(3), r.getLong(4), r.getLong(5)))
            .toMap
        })
      }

    val snapshotId = UUID.randomUUID().toString
    // Runs after manifest composition, immediately before the CAS: await
    // the status read-back, build the lineage rows, land the lineage
    // parquet (deterministic path + overwrite => exactly-once metrics; a
    // crash on either side of the commit replays to identical content).
    def finishLineage(): Seq[graft.model.LineageRow] = {
      val statRows: Map[Int, Array[Long]] = statF match {
        case Some(f) =>
          scala.concurrent.Await.result(f, scala.concurrent.duration.Duration.Inf)
        case None => Map.empty
      }
      // a delta batch's LSN range is the one it wrote, as on the one-job
      // path: lineage does not depend on where the batch came from
      val written = if (isDeltaAppend) lsnRanges(newFiles) else Map.empty[Int, (Long, Long)]
      val lineage = bucketIds.map { b =>
        val (nRaw, rawMin, rawMax) = batchStats(b)
        val (minL, maxL) = written.getOrElse(b, (rawMin, rawMax))
        val (nI, nU, nD, nDn, nS) = statRows.get(b) match {
          case Some(a) => (a(0), a(1), a(2), a(3), a(4))
          case None if wantCounts => (0L, 0L, 0L, 0L, 0L)
          // counters not computed this batch: -1 sentinels, never fake 0s
          case None => (-1L, -1L, -1L, 0L, 0L)
        }
        // rows that carried a change = the batch's distinct keys
        val nKeys = nI + nU + nD + nDn + nS
        graft.model.LineageRow(
          batch_id = batchId,
          partition = b,
          min_lsn = minL,
          max_lsn = maxL,
          n_insert = nI,
          n_update = nU,
          n_delete = if (wantCounts) nD + nDn else -1L,
          n_dedup_dropped = if (wantCounts) nRaw - nKeys else -1L,
          snapshot_id = snapshotId)
      }
      // driver-side parquet write ([[LineageWriter]]): a handful of rows
      // per batch doesn't justify a Spark job on the per-batch serial path
      cfg.lineageDir.foreach { dir =>
        LineageWriter.write(spark.sparkContext.hadoopConfiguration, dir,
          checkpointId, batchId, lineage)
      }
      lineage
    }

    cfg.preCommitHook()
    // forced by the commit after manifest composition, just before the CAS
    lazy val lineage = finishLineage()
    // delta append REMOVES nothing: no replaced bucket keeps every parent
    // file and the delta entries join their ranges
    try {
      val m = table.commitNext(current, if (isDeltaAppend) Set.empty else touched,
        newFiles, evolved.json, numBuckets, ledgerEntry, snapshotId,
        beforeCas = () => lineage: Unit)
      MergeResult(snapshotId, m.version, lineage, skipped = false)
    } catch {
      case commitFailure: Throwable =>
        // the commit path can throw BEFORE finishLineage joins the async
        // status read-back (e.g. a manifest-compose error or a lost CAS):
        // drain the future here so no unobserved Spark job outlives the
        // batch with its own failure silently discarded
        statF.foreach { f =>
          try scala.concurrent.Await.ready(
            f, scala.concurrent.duration.Duration(60, "s")): Unit
          catch { case _: Throwable => () }
        }
        throw commitFailure
    }
  }

  /** A delta batch whose row count came from its footers, with no
    * lineageDir: one Spark job, the write.
    *
    * The plan is one chain: valid events, the single-task coalesce, the
    * dedupe and one projection ([[deltaRows]]). Rejects are counted inside
    * the write by an [[Observation]] on the unfiltered batch: one fixed
    * `count`, not the per-bucket aggregates the status read-back replaced.
    * After staging they are quarantined as on the pre-pass path, or, with
    * no dead-letter directory, the attempt is discarded and the batch
    * fails before its commit. Lineage LSN ranges come from the staged
    * footers: `max_lsn` is exact, since a bucket's highest valid LSN
    * always wins its key, and `min_lsn` is the lowest LSN written.
    */
  private def applyDeltaOneJob(
      table: LakeTable,
      batch0: DataFrame,
      goodPred: Column,
      current: Manifest,
      evolved: StructType,
      rawRows: Long,
      checkpointId: String,
      batchId: Long,
      cfg: MergeConfig): MergeResult = {
    val ledgerKey = s"$checkpointId/$batchId"
    val rejects = Observation()
    val valid = batch0.observe(rejects, count(when(!goodPred, lit(1))).as("n"))
      .filter(goodPred)
    // one write task either way, as on the pre-pass delta path
    val single = rawRows <= cfg.singleTaskRows
    val delta = deltaRows(dedupeLatest(if (single) valid.coalesce(1) else valid,
      cfg.saltFactor), evolved, current.numBuckets)
    val version = current.version + 1
    val (staging, files) = table.stage(if (single) delta else delta.coalesce(1),
      version, s"merge write $ledgerKey", isDelta = true)
    val discard = () => table.discardAttempt(staging, version)
    // the metrics arrive with the write's query-end event
    val rejectCount =
      try scala.concurrent.Await.result(rejects.future,
        scala.concurrent.duration.Duration(60, "s")).getLong(0)
      catch { case e: java.util.concurrent.TimeoutException => discard(); throw e }
    routeRejects(batch0, goodPred, rejectCount, checkpointId, batchId, cfg, discard)

    val ledgerEntry = Some(ledgerKey -> cfg.ledgerRetention)
    if (files.isEmpty) {
      discard()
      val m = table.commitNext(Some(current), Set.empty, Nil, evolved.json,
        current.numBuckets, ledgerEntry)
      return MergeResult(m.snapshotId, m.version, Nil, skipped = false)
    }
    cfg.preCommitHook()
    val snapshotId = UUID.randomUUID().toString
    // counters not computed: -1 sentinels, never fake 0s
    val lineage = lsnRanges(files).toSeq.sortBy(_._1).map { case (b, (lo, hi)) =>
      graft.model.LineageRow(batchId, b, lo, hi, -1L, -1L, -1L, -1L, snapshotId)
    }
    // delta append REMOVES nothing
    val m = table.commitNext(Some(current), Set.empty, files, evolved.json,
      current.numBuckets, ledgerEntry, snapshotId)
    MergeResult(snapshotId, m.version, lineage, skipped = false)
  }
}
