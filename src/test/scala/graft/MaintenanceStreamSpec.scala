package graft

import graft.changegen.{ChangeGen, FeedConfig, Phase, RawEvent}
import graft.merge.{MergeConfig, MergeInto}
import graft.model.Ops
import graft.table.{LakeTable, Maintenance}
import org.apache.spark.sql.DataFrame

class MaintenanceSpec extends SparkSpec {
  import spark.implicits._

  private def batchDf(events: Seq[RawEvent]): DataFrame =
    ChangeGen.projectPhase(events.toDF(), Phase(0, Long.MaxValue)).drop("seg")

  private def buildTable(root: String, nEvents: Long, nBatches: Int): (LakeTable, Seq[RawEvent]) = {
    val feed = FeedConfig(numEvents = nEvents, numKeys = 300, seed = 17,
      deleteFraction = 0.2, eventsPerSegment = nEvents / nBatches)
    val events = ChangeGen.generateLocal(feed)
    val table = LakeTable(root)
    events.groupBy(_.seg).toSeq.sortBy(_._1).foreach { case (seg, evs) =>
      MergeInto.apply(spark, table, batchDf(evs), "cp", seg, MergeConfig(numBuckets = 8))
    }
    (table, events)
  }

  test("compaction: fewer files, same live state, tombstones GC'd by watermark") {
    val (table, events) = buildTable(tmpDir("lake-compact"), 9000, 6)
    val before = table.read(spark).collect().map(_.toSeq).toSet
    val filesBefore = table.filesOf(table.currentManifest()).size
    val tombsBefore = table.readStored(spark)
      .filter(org.apache.spark.sql.functions.col("_tombstone")).count()
    assert(tombsBefore > 0)

    // all events applied: every tombstone is below the watermark.
    // (file COUNT stays <= 1/bucket by construction — the merge rewrites
    // whole buckets — so compaction's payload here is the tombstone GC)
    val res = Maintenance.compact(spark, table, tombstoneWatermark = 9000L)
    assert(res.filesAfter <= filesBefore)
    assert(table.filesOf(table.currentManifest()).size === res.filesAfter)
    assert(table.read(spark).collect().map(_.toSeq).toSet === before)
    assert(table.readStored(spark)
      .filter(org.apache.spark.sql.functions.col("_tombstone")).count() === 0)
    // merges continue to work post-compaction
    MergeInto.apply(spark, table, batchDf(
      Seq(RawEvent(99999L, events.head.doc_id, Ops.Upsert,
        Array(1, 2, 3), 3, "s", null, 0))), "cp", 999L, MergeConfig(numBuckets = 8))
    assert(table.read(spark).filter(s"doc_id = '${events.head.doc_id}'")
      .head().getAs[Seq[Int]]("tokens") === Seq(1, 2, 3))
  }

  test("compaction keeps tombstones above the watermark (fence preserved)") {
    val root = tmpDir("lake-compact2")
    val table = LakeTable(root)
    val cfg = MergeConfig(numBuckets = 4)
    def ev(lsn: Long, op: String, tok: Array[Int]) =
      RawEvent(lsn, "k", op, tok, if (tok == null) -1 else tok.length, "s", null, 0)
    MergeInto.apply(spark, table,
      batchDf(Seq(ev(1, Ops.Insert, Array(1)), ev(10, Ops.Delete, null))), "cp", 0, cfg)
    Maintenance.compact(spark, table, tombstoneWatermark = 5L) // 10 > 5: keep
    // straggler below the delete must stay fenced after compaction
    MergeInto.apply(spark, table, batchDf(Seq(ev(7, Ops.Update, Array(7)))), "cp", 1, cfg)
    assert(table.read(spark).count() === 0)
  }

  test("vacuum removes files of superseded snapshots only") {
    val (table, _) = buildTable(tmpDir("lake-vac"), 6000, 4)
    val liveState = table.read(spark).collect().map(_.toSeq).toSet
    val current = table.currentVersion()
    val deleted = Maintenance.vacuum(table, retainFromVersion = current)
    assert(deleted.nonEmpty, "superseded snapshot files should be vacuumed")
    assert(table.read(spark).collect().map(_.toSeq).toSet === liveState)
    // idempotent: second run deletes nothing
    assert(Maintenance.vacuum(table, retainFromVersion = current).isEmpty)
  }
}
