package graft

import graft.changegen.{ChangeGen, FeedConfig, Phase, RawEvent}
import graft.merge.{MergeConfig, MergeInto}
import graft.model.Ops
import graft.table.LakeTable
import org.apache.spark.sql.DataFrame

/** Golden final-state replay: deterministic feed -> engine -> final table
  * must equal the independent in-memory oracle (byte-equal tokens), across
  * out-of-order feeds, duplicates, deletes, salting levels and replays.
  */
class CdcReplaySpec extends SparkSpec {
  import spark.implicits._

  private def batchDf(events: Seq[RawEvent],
      withExtra: Boolean = false, wide: Boolean = false): DataFrame =
    ChangeGen.projectPhase(events.toDF(),
      Phase(0, Long.MaxValue, withExtra, wide)).drop("seg")

  /** Replay events grouped by segment as micro-batches; return final state. */
  private def replay(events: Seq[RawEvent], root: String,
      cfg: MergeConfig, checkpointId: String = "cp"): DataFrame = {
    val table = LakeTable(root)
    val segs = events.groupBy(_.seg).toSeq.sortBy(_._1)
    segs.foreach { case (seg, evs) =>
      MergeInto.apply(spark, table, batchDf(evs), checkpointId, seg, cfg)
    }
    table.read(spark)
  }

  private def asMap(df: DataFrame): Map[String, (Seq[Int], Option[Long], String, Long)] =
    df.select("doc_id", "tokens", "n_tok", "source", "lsn").collect().map { r =>
      val toks = Option(r.getSeq[Int](1)).getOrElse(Seq.empty[Int])
      val ntok = if (r.isNullAt(2)) None else Some(r.get(2).toString.toLong)
      r.getString(0) -> ((toks, ntok, r.getString(3), r.getLong(4)))
    }.toMap

  private def oracleMap(events: Seq[RawEvent]): Map[String, (Seq[Int], Option[Long], String, Long)] =
    ChangeGen.oracleFinalState(events).map { case (k, e) =>
      k -> ((e.tokens.toSeq, Some(e.n_tok.toLong), e.source, e.lsn))
    }

  test("golden replay: out-of-order + dups + deletes matches oracle") {
    val feed = FeedConfig(numEvents = 20000, numKeys = 500, seed = 42,
      deleteFraction = 0.10, dupFraction = 0.05, outOfOrderWindow = 800,
      eventsPerSegment = 4000)
    val events = ChangeGen.generateLocal(feed)
    val got = asMap(replay(events, tmpDir("lake-golden"), MergeConfig(numBuckets = 8)))
    val want = oracleMap(events)
    assert(got.keySet === want.keySet)
    got.foreach { case (k, v) => assert(v === want(k), s"mismatch for $k") }
  }

  test("shuffle merge path (broadcastThreshold=0) matches oracle too") {
    val feed = FeedConfig(numEvents = 12000, numKeys = 400, seed = 42,
      deleteFraction = 0.10, dupFraction = 0.05, outOfOrderWindow = 800,
      eventsPerSegment = 3000)
    val events = ChangeGen.generateLocal(feed)
    val got = asMap(replay(events, tmpDir("lake-smj"),
      MergeConfig(numBuckets = 8, broadcastThreshold = 0)))
    assert(got === oracleMap(events))
  }

  test("salting invariance: result independent of saltFactor") {
    val feed = FeedConfig(numEvents = 8000, numKeys = 50, seed = 7,
      zipf = 1.1, deleteFraction = 0.08, dupFraction = 0.05,
      outOfOrderWindow = 400, eventsPerSegment = 2000)
    val events = ChangeGen.generateLocal(feed)
    val want = oracleMap(events)
    for (s <- Seq(0, 4, 16)) {
      val got = asMap(replay(events, tmpDir(s"lake-salt$s"),
        MergeConfig(numBuckets = 8, saltFactor = s)))
      assert(got === want, s"saltFactor=$s diverged")
    }
  }

  test("idempotent replay: re-applying a committed batch is a no-op") {
    val feed = FeedConfig(numEvents = 3000, numKeys = 100, seed = 11,
      eventsPerSegment = 1000)
    val events = ChangeGen.generateLocal(feed)
    val root = tmpDir("lake-idem")
    val table = LakeTable(root)
    val segs = events.groupBy(_.seg).toSeq.sortBy(_._1)
    segs.foreach { case (seg, evs) =>
      val r1 = MergeInto.apply(spark, table, batchDf(evs), "cp", seg)
      assert(!r1.skipped)
      // replay the exact same batch — e.g. after a crash between commit and
      // checkpoint write — must be skipped with the same snapshot
      val r2 = MergeInto.apply(spark, table, batchDf(evs), "cp", seg)
      assert(r2.skipped && r2.snapshotId === r1.snapshotId)
    }
    assert(asMap(table.read(spark)) === oracleMap(events))
  }

  test("tombstones: out-of-order older event cannot resurrect a deleted key") {
    val root = tmpDir("lake-tomb")
    val table = LakeTable(root)
    val cfg = MergeConfig(numBuckets = 4)
    def ev(lsn: Long, op: String, tok: Array[Int]) =
      RawEvent(lsn, "docX", op, tok, if (tok == null) -1 else tok.length, "s", null, 0)
    // batch 0: insert@1, delete@5
    MergeInto.apply(spark, table,
      batchDf(Seq(ev(1, Ops.Insert, Array(1, 2)), ev(5, Ops.Delete, null))), "cp", 0, cfg)
    assert(table.read(spark).count() === 0)
    // batch 1 arrives LATE with an older update@3 — must NOT resurrect
    MergeInto.apply(spark, table, batchDf(Seq(ev(3, Ops.Update, Array(9)))), "cp", 1, cfg)
    assert(table.read(spark).count() === 0)
    // batch 2: genuinely newer upsert@7 resurrects
    MergeInto.apply(spark, table, batchDf(Seq(ev(7, Ops.Upsert, Array(7, 7)))), "cp", 2, cfg)
    val rows = table.read(spark).collect()
    assert(rows.length === 1 && rows(0).getAs[Seq[Int]]("tokens") === Seq(7, 7))
  }

  test("lineage rows: per-bucket counts and LSN ranges are recorded") {
    val feed = FeedConfig(numEvents = 5000, numKeys = 200, seed = 3,
      deleteFraction = 0.1, dupFraction = 0.1, eventsPerSegment = 2500)
    val events = ChangeGen.generateLocal(feed)
    val table = LakeTable(tmpDir("lake-lin"))
    val segs = events.groupBy(_.seg).toSeq.sortBy(_._1)
    val lineage = segs.flatMap { case (seg, evs) =>
      MergeInto.apply(spark, table, batchDf(evs), "cp", seg,
        MergeConfig(numBuckets = 4, lineageDir = Some(tmpDir("lake-lin-rows")))).lineage
    }
    assert(lineage.nonEmpty)
    // applied events (insert+update+delete) + dedupe drops == raw batch rows
    val rawCount = events.size.toLong
    val accounted = lineage.map(l =>
      l.n_insert + l.n_update + l.n_delete + l.n_dedup_dropped).sum
    // stale rows (older than stored) are neither applied nor dedupe-dropped
    // within their batch, so accounted <= raw; with per-batch LWW the
    // remainder is exactly the cross-batch stale events
    assert(accounted <= rawCount)
    assert(lineage.forall(l => l.min_lsn <= l.max_lsn))
    val perBatchDropped = lineage.groupBy(_.batch_id).view.mapValues(_.map(_.n_dedup_dropped).sum)
    segs.foreach { case (seg, evs) =>
      val expectDropped = evs.size - evs.map(e => (e.doc_id, e.lsn)).distinct
        .groupBy(_._1).size
      assert(perBatchDropped(seg) === expectDropped.toLong, s"batch $seg dedupe drops")
    }
  }

  test("schema evolution: ADD COLUMN + int->long widening mid-stream") {
    val root = tmpDir("lake-evo")
    val table = LakeTable(root)
    val cfg = MergeConfig(numBuckets = 4)
    val feed = FeedConfig(numEvents = 3000, numKeys = 120, seed = 5,
      deleteFraction = 0.05, eventsPerSegment = 1000)
    val events = ChangeGen.generateLocal(feed)
    val (p1, rest) = events.partition(_.lsn < 1000)
    val (p2, p3) = rest.partition(_.lsn < 2000)
    MergeInto.apply(spark, table, batchDf(p1), "cp", 0, cfg)
    assert(!table.currentManifest().schema.fieldNames.contains("extra_v2"))
    // phase 2: events carry extra_v2 -> ADD COLUMN
    MergeInto.apply(spark, table, batchDf(p2, withExtra = true), "cp", 1, cfg)
    val s2 = table.currentManifest().schema
    assert(s2.fieldNames.contains("extra_v2"))
    // phase 3: n_tok arrives as long -> widen
    MergeInto.apply(spark, table, batchDf(p3, withExtra = true, wide = true), "cp", 2, cfg)
    val s3 = table.currentManifest().schema
    assert(s3("n_tok").dataType === org.apache.spark.sql.types.LongType)
    // final state still matches oracle; rows from phase 1 null-fill extra_v2
    val got = asMap(table.read(spark))
    val want = oracleMap(events)
    assert(got.keySet === want.keySet)
    got.foreach { case (k, v) => assert(v === want(k), s"mismatch for $k") }
    val extras = table.read(spark).select("lsn", "extra_v2").collect()
    assert(extras.forall { r =>
      val lsn = r.getLong(0)
      val hasPhase2Cols = !r.isNullAt(1)
      // RawEvent generator emits extra for all lsns; the engine only saw it
      // for events applied in phases 2/3
      !hasPhase2Cols || lsn >= 1000
    })
  }
}
