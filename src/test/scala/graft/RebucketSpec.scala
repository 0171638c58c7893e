package graft

import graft.changegen.{ChangeGen, FeedConfig, Phase, RawEvent}
import graft.merge.{MergeConfig, MergeInto}
import graft.model.Ops
import graft.stream.{CdcStream, StreamConfig}
import graft.table.{LakeTable, Maintenance}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Online bucket-count scaling ([[Maintenance.rebucket]]): a fixed
  * bucket count is the 100-TB partition-strategy trap — a table that
  * grows 1000x under a long tail needs its per-bucket rewrite unit to
  * stay bounded. Integer-multiple rebucketing splits each old bucket
  * locally (pmod(h, kN) mod N == pmod(h, N)), so the rewrite plan
  * needs no exchange, and the MERGE kernel picks the new count up from
  * the manifest with no caller change.
  */
class RebucketSpec extends SparkSpec {
  import spark.implicits._

  private def ev(lsn: Long, key: String, op: String, toks: Array[Int]): RawEvent =
    RawEvent(lsn, key, op, if (op == Ops.Delete) null else toks,
      if (op == Ops.Delete) 0 else toks.length, "s", null, 0)

  private def batchDf(events: Seq[RawEvent]): DataFrame =
    ChangeGen.projectPhase(events.toDF(), Phase(0, Long.MaxValue)).drop("seg")

  private def stateOf(t: LakeTable): Set[(String, Seq[Int], Long)] =
    t.read(spark).select("doc_id", "tokens", "lsn").collect()
      .map(r => (r.getString(0), r.getSeq[Int](1), r.getLong(2))).toSet

  test("rebucket 4 -> 8: state identical, buckets consistent, merge continues under new count") {
    val t = LakeTable(tmpDir("rb-basic"))
    val cfg = MergeConfig(numBuckets = 4)
    val keys = (0 until 60).map(i => s"k$i")
    MergeInto.apply(spark, t,
      batchDf(keys.map(k => ev(1, k, Ops.Insert, Array(1)))), "cp", 0, cfg)
    MergeInto.apply(spark, t,
      batchDf(keys.take(20).map(k => ev(2, k, Ops.Update, Array(2, 2)))), "cp", 1, cfg)
    val before = stateOf(t)

    val res = Maintenance.rebucket(spark, t, 8)
    val m = t.currentManifest()
    assert(m.numBuckets === 8)
    assert(res.version === m.version)
    assert(stateOf(t) === before)

    // every file's registered bucket matches the new hash scheme for every
    // row it holds, and bucket-pruned reads partition the key space
    val files = t.filesOf(m)
    assert(files.nonEmpty && files.forall(f => f.bucket >= 0 && f.bucket < 8))
    (0 until 8).foreach { b =>
      val keysIn = t.read(spark, Some(Set(b))).select("doc_id").as[String].collect()
      keysIn.foreach { k =>
        val h = batchDf(Seq(ev(99, k, Ops.Insert, Array(0))))
          .select(pmod(xxhash64(col("doc_id")), lit(8L)).cast("int")).head().getInt(0)
        assert(h === b, s"key $k read from bucket $b but hashes to $h")
      }
    }

    // the kernel now buckets by the manifest's count, not the stale config:
    // a post-rebucket merge with numBuckets=4 in its config must land files
    // in 8-space and produce the right state
    MergeInto.apply(spark, t,
      batchDf(Seq(ev(5, "k0", Ops.Update, Array(9)), ev(5, "new0", Ops.Insert, Array(7)))),
      "cp", 2, MergeConfig(numBuckets = 4))
    val m2 = t.currentManifest()
    assert(m2.numBuckets === 8)
    val got = stateOf(t)
    assert(got.contains(("k0", Seq(9), 5L)) && got.contains(("new0", Seq(7), 5L)))
  }

  test("the rebucket rewrite plan has no exchange on a delta-free table") {
    val t = LakeTable(tmpDir("rb-plan"))
    val cfg = MergeConfig(numBuckets = 4)
    MergeInto.apply(spark, t,
      batchDf((0 until 40).map(i => ev(1, s"p$i", Ops.Insert, Array(i)))), "cp", 0, cfg)
    val m = t.currentManifest()
    val stored = LakeTable.storedSchema(m.schema)
    // the exact frame rebucket writes (before the insertion sink):
    // per-task local split — any Exchange here would shuffle the whole
    // table for a partition-local operation
    val frame = t.scanResolved(spark, stored, t.filesOf(m))
      .withColumn("_bucket", LakeTable.bucketExpr(8))
      .sortWithinPartitions(col("_bucket"), col("doc_id"))
    val plan = frame.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"rebucket plan must be shuffle-free:\n$plan")
  }

  test("tombstone fencing and the exactly-once ledger survive a rebucket") {
    val t = LakeTable(tmpDir("rb-fence"))
    val cfg = MergeConfig(numBuckets = 2)
    MergeInto.apply(spark, t, batchDf(Seq(
      ev(10, "a", Ops.Insert, Array(1)), ev(10, "b", Ops.Insert, Array(2)))), "cp", 0, cfg)
    MergeInto.apply(spark, t, batchDf(Seq(ev(20, "a", Ops.Delete, null))), "cp", 1, cfg)

    Maintenance.rebucket(spark, t, 8)

    // replayed batch is still recognized (ledger carried over)
    val replay = MergeInto.apply(spark, t,
      batchDf(Seq(ev(20, "a", Ops.Delete, null))), "cp", 1, cfg)
    assert(replay.skipped)

    // out-of-order older upsert cannot resurrect the deleted key...
    MergeInto.apply(spark, t, batchDf(Seq(ev(15, "a", Ops.Upsert, Array(5)))), "cp", 2, cfg)
    assert(!stateOf(t).exists(_._1 == "a"))
    // ...but a genuinely newer one can
    MergeInto.apply(spark, t, batchDf(Seq(ev(25, "a", Ops.Upsert, Array(6)))), "cp", 3, cfg)
    assert(stateOf(t).contains(("a", Seq(6), 25L)))
  }

  test("merge-on-read deltas fold during rebucket") {
    val t = LakeTable(tmpDir("rb-delta"))
    val cfg = MergeConfig(numBuckets = 2, deltaAppendThreshold = 100L)
    MergeInto.apply(spark, t, batchDf(Seq(
      ev(1, "d1", Ops.Insert, Array(1)), ev(1, "d2", Ops.Insert, Array(2)),
      ev(1, "d3", Ops.Insert, Array(3)))), "cp", 0, cfg)
    MergeInto.apply(spark, t, batchDf(Seq(ev(2, "d1", Ops.Upsert, Array(9)))), "cp", 1, cfg)
    assert(t.filesOf(t.currentManifest()).exists(_.isDelta))
    Maintenance.rebucket(spark, t, 4)
    val m = t.currentManifest()
    assert(!t.filesOf(m).exists(_.isDelta), "rebucket must fold deltas")
    assert(stateOf(t) === Set(("d1", Seq(9), 2L), ("d2", Seq(2), 1L), ("d3", Seq(3), 1L)))
  }

  test("guards: shrink and non-multiple growth raise") {
    val t = LakeTable(tmpDir("rb-guard"))
    MergeInto.apply(spark, t, batchDf(Seq(ev(1, "g", Ops.Insert, Array(1)))),
      "cp", 0, MergeConfig(numBuckets = 4))
    intercept[IllegalArgumentException](Maintenance.rebucket(spark, t, 2))
    intercept[IllegalArgumentException](Maintenance.rebucket(spark, t, 6))
  }

  test("streaming auto-rebucket: bucket count doubles under growth, state stays oracle-equal") {
    val work = tmpDir("rb-stream")
    val feed = FeedConfig(numEvents = 8000, numKeys = 4000, seed = 11,
      deleteFraction = 0.05, dupFraction = 0.02, outOfOrderWindow = 100,
      eventsPerSegment = 500, filesPerSegment = 1) // 16 trickle micro-batches
    val Seq(phaseDir) = ChangeGen.writeFeed(spark, s"$work/feed", feed)
    val got = CdcStream.runToCompletion(spark, StreamConfig(
      feedDir = phaseDir, tableDir = s"$work/t", checkpointDir = s"$work/cp",
      checkpointId = "rb", maxFilesPerTrigger = 1,
      merge = MergeConfig(numBuckets = 2, deltaAppendThreshold = 1000000L),
      maintenanceEvery = 3, maintenanceBuckets = 2,
      // ~4k live keys over 2 starting buckets: the 600-rows/bucket trigger
      // forces several doublings mid-stream
      rebucketAtRows = 600L, maxNumBuckets = 16))
      .select("doc_id", "tokens", "lsn").collect()
      .map(r => r.getString(0) -> ((r.getSeq[Int](1), r.getLong(2)))).toMap
    val oracle = ChangeGen.oracleFinalState(ChangeGen.generateLocal(feed))
      .map { case (k, e) => k -> ((e.tokens.toSeq, e.lsn)) }
    assert(got === oracle)
    val m = LakeTable(s"$work/t").currentManifest()
    assert(m.numBuckets > 2, s"auto-rebucket must have grown the count, got ${m.numBuckets}")
    assert(m.numBuckets <= 16)
  }
}
