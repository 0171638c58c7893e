package graft

import graft.changegen.{ChangeGen, FeedConfig, Phase}
import graft.merge.MergeConfig
import graft.stream.{CdcStream, StreamConfig}
import graft.table.LakeTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit, min, when}

import scala.collection.mutable

/** Structured-Streaming tail: drain-to-completion correctness, exactly-once
  * kill-and-resume, and restart-based schema evolution.
  */
class CdcStreamSpec extends SparkSpec {

  private def asMap(df: DataFrame): Map[String, (Seq[Int], Long, String, Long)] =
    df.select("doc_id", "tokens", "n_tok", "source", "lsn").collect().map { r =>
      r.getString(0) -> ((r.getSeq[Int](1), r.get(2).toString.toLong,
        r.getString(3), r.getLong(4)))
    }.toMap

  private def oracleMap(cfg: FeedConfig): Map[String, (Seq[Int], Long, String, Long)] =
    ChangeGen.oracleFinalState(ChangeGen.generateLocal(cfg)).map { case (k, e) =>
      k -> ((e.tokens.toSeq, e.n_tok.toLong, e.source, e.lsn))
    }.toMap

  test("streaming drain (AvailableNow) matches oracle and writes lineage") {
    val work = tmpDir("stream-drain")
    val feed = FeedConfig(numEvents = 12000, numKeys = 400, seed = 21,
      deleteFraction = 0.08, dupFraction = 0.04, outOfOrderWindow = 500,
      eventsPerSegment = 2000)
    val Seq(phaseDir) = ChangeGen.writeFeed(spark, s"$work/feed", feed)
    val cfg = StreamConfig(
      feedDir = phaseDir, tableDir = s"$work/table",
      checkpointDir = s"$work/cp", checkpointId = "s1",
      maxFilesPerTrigger = 2,
      merge = MergeConfig(numBuckets = 8, lineageDir = Some(s"$work/lineage")))
    val got = asMap(CdcStream.runToCompletion(spark, cfg))
    assert(got === oracleMap(feed))
    val lineage = spark.read.parquet(s"$work/lineage")
    assert(lineage.count() > 0)
    assert(lineage.columns.toSet.contains("snapshot_id"))
  }

  test("kill-and-resume: crash after commit, restart skips replayed batch") {
    val work = tmpDir("stream-kill")
    val feed = FeedConfig(numEvents = 10000, numKeys = 300, seed = 33,
      deleteFraction = 0.05, dupFraction = 0.03, outOfOrderWindow = 300,
      eventsPerSegment = 1000)
    val Seq(phaseDir) = ChangeGen.writeFeed(spark, s"$work/feed", feed)
    val base = StreamConfig(
      feedDir = phaseDir, tableDir = s"$work/table",
      checkpointDir = s"$work/cp", checkpointId = "s2",
      maxFilesPerTrigger = 2, merge = MergeConfig(numBuckets = 8))

    // run 1: crash AFTER the second batch's table commit but BEFORE Spark
    // writes its checkpoint (the hard window of exactly-once)
    var batches = 0
    val q = CdcStream.start(spark, base, (_, _) => {
      batches += 1
      if (batches == 2) throw new RuntimeException("simulated crash")
    })
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination()
    }
    assert(batches === 2)

    // run 2: resume from checkpoint; the batch whose commit survived must be
    // recognized in the ledger and skipped, everything else applied once
    val skipped = mutable.ArrayBuffer.empty[Long]
    val applied = mutable.ArrayBuffer.empty[Long]
    val got = asMap(CdcStream.runToCompletion(spark, base, (id, res) =>
      (if (res.skipped) skipped else applied) += id))
    assert(skipped.nonEmpty, "replayed committed batch should be ledger-skipped")
    assert(got === oracleMap(feed))
  }

  test("kill-and-resume: crash BEFORE commit replays the batch fully") {
    val work = tmpDir("stream-kill2")
    val feed = FeedConfig(numEvents = 8000, numKeys = 250, seed = 44,
      deleteFraction = 0.05, dupFraction = 0.02, outOfOrderWindow = 200,
      eventsPerSegment = 2000)
    val Seq(phaseDir) = ChangeGen.writeFeed(spark, s"$work/feed", feed)
    // crash inside the SECOND batch's merge, after its data files are
    // staged but before the manifest CAS (the other half of the
    // exactly-once window)
    var calls = 0
    val crashOnce: () => Unit = () => {
      calls += 1
      if (calls == 2) throw new RuntimeException("simulated pre-commit crash")
    }
    val base = StreamConfig(
      feedDir = phaseDir, tableDir = s"$work/table",
      checkpointDir = s"$work/cp", checkpointId = "s3",
      maxFilesPerTrigger = 4,
      merge = MergeConfig(numBuckets = 8, preCommitHook = crashOnce))
    val q = CdcStream.start(spark, base)
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination()
    }
    // restart: the crashed batch has NO ledger entry -> fully re-applied
    val skipped = mutable.ArrayBuffer.empty[Long]
    val got = asMap(CdcStream.runToCompletion(spark, base, (id, res) =>
      if (res.skipped) skipped += id))
    assert(got === oracleMap(feed))
    // the replay re-stages at the same version with overwrite, so the
    // crashed attempt leaves no orphans (those only arise from CAS-race
    // losers at a superseded version — covered in MaintenanceSpec)
    val table = graft.table.LakeTable(s"$work/table")
    assert(graft.table.Maintenance.vacuum(table, retainFromVersion =
      table.currentVersion()).nonEmpty) // superseded snapshots vacuumable
    assert(asMap(table.read(spark)) === oracleMap(feed))
  }

  test("restart-based schema evolution across feed phases") {
    val work = tmpDir("stream-evo")
    val feed = FeedConfig(numEvents = 6000, numKeys = 200, seed = 8,
      deleteFraction = 0.05, eventsPerSegment = 1500,
      phases = Seq(Phase(0, 3000), Phase(3000, 6000, withExtraV2 = true)))
    val Seq(p0, p1) = ChangeGen.writeFeed(spark, s"$work/feed", feed)
    val mk = (dir: String, cp: String) => StreamConfig(
      feedDir = dir, tableDir = s"$work/table",
      checkpointDir = s"$work/$cp", checkpointId = cp,
      merge = MergeConfig(numBuckets = 8))
    CdcStream.runToCompletion(spark, mk(p0, "phase0"))
    val table = LakeTable(s"$work/table")
    assert(!table.currentManifest().schema.fieldNames.contains("extra_v2"))
    CdcStream.runToCompletion(spark, mk(p1, "phase1"))
    assert(table.currentManifest().schema.fieldNames.contains("extra_v2"))
    val got = asMap(table.read(spark))
    assert(got === oracleMap(feed))
    // rows whose last write came from phase 2 carry the new column
    val withExtra = table.read(spark).filter("extra_v2 is not null").count()
    assert(withExtra > 0)
  }

  /** Two 200-event segments over 50 keys. */
  private val twoSegments = ChangeGen.generateLocal(FeedConfig(numEvents = 400,
    numKeys = 50, seed = 3, eventsPerSegment = 200))

  private def segment(seg: Int): DataFrame = {
    import spark.implicits._
    ChangeGen.projectPhase(twoSegments.filter(_.seg == seg).toDF(),
      Phase(0, Long.MaxValue)).drop("seg")
  }

  /** Drop `df` into the feed as segment `seg`, renamed into place whole. */
  private def publish(feedDir: String, seg: Int, df: DataFrame): Unit = {
    val dir = new org.apache.hadoop.fs.Path(s"$feedDir/seg=$seg")
    graft.util.IoUtil.publishDir(
      dir.getFileSystem(spark.sparkContext.hadoopConfiguration), dir) { tmp =>
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    }
  }

  private def oracleOfSegment0 =
    ChangeGen.oracleFinalState(twoSegments.filter(_.seg == 0))
      .map { case (k, e) => k -> ((e.tokens.toSeq, e.n_tok.toLong, e.source, e.lsn)) }

  test("a segment that adds a column mid-stream fails the stream and is not applied") {
    val work = tmpDir("stream-drift")
    val feedDir = s"$work/feed"
    publish(feedDir, 0, segment(0))
    val applied = new java.util.concurrent.LinkedBlockingQueue[Long]()
    val q = CdcStream.start(spark, StreamConfig(
      feedDir = feedDir, tableDir = s"$work/table", checkpointDir = s"$work/cp",
      checkpointId = "drift", maxFilesPerTrigger = 1, processingTime = Some("50 milliseconds"),
      merge = MergeConfig(numBuckets = 4)), (id, _) => applied.put(id))
    try {
      assert(applied.poll(60, java.util.concurrent.TimeUnit.SECONDS) === 0L)
      publish(feedDir, 1, segment(1).withColumn("extra_v2", lit("x")))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.awaitTermination(60000): Unit
      }
      assert(e.getMessage.contains("seg=1") && e.getMessage.contains("extra_v2"), e.getMessage)
    } finally q.stop()
    assert(applied.isEmpty, "the drifted segment must not be merged")
    val table = LakeTable(s"$work/table")
    assert(!table.currentManifest().isCommitted("drift", 1L))
    assert(asMap(table.read(spark)) === oracleOfSegment0)
  }

  /** The unknown-op stop, with the crash-free kernel paths as `merge`
    * selects them: batch 1 goes through the stats pre-pass under a plain
    * config, and through the one-job delta path under a delta one.
    */
  private def unknownOpStops(suffix: String, merge: MergeConfig): Unit =
    test("a segment holding an unknown op stops the stream with the kernel's error" + suffix) {
      val work = tmpDir("stream-bad-op")
      val feedDir = s"$work/feed"
      publish(feedDir, 0, segment(0))
      val seg1 = segment(1)
      val firstLsn = seg1.agg(min("lsn")).head().getLong(0)
      publish(feedDir, 1,
        seg1.withColumn("op", when(col("lsn") === firstLsn, lit("WAT")).otherwise(col("op"))))
      val applied = mutable.ArrayBuffer.empty[Long]
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        CdcStream.runToCompletion(spark, StreamConfig(
          feedDir = feedDir, tableDir = s"$work/table", checkpointDir = s"$work/cp",
          checkpointId = "badop", maxFilesPerTrigger = 1,
          merge = merge), (id, _) => applied += id)
      }
      assert(e.getMessage.contains("batch badop/1 has 1 invalid event(s)") &&
        e.getMessage.contains("MergeConfig.deadLetterDir"), e.getMessage)
      assert(applied.toSeq === Seq(0L))
      val table = LakeTable(s"$work/table")
      assert(!table.currentManifest().isCommitted("badop", 1L))
      assert(asMap(table.read(spark)) === oracleOfSegment0)
    }

  unknownOpStops("", MergeConfig(numBuckets = 4))
  unknownOpStops(" (one-job delta path)",
    MergeConfig(numBuckets = 4, deltaAppendThreshold = 1000L))

  test("a segment whose mtime is more than 7 days behind the newest is still merged") {
    val work = tmpDir("stream-old-seg")
    val feedDir = s"$work/feed"
    val events = ChangeGen.generateLocal(FeedConfig(numEvents = 300, numKeys = 300,
      seed = 5, eventsPerSegment = 100))
    def seg(n: Int): DataFrame = {
      import spark.implicits._
      ChangeGen.projectPhase(events.filter(_.seg == n).toDF(), Phase(0, Long.MaxValue))
        .drop("seg")
    }
    val cfg = StreamConfig(feedDir = feedDir, tableDir = s"$work/table",
      checkpointDir = s"$work/cp", checkpointId = "old", maxFilesPerTrigger = 1,
      merge = MergeConfig(numBuckets = 4))
    publish(feedDir, 0, seg(0))
    publish(feedDir, 1, seg(1))
    CdcStream.runToCompletion(spark, cfg)
    // segment 2 arrives late, its files stamped 8 days before the others
    publish(feedDir, 2, seg(2))
    val old = System.currentTimeMillis() - 8L * 24 * 3600 * 1000
    new java.io.File(s"$feedDir/seg=2").listFiles().foreach(_.setLastModified(old))
    val got = asMap(CdcStream.runToCompletion(spark, cfg))
    val want = ChangeGen.oracleFinalState(events)
      .map { case (k, e) => k -> ((e.tokens.toSeq, e.n_tok.toLong, e.source, e.lsn)) }
    assert(events.exists(_.seg == 2) && got === want)
  }
}
