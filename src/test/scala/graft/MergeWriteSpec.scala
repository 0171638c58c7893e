package graft

import graft.changegen.{ChangeGen, FeedConfig, Phase, RawEvent}
import graft.merge.{MergeConfig, MergeInto}
import graft.table.{LakeTable, Maintenance}
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame

/** Merge-kernel write placement: a parallel bucket rewrite (shuffle-path
  * merge, large compaction) runs at most `defaultParallelism` write tasks,
  * however many buckets it touches, and still writes exactly one file per
  * touched bucket.
  */
class MergeWriteSpec extends SparkSpec {
  import spark.implicits._

  private def batchDf(events: Seq[RawEvent]): DataFrame =
    ChangeGen.projectPhase(events.toDF(), Phase(0, Long.MaxValue)).drop("seg")

  /** Task counts of the stages that wrote output rows (the data-file
    * writes: the engine's other jobs collect to the driver, and its
    * metadata and lineage writes are driver-side) inside `body`.
    */
  private def writeStageTasks(body: => Unit): Seq[Int] = {
    val tasks = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val info = e.stageInfo
        if (info.taskMetrics != null && info.taskMetrics.outputMetrics.recordsWritten > 0)
          tasks.add(info.numTasks): Unit
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    tasks.asScala.toSeq
  }

  /** Files per bucket of the current snapshot. */
  private def filesPerBucket(table: LakeTable): Map[Int, Int] =
    table.filesOf(table.currentManifest()).groupBy(_.bucket).view
      .mapValues(_.size).toMap

  private def assertOracle(table: LakeTable, events: Seq[RawEvent]): Unit = {
    val got = table.read(spark).select("doc_id", "lsn", "tokens").collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), Option(r.getSeq[Int](2)).getOrElse(Seq.empty[Int]))))
      .toMap
    val want = ChangeGen.oracleFinalState(events)
      .map { case (k, e) =>
        k -> ((e.lsn, Option(e.tokens).map(_.toSeq).getOrElse(Seq.empty[Int])))
      }
    assert(got.keySet === want.keySet)
    got.foreach { case (k, v) => assert(v === want(k), s"mismatch for $k") }
  }

  private def slots: Int = spark.sparkContext.defaultParallelism

  test("shuffle-path merge into 32 buckets writes with at most defaultParallelism tasks") {
    val feed = FeedConfig(numEvents = 6000, numKeys = 1500, seed = 5,
      deleteFraction = 0.1, dupFraction = 0.05, outOfOrderWindow = 500,
      eventsPerSegment = 3000, maxTokens = 8)
    val events = ChangeGen.generateLocal(feed)
    val segs = events.groupBy(_.seg).toSeq.sortBy(_._1)
    val table = LakeTable(tmpDir("mw-merge"))
    val cfg = MergeConfig(numBuckets = 32, singleTaskRows = 0L,
      broadcastThreshold = 0L)
    segs.foreach { case (seg, evs) =>
      val tasks = writeStageTasks {
        MergeInto.apply(spark, table, batchDf(evs), "cp", seg, cfg)
      }
      assert(tasks.size === 1, s"one write job per batch, saw $tasks")
      assert(tasks.head <= slots,
        s"write stage ran ${tasks.head} tasks for $slots task slots")
    }
    // every batch touched every bucket, and each bucket holds ONE file:
    // in the snapshot and in the last batch's staging directory
    val perBucket = filesPerBucket(table)
    assert(perBucket.keySet === (0 until 32).toSet)
    assert(perBucket.values.forall(_ == 1), s"files per bucket: $perBucket")
    // the last batch's one write attempt, under data/s<version>/
    val Array(lastStaging) = new java.io.File(table.stagingDir(table.currentVersion())).listFiles()
    val staged = lastStaging.listFiles().filter(_.getName.startsWith("_bucket="))
      .map(d => d.listFiles().count(_.getName.endsWith(".parquet")))
    assert(staged.length === 32 && staged.forall(_ == 1), staged.toSeq)
    assertOracle(table, events)
  }

  test("parallel compaction writes with at most defaultParallelism tasks, one file per bucket") {
    // delta batches pile several files onto each bucket; the table's rows
    // exceed LakeTable.SingleTaskRows, so compaction takes its parallel
    // branch
    val feed = FeedConfig(numEvents = 150000, numKeys = 200000, seed = 9,
      deleteFraction = 0.05, dupFraction = 0.02, outOfOrderWindow = 2000,
      eventsPerSegment = 50000, maxTokens = 2)
    val events = ChangeGen.generateLocal(feed)
    val segs = events.groupBy(_.seg).toSeq.sortBy(_._1)
    val table = LakeTable(tmpDir("mw-compact"))
    val cfg = MergeConfig(numBuckets = 32, deltaAppendThreshold = 1000000L)
    segs.foreach { case (seg, evs) =>
      MergeInto.apply(spark, table, batchDf(evs), "cp", seg, cfg)
    }
    val before = table.filesOf(table.currentManifest())
    assert(before.map(_.rows).sum > LakeTable.SingleTaskRows,
      "the table must be large enough for the parallel compaction branch")
    assert(filesPerBucket(table).values.forall(_ > 1))

    val tasks = writeStageTasks {
      Maintenance.compact(spark, table)
    }
    assert(tasks.size === 1, s"one write job, saw $tasks")
    assert(tasks.head <= slots,
      s"compaction write ran ${tasks.head} tasks for $slots task slots")
    val perBucket = filesPerBucket(table)
    assert(perBucket.keySet === (0 until 32).toSet)
    assert(perBucket.values.forall(_ == 1), s"files per bucket: $perBucket")
    assert(!table.filesOf(table.currentManifest()).exists(_.isDelta))
    assertOracle(table, events)
  }
}
