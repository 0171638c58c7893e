package graft

import graft.changegen.{ChangeGen, FeedConfig, Phase, RawEvent}
import graft.merge.{MergeConfig, MergeInto}
import graft.table.{LakeTable, Maintenance}
import graft.util.JobDescription
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame

import scala.jdk.CollectionConverters._

/** Every Spark job the engine starts carries a `graft <step>` description,
  * and the caller's own description and job group survive the call.
  */
class JobDescriptionSpec extends SparkSpec {
  import spark.implicits._

  private def batchDf(events: Seq[RawEvent]): DataFrame =
    ChangeGen.projectPhase(events.toDF(), Phase(0, Long.MaxValue)).drop("seg")

  /** Descriptions of the jobs started inside `body`. */
  private def jobDescriptions(body: => Unit): Seq[String] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(String.valueOf(e.properties.getProperty("spark.job.description"))): Unit
    }
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    seen.asScala.toSeq
  }

  test("every job of a shuffle-path merge and a compaction carries a graft description") {
    val feed = FeedConfig(numEvents = 3000, numKeys = 600, seed = 12,
      deleteFraction = 0.1, dupFraction = 0.05, outOfOrderWindow = 200,
      eventsPerSegment = 1500)
    val events = ChangeGen.generateLocal(feed)
    val table = LakeTable(tmpDir("jobdesc"))
    // shuffle full-outer path, with the status read-back (lineageDir) and
    // dead-letter write switched on so their jobs run too
    val cfg = MergeConfig(numBuckets = 8, singleTaskRows = 0L, broadcastThreshold = 0L,
      lineageDir = Some(tmpDir("jobdesc-lin")), deadLetterDir = Some(tmpDir("jobdesc-dl")))
    val sc = spark.sparkContext
    sc.setJobGroup("caller-group", "caller description")
    val descs = try jobDescriptions {
      events.groupBy(_.seg).toSeq.sortBy(_._1).foreach { case (seg, evs) =>
        val bad = RawEvent(evs.head.lsn, null, "I", Array(1), 1, "s", null, seg)
        MergeInto.apply(spark, table, batchDf(evs :+ bad), "cp", seg, cfg)
      }
      Maintenance.compact(spark, table)
      // the caller's description and group are back after each call
      assert(sc.getLocalProperty("spark.job.description") === "caller description")
      assert(sc.getLocalProperty("spark.jobGroup.id") === "caller-group")
    } finally sc.clearJobGroup()
    Seq("merge stats cp/", "merge rejects cp/", "merge write cp/",
      "merge status read-back cp/", "compact v").foreach { step =>
      assert(descs.exists(_.startsWith(JobDescription.Prefix + step)), s"no '$step' job in $descs")
    }
    assert(descs.forall(_.startsWith(JobDescription.Prefix)), descs.mkString("\n"))
  }
}
