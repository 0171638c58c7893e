package graft

import graft.changegen.{ChangeGen, FeedConfig, Phase, RawEvent}
import graft.merge.{MergeConfig, MergeInto}
import graft.stream.{CdcStream, StreamConfig}
import graft.table.{LakeTable, Maintenance}
import graft.util.{IoUtil, JobDescription}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame

import scala.jdk.CollectionConverters._

/** Every Spark job the engine starts carries a `graft <step>` description,
  * and the caller's own description and job group survive the call.
  */
class JobDescriptionSpec extends SparkSpec {
  import spark.implicits._

  private def batchDf(events: Seq[RawEvent]): DataFrame =
    ChangeGen.projectPhase(events.toDF(), Phase(0, Long.MaxValue)).drop("seg")

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

  test("a stream's delta micro-batch runs one job, the merge write; a rewrite batch keeps its jobs") {
    val work = tmpDir("jobdesc-stream")
    val feedDir = s"$work/feed"
    val events = ChangeGen.generateLocal(FeedConfig(numEvents = 1400, numKeys = 300,
      seed = 17, outOfOrderWindow = 50, eventsPerSegment = 200))
    // one file per micro-batch: segments 0 and 1, segments 2-4 as one
    // wide segment above the delta threshold, then segment 5 and the rest
    val segs = Seq(Seq(0L), Seq(1L), Seq(2L, 3L, 4L), Seq(5L), Seq(6L, 7L))
    segs.zipWithIndex.foreach { case (ss, i) =>
      val dir = new Path(s"$feedDir/seg=$i")
      IoUtil.publishDir(dir.getFileSystem(spark.sparkContext.hadoopConfiguration), dir) { tmp =>
        batchDf(events.filter(e => ss.contains(e.seg))).coalesce(1)
          .write.mode("overwrite").parquet(tmp.toString)
      }
    }
    assert(events.map(_.seg).toSet === segs.flatten.toSet)
    assert(segs.zipWithIndex.forall { case (ss, i) =>
      (events.count(e => ss.contains(e.seg)) > 400) == (i == 2)
    })
    val cfg = StreamConfig(feedDir = feedDir, tableDir = s"$work/table",
      checkpointDir = s"$work/cp", checkpointId = "jb", maxFilesPerTrigger = 1,
      merge = MergeConfig(numBuckets = 4, deltaAppendThreshold = 400L))
    val applied = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val descs = jobDescriptions {
      CdcStream.runToCompletion(spark, cfg, (b, r) => if (!r.skipped) applied.add(b): Unit)
    }
    assert(applied.asScala.toSeq === (0L until segs.size))
    def mergeJobs(b: Long): Seq[String] = descs.filter(d =>
      d.startsWith(JobDescription.Prefix + "merge ") && d.endsWith(s" jb/$b"))
      .map(_.stripPrefix(JobDescription.Prefix).stripSuffix(s" jb/$b"))
    // batch 0 bootstraps the empty table and batch 2 is above the
    // threshold: both take the rewrite path, stats pre-pass included
    Seq(0L, 2L).foreach { b =>
      assert(mergeJobs(b).toSet === Set("merge stats", "merge write"), s"batch $b: $descs")
      assert(mergeJobs(b).count(_ == "merge write") === 1, s"batch $b: $descs")
    }
    Seq(1L, 3L, 4L).foreach { b =>
      assert(mergeJobs(b) === Seq("merge write"), s"batch $b: $descs")
    }
    val table = LakeTable(s"$work/table")
    assert(table.filesOf(table.currentManifest()).count(_.isDelta) > 0)
    assertOracle(table.read(spark), events)
  }
}
