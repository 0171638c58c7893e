package graft

import graft.changegen.{ChangeGen, FeedConfig, Phase, RawEvent}
import graft.merge.{MergeConfig, MergeInto, MergeResult}
import graft.table.LakeTable
import graft.util.JobDescription
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.min

import scala.collection.mutable

/** The same delta batches through the one-job path (read from parquet
  * files, no lineage directory) and through the stats pre-pass (built in
  * memory, or read from the files with a lineage directory): one table
  * state and one lineage LSN range per (batch, bucket).
  */
class DeltaLineageSpec extends SparkSpec {
  import spark.implicits._

  private def batchDf(events: Seq[RawEvent]): DataFrame =
    ChangeGen.projectPhase(events.toDF(), Phase(0, Long.MaxValue)).drop("seg")

  test("one-job and pre-pass delta merges write the same table and lineage LSN ranges") {
    val work = tmpDir("delta-lineage")
    val feed = FeedConfig(numEvents = 3000, numKeys = 400, seed = 27,
      deleteFraction = 0.1, dupFraction = 0.05, outOfOrderWindow = 300,
      eventsPerSegment = 500)
    val events = ChangeGen.generateLocal(feed)
    val segs = events.groupBy(_.seg).toSeq.sortBy(_._1)
    val cfg = MergeConfig(numBuckets = 8, deltaAppendThreshold = 10000L)
    val withLineage = cfg.copy(lineageDir = Some(s"$work/lineage"))
    val tables = Seq("one-job", "in-memory", "lineage-dir")
      .map(n => n -> LakeTable(s"$work/$n")).toMap
    // (batch, bucket, min_lsn, max_lsn) of each run's lineage rows
    val lineage = mutable.Map.empty[String, Seq[(Long, Int, Long, Long)]].withDefaultValue(Nil)
    def record(run: String, r: MergeResult): Unit =
      lineage(run) ++= r.lineage.map(l => (l.batch_id, l.partition, l.min_lsn, l.max_lsn))
    val rawMin = mutable.Map.empty[(Long, Int), Long]
    val oneJobDescs = segs.map { case (seg, evs) =>
      val mem = batchDf(evs)
      val file = s"$work/feed/seg=$seg"
      mem.write.parquet(file)
      mem.groupBy(LakeTable.bucketExpr(8)).agg(min("lsn")).collect()
        .foreach(r => rawMin((seg, r.getInt(0))) = r.getLong(1))
      record("in-memory", MergeInto.apply(spark, tables("in-memory"), mem, "cp", seg, cfg))
      record("lineage-dir", MergeInto.apply(spark, tables("lineage-dir"),
        spark.read.parquet(file), "cp", seg, withLineage))
      // read outside the listener: schema inference runs a job of its own
      val scan = spark.read.parquet(file)
      seg -> jobDescriptions {
        record("one-job", MergeInto.apply(spark, tables("one-job"), scan, "cp", seg, cfg))
      }
    }.toMap
    // the bootstrap takes the pre-pass; every later batch is one write job
    oneJobDescs.filter(_._1 > 0).foreach { case (seg, descs) =>
      assert(descs === Seq(JobDescription.Prefix + s"merge write cp/$seg"), s"batch $seg")
    }
    tables.values.foreach { t =>
      assert(t.filesOf(t.currentManifest()).count(_.isDelta) > 0)
      assertOracle(t.read(spark), events)
    }
    val state = tables.map { case (n, t) => n -> t.read(spark).collect().map(_.toSeq).toSet }
    assert(state("one-job") === state("in-memory"))
    assert(state("one-job") === state("lineage-dir"))

    assert(lineage("one-job").nonEmpty)
    assert(lineage("one-job").sorted === lineage("in-memory").sorted)
    assert(lineage("one-job").sorted === lineage("lineage-dir").sorted)
    // a delta batch's min_lsn is what it wrote: at or above the raw minimum
    lineage("one-job").filter(_._1 > 0).foreach { case (b, p, lo, hi) =>
      assert(lo >= rawMin((b, p)) && lo <= hi, s"batch $b bucket $p: [$lo, $hi]")
    }
  }
}
