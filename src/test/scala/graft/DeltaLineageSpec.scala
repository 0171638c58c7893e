package graft

import graft.changegen.{ChangeGen, FeedConfig, Phase, RawEvent}
import graft.merge.{MergeConfig, MergeInto, MergeResult}
import graft.model.{LineageRow, Ops}
import graft.table.LakeTable
import graft.util.JobDescription
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, min}

/** The same delta batches merged four ways: read from parquet files or
  * built in memory, each with and without a lineage directory. Every
  * delta batch takes the one merge-on-read path; only the jobs around it
  * differ (the stats pre-pass when the footers cannot give the row count
  * or the counters need it, the status read-back under a lineage
  * directory). One table state and one lineage LSN range per (batch,
  * bucket) come out of all four.
  */
class DeltaLineageSpec extends SparkSpec {
  import spark.implicits._

  private def batchDf(events: Seq[RawEvent]): DataFrame =
    ChangeGen.projectPhase(events.toDF(), Phase(0, Long.MaxValue)).drop("seg")

  /** One way of merging the feed: its table, lineage directory, and per
    * batch the merge's result and the descriptions of the jobs it ran.
    */
  private final case class Run(table: LakeTable, lineageDir: Option[String],
      results: Map[Long, MergeResult], jobs: Map[Long, Seq[String]])

  private lazy val work = tmpDir("delta-lineage")
  private lazy val events = ChangeGen.generateLocal(FeedConfig(numEvents = 3000,
    numKeys = 400, seed = 27, deleteFraction = 0.1, dupFraction = 0.05,
    outOfOrderWindow = 300, eventsPerSegment = 500))
  private lazy val segs = events.groupBy(_.seg).toSeq.sortBy(_._1)
  private val runNames = Seq("one-job", "in-memory", "lineage-dir", "in-memory-lineage-dir")
  // batch -> bucket -> lowest raw LSN
  private lazy val rawMin = segs.map { case (seg, evs) =>
    seg -> batchDf(evs).groupBy(LakeTable.bucketExpr(8)).agg(min("lsn")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
  }.toMap

  private lazy val runs: Map[String, Run] = {
    val cfg = MergeConfig(numBuckets = 8, deltaAppendThreshold = 10000L)
    val setup = runNames.map { n =>
      val viaFile = !n.startsWith("in-memory")
      val lineageDir = if (n.endsWith("lineage-dir")) Some(s"$work/lineage-$n") else None
      (n, viaFile, cfg.copy(lineageDir = lineageDir), LakeTable(s"$work/$n"))
    }
    val merged = segs.flatMap { case (seg, evs) =>
      val mem = batchDf(evs)
      val file = s"$work/feed/seg=$seg"
      mem.write.parquet(file)
      setup.map { case (n, viaFile, c, table) =>
        // read outside the listener: schema inference runs a job of its own
        val batch = if (viaFile) spark.read.parquet(file) else mem
        var result: MergeResult = null
        val jobs = jobDescriptions {
          result = MergeInto.apply(spark, table, batch, "cp", seg, c)
        }
        (n, seg, result, jobs)
      }
    }
    setup.map { case (n, _, c, table) =>
      val mine = merged.filter(_._1 == n)
      n -> Run(table, c.lineageDir, mine.map(m => m._2 -> m._3).toMap,
        mine.map(m => m._2 -> m._4).toMap)
    }.toMap
  }

  test("one-job and pre-pass delta merges write the same table and lineage LSN ranges") {
    runs.values.foreach { r =>
      assert(r.table.filesOf(r.table.currentManifest()).count(_.isDelta) > 0)
      assertOracle(r.table.read(spark), events)
    }
    val state = runs.map { case (n, r) => n -> r.table.read(spark).collect().map(_.toSeq).toSet }
    // (batch, bucket, min_lsn, max_lsn) of each run's lineage rows
    val lineage = runs.map { case (n, r) => n -> r.results.values.flatMap(_.lineage)
      .map(l => (l.batch_id, l.partition, l.min_lsn, l.max_lsn)).toSeq.sorted }
    assert(lineage("one-job").nonEmpty)
    runNames.tail.foreach { n =>
      assert(state(n) === state("one-job"), n)
      assert(lineage(n) === lineage("one-job"), n)
    }
    // a delta batch's min_lsn is what it wrote: at or above the raw minimum
    lineage("one-job").filter(_._1 > 0).foreach { case (b, p, lo, hi) =>
      assert(lo >= rawMin(b)(p) && lo <= hi, s"batch $b bucket $p: [$lo, $hi]")
    }
  }

  test("each input runs only the jobs it needs around the one delta write") {
    // an aggregate is two jobs under AQE, its map stage and its result
    val stats = Seq.fill(2)("merge stats")
    val write = Seq("merge write")
    val readBack = Seq.fill(2)("merge status read-back")
    // the bootstrap rewrites the empty table; every later batch is a delta
    val want = Map(
      "one-job" -> (stats ++ write, write),
      "in-memory" -> (stats ++ write, stats ++ write),
      "lineage-dir" -> (stats ++ write ++ readBack, stats ++ write ++ readBack),
      "in-memory-lineage-dir" -> (stats ++ write ++ readBack, stats ++ write ++ readBack))
    for ((n, (bootstrap, delta)) <- want; (seg, jobs) <- runs(n).jobs) {
      val steps = if (seg == 0) bootstrap else delta
      // the status read-back runs beside the commit: compare in any order
      assert(jobs.sorted === steps.map(s => JobDescription.Prefix + s"$s cp/$seg").sorted,
        s"$n batch $seg")
    }
  }

  test("delta lineage counters under a lineage directory are exact, from a file or memory") {
    val bucketOf = events.map(_.doc_id).distinct.toDF("doc_id")
      .select(col("doc_id"), LakeTable.bucketExpr(8)).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    // (batch, bucket) -> (n_insert, n_update, n_delete, n_dedup_dropped):
    // the op counts of the per-key LSN winners, and valid raw rows minus
    // winners
    val want = segs.filter(_._1 > 0).flatMap { case (seg, evs) =>
      assert(evs.forall(e => e.doc_id != null && Ops.all.contains(e.op)))
      evs.groupBy(e => bucketOf(e.doc_id)).map { case (b, raw) =>
        val winners = raw.groupBy(_.doc_id).values.map(_.maxBy(_.lsn)).toSeq
        def ops(os: String*) = winners.count(w => os.contains(w.op)).toLong
        (seg, b) -> ((ops(Ops.Insert), ops(Ops.Update, Ops.Upsert), ops(Ops.Delete),
          (raw.size - winners.size).toLong))
      }
    }.toMap
    assert(want.values.exists(_._4 > 0) && want.values.exists(_._3 > 0))
    Seq("lineage-dir", "in-memory-lineage-dir").foreach { n =>
      val r = runs(n)
      val got = r.results.filter(_._1 > 0).values.flatMap(_.lineage)
        .map(l => (l.batch_id, l.partition) -> ((l.n_insert, l.n_update, l.n_delete,
          l.n_dedup_dropped))).toMap
      assert(got === want, n)
      val stored = spark.read.parquet(r.lineageDir.get).drop("cp", "batch")
        .as[LineageRow].collect().toSet
      assert(stored === r.results.values.flatMap(_.lineage).toSet, n)
    }
    Seq("one-job", "in-memory").foreach { n =>
      assert(runs(n).results.values.flatMap(_.lineage).forall(l => l.n_insert == -1L &&
        l.n_update == -1L && l.n_delete == -1L && l.n_dedup_dropped == -1L), n)
    }
  }
}
