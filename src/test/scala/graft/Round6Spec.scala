package graft

import graft.changegen.{ChangeGen, FeedConfig, Phase, RawEvent}
import graft.functions.Fns
import graft.merge.{MergeConfig, MergeInto}
import graft.table.LakeTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommand
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** Round-6 optimization equivalence gates: every operator whose internals
  * were restructured for performance proves here that its results are
  * unchanged.
  */
class Round6Spec extends SparkSpec {
  import spark.implicits._

  private def batchDf(events: Seq[RawEvent]): DataFrame =
    ChangeGen.projectPhase(events.toDF(),
      Phase(0, Long.MaxValue)).drop("seg")

  test("shingleHashes == xxhash64 over the shingles column, order included") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"),
      (3L, "  Tabs\tand\nnewlines   collapse  into spaces badly  "),
      (4L, "short one"), // fewer than 3 words -> no shingles
      (5L, ""),
      (6L, "dup dup dup dup dup dup"), // repeated shingles -> distinct once
      (7L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val both = docs.select(
      Fns.shingleHashes(col("text"), 3).as("fast"),
      transform(Fns.shingles(col("text"), 3), s => xxhash64(s)).as("ref"))
      .collect()
    both.foreach { r =>
      val fast = r.getSeq[Long](0)
      // null text: shingles yields null (size(null) CASE), the UDF yields
      // an empty array — both explode to zero rows downstream
      if (r.isNullAt(1)) assert(fast.isEmpty)
      else assert(fast === r.getSeq[Long](1))
    }
  }

  test("lineage counter gating: same table state; counters exact iff lineageDir is set") {
    val feed = FeedConfig(numEvents = 4000, numKeys = 150, seed = 11,
      deleteFraction = 0.1, dupFraction = 0.1, eventsPerSegment = 2000)
    val events = ChangeGen.generateLocal(feed)
    val segs = events.groupBy(_.seg).toSeq.sortBy(_._1)

    def run(cfg: MergeConfig, dir: String) = {
      val table = LakeTable(dir)
      val lineage = segs.flatMap { case (seg, evs) =>
        MergeInto.apply(spark, table, batchDf(evs), "cp", seg, cfg).lineage
      }
      (table.read(spark).orderBy("doc_id").collect().toSeq, lineage)
    }

    val (stateOff, linOff) = run(MergeConfig(numBuckets = 4), tmpDir("r6-off"))
    val (stateOn, linOn) = run(
      MergeConfig(numBuckets = 4, lineageDir = Some(tmpDir("r6-on-lineage"))), tmpDir("r6-on"))

    assert(stateOff === stateOn) // the optimization must not touch results
    // LSN ranges are exact either way (pre-pass stats, no read-back job)
    assert(linOff.map(l => (l.batch_id, l.partition, l.min_lsn, l.max_lsn)) ===
      linOn.map(l => (l.batch_id, l.partition, l.min_lsn, l.max_lsn)))
    // counters: -1 sentinels without lineageDir, real values with it
    assert(linOff.forall(l => l.n_insert == -1L && l.n_update == -1L &&
      l.n_delete == -1L && l.n_dedup_dropped == -1L))
    assert(linOn.exists(_.n_insert > 0L))
    assert(linOn.forall(l => l.n_insert >= 0L && l.n_update >= 0L &&
      l.n_delete >= 0L && l.n_dedup_dropped >= 0L))
  }

  test("single-task merge plan == parallel merge plans, state and statuses") {
    val feed = FeedConfig(numEvents = 6000, numKeys = 200, seed = 23,
      deleteFraction = 0.1, dupFraction = 0.05, outOfOrderWindow = 500,
      eventsPerSegment = 1500)
    val events = ChangeGen.generateLocal(feed)
    val segs = events.groupBy(_.seg).toSeq.sortBy(_._1)

    def run(cfg: MergeConfig, dir: String) = {
      val table = LakeTable(dir)
      segs.foreach { case (seg, evs) =>
        MergeInto.apply(spark, table, batchDf(evs), "cp", seg, cfg)
      }
      table.read(spark).orderBy("doc_id").collect().toSeq
    }

    // singleTaskRows = 0 forces every batch down the parallel paths
    // (broadcast decomposition / shuffle full-outer); the default routes
    // these small batches through the exchange-free single-task plan
    val single = run(MergeConfig(numBuckets = 4), tmpDir("r6-st-on"))
    val parallelBcast = run(
      MergeConfig(numBuckets = 4, singleTaskRows = 0L), tmpDir("r6-st-off"))
    val parallelShuffle = run(
      MergeConfig(numBuckets = 4, singleTaskRows = 0L, broadcastThreshold = 0L),
      tmpDir("r6-st-shuf"))
    assert(single === parallelBcast)
    assert(single === parallelShuffle)

    // and through the delta-append trickle path (single-task delta write)
    val deltaSingle = run(MergeConfig(numBuckets = 4,
      deltaAppendThreshold = 1000000L), tmpDir("r6-st-delta-on"))
    val deltaParallel = run(MergeConfig(numBuckets = 4,
      deltaAppendThreshold = 1000000L, singleTaskRows = 0L),
      tmpDir("r6-st-delta-off"))
    assert(deltaSingle === deltaParallel)
    assert(deltaSingle === single)
  }

  test("single-task merge write plan is exchange-free; parallel plan is not") {
    val feed = FeedConfig(numEvents = 3000, numKeys = 120, seed = 31,
      deleteFraction = 0.1, dupFraction = 0.05, eventsPerSegment = 1500)
    val events = ChangeGen.generateLocal(feed)
    val segs = events.groupBy(_.seg).toSeq.sortBy(_._1)
    // operator names of every executed data-writing command, through
    // adaptive plans and query stages; the batch's other jobs (the stats
    // pre-pass has its own Exchange) are not writes and are ignored
    def operators(p: SparkPlan): Seq[String] = p.nodeName +: (p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case _ => p.children
    }).flatMap(operators)
    val writes = new java.util.concurrent.ConcurrentLinkedQueue[Seq[String]]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.logical.isInstanceOf[DataWritingCommand])
          writes.add(operators(qe.executedPlan)): Unit
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      def lastPlan(cfg: MergeConfig, dir: String): Seq[String] = {
        val table = LakeTable(dir)
        writes.clear()
        segs.foreach { case (seg, evs) =>
          MergeInto.apply(spark, table, batchDf(evs), "cp", seg, cfg)
        }
        org.apache.spark.ListenerBusDrain(spark.sparkContext)
        assert(writes.size === segs.size, "one write command per batch")
        writes.toArray(Array.empty[Seq[String]]).last
      }
      // batch 2 merges into an existing table: the single-task rewrite
      // plan (dedupe window + full-outer join + write) must contain no
      // Exchange at all; forcing the parallel path must bring them back
      val single = lastPlan(MergeConfig(numBuckets = 4), tmpDir("r6-plan-on"))
      assert(!single.exists(_.contains("Exchange")), s"unexpected Exchange in: $single")
      assert(single.contains("SortMergeJoin"), s"expected full-outer SMJ in: $single")
      val parallel = lastPlan(
        MergeConfig(numBuckets = 4, singleTaskRows = 0L), tmpDir("r6-plan-off"))
      assert(parallel.exists(_.contains("Exchange")), s"expected an Exchange in: $parallel")
    } finally spark.listenerManager.unregister(listener)
  }

  test("cosineWithNorms(vecDot, vecNorm) is bit-identical to cosine") {
    val rnd = new scala.util.Random(7)
    val vecs: Seq[(Long, Array[Float])] =
      (0L until 200L).map(i => i -> Array.fill(16)(rnd.nextFloat() * 2f - 1f)) ++
        Seq(
          200L -> Array.fill(16)(0f), // zero norm -> null
          201L -> Array.fill(8)(1f), // length mismatch vs dim-16 -> null
          202L -> null.asInstanceOf[Array[Float]]) // null vector -> null
    val df = vecs.toDF("id", "v")
    val base = df.withColumn("nrm", Fns.vecNorm(col("v")))
    val pairs = base.as("a").join(base.as("b"), col("a.id") < col("b.id"))
      .select(
        Fns.cosine(col("a.v"), col("b.v")).as("fused"),
        Fns.cosineWithNorms(Fns.vecDot(col("a.v"), col("b.v")),
          col("a.nrm"), col("b.nrm")).as("hoisted"))
      .collect()
    assert(pairs.length === (203 * 202) / 2)
    pairs.foreach { r =>
      if (r.isNullAt(0) || r.isNullAt(1))
        assert(r.isNullAt(0) && r.isNullAt(1))
      else // bit-identical, not approximately equal
        assert(java.lang.Double.doubleToRawLongBits(r.getDouble(0)) ===
          java.lang.Double.doubleToRawLongBits(r.getDouble(1)))
    }
  }
}
