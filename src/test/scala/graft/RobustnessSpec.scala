package graft

import graft.changegen.{ChangeGen, FeedConfig, Phase, RawEvent}
import graft.merge.{MergeConfig, MergeInto}
import graft.model.Ops
import graft.table.{LakeTable, Maintenance, Manifest}
import graft.util.{JobDescription, NioLocalFileSystem}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Parks the first evaluation of a UDF until released. Object-level, not
  * captured: local-mode tasks run in this JVM and see the same latches.
  */
object StallOnce {
  @volatile var entered = new java.util.concurrent.CountDownLatch(1)
  @volatile var release = new java.util.concurrent.CountDownLatch(1)

  def reset(): Unit = {
    entered = new java.util.concurrent.CountDownLatch(1)
    release = new java.util.concurrent.CountDownLatch(1)
  }

  def pass(key: String): String = {
    entered.countDown()
    release.await(120, java.util.concurrent.TimeUnit.SECONDS)
    key
  }
}

/** A one-shot hook that [[HeadRaceFileSystem]] runs just before a table
  * writes the temp file of a new head, inside that table's commit.
  */
object HeadRace {
  private val hook = new java.util.concurrent.atomic.AtomicReference[() => Unit]()
  def arm(f: () => Unit): Unit = hook.set(f)
  def fire(): Unit = Option(hook.getAndSet(null)).foreach(_())
}

/** The engine's local filesystem, firing [[HeadRace]] when a head's temp
  * file (`meta/.tmp-*`) is created: after the commit's own existence check,
  * before its CAS.
  */
class HeadRaceFileSystem extends NioLocalFileSystem {
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    if (f.getName.startsWith(".tmp-")) HeadRace.fire()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
}

/** Failure-path semantics: dead-letter routing of malformed events (the
  * reference's failure relationship) and multi-writer CAS conflicts.
  */
class RobustnessSpec extends SparkSpec {
  import spark.implicits._

  private def batchDf(events: Seq[RawEvent]): DataFrame =
    ChangeGen.projectPhase(events.toDF(), Phase(0, Long.MaxValue)).drop("seg")

  private def ev(lsn: Long, key: String, op: String, tok: Array[Int]) =
    RawEvent(lsn, key, op, tok, if (tok == null) -1 else tok.length, "s", null, 0)

  /** `df` written to a parquet file and read back: a batch that is one
    * file scan, whose row count the merge takes from the footers.
    */
  private def viaParquet(work: String, df: DataFrame): DataFrame = {
    val dir = s"$work/batch-${java.util.UUID.randomUUID()}"
    df.write.parquet(dir)
    spark.read.parquet(dir)
  }

  /** The three reject cases, run as written (batches built in memory: the
    * rewrite path) and on the delta path (a table that already holds a
    * row and a delta threshold) with two inputs: the batch read from a
    * parquet file, whose footers give its row count (one job), and the
    * batch built in memory, whose row count comes from the stats pre-pass.
    * The assertions are the same on every input.
    */
  private def rejectCases(suffix: String, delta: Boolean, viaFile: Boolean): Unit = {
    def cfgOf(c: MergeConfig) = if (delta) c.copy(deltaAppendThreshold = 1000L) else c
    def asBatch(work: String, df: DataFrame) = if (viaFile) viaParquet(work, df) else df

    test("dead-letter: malformed events quarantined, valid ones applied" + suffix) {
      val work = tmpDir("lake-dlq")
      val table = LakeTable(s"$work/t")
      val cfg = cfgOf(MergeConfig(numBuckets = 4, deadLetterDir = Some(s"$work/dlq")))
      if (delta) MergeInto.apply(spark, table,
        batchDf(Seq(ev(0, "a", Ops.Insert, Array(0)))), "seed", 0, cfg)
      val good = Seq(ev(1, "a", Ops.Insert, Array(1)), ev(2, "b", Ops.Upsert, Array(2)))
      val badDf = Seq(
        (3L, null.asInstanceOf[String], "U", Seq(3), 1, "s"), // null key
        (4L, "c", "WAT", Seq(4), 1, "s") // unknown op
      ).toDF("lsn", "doc_id", "op", "tokens", "n_tok", "source")
      val batch = asBatch(work, batchDf(good).unionByName(badDf))
      val r1 = MergeInto.apply(spark, table, batch, "cp", 0, cfg)
      assert(!r1.skipped)
      assert(table.read(spark).count() === 2)
      assert(table.filesOf(table.currentManifest()).exists(_.isDelta) === delta)
      val dlq = spark.read.parquet(s"$work/dlq/cp=cp/batch=0")
      assert(dlq.count() === 2)
      assert(dlq.filter(col("op") === "WAT").count() === 1)
      // replay: merge skipped (ledger); quarantine path stays identical
      val r2 = MergeInto.apply(spark, table, batch, "cp", 0, cfg)
      assert(r2.skipped)
      assert(spark.read.parquet(s"$work/dlq/cp=cp/batch=0").count() === 2)
    }

    test("a fully-invalid batch commits an empty ledger entry, no table change" + suffix) {
      val work = tmpDir("lake-dlq2")
      val table = LakeTable(s"$work/t")
      val cfg = cfgOf(MergeConfig(numBuckets = 4, deadLetterDir = Some(s"$work/dlq")))
      MergeInto.apply(spark, table, batchDf(Seq(ev(1, "a", Ops.Insert, Array(1)))), "cp", 0, cfg)
      val allBad = asBatch(work, Seq((9L, null.asInstanceOf[String], "U", Seq(9), 1, "s"))
        .toDF("lsn", "doc_id", "op", "tokens", "n_tok", "source"))
      var r: graft.merge.MergeResult = null
      val jobs = jobDescriptions { r = MergeInto.apply(spark, table, allBad, "cp", 1, cfg) }
      assert(!r.skipped && r.lineage.isEmpty)
      // a delta batch counts its rejects in the write's Observation, which
      // must report even when every event is invalid
      assert(jobs.contains(JobDescription.Prefix + "merge write cp/1") === delta, jobs)
      assert(table.read(spark).count() === 1)
      assert(table.committedSnapshot("cp", 1L).isDefined)
    }

    test("without a dead-letter dir, invalid events fail the batch before anything is written" +
        suffix) {
      val work = tmpDir("lake-reject")
      val table = LakeTable(s"$work/t")
      val cfg = cfgOf(MergeConfig(numBuckets = 4))
      MergeInto.apply(spark, table, batchDf(Seq(ev(1, "a", Ops.Insert, Array(1)))), "cp", 0, cfg)
      val v0 = table.currentVersion()
      val bad = Seq(
        (Some(3L), null.asInstanceOf[String], "U", Seq(3), 1, "s"), // null key
        (Some(4L), "c", "WAT", Seq(4), 1, "s"), // unknown op
        (None, "d", "I", Seq(5), 1, "s") // null lsn
      ).toDF("lsn", "doc_id", "op", "tokens", "n_tok", "source")
      val batch = asBatch(work, batchDf(Seq(ev(2, "b", Ops.Insert, Array(2)))).unionByName(bad))
      val e = intercept[IllegalArgumentException] {
        MergeInto.apply(spark, table, batch, "cp", 1, cfg)
      }
      assert(e.getMessage.contains("batch cp/1 has 3 invalid event(s)"), e.getMessage)
      assert(e.getMessage.contains("MergeConfig.deadLetterDir"), e.getMessage)
      assert(table.currentVersion() === v0)
      assert(!new java.io.File(new Path(table.stagingDir(v0 + 1)).toUri.getPath).exists,
        "nothing may be staged for the next version")
      assert(table.committedSnapshot("cp", 1L).isEmpty)
      assert(table.read(spark).select("doc_id").collect().map(_.getString(0)).toSeq === Seq("a"))
    }
  }

  rejectCases("", delta = false, viaFile = false)
  rejectCases(" (one-job delta path)", delta = true, viaFile = true)
  rejectCases(" (in-memory delta batch)", delta = true, viaFile = false)

  test("lost CAS race: merge retries against the winner's snapshot") {
    val work = tmpDir("lake-race")
    val table = LakeTable(s"$work/t")
    MergeInto.apply(spark, table,
      batchDf(Seq(ev(1, "a", Ops.Insert, Array(1)))), "w1", 0,
      MergeConfig(numBuckets = 4))
    val v1 = table.currentVersion()

    // a competing writer lands version v1+1 between this merge's manifest
    // read and its commit (injected via the pre-commit hook, once)
    var fired = false
    val competing = () => if (!fired) {
      fired = true
      val m = table.currentManifest()
      table.commit(m.copy(version = m.version + 1,
        snapshotId = "competitor", parentSnapshotId = Some(m.snapshotId),
        ledger = m.ledger + ("w2/0" -> "competitor")))
    }
    val r = MergeInto.apply(spark, table,
      batchDf(Seq(ev(2, "z", Ops.Insert, Array(2)))), "w1", 1,
      MergeConfig(numBuckets = 4, preCommitHook = competing))
    assert(!r.skipped)
    // both writers' effects survive: competitor's ledger entry + our row
    val m = table.currentManifest()
    assert(m.version === v1 + 2)
    assert(m.ledger.contains("w2/0") && m.ledger.contains("w1/1"))
    assert(table.read(spark).count() === 2)
    // retries exhausted -> the conflict surfaces
    val alwaysCompete = () => {
      val cm = table.currentManifest()
      table.commit(cm.copy(version = cm.version + 1,
        snapshotId = java.util.UUID.randomUUID().toString,
        parentSnapshotId = Some(cm.snapshotId)))
    }
    intercept[graft.table.CommitConflictException] {
      MergeInto.apply(spark, table,
        batchDf(Seq(ev(3, "q", Ops.Insert, Array(3)))), "w1", 2,
        MergeConfig(numBuckets = 4, preCommitHook = alwaysCompete))
    }
  }

  test("a writer that loses the race for a version keeps the winner's files") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    implicit val ec: ExecutionContext = ExecutionContext.global
    val work = tmpDir("lake-stage-race")
    val table = LakeTable(s"$work/t")
    val cfg = MergeConfig(numBuckets = 8)
    MergeInto.apply(spark, table, batchDf(Seq(ev(1, "seed", Ops.Insert, Array(1)))), "seed", 0, cfg)
    assert(table.currentVersion() === 0L)

    // writer B reads v0, then parks in its stats job on a 1-row,
    // 1-partition batch whose key runs through the stalling UDF
    StallOnce.reset()
    val stall = org.apache.spark.sql.functions.udf((k: String) => StallOnce.pass(k))
    val batchB = batchDf(Seq(ev(2, "b", Ops.Insert, Array(2)))).coalesce(1)
      .withColumn("doc_id", stall(col("doc_id")))
    val writerB = Future(MergeInto.apply(spark, table, batchB, "writerB", 0, cfg))
    try {
      assert(StallOnce.entered.await(120, java.util.concurrent.TimeUnit.SECONDS))
      // writer A also reads v0 and commits v1 meanwhile
      MergeInto.apply(spark, table, batchDf(Seq(ev(3, "a1", Ops.Insert, Array(3)),
        ev(4, "a2", Ops.Insert, Array(4)), ev(5, "a3", Ops.Insert, Array(5)))), "writerA", 0, cfg)
    } finally StallOnce.release.countDown()
    assert(table.currentVersion() === 1L)
    val v1Files = table.filesOf(table.readManifest(1L)).map(_.path)
      .filterNot(p => table.filesOf(table.readManifest(0L)).exists(_.path == p))
    assert(v1Files.nonEmpty)

    // B loses the CAS for v1 and retries at v2
    assert(!Await.result(writerB, 180.seconds).skipped)
    assert(table.currentVersion() === 2L)
    val missing = table.filesOf(table.currentManifest())
      .filterNot(f => new java.io.File(new java.net.URI(f.path).getPath).exists)
    assert(missing.isEmpty, s"committed files gone: ${missing.map(_.path)}")
    assert(v1Files.forall(p => new java.io.File(new java.net.URI(p).getPath).exists))
    assert(table.read(spark).select("doc_id").collect().map(_.getString(0)).toSet ===
      Set("seed", "b", "a1", "a2", "a3"))
  }

  /** An 8-bucket table holding two segments, then `maintain` run on a
    * second handle of it while a merge of the third segment commits from
    * inside the maintenance commit, so the merge wins the version the
    * maintenance staged for. Returns the writer's handle, the version the
    * maintenance read, its result and every event.
    */
  private def raceAgainstMerge(name: String)(maintain: LakeTable => Maintenance.CompactionResult)
      : (LakeTable, Long, Maintenance.CompactionResult, Seq[RawEvent]) = {
    val feed = FeedConfig(numEvents = 600, numKeys = 200, seed = 23,
      deleteFraction = 0.1, dupFraction = 0.05, outOfOrderWindow = 40,
      eventsPerSegment = 200, maxTokens = 6)
    val segs = ChangeGen.generateLocal(feed).groupBy(_.seg).toSeq.sortBy(_._1).map(_._2)
    val root = tmpDir(name)
    val writer = LakeTable(root)
    val cfg = MergeConfig(numBuckets = 8, deltaAppendThreshold = 1000L)
    segs.take(2).zipWithIndex.foreach { case (evs, i) =>
      MergeInto.apply(spark, writer, batchDf(evs), "cp", i, cfg)
    }
    val read = writer.currentVersion()
    val conf = new Configuration()
    conf.set("fs.file.impl", classOf[HeadRaceFileSystem].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    HeadRace.arm(() => MergeInto.apply(spark, writer, batchDf(segs(2)), "cp", 2, cfg): Unit)
    val result = try maintain(LakeTable(root, conf)) finally HeadRace.arm(null)
    (writer, read, result, segs.take(3).flatten)
  }

  test("a compaction that loses its version to a merge redoes it against the merge") {
    val (table, read, r, events) = raceAgainstMerge("lake-compact-race")(t =>
      Maintenance.compact(spark, t))
    // the merge took the version the compaction first staged for ...
    assert(table.readManifest(read + 1).ledger.contains("cp/2"))
    assert(table.filesOf(table.readManifest(read + 1)).exists(_.isDelta))
    // ... and the retry folded the merge's delta files too
    assert(r.version === read + 2 && table.currentVersion() === read + 2)
    val files = table.filesOf(table.currentManifest())
    assert(!files.exists(_.isDelta))
    assert(files.groupBy(_.bucket).values.forall(_.size == 1))
    assert(table.currentManifest().ledger.contains("cp/2"))
    assertOracle(table.read(spark), events)
  }

  test("a rebucket that loses its version to a merge redoes it against the merge") {
    val (table, read, r, events) = raceAgainstMerge("lake-rebucket-race")(t =>
      Maintenance.rebucket(spark, t, 16))
    assert(table.readManifest(read + 1).ledger.contains("cp/2"))
    assert(table.readManifest(read + 1).numBuckets === 8)
    assert(r.version === read + 2)
    val m = table.currentManifest()
    assert(m.numBuckets === 16 && m.ledger.contains("cp/2"))
    assert(!table.filesOf(m).exists(_.isDelta))
    assertOracle(table.read(spark), events)
  }
}
