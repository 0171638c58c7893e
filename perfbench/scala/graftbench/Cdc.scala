package graftbench

import graft.changegen.{ChangeGen, FeedConfig, RawEvent}
import graft.model.{Ops, Schemas}
import graft.merge.{MergeConfig, MergeInto}
import graft.sources.HttpFeedServer
import graft.stream.{CdcStream, StreamConfig}
import graft.table.{LakeTable, Maintenance}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec,
  ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.{ConcurrentLinkedQueue, LinkedBlockingQueue, TimeUnit}
import scala.collection.mutable

/** Shared pieces of the CDC workloads. */
object Cdc {

  /** `MergeInto.apply` of segment `seg` of `feed`, traced as `merge.apply`. */
  def applySeg(spark: SparkSession, tr: Tracer, table: LakeTable, feed: DataFrame,
      seg: Long, cfg: MergeConfig, checkpoint: String, batchId: Long): Double = {
    val batch = feed.filter(col("seg") === seg).drop("seg")
    val t0 = Clock.now()
    tr.span("merge.apply", batchId) {
      MergeInto.apply(spark, table, batch, checkpoint, batchId, cfg)
    }
    Clock.secs(t0)
  }

  /** Order-independent hash of every column of the table's live rows,
    * and their count: forces a full LWW-resolved read.
    */
  def hashRead(spark: SparkSession, table: LakeTable): (BigDecimal, Long) = {
    val df = table.read(spark)
    val h = xxhash64(df.columns.map(col).toIndexedSeq: _*).cast("decimal(20,0)")
    val r = df.agg(sum(h), count(lit(1))).head()
    (if (r.isNullAt(0)) BigDecimal(0) else BigDecimal(r.getDecimal(0)), r.getLong(1))
  }

  def storedBytes(table: LakeTable): Long =
    table.filesOf(table.currentManifest()).map(f => Files.bytesOfUri(f.path)).sum

  /** One applied batch as the merge layer saw it: the apply's wall, the
    * Spark work charged to it, its wall with no job running, and the raw
    * payload bytes of its events.
    */
  final case class BatchWork(wall: Double, work: Tracer.Acc, driverSecs: Double, feedBytes: Long)

  /** Merge-layer per-batch medians and means. */
  def mergeLayer(r: Report, bs: Seq[BatchWork]): Unit = {
    val n = bs.size.max(1).toDouble
    def per(f: Tracer.Acc => Long): Double = bs.map(b => f(b.work)).sum / n
    r.put("merge.apply_p50_s", Stats.median(bs.map(_.wall)))
    r.put("merge.jobs_per_batch", per(_.jobs))
    r.put("merge.stages_per_batch", per(_.stages))
    r.put("merge.tasks_per_batch", per(_.tasks))
    r.put("merge.driver_s_per_batch", bs.map(_.driverSecs).sum / n)
    r.put("merge.task_cpu_s_per_batch", per(_.cpuNs) / 1e9)
    r.put("merge.gc_s_per_batch", per(_.gcMs) / 1e3)
    r.put("merge.shuffle_bytes_per_batch", per(_.shuffleBytes))
    r.put("merge.spill_bytes_per_batch", per(_.spillBytes))
    r.put("merge.bytes_written_per_batch", per(_.writtenBytes))
    r.put("merge.write_amp", bs.map(_.work.writtenBytes).sum.toDouble /
      bs.map(_.feedBytes).sum.max(1L))
  }

  /** Table-layer shape of the current snapshot. */
  def tableShape(table: LakeTable, r: Report): Unit = {
    val reps = (1 to 5).map(_ => Clock.time(table.currentManifest()))
    val m = reps.last._1
    val files = table.filesOf(m)
    r.put("table.current_manifest_s", Stats.median(reps.map(_._2)))
    r.put("table.read_files", files.size.toDouble)
    r.put("table.delta_file_frac", files.count(_.isDelta).toDouble / files.size.max(1))
    r.put("table.files_per_bucket_max",
      files.groupBy(_.bucket).values.map(_.size).maxOption.getOrElse(0).toDouble)
    val meta = new java.io.File(Files.local(table.root), "meta")
    val head = new java.io.File(meta, f"v${m.version}%020d.json").length()
    val lists = m.manifests.map(ref => new java.io.File(meta, ref.path).length()).sum
    r.put("table.manifest_bytes", (head + lists).toDouble)
    r.put("table.ledger_entries", m.ledger.size.toDouble)
  }

  def check(r: Report, what: String, spark: SparkSession, table: LakeTable,
      expected: Map[String, RawEvent]): Unit = {
    r.attempted += 1
    val bad = Oracle.diff(spark, table, expected)
    if (bad.nonEmpty) r.fail(s"$what: ${bad.mkString("; ")}")
  }
}

/** The join operators of every query that finishes while it is registered
  * (`spark.listenerManager`), as `<operator> <join type>`.
  */
final class PlanProbe extends QueryExecutionListener {
  val joins = new ConcurrentLinkedQueue[String]()
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    PlanProbe.joins(qe.executedPlan).foreach(joins.add)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  /** Joins recorded so far; clears the record. */
  def take(): Seq[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    var j = joins.poll()
    while (j != null) { out += j; j = joins.poll() }
    out.toSeq
  }
}

object PlanProbe {
  /** Joins of a physical plan, through adaptive plans and query stages. */
  def joins(p: SparkPlan): Seq[String] = {
    val here = p match {
      case j: SortMergeJoinExec => Seq(s"SortMergeJoin ${j.joinType}")
      case j: ShuffledHashJoinExec => Seq(s"ShuffledHashJoin ${j.joinType}")
      case j: BroadcastHashJoinExec => Seq(s"BroadcastHashJoin ${j.joinType}")
      case j: BroadcastNestedLoopJoinExec => Seq(s"BroadcastNestedLoopJoin ${j.joinType}")
      case _ => Nil
    }
    val inner = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case c: CommandResultExec => Seq(c.commandPhysicalPlan)
      case _ => p.children
    }
    here ++ inner.flatMap(joins)
  }
}

/** bulk_merge: a large skewed, disordered feed in a few big segments.
  * Each replay bootstraps a fresh bucketed table with the first segment
  * (untimed), then applies every later segment with `MergeInto.apply`
  * from one shared feed relation; only those applies are timed. The
  * replay repeats a fixed number of times in the timed window.
  */
object BulkMerge {
  val Window = 10000
  val Events = 120000L
  val Segments = 3

  /** Segments sized so the disorder window leaves no small tail segment. */
  def feedConfig(seed: Long, cores: Int): FeedConfig =
    FeedConfig(numEvents = Events, numKeys = 50000, seed = seed, zipf = 1.1,
      deleteFraction = 0.05, dupFraction = 0.02, outOfOrderWindow = Window,
      eventsPerSegment = (Events + Window + Segments - 1) / Segments,
      filesPerSegment = cores)

  /** Timed segments (~43k rows each) take the
    * shuffle full-outer merge: the broadcast path, which the engine picks
    * by default up to 200k rows, is off, and the single-task plan, which
    * it picks up to 100k rows of batch plus touched target, is capped
    * below the batch size. The warm-up replay checks the plans.
    */
  val Merge = MergeConfig(numBuckets = 32, broadcastThreshold = 0L, singleTaskRows = 20000L)
  val ShufflePath = "SortMergeJoin FullOuter"
  /** Replay rates still climb over the first few replays of a JVM. */
  val WarmReplays = 3

  /** Timed replays per window: set by `--seconds` (4 at 10 s), not by how
    * fast the replays run, so every run does the same work.
    */
  def replaysPerWindow(seconds: Double): Int = math.max(2, math.round(0.4 * seconds).toInt)

  def run(spark: SparkSession, a: Args, tr: Tracer, r: Report, work: String): Unit = {
    val cores = a.int("cores", Host.nproc)
    val fc = feedConfig(a.long("seed", 1), cores)
    val feedDir = a.str("feed", s"$work/feed")
    val setup0 = Clock.now()
    // feed rendering is repeated: its median is the repeatable share of set-up
    val genReps = if (a.bool("gen", true)) (1 to Warm.SetupReps).map { i =>
      val dir = if (i == 1) feedDir else s"$work/feed-rep$i"
      val (_, s) = Clock.time(ChangeGen.writeFeed(spark, dir, fc))
      if (i > 1) Files.rm(dir)
      s
    } else Nil
    val feed = spark.read.parquet(s"$feedDir/phase=0")
    val segs = feed.select("seg").distinct().collect().map(_.get(0).toString.toLong).sorted.toSeq
    require(segs.size == Segments, s"feed has ${segs.size} segments, expected $Segments")
    val (boot, timedSegs) = (segs.head, segs.tail)
    val segBytes = Feed.payloadBytesBySeg(feed)
    val timedEvents = feed.filter(col("seg") =!= boot).count()
    Log(f"bulk feed ready ${Clock.secs(setup0)}%.2f s (gen reps ${genReps.map(x => f"$x%.2f").mkString(",")})")

    var tableN = 0
    /** One replay: returns the timed wall, the wall of each timed apply,
      * and the table. `afterApply` runs after each timed apply, untimed.
      */
    def replay(t: Tracer, afterApply: Long => Unit = _ => ()): (Double, Seq[Double], LakeTable) = {
      tableN += 1
      val table = LakeTable(s"$work/t$tableN")
      Cdc.applySeg(spark, Tracer.Off, table, feed, boot, Merge, "bulk", boot)
      r.attempted += 1
      val walls = timedSegs.map { s =>
        val w = Cdc.applySeg(spark, t, table, feed, s, Merge, "bulk", s)
        r.attempted += 1
        afterApply(s)
        w
      }
      (walls.sum, walls, table)
    }
    // warm-up: full replays, the first of which checks that every timed
    // apply ran the shuffle full-outer merge; then let the JIT settle
    val probe = new PlanProbe
    spark.listenerManager.register(probe)
    val (warm, _, wt) = replay(Tracer.Off, s => {
      org.apache.spark.BenchBus.drain(spark.sparkContext)
      val joins = probe.take()
      Log(s"bulk segment $s joins: ${joins.mkString(", ")}")
      r.attempted += 1
      if (!joins.contains(ShufflePath) || joins.exists(_.startsWith("Broadcast")))
        r.fail(s"segment $s did not take the shuffle full-outer merge: joins ${joins.mkString(", ")}")
    })
    spark.listenerManager.unregister(probe)
    Files.rm(Files.local(wt.root))
    (2 to a.int("warm_replays", WarmReplays)).foreach(_ =>
      Files.rm(Files.local(replay(Tracer.Off)._3.root)))
    Warm.settle()
    val genMedian = if (genReps.isEmpty) 0.0 else Stats.median(genReps)
    r.put("setup_rest_s", Clock.secs(setup0) - genReps.sum + genMedian)
    if (genReps.nonEmpty) r.put("changegen.feed_s", genMedian)
    Log(f"bulk cores=$cores timed events=$timedEvents segs=${segs.size} warm=$warm%.2fs")

    // timed: whole replays; untraced first, then (trace mode) as many
    // traced replays
    val replays = a.int("replays", replaysPerWindow(a.double("seconds", 10)))
    def window(t: Tracer): (Seq[Double], Seq[Double], LakeTable) = {
      val rates = mutable.ArrayBuffer.empty[Double]
      val walls = mutable.ArrayBuffer.empty[Double]
      var last: LakeTable = null
      (1 to replays).foreach { _ =>
        if (last != null) Files.rm(Files.local(last.root))
        val (w, bw, table) = replay(t)
        rates += timedEvents / w; walls += w / bw.size; last = table
      }
      (rates.toSeq, walls.toSeq, last)
    }
    val j0 = Host.jiffies()
    val (rates, walls, table) = window(Tracer.Off)
    val (sysF, stealF) = Host.sysSteal(j0, Host.jiffies())
    r.put("events_per_s", Stats.median(rates))
    r.put("latency_p50_s", Stats.median(walls))
    r.put("host.sys_frac", sysF)
    r.put("host.steal_frac", stealF)
    Log(s"bulk rates=${rates.map(x => f"$x%.0f").mkString(",")}")

    Cdc.check(r, "bulk final state", spark, table, Oracle.fold(fc, fc.numEvents))
    r.put("table.stored_bytes_per_row", Cdc.storedBytes(table).toDouble /
      table.read(spark).count().max(1L))
    if (tr.on) {
      Cdc.tableShape(table, r)
      val (trRates, _, _) = window(tr)
      tr.drain()
      Cdc.mergeLayer(r, tr.named("merge.apply").map(s =>
        Cdc.BatchWork(s.secs, tr.counters(s), tr.driverSecs(s), segBytes(s.group))))
      r.put("trace_overhead_frac", Stats.median(rates) / Stats.median(trRates) - 1.0)
    }
  }
}

/** Feed segments rendered on the driver, event for event as
  * `ChangeGen.generateLocal` assigns them (jittered segment, duplicates
  * re-emitted one segment later).
  */
object Feed {
  private def unit(h: Long): Double = (h >>> 11).toDouble / (1L << 53).toDouble

  def isDup(fc: FeedConfig, lsn: Long): Boolean =
    unit(ChangeGen.mix64(lsn ^ fc.seed ^ 0x5bf03635L)) < fc.dupFraction

  def segment(fc: FeedConfig, cdf: Array[Double], k: Long): Seq[RawEvent] = {
    val e = fc.eventsPerSegment
    val lastSeg = (fc.numEvents - 1) / e
    val lo = math.max(0L, (k - 1) * e - fc.outOfOrderWindow)
    val hi = math.min(fc.numEvents, (k + 1) * e)
    val out = mutable.ArrayBuffer.empty[RawEvent]
    var lsn = lo
    while (lsn < hi) {
      val ev = ChangeGen.eventAt(fc, cdf, lsn)
      if (ev.seg == k) out += ev
      if (isDup(fc, lsn) && math.min(ev.seg + 1, lastSeg) == k) out += ev.copy(seg = k)
      lsn += 1
    }
    out.toSeq
  }

  /** Events as a JSON-lines body of the feed's wire schema. */
  def jsonLines(events: Seq[RawEvent]): String = {
    val sb = new StringBuilder
    events.foreach { e =>
      val del = e.op == Ops.Delete
      sb.append(s"""{"lsn":${e.lsn},"doc_id":"${e.doc_id}","op":"${e.op}",""")
        .append(s""""tokens":${if (del) "null" else e.tokens.mkString("[", ",", "]")},""")
        .append(s""""n_tok":${if (del) "null" else e.n_tok.toString},"source":"${e.source}"}""")
        .append('\n')
    }
    sb.toString
  }

  /** Raw payload bytes of events: 8-byte LSN, 4-byte ints, UTF-8 strings. */
  def payloadBytes(events: Seq[RawEvent]): Long = events.map { e =>
    8L + e.doc_id.length + e.op.length + e.source.length + 4L +
      (if (e.tokens == null) 0L else 4L * e.tokens.length)
  }.sum

  /** The same payload measure per segment of a feed relation. */
  def payloadBytesBySeg(feed: DataFrame): Map[Long, Long] =
    feed.groupBy(col("seg")).agg(sum(lit(16) + length(col("doc_id")) + length(col("op")) +
        length(col("source")) + coalesce(size(col("tokens")), lit(0)) * 4))
      .collect().map(r => r.get(0).toString.toLong -> r.getLong(1)).toMap
}

/** trickle_delta: small batches arrive over HTTP and a tailing stream
  * merges each through the merge-on-read delta path, in a closed loop:
  * POST a batch's events to an `HttpFeedServer`, `POST /flush` them as
  * one feed segment, and wait for `CdcStream`'s `onBatch` of the batch
  * before sending the next. After a fixed number of batches the final
  * snapshot is read and every bucket compacted.
  */
object TrickleDelta {
  val BatchEvents = 2000L
  val BootEvents = 10000L
  /** Batches a throw-away pipeline runs in set-up: batch walls fall over
    * the first batches a JVM runs, while the JIT compiles the batch path.
    */
  val JitBatches = 14
  /** Untimed batches on the measured pipeline before the timed window. */
  val WarmBatches = 1
  /** Batches one pipeline runs at most, so its feed holds at most 29
    * segment directories. Past 32, Spark lists the feed with a parallel
    * job on every poll of the stream and batch walls step up by about
    * half; a window that straddled the step would measure where it fell.
    */
  val PipelineBatches = 28

  /** Batches per timed window: set by `--seconds` (20 at 10 s), not by
    * how fast the batches run, so every run does the same work.
    */
  def batchesPerWindow(seconds: Double): Int =
    math.min(PipelineBatches - WarmBatches, math.max(10, math.round(2 * seconds).toInt))

  final class Client(port: Int) {
    private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    /** POST `body` to `path`; returns (status, response body, seconds). */
    def post(path: String, body: String): (Int, String, Double) = {
      val t0 = Clock.now()
      val resp = http.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofString())
      (resp.statusCode(), resp.body(), Clock.secs(t0))
    }
  }

  /** One batch through the pipeline: POST, flush and POST-to-commit
    * seconds, the flush-to-commit part, and the micro-batch that
    * committed it.
    */
  final case class Sent(seg: Long, events: Int, payload: Long, post: Double,
      flush: Double, await: Double, wall: Double, streamBatch: Long)

  /** An HTTP receiver and the stream that tails its feed into `dir/table`. */
  final class Pipeline(spark: SparkSession, dir: String, merge: MergeConfig, r: Report) {
    val table = LakeTable(s"$dir/table")
    private val feedDir = s"$dir/feed"
    private val srv = HttpFeedServer.start(spark, feedDir, Schemas.changeV1,
      flushEvery = Int.MaxValue)
    private val client = new Client(srv.port)
    /** (time, micro-batch id, max LSN) of every applied micro-batch. */
    private val commits = new LinkedBlockingQueue[(Long, Long, Long)]()
    private val cfg = StreamConfig(feedDir = feedDir, tableDir = s"$dir/table",
      checkpointDir = s"$dir/cp", checkpointId = "trickle", maxFilesPerTrigger = 1,
      processingTime = Some("0 seconds"), merge = merge)
    private var q: StreamingQuery = _
    private var stopped = false

    private def ok(code: Int, want: Int, what: String, body: String): Unit =
      if (code != want) r.fail(s"$what -> $code $body")

    /** Send `events` as batch `seg` and wait until the stream commits it.
      * The stream starts after the first flush: it takes the feed's
      * schema from the first segment.
      */
    def send(tr: Tracer, seg: Long, events: Seq[RawEvent]): Sent = {
      val body = Feed.jsonLines(events)
      val lastLsn = events.map(_.lsn).max
      r.attempted += 3
      val t0 = Clock.now()
      tr.span("trickle.batch", seg) {
        val (pc, pb, post) = tr.span("sources.post", seg)(client.post("/events", body))
        ok(pc, 202, "POST /events", pb)
        val (fcode, fb, flush) = tr.span("sources.flush", seg)(client.post("/flush", ""))
        ok(fcode, 200, "POST /flush", fb)
        val rows = "\"rows\":(\\d+)".r.findFirstMatchIn(fb).map(_.group(1).toLong)
        if (!rows.contains(events.size.toLong)) r.fail(s"flush of batch $seg: $fb, sent ${events.size}")
        val t1 = Clock.now()
        if (q == null) q = CdcStream.start(spark, cfg, (b, res) => if (!res.skipped)
          commits.put((Clock.now(), b, res.lineage.map(_.max_lsn).maxOption.getOrElse(-1L))))
        var c = commits.poll(1, TimeUnit.SECONDS)
        val tWait = Clock.now()
        while (c == null && q.isActive && Clock.secs(tWait) < 60) c = commits.poll(1, TimeUnit.SECONDS)
        if (c == null) {
          val why = q.exception.map(_.getMessage).getOrElse("no commit within 60 s")
          throw new IllegalStateException(s"batch $seg was not committed: $why")
        }
        val (tc, b, maxLsn) = c
        if (maxLsn != lastLsn) r.fail(s"batch $seg: micro-batch $b committed max LSN $maxLsn, sent $lastLsn")
        Sent(seg, events.size, Feed.payloadBytes(events), post, flush,
          (tc - t1) / 1e9, (tc - t0) / 1e9, b)
      }
    }

    /** Segments whose unparsable lines the receiver dead-lettered. */
    def rejects: Int =
      Option(new java.io.File(s"$feedDir/_rejects").listFiles).map(_.length).getOrElse(0)

    /** Id of the stream query, which its micro-batch jobs carry. */
    def queryId: String = q.id.toString

    def stop(): Unit = if (!stopped) {
      stopped = true
      if (q != null) q.stop()
      srv.stop()
    }
  }

  /** Micro-batch progress of every stream, collected while registered. */
  final class Progress extends StreamingQueryListener {
    val all = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      all.add(e.progress)
    def ms(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
  }

  /** A timed window on one pipeline: its batches, the wall of the batch
    * loop, and the final read and compaction.
    */
  final case class Window(sent: Seq[Sent], loopS: Double, readS: Double, compactS: Double)

  def run(spark: SparkSession, a: Args, tr: Tracer, r: Report, work: String): Unit = {
    val n = batchesPerWindow(a.double("seconds", 10))
    val fc = FeedConfig(
      numEvents = BootEvents + (math.max(JitBatches, PipelineBatches) + 1) * BatchEvents,
      numKeys = 50000,
      seed = a.long("seed", 1), zipf = 1.1, outOfOrderWindow = 2000,
      eventsPerSegment = BatchEvents)
    val cdf = ChangeGen.zipfCdf(fc.numKeys, fc.zipf)
    val bootSegs = BootEvents / BatchEvents
    val merge = MergeConfig(numBuckets = 8, deltaAppendThreshold = 10 * BatchEvents)
    // every pipeline runs the same batches: the bootstrap, then batch k
    // (from 0) is feed segment bootSegs + k
    val last = bootSegs + WarmBatches + n - 1
    // events of segments <= last all have LSN < (last + 1) * BatchEvents
    lazy val expected = Oracle.fold(fc, (last + 1) * BatchEvents, _.seg <= last)

    val setup0 = Clock.now()
    val renders = mutable.ArrayBuffer.empty[Double]
    val boots = mutable.ArrayBuffer.empty[Double]
    def bootstrap(dir: String): Pipeline = {
      val (events, rs) = Clock.time((0L until bootSegs).flatMap(Feed.segment(fc, cdf, _)))
      val (p, bs) = Clock.time {
        val p = new Pipeline(spark, dir, merge, r)
        p.send(Tracer.Off, 0, events)
        p
      }
      renders += rs
      boots += rs + bs
      p
    }
    def batches(p: Pipeline, t: Tracer, ks: Range): Seq[Sent] =
      ks.map(k => p.send(t, bootSegs + k, Feed.segment(fc, cdf, bootSegs + k)))

    /** The timed window on `p`, after its warm-up batches: n batches, then
      * the read of the final snapshot and the compaction of every bucket.
      * The table is checked against the oracle before the read (the check
      * reads it too, so the timed read is not the first) and after the
      * compaction.
      */
    def measure(p: Pipeline, t: Tracer): Window = {
      val (sent, loopS) = Clock.time(batches(p, t, WarmBatches until WarmBatches + n))
      if (t.on) Cdc.tableShape(p.table, r)
      Cdc.check(r, "trickle snapshot", spark, p.table, expected)
      val (_, readS) = Clock.time(t.span("table.read", 0)(Cdc.hashRead(spark, p.table)))
      r.put("table.stored_bytes_per_row", Cdc.storedBytes(p.table).toDouble / expected.size.max(1))
      r.attempted += 1
      val (_, compactS) = Clock.time(t.span("table.compact", 0)(Maintenance.compact(spark, p.table)))
      Cdc.check(r, "trickle after compaction", spark, p.table, expected)
      Window(sent, loopS, readS, compactS)
    }

    // set-up: three bootstraps, each into a fresh pipeline, of which
    // setup_s books the median; the first pipeline then warms the JIT,
    // the last one is measured
    val jit = bootstrap(s"$work/jit")
    batches(jit, Tracer.Off, 0 until JitBatches)
    jit.stop()
    Files.rm(s"$work/jit")
    bootstrap(s"$work/rep").stop()
    Files.rm(s"$work/rep")
    val pipe = bootstrap(s"$work/main")
    val progress = new Progress
    var traced: Pipeline = null
    try {
      batches(pipe, Tracer.Off, 0 until WarmBatches)
      Warm.settle()
      r.put("setup_rest_s", Clock.secs(setup0) - boots.sum + Stats.median(boots.toSeq))
      r.put("changegen.feed_s", Stats.median(renders.toSeq))
      Log(f"trickle setup ${Clock.secs(setup0)}%.2f s, bootstraps ${boots.map(x => f"$x%.2f").mkString(",")}")

      val j0 = Host.jiffies()
      val w = measure(pipe, Tracer.Off)
      val (sysF, stealF) = Host.sysSteal(j0, Host.jiffies())
      pipe.stop()
      val walls = w.sent.map(_.wall)
      r.put("events_per_s", w.sent.map(_.events).sum / (walls.sum + w.readS + w.compactS))
      r.put("latency_p50_s", Stats.median(walls))
      r.put("table.snapshot_read_s", w.readS)
      r.put("table.compact_s", w.compactS)
      r.put("host.sys_frac", sysF)
      r.put("host.steal_frac", stealF)
      Log(f"trickle batches=${walls.size} p50=${Stats.median(walls)}%.4fs read=${w.readS}%.2fs " +
        f"compact=${w.compactS}%.2fs sys=$sysF%.3f steal=$stealF%.3f " +
        f"walls ${walls.map(x => f"$x%.2f").mkString(" ")}")

      // a traced run repeats the window, traced, on a fresh pipeline
      // warmed the same way
      if (tr.on) {
        traced = bootstrap(s"$work/traced")
        batches(traced, Tracer.Off, 0 until WarmBatches)
        spark.streams.addListener(progress)
        val tw = measure(traced, tr)
        r.put("trace_overhead_frac",
          Stats.median(tw.sent.map(_.wall)) / Stats.median(walls) - 1.0)
        val v = traced.table.currentVersion()
        val (_, vac) = Clock.time(Maintenance.vacuum(traced.table, v))
        val (_, exp) = Clock.time(Maintenance.expireSnapshots(traced.table, v))
        r.put("table.vacuum_s", vac)
        r.put("table.expire_s", exp)
        tr.drain()
        val c = tr.named("table.compact").map(tr.counters(_))
        r.put("table.compact_bytes_rewritten", c.map(_.writtenBytes).sum.toDouble)
        r.put("table.compact_jobs", c.map(_.jobs).sum.toDouble)
        streamLayers(r, tr, progress, traced.queryId, tw.sent, tw.loopS)
        r.put("sources.rejects", traced.rejects.toDouble)
      }
    } finally {
      spark.streams.removeListener(progress)
      pipe.stop()
      if (traced != null) traced.stop()
    }
  }

  /** Merge, stream and sources layers of the traced batches. The merge
    * call runs inside the stream, so its wall is the micro-batch's
    * `addBatch` time and its Spark work is what the listener charged to
    * that micro-batch.
    */
  private def streamLayers(r: Report, tr: Tracer, progress: Progress, query: String,
      traced: Seq[Sent], wall: Double): Unit = {
    val byBatch = progress.all.toArray(Array.empty[StreamingQueryProgress])
      .filter(p => p.numInputRows > 0 && p.id.toString == query).map(p => p.batchId -> p).toMap
    val ps = traced.flatMap(s => byBatch.get(s.streamBatch).map(s -> _))
    r.attempted += 1
    if (ps.size != traced.size) r.fail(s"progress of ${ps.size} of ${traced.size} traced micro-batches")
    if (ps.isEmpty) return
    Cdc.mergeLayer(r, ps.map { case (s, p) =>
      val apply = progress.ms(p, "addBatch") / 1000.0
      Cdc.BatchWork(apply, tr.streamBatch(query, s.streamBatch),
        (apply - tr.streamBatchJobSecs(query, s.streamBatch)).max(0.0), s.payload)
    })
    def med(k: String) = Stats.median(ps.map(x => progress.ms(x._2, k)))
    val trig = ps.map(x => progress.ms(x._2, "triggerExecution") / 1000.0)
    r.put("stream.await_p50_s", Stats.median(traced.map(_.await)))
    r.put("stream.trigger_p50_s", Stats.median(trig))
    r.put("stream.latest_offset_ms", med("latestOffset"))
    r.put("stream.get_batch_ms", med("getBatch"))
    r.put("stream.wal_commit_ms", med("walCommit"))
    r.put("stream.commit_offsets_ms", med("commitOffsets"))
    r.put("stream.rows_per_batch", Stats.mean(ps.map(_._2.numInputRows.toDouble)))
    r.put("stream.batches", ps.size.toDouble)
    r.put("stream.idle_frac", (1.0 - trig.sum / wall).max(0.0))
    r.put("sources.post_p50_s", Stats.median(traced.map(_.post)))
    r.put("sources.flush_p50_s", Stats.median(traced.map(_.flush)))
  }
}

/** JIT settling between warm-up and timing. */
object Warm {
  /** Set-up repetitions per run; `setup_s` books their median. */
  val SetupReps = 3

  /** Wait (at most `maxSecs`) until JIT compilation time stops advancing. */
  def settle(maxSecs: Double = 3.0): Unit = {
    val comp = java.lang.management.ManagementFactory.getCompilationMXBean
    val t0 = Clock.now()
    var last = comp.getTotalCompilationTime
    var quiet = 0
    while (quiet < 2 && Clock.secs(t0) < maxSecs) {
      Thread.sleep(200)
      val j = comp.getTotalCompilationTime
      if (j - last < 20) quiet += 1 else quiet = 0
      last = j
    }
  }
}
