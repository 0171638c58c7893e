package graft.changegen

import graft.model.Ops
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** One schema phase of the feed. Events with lsn in [fromLsn, untilLsn)
  * belong to the phase; `withExtraV2` adds the ADD-COLUMN test column,
  * `wideNTok` emits n_tok as long (int->long widening test).
  */
final case class Phase(fromLsn: Long, untilLsn: Long,
    withExtraV2: Boolean = false, wideNTok: Boolean = false)

/** Deterministic synthetic binlog/WAL feed (seed-driven, no wall clock, no
  * external data). Stands in for the reference's incremental DB-table fetch
  * sources (`GenerateTableFetch`/`ListDatabaseTables` in the production
  * flow) and the archive-explode source trace
  * (`PontusMSOfficePSTReaderRecord.java:224-281`: one source blob -> N
  * records), and doubles as the test oracle input.
  *
  * Every attribute of event i is a pure function of (seed, i), so the local
  * (driver-side, for oracles) and distributed (spark.range, for bench-scale
  * feeds) generators agree bit-for-bit.
  *
  * @param numEvents       number of distinct LSNs (0..numEvents-1)
  * @param numKeys         distinct doc_ids
  * @param zipf            Zipf exponent for key choice; 0 = uniform.
  *                        Hot-key head exercises the salted dedupe path.
  * @param deleteFraction  fraction of events with op = D
  * @param dupFraction     fraction of events emitted twice (same (doc_id,
  *                        lsn) — idempotence check)
  * @param outOfOrderWindow events are shuffled within a window of this many
  *                        LSNs when assigning feed segments
  * @param eventsPerSegment feed-file granularity (one segment ~ one
  *                        micro-batch when tailed with maxFilesPerTrigger)
  */
final case class FeedConfig(
    numEvents: Long,
    numKeys: Int,
    seed: Long = 42L,
    zipf: Double = 0.0,
    deleteFraction: Double = 0.05,
    dupFraction: Double = 0.02,
    outOfOrderWindow: Int = 0,
    eventsPerSegment: Long = 100000L,
    maxTokens: Int = 64,
    filesPerSegment: Int = 16,
    phases: Seq[Phase] = Nil) {
  def phaseOf(lsn: Long): Phase =
    phases.find(p => lsn >= p.fromLsn && lsn < p.untilLsn)
      .getOrElse(Phase(0, Long.MaxValue))
}

/** A generated event, pre-projection (all phases' columns present). */
final case class RawEvent(
    lsn: Long, doc_id: String, op: String,
    tokens: Array[Int], n_tok: Int, source: String,
    extra_v2: String, seg: Long)

object ChangeGen {

  /** SplitMix64 — public-domain mixing function (Steele et al.),
    * the determinism backbone of the generator.
    */
  def mix64(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  private def unit(h: Long): Double = ((h >>> 11).toDouble) / (1L << 53).toDouble

  /** Zipf CDF over ranks 1..k with exponent s (precomputed, serializable,
    * shipped once per executor via task closure).
    */
  def zipfCdf(k: Int, s: Double): Array[Double] = {
    val w = Array.tabulate(k)(i => 1.0 / math.pow(i + 1.0, s))
    val total = w.sum
    val cdf = new Array[Double](k)
    var acc = 0.0
    var i = 0
    while (i < k) { acc += w(i) / total; cdf(i) = acc; i += 1 }
    cdf
  }

  private def pickKey(cfg: FeedConfig, cdf: Array[Double], h: Long): Int =
    if (cfg.zipf == 0.0) (Math.floorMod(h, cfg.numKeys.toLong)).toInt
    else {
      val u = unit(h)
      val i = java.util.Arrays.binarySearch(cdf, u)
      val r = if (i >= 0) i else -i - 1
      math.min(r, cfg.numKeys - 1)
    }

  /** The pure event function: everything derives from (seed, lsn). */
  def eventAt(cfg: FeedConfig, cdf: Array[Double], lsn: Long): RawEvent = {
    val h1 = mix64(cfg.seed ^ (lsn * 0x9e3779b97f4a7c15L))
    val h2 = mix64(h1)
    val h3 = mix64(h2)
    val key = pickKey(cfg, cdf, h1)
    val docId = f"doc$key%08d"
    val op =
      if (unit(h2) < cfg.deleteFraction) Ops.Delete
      else Math.floorMod(h2, 3L) match {
        case 0 => Ops.Insert
        case 1 => Ops.Update
        case _ => Ops.Upsert
      }
    val phase = cfg.phaseOf(lsn)
    val nTok = 4 + Math.floorMod(h3, (cfg.maxTokens - 4).toLong).toInt
    val tokens =
      if (op == Ops.Delete) null
      else {
        val a = new Array[Int](nTok)
        var i = 0
        while (i < nTok) {
          a(i) = (mix64(h3 + i) & 0x7fffffffL).toInt
          i += 1
        }
        a
      }
    val source = "src" + Math.floorMod(h1 >>> 17, 8L)
    val extra = if (phase.withExtraV2) s"v2-${Math.floorMod(h2 >>> 7, 1000L)}" else null
    // segment assignment: true order + bounded jitter = out-of-order feed
    val jitter = if (cfg.outOfOrderWindow <= 0) 0L
      else Math.floorMod(h3 >>> 13, cfg.outOfOrderWindow.toLong)
    val seg = math.max(0L, (lsn + jitter)) / cfg.eventsPerSegment
    RawEvent(lsn, docId, op,
      if (tokens == null) null else tokens,
      if (op == Ops.Delete) -1 else nTok,
      source, extra, seg)
  }

  /** Driver-side generation (tests, oracles): all events in LSN order,
    * duplicates appended per dupFraction.
    */
  def generateLocal(cfg: FeedConfig): Seq[RawEvent] = {
    val cdf = if (cfg.zipf == 0.0) Array.empty[Double] else zipfCdf(cfg.numKeys, cfg.zipf)
    val out = mutable.ArrayBuffer.empty[RawEvent]
    var i = 0L
    while (i < cfg.numEvents) {
      val e = eventAt(cfg, cdf, i)
      out += e
      if (unit(mix64(e.lsn ^ cfg.seed ^ 0x5bf03635L)) < cfg.dupFraction)
        out += e.copy(seg = math.min(e.seg + 1, (cfg.numEvents - 1) / cfg.eventsPerSegment))
      i += 1
    }
    out.toSeq
  }

  /** Distributed generation at bench scale: spark.range over LSNs; same
    * pure event function, so identical content to [[generateLocal]].
    */
  def generateDf(spark: SparkSession, cfg: FeedConfig): DataFrame = {
    import spark.implicits._
    val cdf = if (cfg.zipf == 0.0) Array.empty[Double] else zipfCdf(cfg.numKeys, cfg.zipf)
    val nSeg = ((cfg.numEvents - 1) / cfg.eventsPerSegment).max(0)
    spark.range(0, cfg.numEvents)
      .mapPartitions { it =>
        it.flatMap { i =>
          val e = eventAt(cfg, cdf, i)
          val isDup = unit(mix64(e.lsn ^ cfg.seed ^ 0x5bf03635L)) < cfg.dupFraction
          if (isDup) Iterator(e, e.copy(seg = math.min(e.seg + 1, nSeg)))
          else Iterator.single(e)
        }
      }
      .toDF()
  }

  /** Project a raw-event frame to one phase's wire schema (drops columns
    * the phase doesn't carry; widens n_tok where the phase says so).
    */
  def projectPhase(df: DataFrame, phase: Phase): DataFrame = {
    val base = df.filter(col("lsn") >= phase.fromLsn && col("lsn") < phase.untilLsn)
    val nTokType = if (phase.wideNTok) "long" else "int"
    val cols = Seq(col("lsn"), col("doc_id"), col("op"),
      col("tokens"),
      when(col("op") === Ops.Delete, lit(null)).otherwise(col("n_tok"))
        .cast(nTokType).as("n_tok"),
      col("source")) ++
      (if (phase.withExtraV2) Seq(col("extra_v2")) else Nil) ++
      Seq(col("seg"))
    base.select(cols: _*)
  }

  /** Write the feed as LSN-ordered parquet segments under `dir/seg=N/`.
    * Returns the list of phase directories written (one per schema phase;
    * a schema change in a live CDC feed is a restart point, matching
    * Structured Streaming's fixed-schema-per-run source contract).
    */
  def writeFeed(spark: SparkSession, dir: String, cfg: FeedConfig): Seq[String] = {
    graft.util.LocalFs.install(spark)
    val raw = generateDf(spark, cfg)
    val phases = if (cfg.phases.nonEmpty) cfg.phases else Seq(Phase(0, Long.MaxValue))
    phases.zipWithIndex.map { case (p, idx) =>
      val phaseDir = s"$dir/phase=$idx"
      val pdf = projectPhase(raw, p)
      // multiple files per segment: a one-file segment is a one-task scan
      // (a single parquet row group is unsplittable), which serializes the
      // whole first stage of every micro-batch
      val nSeg = ((cfg.numEvents - 1) / cfg.eventsPerSegment + 1).toInt
      pdf.repartition(nSeg * cfg.filesPerSegment,
          col("seg"), pmod(xxhash64(col("lsn")), lit(cfg.filesPerSegment.toLong)))
        .sortWithinPartitions(col("seg"), col("lsn"))
        .write.partitionBy("seg").mode("overwrite").parquet(phaseDir)
      phaseDir
    }
  }

  /** Independent in-memory oracle: sequential fold of the feed in LSN
    * order, last-writer-wins, deletes remove, later upserts resurrect.
    * Plain Scala collections — shares no code path with the engine.
    */
  def oracleFinalState(events: Seq[RawEvent]): Map[String, RawEvent] = {
    val state = mutable.HashMap.empty[String, RawEvent]
    events.sortBy(_.lsn).foreach { e =>
      state.get(e.doc_id) match {
        case Some(prev) if prev.lsn > e.lsn => ()
        case _ =>
          if (e.op == Ops.Delete) { state.remove(e.doc_id); state.put(e.doc_id, e) }
          else state.put(e.doc_id, e)
      }
    }
    state.filter(_._2.op != Ops.Delete).toMap
  }
}
