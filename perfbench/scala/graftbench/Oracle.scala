package graftbench

import graft.changegen.{ChangeGen, FeedConfig, RawEvent}
import graft.model.Ops
import graft.table.LakeTable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import scala.collection.mutable

/** Expected table state, folded straight from the feed generator. */
object Oracle {

  /** Last-writer-wins state after every event with LSN in [0, untilLsn)
    * that `included` admits, folding `ChangeGen.eventAt` in LSN order:
    * the rule of `ChangeGen.oracleFinalState` in O(keys) memory instead
    * of O(events). Duplicated events carry their original's LSN and
    * content, so they never change the fold.
    */
  def fold(cfg: FeedConfig, untilLsn: Long,
      included: RawEvent => Boolean = _ => true): Map[String, RawEvent] = {
    val cdf = if (cfg.zipf == 0.0) Array.empty[Double] else ChangeGen.zipfCdf(cfg.numKeys, cfg.zipf)
    val state = mutable.HashMap.empty[String, RawEvent]
    var lsn = 0L
    while (lsn < untilLsn) {
      val e = ChangeGen.eventAt(cfg, cdf, lsn)
      if (included(e)) {
        if (e.op == Ops.Delete) state.remove(e.doc_id) else state.put(e.doc_id, e)
      }
      lsn += 1
    }
    state.toMap
  }

  /** Compare the table's live rows with `expected` on every feed column
    * (doc_id, lsn, tokens, n_tok, source). Returns the mismatches, at
    * most `limit` of them, described for the log.
    */
  def diff(spark: SparkSession, table: LakeTable, expected: Map[String, RawEvent],
      limit: Int = 5): Seq[String] = {
    val rows = table.read(spark)
      .select(col("doc_id"), col("lsn"), col("tokens"), col("n_tok"), col("source"))
      .collect()
    val out = mutable.ArrayBuffer.empty[String]
    if (rows.length != expected.size)
      out += s"live rows ${rows.length} != expected ${expected.size}"
    val seen = mutable.HashSet.empty[String]
    rows.iterator.takeWhile(_ => out.size < limit).foreach { r =>
      val id = r.getString(0)
      if (!seen.add(id)) out += s"$id appears twice"
      else expected.get(id) match {
        case None => out += s"$id is live but expected absent"
        case Some(e) =>
          val toks = if (r.isNullAt(2)) null else r.getSeq[Int](2).toArray
          val nTok = if (r.isNullAt(3)) -1 else r.get(3).toString.toInt
          val ok = r.getLong(1) == e.lsn &&
            java.util.Arrays.equals(toks, e.tokens) &&
            nTok == e.n_tok && r.getString(4) == e.source
          if (!ok) out += s"$id differs: table lsn=${r.getLong(1)} expected lsn=${e.lsn}"
      }
    }
    out.toSeq
  }
}
