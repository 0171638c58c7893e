package graft.model

import org.apache.spark.sql.types._

/** Core data model of the CDC / incremental-ingest engine.
  *
  * The unit of change is a binlog/WAL-style event keyed by `doc_id` with a
  * globally monotonic `lsn`, carrying a pre-tokenized training sequence
  * payload (`tokens: array<int32>`). This re-expresses, Spark-first, the
  * reference's FlowFile-attribute record stream + keyed match-or-create
  * upsert (see reference `PontusIdGenerator.java:266-381` — 0 matches =>
  * insert, 1 match => update — and the `updatereq` rule model in the
  * production `flow.xml:1163-1307`).
  */
object Ops {
  val Insert = "I"
  val Update = "U"
  val Delete = "D"
  val Upsert = "UPSERT"
  val all: Seq[String] = Seq(Insert, Update, Delete, Upsert)
}

/** One change event in the feed (v1 schema — before any evolution). */
final case class ChangeEvent(
    lsn: Long,
    doc_id: String,
    op: String,
    tokens: Array[Int],
    n_tok: Int,
    source: String)

/** One surviving row of the target tokenized-sequence table.
  * `lsn` is the engine-managed system column recording the last LSN applied
  * to this key — required for last-writer-wins across micro-batches.
  */
final case class SeqRow(
    doc_id: String,
    tokens: Array[Int],
    n_tok: Int,
    source: String,
    lsn: Long)

/** Per-partition lineage emitted once per (micro-batch, bucket).
  * Spark-first lift of the reference's per-record provenance URIs
  * (`PontusIdGenerator.java:330-332`) and session counters
  * (`PontusTinkerPopClientRecord.java:163-166`).
  *
  * The four status counters (n_insert/n_update/n_delete/n_dedup_dropped)
  * are exact when the merge ran with `MergeConfig.lineageDir` set, and -1
  * ("not computed") otherwise — computing them costs a post-write
  * read-back job (and, on the delta path, the stats pre-pass) on the
  * per-batch serial path, so only persisted lineage pays for it. On the
  * merge-on-read delta path they are op-typed: n_insert/n_update/n_delete
  * count the ops of the per-key LSN winners, since match status is
  * unknown without the target. n_dedup_dropped is always the valid raw
  * rows minus the winners. `max_lsn` is always the highest valid LSN the
  * batch carried for the bucket. `min_lsn` is the lowest one on the
  * rewrite path (pre-pass stats); on the delta path it is the lowest LSN
  * the batch wrote to the bucket (the staged files' footers), after dedupe,
  * so it can sit above the raw minimum. None of it depends on where the
  * batch came from.
  */
final case class LineageRow(
    batch_id: Long,
    partition: Int,
    min_lsn: Long,
    max_lsn: Long,
    n_insert: Long,
    n_update: Long,
    n_delete: Long,
    n_dedup_dropped: Long,
    snapshot_id: String)

object Schemas {
  /** Change-feed schema, v1. Evolution tests add `extra_v2` and widen
    * `n_tok` to long (see [[SchemaEvolution]]).
    */
  val changeV1: StructType = StructType(Seq(
    StructField("lsn", LongType, nullable = false),
    StructField("doc_id", StringType, nullable = false),
    StructField("op", StringType, nullable = false),
    StructField("tokens", ArrayType(IntegerType, containsNull = false), nullable = true),
    StructField("n_tok", IntegerType, nullable = true),
    StructField("source", StringType, nullable = true)))

  /** Target-table schema (input_hint shape) + the `lsn` system column. */
  val seqTable: StructType = StructType(Seq(
    StructField("doc_id", StringType, nullable = false),
    StructField("tokens", ArrayType(IntegerType, containsNull = false), nullable = true),
    StructField("n_tok", IntegerType, nullable = true),
    StructField("source", StringType, nullable = true),
    StructField("lsn", LongType, nullable = false)))

  val lineage: StructType = StructType(Seq(
    StructField("batch_id", LongType, nullable = false),
    StructField("partition", IntegerType, nullable = false),
    StructField("min_lsn", LongType, nullable = false),
    StructField("max_lsn", LongType, nullable = false),
    StructField("n_insert", LongType, nullable = false),
    StructField("n_update", LongType, nullable = false),
    StructField("n_delete", LongType, nullable = false),
    StructField("n_dedup_dropped", LongType, nullable = false),
    StructField("snapshot_id", StringType, nullable = false)))
}

/** Catalyst-type evolution lattice: which automatic widenings are legal when
  * incoming change events carry a type wider than the table's (mirrors the
  * late/coerced typing of the reference's string-attribute model,
  * `updatereq` `"type"` coercions at `flow.xml:1270-1276`).
  */
object SchemaEvolution {

  /** Returns the widened type if `from` can evolve to `to` (or vice versa
    * needs no change), None if incompatible.
    */
  def widen(a: DataType, b: DataType): Option[DataType] = (a, b) match {
    case (x, y) if x == y => Some(x)
    case (ByteType, ShortType | IntegerType | LongType) => Some(b)
    case (ShortType, ByteType) => Some(a)
    case (ShortType, IntegerType | LongType) => Some(b)
    case (IntegerType, ByteType | ShortType) => Some(a)
    case (IntegerType, LongType) => Some(LongType)
    case (LongType, ByteType | ShortType | IntegerType) => Some(LongType)
    case (FloatType, DoubleType) => Some(DoubleType)
    case (DoubleType, FloatType) => Some(DoubleType)
    case (IntegerType | LongType, DoubleType) => Some(DoubleType)
    case (DoubleType, IntegerType | LongType) => Some(DoubleType)
    case (ArrayType(ea, na), ArrayType(eb, nb)) =>
      widen(ea, eb).map(e => ArrayType(e, na || nb))
    case _ => None
  }

  /** Evolve `table` schema to absorb `incoming`: existing fields widen per
    * the lattice; unseen incoming fields are ADDed (nullable — old rows
    * null-fill at read time); table-only fields are kept. Incompatible
    * types raise.
    */
  def evolve(table: StructType, incoming: StructType): StructType = {
    val byName = incoming.fields.map(f => f.name -> f).toMap
    val kept = table.fields.map { tf =>
      byName.get(tf.name) match {
        case Some(inF) =>
          val dt = widen(tf.dataType, inF.dataType).getOrElse(
            throw new IllegalArgumentException(
              s"incompatible evolution for column '${tf.name}': " +
                s"${tf.dataType.simpleString} vs ${inF.dataType.simpleString}"))
          tf.copy(dataType = dt, nullable = tf.nullable || inF.nullable)
        case None => tf
      }
    }
    val tableNames = table.fieldNames.toSet
    val added = incoming.fields.filterNot(f => tableNames.contains(f.name))
      .map(f => f.copy(nullable = true))
    StructType(kept ++ added)
  }

  /** True when `incoming` requires any change to `table`. */
  def needsEvolution(table: StructType, incoming: StructType): Boolean =
    evolve(table, incoming) != table
}
