package graft.merge

import graft.model.LineageRow
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroup
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser

/** Driver-side parquet writer for per-batch lineage rows.
  *
  * The lineage payload is a handful of rows per micro-batch (one per
  * touched bucket), yet rounds 1-4 wrote it through a 1-task Spark job —
  * job submission, scheduling, a task round-trip and an output commit on
  * the per-batch SERIAL path (overlapped with manifest composition, but
  * composition is a few FS creates, so the job's fixed cost was the long
  * leg of the join). This writes the same bytes directly on the driver
  * with parquet-hadoop's example writer: microseconds of CPU, two FS
  * renames, zero Spark jobs. At 10^10-event scale the per-batch serial
  * floor is the Amdahl term that caps scaling efficiency between cluster
  * sizes (BENCH.md), so every fixed per-batch job removed counts.
  *
  * Layout contract (unchanged from the Spark-write path): one file under
  * `dir/cp=<checkpointId>/batch=<batchId>/`, so a plain
  * `spark.read.parquet(dir)` recovers `cp` and `batch` as partition
  * columns. Exactly-once contract (unchanged): the write is
  * deterministic-path + overwrite and lands BEFORE the manifest CAS —
  * a crash on either side of the commit replays to identical content.
  * The file is written under a hidden `.tmp-batch=N` directory and
  * renamed into place ([[graft.util.IoUtil.publishDir]]): a concurrent
  * lineage reader never sees a half-written file, and a directory that a
  * crash strands is skipped by every later read of `dir`.
  */
object LineageWriter {

  private val schema = MessageTypeParser.parseMessageType(
    """message lineage {
      |  required int64 batch_id;
      |  required int32 partition;
      |  required int64 min_lsn;
      |  required int64 max_lsn;
      |  required int64 n_insert;
      |  required int64 n_update;
      |  required int64 n_delete;
      |  required int64 n_dedup_dropped;
      |  required binary snapshot_id (UTF8);
      |}""".stripMargin)

  def write(conf: Configuration, dir: String, checkpointId: String,
      batchId: Long, rows: Seq[LineageRow]): Unit = {
    val finalDir = new Path(s"$dir/cp=$checkpointId/batch=$batchId")
    graft.util.IoUtil.publishDir(finalDir.getFileSystem(conf), finalDir) { tmpDir =>
      val file = new Path(tmpDir, "part-00000.snappy.parquet")
      val w = ExampleParquetWriter
        .builder(HadoopOutputFile.fromPath(file, conf))
        .withConf(conf)
        .withType(schema)
        .withCompressionCodec(CompressionCodecName.SNAPPY)
        .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
        .build()
      try rows.foreach { r =>
        val g = new SimpleGroup(schema)
        g.add("batch_id", r.batch_id)
        g.add("partition", r.partition)
        g.add("min_lsn", r.min_lsn)
        g.add("max_lsn", r.max_lsn)
        g.add("n_insert", r.n_insert)
        g.add("n_update", r.n_update)
        g.add("n_delete", r.n_delete)
        g.add("n_dedup_dropped", r.n_dedup_dropped)
        g.add("snapshot_id", r.snapshot_id)
        w.write(g)
      } finally w.close()
    }
  }
}
