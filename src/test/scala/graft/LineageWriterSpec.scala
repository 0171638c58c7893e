package graft

import org.apache.spark.sql.functions._

/** Driver-side lineage write ([[graft.merge.LineageWriter]]): the per-batch
  * lineage parquet is written without a Spark job but must stay bit-for-bit
  * compatible with the old DataFrame-write layout — partition discovery over
  * `cp=/batch=`, identical column names/types, overwrite-idempotent replays.
  */
class LineageWriterSpec extends SparkSpec {
  import graft.merge.LineageWriter
  import graft.model.LineageRow

  private def rows(snapshot: String) = Seq(
    LineageRow(batch_id = 3L, partition = 0, min_lsn = 10L, max_lsn = 42L,
      n_insert = 5L, n_update = 2L, n_delete = 1L, n_dedup_dropped = 4L,
      snapshot_id = snapshot),
    LineageRow(batch_id = 3L, partition = 5, min_lsn = 11L, max_lsn = 40L,
      n_insert = 0L, n_update = 7L, n_delete = 0L, n_dedup_dropped = 0L,
      snapshot_id = snapshot))

  test("driver-written lineage reads back exactly, with partition discovery") {
    val dir = tmpDir("lineage-direct")
    val conf = spark.sparkContext.hadoopConfiguration
    LineageWriter.write(conf, dir, "cpA", 3L, rows("snap-1"))
    LineageWriter.write(conf, dir, "cpA", 4L, Seq(
      LineageRow(4L, 2, 50L, 60L, 1L, 0L, 0L, 0L, "snap-2")))
    val got = spark.read.parquet(dir)
    // partition columns recovered from the directory layout
    assert(got.columns.toSet ===
      Set("batch_id", "partition", "min_lsn", "max_lsn", "n_insert",
        "n_update", "n_delete", "n_dedup_dropped", "snapshot_id",
        "cp", "batch"))
    val b3 = got.filter(col("batch") === 3).orderBy("partition").collect()
    assert(b3.length === 2)
    val r0 = b3(0)
    assert(r0.getAs[Long]("batch_id") === 3L)
    assert(r0.getAs[Int]("partition") === 0)
    assert(r0.getAs[Long]("min_lsn") === 10L)
    assert(r0.getAs[Long]("max_lsn") === 42L)
    assert(r0.getAs[Long]("n_insert") === 5L)
    assert(r0.getAs[Long]("n_dedup_dropped") === 4L)
    assert(r0.getAs[String]("snapshot_id") === "snap-1")
    assert(r0.getAs[String]("cp") === "cpA")
    assert(got.filter(col("batch") === 4).count() === 1)
  }

  test("replayed write overwrites to identical content; no tmp dirs survive") {
    val dir = tmpDir("lineage-replay")
    val conf = spark.sparkContext.hadoopConfiguration
    LineageWriter.write(conf, dir, "cp", 0L, rows("snap-x"))
    val first = spark.read.parquet(dir).collect().map(_.toString).sorted
    // a crash-replay rewrites the same batch (possibly with a different
    // snapshot id upstream — here identical rows): content must converge
    LineageWriter.write(conf, dir, "cp", 0L, rows("snap-x"))
    val second = spark.read.parquet(dir).collect().map(_.toString).sorted
    assert(first === second)
    val cpDir = new java.io.File(s"$dir/cp=cp")
    assert(cpDir.listFiles().map(_.getName).toSet === Set("batch=0"))
  }

  test("a temp dir stranded by a crash does not break the lineage read") {
    val dir = tmpDir("lineage-crash")
    val conf = spark.sparkContext.hadoopConfiguration
    LineageWriter.write(conf, dir, "cp", 0L, rows("snap-0"))
    // a crash after batch 1's file is written, before its rename
    val batch1 = new org.apache.hadoop.fs.Path(s"$dir/cp=cp/batch=1")
    intercept[IllegalStateException] {
      graft.util.IoUtil.publishDir(batch1.getFileSystem(conf), batch1) { tmp =>
        spark.range(3).write.mode("overwrite").parquet(tmp.toString)
        throw new IllegalStateException("crash before rename")
      }
    }
    assert(new java.io.File(s"$dir/cp=cp").list().toSet === Set("batch=0", ".tmp-batch=1"))
    val got = spark.read.parquet(dir)
    assert(got.columns.contains("snapshot_id") && got.columns.contains("batch"))
    assert(got.select("batch").distinct().collect().map(_.getInt(0)).toSeq === Seq(0))
    // the next write of batch 1 clears the stranded dir
    LineageWriter.write(conf, dir, "cp", 1L, rows("snap-1"))
    assert(new java.io.File(s"$dir/cp=cp").list().toSet === Set("batch=0", "batch=1"))
    assert(spark.read.parquet(dir).count() === 4)
  }
}
