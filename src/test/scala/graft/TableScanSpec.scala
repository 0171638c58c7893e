package graft

import graft.changegen.{ChangeGen, FeedConfig, Phase, RawEvent}
import graft.merge.{MergeConfig, MergeInto}
import graft.table.{LakeTable, Maintenance}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.input_file_name

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Table scans plan from the manifest: reads, time travel, compaction and
  * the merge's target scans run no Spark listing job however many files
  * they read, and see the rows and schema Spark's own parquet reader sees.
  */
class TableScanSpec extends SparkSpec {
  import spark.implicits._

  /** The description Spark gives its parallel file-listing jobs. */
  private val ListingJob = "Listing leaf files and directories"

  private val feed = FeedConfig(numEvents = 800, numKeys = 400, seed = 17,
    deleteFraction = 0.1, dupFraction = 0.05, outOfOrderWindow = 50,
    eventsPerSegment = 200, maxTokens = 6)
  private val segments: Seq[Seq[RawEvent]] =
    ChangeGen.generateLocal(feed).groupBy(_.seg).toSeq.sortBy(_._1).map(_._2)

  private def batchDf(events: Seq[RawEvent]): DataFrame =
    ChangeGen.projectPhase(events.toDF(), Phase(0, Long.MaxValue)).drop("seg")

  /** A 16-bucket table of 48 files, above Spark's 32-path threshold for a
    * parallel listing: a bootstrap batch writes one file per bucket, two
    * delta batches append one more per bucket each. Holds segments 0-2.
    */
  private def fragmented(name: String): LakeTable = {
    val table = LakeTable(tmpDir(name))
    val cfg = MergeConfig(numBuckets = 16, deltaAppendThreshold = 1000L)
    segments.take(3).zipWithIndex.foreach { case (evs, i) =>
      MergeInto.apply(spark, table, batchDf(evs), "cp", i, cfg)
    }
    val files = table.filesOf(table.currentManifest())
    assert(files.size === 48 && files.count(_.isDelta) === 32)
    table
  }

  private def assertNoListing(what: String)(body: => Unit): Unit = {
    val listing = jobDescriptions(body).filter(_.startsWith(ListingJob))
    assert(listing.isEmpty, s"$what ran listing jobs: $listing")
  }

  private def sortedRows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq.map {
      case s: scala.collection.Seq[_] => s.toList
      case v => v
    }).sortBy(_.toString)

  test("read, readVersion and compaction of a 48-file table run no listing job") {
    val table = fragmented("scan-read")
    val applied = segments.take(3).flatten
    val paths = table.filesOf(table.currentManifest()).map(_.path)
    // control: Spark's own reader lists these files with a parallel job,
    // which the listener sees
    assert(jobDescriptions(spark.read.parquet(paths: _*).count(): Unit)
      .exists(_.startsWith(ListingJob)))

    assertNoListing("read")(assertOracle(table.read(spark), applied))
    assertNoListing("readVersion")(
      assertOracle(table.readVersion(spark, table.currentVersion()), applied))
    assertNoListing("compact")(Maintenance.compact(spark, table): Unit)
    val compacted = table.filesOf(table.currentManifest())
    assert(compacted.size === 16 && !compacted.exists(_.isDelta))
    assertOracle(table.read(spark), applied)
  }

  test("rewrite-path merges over 48 target files run no listing job") {
    val plans = Seq(
      "single-task" -> MergeConfig(numBuckets = 16),
      "broadcast" -> MergeConfig(numBuckets = 16, singleTaskRows = 0L),
      "full-outer" -> MergeConfig(numBuckets = 16, singleTaskRows = 0L,
        broadcastThreshold = 0L))
    plans.foreach { case (plan, cfg) =>
      val table = fragmented(s"scan-merge-$plan")
      assertNoListing(s"$plan merge") {
        val r = MergeInto.apply(spark, table, batchDf(segments(3)), "cp", 3, cfg)
        assert(!r.skipped)
      }
      // the batch rewrote buckets that held more than 32 files
      val before = table.filesOf(table.readManifest(table.currentVersion() - 1))
      val rewritten = table.filesOf(table.currentManifest()).filterNot(f =>
        before.exists(_.path == f.path)).map(_.bucket).toSet
      assert(before.count(f => rewritten.contains(f.bucket)) > 32, plan)
      assertOracle(table.read(spark), segments.take(4).flatten)
    }
  }

  test("the scan's schema is the all-nullable one Spark's parquet reader gives") {
    val table = fragmented("scan-schema")
    val m = table.currentManifest()
    val stored = LakeTable.storedSchema(m.schema)
    assert(!stored(LakeTable.TOMBSTONE).nullable)
    val files = table.filesOf(m)
    val scanned = table.scanFiles(spark, stored, files)
    val reader = spark.read.schema(stored).parquet(files.map(_.path): _*)
    assert(scanned.schema === reader.schema)
    assert(scanned.schema.forall(_.nullable))
    assert(sortedRows(scanned) === sortedRows(reader))
    // the same files by name, which the delta resolution reads versions
    // from (Spark's listing spells a local path `file:///`, the manifest
    // `file:/`: the same URI)
    def names(df: DataFrame): Set[Path] = df.select(input_file_name()).distinct()
      .collect().map(r => new Path(r.getString(0))).toSet
    assert(names(scanned) === names(reader))
    assert(names(scanned).size === 48)
  }

  test("a manifest written without file sizes still reads the same rows") {
    val table = fragmented("scan-legacy")
    val m = table.currentManifest()
    val before = sortedRows(table.read(spark))
    // each range's manifest file rewritten by hand in the format that had
    // no bytes/mtime, referenced from a new head
    val legacyRefs = m.manifests.map { ref =>
      val entries = table.readManifestFile(ref).map { e =>
        s"""{"path":"${e.path}","bucket":${e.bucket},"rows":${e.rows},""" +
          s""""minLsn":${e.minLsn},"maxLsn":${e.maxLsn},"isDelta":${e.isDelta}}"""
      }
      // a fresh name: manifest contents are cached JVM-wide by name
      val name = s"m-legacy-${java.util.UUID.randomUUID()}.json"
      Files.write(Paths.get(table.root, "meta", name),
        entries.mkString("""{"files":[""", ",", "]}").getBytes(StandardCharsets.UTF_8))
      ref.copy(path = name)
    }
    table.commit(m.copy(version = m.version + 1, snapshotId = "legacy",
      parentSnapshotId = Some(m.snapshotId), manifests = legacyRefs))
    val legacy = table.filesOf(table.currentManifest())
    assert(legacy.size === 48)
    assert(legacy.forall(e => e.bytes == -1L && e.mtime == -1L))
    assertNoListing("legacy read")(assert(sortedRows(table.read(spark)) === before))
    assert(sortedRows(table.readVersion(spark, m.version + 1)) === before)
  }
}
