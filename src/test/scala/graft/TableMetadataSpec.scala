package graft

import graft.changegen.{ChangeGen, Phase, RawEvent}
import graft.merge.{MergeConfig, MergeInto}
import graft.model.Ops
import graft.table.{CommitConflictException, FileEntry, LakeTable, Maintenance,
  Manifest, ManifestFile}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.DataFrame

import java.io.File
import java.nio.charset.StandardCharsets

/** Table-layer metadata files (manifest files, heads, the version hint)
  * read back, arbitrate commits and get garbage-collected exactly as the
  * snapshot protocol says, whichever way they were written.
  */
class TableMetadataSpec extends SparkSpec {
  import spark.implicits._

  private val localFs = FileSystem.getLocal(new Configuration())

  private def manifest(version: Long, snap: String,
      manifests: Seq[graft.table.ManifestRef] = Nil): Manifest = Manifest(
    version = version, snapshotId = snap,
    parentSnapshotId = if (version == 0) None else Some(s"s${version - 1}"),
    schemaJson = graft.model.Schemas.seqTable.json, numBuckets = 8,
    ledger = Map(s"cp/$version" -> snap), manifests = manifests)

  private def metaNames(root: String): Set[String] =
    Option(new File(s"$root/meta").listFiles).toSeq.flatten.map(_.getName).toSet

  /** `metaNames` without Hadoop's hidden `.<name>.crc` checksum files. */
  private def metaFiles(root: String): Set[String] =
    metaNames(root).filterNot(n => n.startsWith(".") && n.endsWith(".crc"))

  /** Read one text file through Hadoop's checksummed local filesystem,
    * which verifies a `.crc` sibling when one exists.
    */
  private def hadoopRead(p: String): String = {
    val in = localFs.open(new Path(p))
    try new String(org.apache.commons.io.IOUtils.toByteArray(in), StandardCharsets.UTF_8)
    finally in.close()
  }

  test("composeManifests -> filesOf round trip, files readable through Hadoop") {
    val root = s"${tmpDir("meta-rt")}/t"
    val table = LakeTable(root)
    def entry(b: Int, v: Int) =
      FileEntry(s"$root/data/s$v/_bucket=$b/part-0.parquet", b, 10L + b, b * 100L, b * 100L + 9)
    val v0Files = (0 until 8).map(entry(_, 0))
    val refs0 = table.composeManifests(None, Set.empty, v0Files, 8)
    table.commit(manifest(0, "s0", refs0))
    assert(table.filesOf(table.currentManifest()).sortBy(_.bucket) === v0Files)
    // bypass the JVM-wide manifest cache: every manifest file parses from
    // disk to the entries of its range
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    refs0.foreach { r =>
      val onDisk = org.json4s.jackson.Serialization.read[ManifestFile](
        hadoopRead(s"$root/meta/${r.path}")).files
      assert(onDisk === v0Files.filter(f => f.bucket >= r.minBucket && f.bucket <= r.maxBucket))
      assert(r.nFiles === onDisk.size && r.rows === onDisk.map(_.rows).sum)
    }

    // rewrite bucket 3 only: its range gets a new manifest file, the rest
    // carry over by reference
    val newFile = entry(3, 1)
    val refs1 = table.composeManifests(Some(table.currentManifest()), Set(3), Seq(newFile), 8)
    table.commit(manifest(1, "s1", refs1))
    assert(refs1.filterNot(_.range == LakeTable.rangeOf(3, 8)) ===
      refs0.filterNot(_.range == LakeTable.rangeOf(3, 8)))
    assert(table.filesOf(table.currentManifest()).sortBy(_.bucket) ===
      v0Files.updated(3, newFile))
    assert(table.filesOf(table.currentManifest(), Some(Set(3))) === Seq(newFile))
    assert(table.filesOf(table.readManifest(0L)).sortBy(_.bucket) === v0Files)
  }

  test("a second commit of the same version still loses the CAS") {
    val root = s"${tmpDir("meta-cas")}/t"
    val table = LakeTable(root)
    table.commit(manifest(0, "winner"))
    intercept[CommitConflictException](table.commit(manifest(0, "loser")))
    assert(table.currentManifest().snapshotId === "winner")
    assert(!metaNames(root).exists(_.contains(".tmp-")), metaNames(root))
    table.commit(manifest(1, "next"))
    assert(table.currentVersion() === 1L)
    assert(hadoopRead(s"$root/meta/version-hint.text").trim === "1")
  }

  private def batchDf(events: Seq[RawEvent]): DataFrame =
    ChangeGen.projectPhase(events.toDF(), Phase(0, Long.MaxValue)).drop("seg")

  private def ev(lsn: Long, key: String) =
    RawEvent(lsn, key, Ops.Upsert, Array(lsn.toInt), 1, "s", null, 0)

  /** Every parquet data file under `data/`, scheme-less. */
  private def dataFiles(root: String): Set[String] = {
    val it = localFs.listFiles(new Path(s"$root/data"), true)
    val out = Set.newBuilder[String]
    while (it.hasNext) {
      val p = it.next().getPath
      if (p.getName.endsWith(".parquet"))
        out += Path.getPathWithoutSchemeAndAuthority(p).toString
    }
    out.result()
  }

  test("vacuum and expireSnapshots delete exactly the superseded files") {
    val root = s"${tmpDir("meta-gc")}/t"
    val table = LakeTable(root)
    def merge(b: Long) = MergeInto.apply(spark, table,
      batchDf(Seq(ev(b * 10 + 1, s"k${b % 3}"), ev(b * 10 + 2, s"j$b"))), "cp", b,
      MergeConfig(numBuckets = 4))
    (0L until 4L).foreach(merge)

    def liveData(v: Long): Set[String] = table.filesOf(table.readManifest(v))
      .map(f => Path.getPathWithoutSchemeAndAuthority(new Path(f.path)).toString).toSet
    def refs(v: Long): Set[String] = table.readManifest(v).manifests.map(_.path).toSet
    val metaDir = new Path(new Path(root), "meta")
    def metaPath(name: String) = new Path(metaDir, name).toString

    // vacuum at the current version: data files and manifest files that
    // only older heads reference, nothing else
    val cur = table.currentVersion()
    val expectedData = dataFiles(root) -- liveData(cur)
    val expectedRefs = (0L until cur).flatMap(refs).toSet -- refs(cur)
    assert(expectedData.nonEmpty && expectedRefs.nonEmpty)
    val deleted = Maintenance.vacuum(table, retainFromVersion = cur)
    assert(deleted.toSet === expectedData ++ expectedRefs.map(metaPath))
    assert(dataFiles(root) === liveData(cur))
    val heads = (0L to cur).map(v => f"v$v%020d.json").toSet
    assert(metaFiles(root) === heads ++ refs(cur) + "version-hint.text")

    // expiry after two more commits: the vacuum part plus the old heads
    merge(4L); merge(5L)
    val cur2 = table.currentVersion()
    // head paths come back qualified (file:...), as the meta listing gives them
    val expiredHeads = (0L until cur2)
      .map(v => localFs.makeQualified(new Path(metaDir, f"v$v%020d.json")).toString).toSet
    val expectedData2 = dataFiles(root) -- liveData(cur2)
    val expectedRefs2 = (cur until cur2).flatMap(refs).toSet -- refs(cur2)
    val expired = Maintenance.expireSnapshots(table, retainFromVersion = cur2)
    assert(expired.toSet === expectedData2 ++ expectedRefs2.map(metaPath) ++ expiredHeads)
    assert(metaFiles(root) ===
      refs(cur2) + f"v$cur2%020d.json" + "version-hint.text")
    assert(table.currentVersion() === cur2)
    assert(table.read(spark).count() === 3 + 6)
  }

  test("a hint with a Hadoop-written .crc still resolves through the hint after a commit") {
    val root = s"${tmpDir("meta-hint")}/t"
    val table = LakeTable(root)
    table.commit(manifest(0, "s0"))
    table.commit(manifest(1, "s1"))
    // an older writer's hint: Hadoop create leaves a checksum next to it
    val out = localFs.create(new Path(s"$root/meta/version-hint.text"), true)
    try out.write("1".getBytes(StandardCharsets.UTF_8)) finally out.close()
    assert(metaNames(root).contains(".version-hint.text.crc"))

    table.commit(manifest(2, "s2"))
    // the checksummed read of the refreshed hint must not fail ...
    assert(hadoopRead(s"$root/meta/version-hint.text").trim === "2")
    // ... and currentVersion must take the hint path: a decoy head far
    // above the real one is what only the listing fallback would report
    val decoy = new File(s"$root/meta/v${"%020d".format(999L)}.json")
    java.nio.file.Files.writeString(decoy.toPath, "{}")
    try assert(table.currentVersion() === 2L)
    finally decoy.delete()
  }
}
