package graft

import graft.changegen.{ChangeGen, FeedConfig, Phase, RawEvent}
import graft.merge.{MergeConfig, MergeInto}
import graft.model.Ops
import graft.operators.Edges
import graft.rules.UpdateReq
import graft.table.LakeTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-4 contract tightening on the rules layer: templates must bind
  * ALL their parts, post-processor chains must account for every step.
  */
class RulesContractSpec extends SparkSpec {
  import spark.implicits._

  private def propOf(value: String, pp: Option[String] = None): UpdateReq.PropRule =
    UpdateReq.PropRule("p", value, "eq", None, mandatoryInSearch = false,
      excludeFromSearch = false, excludeFromUpdate = false, postProcessor = pp)

  test("mixed text+token templates bind every part (no silent single pick)") {
    val df = Seq(("d1", "srcA")).toDF("doc_id", "source")
    val got = df.select(propOf("${doc_id}-x-${source}").bind(df).as("v"))
      .head().getString(0)
    assert(got === "d1-x-srcA")
    // leading/trailing literal text
    assert(df.select(propOf("id=${doc_id}!").bind(df).as("v"))
      .head().getString(0) === "id=d1!")
    // a mixed template with new Date() binds the attribute AND a timestamp
    val stamped = df.select(propOf("${doc_id} at ${new Date()}").bind(df).as("v"))
      .head().getString(0)
    assert(stamped.startsWith("d1 at ") && stamped.length > "d1 at ".length)
  }

  test("unrecognized token expressions raise at bind time") {
    val df = Seq(("d1", "s")).toDF("doc_id", "source")
    val e = intercept[IllegalArgumentException] {
      df.select(propOf("${doc_id.someGroovyCall()}").bind(df))
    }
    assert(e.getMessage.contains("unsupported token expression"))
  }

  test("postProcessor raises on partially-recognized chains") {
    val df = Seq("ab c").toDF("v")
    // fully recognized: ok
    df.select(propOf("${v}", Some("${it?.toUpperCase()?.trim()}")).bind(df))
    // reference PostCode.format form with a call argument: ok
    assert(df.select(
      propOf("${v}", Some("${com.pontusvision.utils.PostCode.format(eachPostCode)}"))
        .bind(df).as("v")).head().getString(0) === "AB C")
    // recognized step + unrecognized step: must raise, not silently skip
    val e = intercept[IllegalArgumentException] {
      df.select(propOf("${v}", Some("${it?.toUpperCase()?.reverse()}")).bind(df))
    }
    assert(e.getMessage.contains("unrecognized steps"))
    // a recognized-PREFIX step name is not that step
    val e2 = intercept[IllegalArgumentException] {
      df.select(propOf("${v}", Some("${it?.trimIndent()}")).bind(df))
    }
    assert(e2.getMessage.contains("unrecognized steps"))
  }
}

/** Rules-driven edges: the rule doc's edge list drives Edges.emit with
  * vertex-rule key bindings — the loop the reference closes from the same
  * document (flow.xml:1298-1307).
  */
class RulesEdgesSpec extends SparkSpec {
  import spark.implicits._

  private val doc =
    """{"updatereq":{"vertices":[
      |  {"label":"User","props":[
      |    {"name":"uid","val":"${user}","predicate":"eq","mandatoryInSearch":true}]},
      |  {"label":"EventType","props":[
      |    {"name":"etype","val":"${etype}","predicate":"eq","mandatoryInSearch":true}]}],
      | "edges":[{"label":"acted","fromVertexLabel":"User","toVertexLabel":"EventType"}]}}"""
      .stripMargin

  test("emitEdges derives labeled edges from the rule doc's edge list") {
    val rules = UpdateReq.parse(doc)
    val df = Seq((1L, "u1", "click"), (2L, "u1", "click"), (3L, "u2", "view"))
      .toDF("lsn", "user", "etype")
    val got = rules.emitEdges(df, lsn = Some(col("lsn")))
      .orderBy("from_id", "to_id").collect()
    assert(got.length === 2)
    assert(got(0).getAs[String]("edge_label") === "acted")
    assert(got(0).getAs[String]("from_id") === "u1")
    assert(got(0).getAs[String]("to_id") === "click")
    assert(got(0).getAs[Long]("n_obs") === 2L)
    assert(got(0).getAs[Long]("min_lsn") === 1L && got(0).getAs[Long]("max_lsn") === 2L)
    assert(got(1).getAs[String]("from_id") === "u2")
  }

  test("rules-driven edges flow through the MERGE kernel across batches") {
    val rules = UpdateReq.parse(doc)
    val work = tmpDir("rules-edges")
    val table = LakeTable(s"$work/t")
    val rows = Seq((1L, "u1", "click"), (2L, "u1", "click"), (3L, "u2", "view"),
      (4L, "u1", "click"), (5L, "u2", "view"), (6L, "u3", "click"))
    rows.grouped(3).zipWithIndex.foreach { case (part, b) =>
      val df = part.toDF("lsn", "user", "etype")
      val edges = rules.emitEdges(df, lsn = Some(col("lsn")))
      MergeInto.apply(spark, table, Edges.asChanges(edges, b.toLong), "re", b.toLong,
        MergeConfig(numBuckets = 4, columnPolicy = Edges.mergePolicies,
          initialSchema = Some(Edges.tableSchema)))
    }
    val got = table.read(spark)
      .select("from_id", "to_id", "n_obs", "min_lsn", "max_lsn")
      .orderBy("from_id", "to_id").collect()
    assert(got.map(r => (r.getString(0), r.getString(1), r.getLong(2),
      r.getLong(3), r.getLong(4))).toSeq === Seq(
      ("u1", "click", 3L, 1L, 4L),
      ("u2", "view", 2L, 3L, 5L),
      ("u3", "click", 1L, 6L, 6L)))
  }

  test("edge endpoints referencing a missing vertex rule raise") {
    val bad = UpdateReq.parse(
      """{"updatereq":{"vertices":[
        |  {"label":"User","props":[
        |    {"name":"uid","val":"${user}","predicate":"eq","mandatoryInSearch":true}]}],
        | "edges":[{"label":"acted","fromVertexLabel":"User","toVertexLabel":"Ghost"}]}}"""
        .stripMargin)
    val df = Seq((1L, "u1")).toDF("lsn", "user")
    intercept[IllegalArgumentException](bad.emitEdges(df))
  }
}

/** Round-4 dead-letter refinements: no empty quarantine dirs, reject count
  * folded into the stats pass.
  */
class DeadLetterDirSpec extends SparkSpec {
  import spark.implicits._

  private def batchDf(events: Seq[RawEvent]): DataFrame =
    ChangeGen.projectPhase(events.toDF(), Phase(0, Long.MaxValue)).drop("seg")

  test("an all-good batch creates no dead-letter dir (no _SUCCESS-only dirs)") {
    val work = tmpDir("dlq-clean")
    val table = LakeTable(s"$work/t")
    val evs = (1 to 20).map(i =>
      RawEvent(i.toLong, s"k$i", Ops.Insert, Array(i), 1, "s", null, 0))
    MergeInto.apply(spark, table, batchDf(evs), "cp", 0L,
      MergeConfig(numBuckets = 4, deadLetterDir = Some(s"$work/dlq")))
    assert(table.read(spark).count() === 20)
    assert(!new java.io.File(s"$work/dlq/cp=cp/batch=0").exists(),
      "all-good batch must not create a quarantine dir")
    // a later batch WITH rejects still writes its own dir
    val bad = Seq((21L, null.asInstanceOf[String], "U", Seq(1), 1, "s"))
      .toDF("lsn", "doc_id", "op", "tokens", "n_tok", "source")
    MergeInto.apply(spark, table, batchDf(evs.take(1)).unionByName(bad), "cp", 1L,
      MergeConfig(numBuckets = 4, deadLetterDir = Some(s"$work/dlq")))
    val dlq = spark.read.parquet(s"$work/dlq/cp=cp/batch=1")
    assert(dlq.count() === 1)
  }
}

/** Manifest list (the round-4 metadata scale path): a commit touching one
  * bucket rewrites ONLY that bucket range's manifest file plus the head —
  * asserted at the FILE level — untouched ranges carry over by reference,
  * readers prune at the list level, and pre-list (inline) snapshots stay
  * readable and migrate on their first commit.
  */
class ManifestListSpec extends SparkSpec {
  import graft.table.{LakeTable, Maintenance, Manifest}
  import spark.implicits._

  private def batchDf(events: Seq[RawEvent]): DataFrame =
    ChangeGen.projectPhase(events.toDF(), Phase(0, Long.MaxValue)).drop("seg")

  private def ev(lsn: Long, key: String, op: String = Ops.Upsert) =
    RawEvent(lsn, key, op, Array(lsn.toInt), 1, "s", null, 0)

  private def metaManifestFiles(root: String): Set[String] =
    Option(new java.io.File(s"$root/meta").listFiles).toSeq.flatten
      .map(_.getName).filter(_.startsWith("m-")).toSet

  test("range math: every bucket maps into its range's span") {
    for (nb <- Seq(1, 8, 32, 100, 1 << 14)) {
      val nr = LakeTable.numRangesFor(nb)
      assert(nr >= 1 && nr <= 64)
      val step = math.max(1, nb / 257)
      (0 until nb by step).foreach { b =>
        val r = LakeTable.rangeOf(b, nb)
        val (lo, hi) = LakeTable.rangeSpan(r, nb)
        assert(b >= lo && b <= hi, s"bucket $b outside span of range $r for nb=$nb")
      }
      // spans tile the bucket space exactly
      val spans = (0 until nr).map(LakeTable.rangeSpan(_, nb))
      assert(spans.head._1 === 0 && spans.last._2 === nb - 1)
      spans.sliding(2).foreach {
        case Seq((_, hi), (lo2, _)) => assert(lo2 === hi + 1)
        case _ => ()
      }
    }
  }

  test("a 1-bucket commit rewrites only that range's manifest file + head") {
    val work = tmpDir("mlist-1bucket")
    val root = s"$work/t"
    val table = LakeTable(root)
    val cfg = MergeConfig(numBuckets = 8) // 8 ranges of exactly 1 bucket
    // spread keys over several buckets
    MergeInto.apply(spark, table,
      batchDf((1 to 40).map(i => ev(i.toLong, s"k$i"))), "cp", 0L, cfg)
    val m0 = table.currentManifest()
    assert(m0.manifests.nonEmpty, "head must be list-based")
    val before = metaManifestFiles(root)
    val refsBefore = m0.manifests.map(r => r.range -> r.path).toMap
    assert(refsBefore.size >= 3, s"need several populated ranges, got $refsBefore")

    // one-key batch -> exactly one bucket -> exactly one range rewritten
    MergeInto.apply(spark, table, batchDf(Seq(ev(100L, "k1"))), "cp", 1L, cfg)
    val m1 = table.currentManifest()
    val touchedBucket = LakeTable.bucketExpr(8)
    val b = Seq("k1").toDF("doc_id").select(touchedBucket.as("b")).head().getInt(0)
    val refsAfter = m1.manifests.map(r => r.range -> r.path).toMap
    // every range except the touched bucket's carries the SAME file
    refsBefore.foreach { case (r, p) =>
      if (r == LakeTable.rangeOf(b, 8)) assert(refsAfter(r) !== p)
      else assert(refsAfter(r) === p, s"range $r must carry over by reference")
    }
    // file-level: exactly ONE new manifest file appeared on disk
    val added = metaManifestFiles(root) -- before
    assert(added.size === 1, s"expected 1 new manifest file, got $added")

    // list-level pruning returns exactly the bucket's files
    val pruned = table.filesOf(m1, Some(Set(b)))
    assert(pruned.nonEmpty && pruned.forall(_.bucket === b))
    // and the read path agrees with the full scan
    val full = table.read(spark).collect().map(_.toSeq).toSet
    assert(full.size === 40)
    // time travel across list-based snapshots still works
    assert(table.readVersion(spark, m0.version).count() === 40)
  }

  test("a legacy inline-files head fails loudly on read, never reads as empty") {
    import org.json4s.{DefaultFormats, Formats}
    import org.json4s.jackson.Serialization
    implicit val fmts: Formats = DefaultFormats
    val work = tmpDir("mlist-legacy")
    val root = s"$work/t"
    val table = LakeTable(root)
    val cfg = MergeConfig(numBuckets = 4)
    MergeInto.apply(spark, table,
      batchDf((1 to 10).map(i => ev(i.toLong, s"k$i"))), "cp", 0L, cfg)
    val m = table.currentManifest()
    def writeHead(version: Long, fields: Map[String, Any]): Unit =
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(root, "meta", f"v$version%020d.json"),
        Serialization.write(Map[String, Any](
          "version" -> version, "snapshotId" -> s"s$version",
          "parentSnapshotId" -> m.snapshotId, "schemaJson" -> m.schemaJson,
          "numBuckets" -> m.numBuckets, "ledger" -> m.ledger) ++ fields)): Unit
    // a list-based head with an EMPTY `files` array (what the writer
    // emitted while the field existed) still reads
    writeHead(m.version + 1, Map("files" -> Nil, "manifests" -> m.manifests))
    assert(table.read(spark).count() === 10)
    // a pre-list head: inline data files, no manifest list
    writeHead(m.version + 2, Map("files" -> table.filesOf(m), "manifests" -> Nil))
    val e = intercept[IllegalStateException](table.currentManifest())
    assert(e.getMessage.contains("inline") &&
      e.getMessage.contains(f"v${m.version + 2}%020d.json"), e.getMessage)
    intercept[IllegalStateException](table.read(spark))
    intercept[IllegalStateException](table.readVersion(spark, m.version + 2))
    // a merge on top must not treat the table as empty and commit over it
    intercept[IllegalStateException](MergeInto.apply(spark, table,
      batchDf(Seq(ev(99L, "k1"))), "cp", 1L, cfg))
    assert(table.currentVersion() === m.version + 2)
    // older list-based snapshots stay readable
    assert(table.readVersion(spark, m.version).count() === 10)
  }

  test("vacuum GCs superseded manifest files but never unreferenced (in-flight) ones") {
    val work = tmpDir("mlist-vacuum")
    val root = s"$work/t"
    val table = LakeTable(root)
    val cfg = MergeConfig(numBuckets = 4)
    (0 until 5).foreach { bId =>
      MergeInto.apply(spark, table,
        batchDf(Seq(ev(bId.toLong + 1, s"k${bId % 2}"))), "cp", bId.toLong, cfg)
    }
    // an in-flight writer's manifest file: referenced by NO head yet
    val inflight = s"$root/meta/m-inflight-test.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(inflight),
      """{"files":[]}""")
    val before = metaManifestFiles(root)
    val current = table.currentVersion()
    val liveFiles = table.filesOf(table.currentManifest()).map(_.path).toSet
    val deleted = Maintenance.vacuum(table, retainFromVersion = current)
    assert(deleted.nonEmpty)
    // superseded manifest files gone; live + in-flight ones kept
    val after = metaManifestFiles(root)
    assert(after.contains("m-inflight-test.json"))
    val liveRefs = table.currentManifest().manifests.map(_.path).toSet
    assert(liveRefs.subsetOf(after))
    assert(after.size < before.size)
    // table still reads; live data files untouched
    assert(table.filesOf(table.currentManifest()).map(_.path).toSet === liveFiles)
    assert(table.read(spark).count() === 2)
    // idempotent
    assert(Maintenance.vacuum(table, retainFromVersion = current).isEmpty)
  }
}

/** JDK-only xlsx cell extraction (ConvertExcelToCSVProcessor shape). */
class XlsxSpec extends SparkSpec {
  import graft.sources.ArchiveSource
  import spark.implicits._

  test("cell refs and column letters round-trip") {
    assert(ArchiveSource.parseCellRef("A1") === ((1, 1)))
    assert(ArchiveSource.parseCellRef("B3") === ((3, 2)))
    assert(ArchiveSource.parseCellRef("AA10") === ((10, 27)))
    for (i <- Seq(1, 2, 26, 27, 52, 703))
      assert(ArchiveSource.parseCellRef(s"${ArchiveSource.colLetters(i)}5") === ((5, i)))
  }

  test("xlsx round-trip: shared strings, numerics, XML escaping, repeats") {
    val rows = Seq(
      Seq("101", "hello <world> & co", "en"),
      Seq("-7", "hello <world> & co", "de"), // repeated string -> same sst slot
      Seq("3.25", "unique", "fr"))
    val bytes = ArchiveSource.xlsxBytes(rows)
    val df = Seq((5L, bytes)).toDF("archive_id", "payload")
    val got = ArchiveSource.xlsxCells(df).collect()
      .sortBy(c => (c.row_idx, c.col_idx))
    assert(got.length === 9)
    assert(got.forall(c => c.archive_id === 5L && c.sheet_idx === 1))
    assert(got.map(_.value).toSeq === rows.flatten)
    // the repeated string really went through ONE shared-string slot
    val sst = ArchiveSource.parseSharedStrings(
      ArchiveSource.zipEntries(bytes).collectFirst {
        case ("xl/sharedStrings.xml", d) => d
      }.get)
    assert(sst === IndexedSeq("hello <world> & co", "en", "de", "unique", "fr"))
  }

  test("non-xlsx payloads yield zero cells") {
    val df = Seq((1L, "nope".getBytes("UTF-8")),
      (2L, Array.emptyByteArray)).toDF("archive_id", "payload")
    assert(ArchiveSource.xlsxCells(df).count() === 0)
  }
}

/** Property: a random sequence of list-based commits yields exactly the
  * same file listing as maintaining the full inline listing would —
  * composeManifests is a pure refactoring of the metadata layout.
  */
class ManifestListPropertySpec extends SparkSpec {
  import graft.table.{FileEntry, LakeTable}

  test("composeManifests over random commit sequences == inline bookkeeping") {
    val rnd = new scala.util.Random(4242)
    for (trial <- 0 until 5) {
      val numBuckets = Seq(4, 8, 32, 100)(trial % 4)
      val work = tmpDir(s"mlist-prop-$trial")
      val table = LakeTable(s"$work/t")
      var inline = Map.empty[Int, Seq[FileEntry]] // bucket -> files (oracle)
      var parent: Option[graft.table.Manifest] = None
      var fileId = 0
      for (step <- 0 until 12) {
        // random touched set; each touched bucket gets 0..2 new files
        val touched = (0 until numBuckets)
          .filter(_ => rnd.nextDouble() < 0.3).toSet
        val newFiles = touched.toSeq.sorted.flatMap { b =>
          (0 until rnd.nextInt(3)).map { _ =>
            fileId += 1
            FileEntry(s"f$fileId", b, rnd.nextInt(100).toLong,
              rnd.nextInt(50).toLong, 50L + rnd.nextInt(50))
          }
        }
        val refs = table.composeManifests(parent, touched, newFiles, numBuckets)
        inline = (inline -- touched) ++
          newFiles.groupBy(_.bucket).view.mapValues(_.toSeq).toMap
        val m = graft.table.Manifest(step.toLong, s"s$step",
          parent.map(_.snapshotId), graft.model.Schemas.seqTable.json,
          numBuckets, Map.empty, Map.empty, refs)
        table.commit(m)
        parent = Some(m)
        // resolved listing == oracle, overall and per pruned bucket subset
        val got = table.filesOf(m).groupBy(_.bucket).view.mapValues(_.toSet).toMap
        val want = inline.filter(_._2.nonEmpty).view.mapValues(_.toSet).toMap
        assert(got === want, s"trial $trial step $step nb=$numBuckets")
        val probe = (0 until numBuckets).filter(_ => rnd.nextBoolean()).toSet
        assert(table.filesOf(m, Some(probe)).toSet ===
          want.filter(kv => probe.contains(kv._1)).values.flatten.toSet)
        // refs are well-formed: each entry's bucket inside its ref's span
        refs.foreach { r =>
          table.readManifestFile(r).foreach { f =>
            assert(f.bucket >= r.minBucket && f.bucket <= r.maxBucket)
            assert(LakeTable.rangeOf(f.bucket, numBuckets) === r.range)
          }
        }
      }
    }
  }
}

/** Merge-on-read delta append (round 4): trickle batches append delta
  * files instead of rewriting buckets; readers resolve LWW at scan time;
  * compaction folds deltas back into base. Final state must be identical
  * to the rewrite path regardless of batch-size mix.
  */
class DeltaAppendSpec extends SparkSpec {
  import graft.table.{LakeTable, Maintenance}
  import spark.implicits._

  private def batchDf(events: Seq[RawEvent]): DataFrame =
    ChangeGen.projectPhase(events.toDF(), Phase(0, Long.MaxValue)).drop("seg")

  private def ev(lsn: Long, key: String, op: String, tok: Array[Int]) =
    RawEvent(lsn, key, op, tok, if (tok == null) -1 else tok.length, "s", null, 0)

  private def stateOf(t: LakeTable) =
    t.read(spark).collect().map(_.toSeq).toSet

  test("delta path == rewrite path on a generated feed (with deletes, out-of-order)") {
    val work = tmpDir("delta-eq")
    val feed = FeedConfig(numEvents = 6000, numKeys = 250, seed = 31,
      deleteFraction = 0.15, dupFraction = 0.05, outOfOrderWindow = 500,
      eventsPerSegment = 500) // 12 small batches
    val events = ChangeGen.generateLocal(feed)
    val byBatch = events.groupBy(_.seg).toSeq.sortBy(_._1)

    val rewrite = LakeTable(s"$work/rw")
    val delta = LakeTable(s"$work/mor")
    byBatch.foreach { case (seg, evs) =>
      MergeInto.apply(spark, rewrite, batchDf(evs), "cp", seg,
        MergeConfig(numBuckets = 8))
      MergeInto.apply(spark, delta, batchDf(evs), "cp", seg,
        MergeConfig(numBuckets = 8, deltaAppendThreshold = 1000000L))
    }
    // the delta table really took the append path after bootstrap
    val files = delta.filesOf(delta.currentManifest())
    assert(files.count(_.isDelta) > 0, "expected delta files")
    assert(stateOf(delta) === stateOf(rewrite))

    // fold half the buckets, state unchanged; fold the rest, no deltas left
    val some = (0 until 4).toSet
    Maintenance.compact(spark, delta, buckets = Some(some))
    assert(stateOf(delta) === stateOf(rewrite))
    Maintenance.compact(spark, delta)
    assert(delta.filesOf(delta.currentManifest()).count(_.isDelta) === 0)
    assert(stateOf(delta) === stateOf(rewrite))
  }

  test("delete fencing survives delta resolution and folding") {
    val work = tmpDir("delta-fence")
    val t = LakeTable(s"$work/t")
    val cfg = MergeConfig(numBuckets = 2, deltaAppendThreshold = 100L)
    MergeInto.apply(spark, t, batchDf(Seq(ev(5, "k", Ops.Insert, Array(5)))), "cp", 0, cfg)
    MergeInto.apply(spark, t, batchDf(Seq(ev(9, "k", Ops.Delete, null))), "cp", 1, cfg)
    // late event below the delete, in its own delta batch: must stay dead
    MergeInto.apply(spark, t, batchDf(Seq(ev(7, "k", Ops.Update, Array(7)))), "cp", 2, cfg)
    assert(t.read(spark).filter(col("doc_id") === "k").count() === 0)
    // genuinely newer upsert resurrects
    MergeInto.apply(spark, t, batchDf(Seq(ev(11, "k", Ops.Upsert, Array(11)))), "cp", 3, cfg)
    assert(t.read(spark).filter(col("doc_id") === "k")
      .head().getAs[Seq[Int]]("tokens") === Seq(11))
    // fold with tombstone GC: state identical, deltas gone
    Maintenance.compact(spark, t, tombstoneWatermark = 100L)
    assert(t.read(spark).filter(col("doc_id") === "k")
      .head().getAs[Seq[Int]]("tokens") === Seq(11))
    assert(t.filesOf(t.currentManifest()).count(_.isDelta) === 0)
  }

  test("a large batch after deltas joins against the RESOLVED target") {
    val work = tmpDir("delta-bigjoin")
    val t = LakeTable(s"$work/t")
    val cfg = MergeConfig(numBuckets = 2, deltaAppendThreshold = 3L)
    MergeInto.apply(spark, t, batchDf(Seq(
      ev(1, "a", Ops.Insert, Array(1)), ev(2, "b", Ops.Insert, Array(2)))), "cp", 0, cfg)
    // delta appends: newer version of a, delete of b
    MergeInto.apply(spark, t, batchDf(Seq(
      ev(10, "a", Ops.Update, Array(10)), ev(11, "b", Ops.Delete, null))), "cp", 1, cfg)
    // large batch (> threshold) -> join path; stale update of a must lose
    // against the DELTA version (lsn 10), not the base version (lsn 1)
    MergeInto.apply(spark, t, batchDf(Seq(
      ev(5, "a", Ops.Update, Array(5)), ev(20, "c", Ops.Insert, Array(20)),
      ev(21, "d", Ops.Insert, Array(21)), ev(22, "e", Ops.Insert, Array(22)))),
      "cp", 2, cfg)
    val got = t.read(spark).collect()
      .map(r => r.getAs[String]("doc_id") -> r.getAs[Seq[Int]]("tokens")).toMap
    assert(got("a") === Seq(10), s"stale update must not beat the delta version: $got")
    assert(!got.contains("b"))
    assert(got.keySet === Set("a", "c", "d", "e"))
  }

  test("policies and bootstrap force the rewrite path (no silent delta)") {
    val work = tmpDir("delta-guard")
    val t = LakeTable(s"$work/t")
    // bootstrap batch: no existing files -> rewrite even under threshold
    MergeInto.apply(spark, t, batchDf(Seq(ev(1, "k", Ops.Insert, Array(1)))), "cp", 0,
      MergeConfig(numBuckets = 2, deltaAppendThreshold = 100L))
    assert(t.filesOf(t.currentManifest()).forall(!_.isDelta))
    // column policies need the stored row -> rewrite
    MergeInto.apply(spark, t, batchDf(Seq(ev(2, "k", Ops.Update, Array(2)))), "cp", 1,
      MergeConfig(numBuckets = 2, deltaAppendThreshold = 100L,
        columnPolicy = Map("source" -> graft.merge.ColumnPolicy.ExcludeFromUpdate)))
    assert(t.filesOf(t.currentManifest()).forall(!_.isDelta))
  }
}

/** Round-4 metadata hygiene: O(1) current-version reads via a best-effort
  * version hint (no directory listing per micro-batch), and snapshot
  * expiry that bounds head-document accumulation on long-running tables.
  */
class SnapshotHygieneSpec extends SparkSpec {
  import graft.table.{LakeTable, Maintenance}
  import spark.implicits._

  private def batchDf(events: Seq[RawEvent]): DataFrame =
    ChangeGen.projectPhase(events.toDF(), Phase(0, Long.MaxValue)).drop("seg")

  private def ev(lsn: Long, key: String) =
    RawEvent(lsn, key, Ops.Upsert, Array(lsn.toInt), 1, "s", null, 0)

  test("version hint written per commit; stale/corrupt/missing hints never lie") {
    val work = tmpDir("hint")
    val root = s"$work/t"
    val table = LakeTable(root)
    (0 until 4).foreach { b =>
      MergeInto.apply(spark, table, batchDf(Seq(ev(b + 1L, s"k$b"))), "cp",
        b.toLong, MergeConfig(numBuckets = 2))
    }
    val hint = java.nio.file.Paths.get(s"$root/meta/version-hint.text")
    assert(java.nio.file.Files.readString(hint).trim === "3")
    assert(table.currentVersion() === 3L)
    // stale hint: probe catches up
    java.nio.file.Files.writeString(hint, "1")
    assert(table.currentVersion() === 3L)
    // corrupt hint: listing fallback
    java.nio.file.Files.writeString(hint, "not a number")
    assert(table.currentVersion() === 3L)
    // missing hint: listing fallback; next commit restores it
    java.nio.file.Files.delete(hint)
    assert(table.currentVersion() === 3L)
    MergeInto.apply(spark, table, batchDf(Seq(ev(99L, "k0"))), "cp", 99L,
      MergeConfig(numBuckets = 2))
    assert(java.nio.file.Files.readString(hint).trim === "4")
  }

  test("expireSnapshots retires old heads + their metadata; table intact") {
    val work = tmpDir("expire")
    val root = s"$work/t"
    val table = LakeTable(root)
    (0 until 6).foreach { b =>
      MergeInto.apply(spark, table, batchDf(Seq(ev(b + 1L, s"k${b % 3}"))), "cp",
        b.toLong, MergeConfig(numBuckets = 2))
    }
    val state = table.read(spark).collect().map(_.toSeq).toSet
    val current = table.currentVersion()
    val deleted = Maintenance.expireSnapshots(table, retainFromVersion = current - 1)
    assert(deleted.nonEmpty)
    val heads = Option(new java.io.File(s"$root/meta").listFiles).toSeq.flatten
      .map(_.getName).filter(n => n.startsWith("v") && n.endsWith(".json"))
    assert(heads.size === 2, s"expected 2 retained heads, got $heads")
    // current state intact; time travel below the horizon is gone
    assert(table.read(spark).collect().map(_.toSeq).toSet === state)
    intercept[Exception](table.readVersion(spark, 0L).collect())
    assert(table.readVersion(spark, current).count() === state.size)
    // merges continue; hint still accurate
    MergeInto.apply(spark, table, batchDf(Seq(ev(50L, "k0"))), "cp", 50L,
      MergeConfig(numBuckets = 2))
    assert(table.currentVersion() === current + 1)
    // idempotent
    assert(Maintenance.expireSnapshots(table, current - 1).isEmpty)
  }
}

/** IVF coarse-quantizer ANN (round 4): the second scale path next to
  * hyperplane LSH. Exactness identity at nprobe = nlist, recall gate
  * below it, deterministic training.
  */
class IvfSpec extends SparkSpec {
  import graft.operators.Ann
  import spark.implicits._

  // 4 well-separated clusters + noise, deterministic
  private lazy val vectors: Seq[(Long, Array[Float])] = {
    val rnd = new scala.util.Random(7)
    val dim = 16
    (0L until 200L).map { id =>
      val c = (id % 4).toInt
      val v = Array.tabulate(dim) { d =>
        val base = if (d % 4 == c) 1.0f else 0.0f
        base + (rnd.nextFloat() - 0.5f) * 0.2f
      }
      (id, v)
    }
  }

  private def df = vectors.toDF("vec_id", "embedding")

  test("nprobe = nlist degenerates to exhaustive search == brute force") {
    val queries = df.filter(col("vec_id") < 6)
    val exact = Ann.bruteForceTopK(df, queries, k = 5)
      .select("query_id", "nbr_id", "rank").collect().map(_.toSeq).toSet
    val ivf = Ann.ivfTopK(df, queries, k = 5, nlist = 8, nprobe = 8)
      .select("query_id", "nbr_id", "rank").collect().map(_.toSeq).toSet
    assert(ivf === exact)
  }

  test("nprobe < nlist keeps high recall on clustered data") {
    val queries = df.filter(col("vec_id") < 10)
    val exact = Ann.bruteForceTopK(df, queries, k = 5)
      .select("query_id", "nbr_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Ann.ivfTopK(df, queries, k = 5, nlist = 8, nprobe = 3)
      .select("query_id", "nbr_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (ivf & exact).size.toDouble / exact.size
    assert(recall >= 0.7, s"recall@5 = $recall")
    // candidate pruning really happened: probing 3/8 lists cannot have
    // scored the whole corpus per query (spot check via result subset)
    assert(ivf.size <= exact.size)
  }

  test("centroid training is deterministic") {
    val a = Ann.trainCentroids(df, nlist = 8)
    val b = Ann.trainCentroids(df, nlist = 8)
    assert(a.length === b.length)
    a.zip(b).foreach { case (x, y) => assert(x.toSeq === y.toSeq) }
  }
}

/** Streaming trickle (the real deployment shape of the delta path): the
  * CDC tail running with deltaAppendThreshold, including the exactly-once
  * crash window and mid-stream schema evolution.
  */
class StreamingDeltaSpec extends SparkSpec {
  import graft.stream.{CdcStream, StreamConfig}
  import graft.table.LakeTable
  import spark.implicits._

  test("streaming tail with delta append matches the oracle across kill-resume") {
    val work = tmpDir("stream-delta")
    val feed = FeedConfig(numEvents = 10000, numKeys = 300, seed = 47,
      deleteFraction = 0.08, dupFraction = 0.03, outOfOrderWindow = 300,
      eventsPerSegment = 1000)
    val Seq(phaseDir) = ChangeGen.writeFeed(spark, s"$work/feed", feed)
    val base = StreamConfig(
      feedDir = phaseDir, tableDir = s"$work/table",
      checkpointDir = s"$work/cp", checkpointId = "sd",
      maxFilesPerTrigger = 2,
      merge = MergeConfig(numBuckets = 8, deltaAppendThreshold = 1000000L))
    var batches = 0
    val q = CdcStream.start(spark, base, (_, _) => {
      batches += 1
      if (batches == 2) throw new RuntimeException("simulated crash")
    })
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination()
    }
    val skipped = scala.collection.mutable.ArrayBuffer.empty[Long]
    val got = CdcStream.runToCompletion(spark, base,
      (id, res) => if (res.skipped) skipped += id)
      .select("doc_id", "tokens", "lsn").collect()
      .map(r => r.getString(0) -> ((r.getSeq[Int](1), r.getLong(2)))).toMap
    assert(skipped.nonEmpty, "the committed-but-uncheckpointed batch must be skipped")
    val oracle = ChangeGen.oracleFinalState(ChangeGen.generateLocal(feed))
      .map { case (k, e) => k -> ((e.tokens.toSeq, e.lsn)) }
    assert(got === oracle)
    // it really streamed deltas (bootstrap batch is base, the rest append)
    val t = LakeTable(s"$work/table")
    assert(t.filesOf(t.currentManifest()).exists(_.isDelta))
  }

  test("delta append with a mid-stream ADD COLUMN evolves and null-fills") {
    val work = tmpDir("delta-evolve")
    val t = LakeTable(s"$work/t")
    val cfg = MergeConfig(numBuckets = 2, deltaAppendThreshold = 100L)
    def batchDf(events: Seq[RawEvent]): DataFrame =
      ChangeGen.projectPhase(events.toDF(), Phase(0, Long.MaxValue)).drop("seg")
    // bootstrap SEVERAL keys so both buckets hold base files (a delta can
    // only append to a bucket that already has files)
    MergeInto.apply(spark, t, batchDf((1 to 6).map(i =>
      RawEvent(i.toLong, s"k$i", Ops.Insert, Array(i), 1, "s", null, 0))),
      "cp", 0, cfg)
    // delta batch carrying a NEW column
    val withExtra = Seq((10L, "k1", "U", Seq(10), 1, "s", "tagged"))
      .toDF("lsn", "doc_id", "op", "tokens", "n_tok", "source", "tag")
    MergeInto.apply(spark, t, withExtra, "cp", 1, cfg)
    val m = t.currentManifest()
    assert(m.schema.fieldNames.contains("tag"))
    assert(t.filesOf(m).exists(_.isDelta))
    val rows = t.read(spark).select("doc_id", "tag").collect()
      .map(r => r.getString(0) -> Option(r.getString(1))).toMap
    // old base rows null-fill; the delta row carries its value
    assert(rows === (2 to 6).map(i => s"k$i" -> None).toMap + ("k1" -> Some("tagged")))
    // fold and re-check
    graft.table.Maintenance.compact(spark, t)
    val rows2 = t.read(spark).select("doc_id", "tag").collect()
      .map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(rows2 === rows)
  }
}

/** Torture property: random interleavings of EVERYTHING the table
  * supports — trickle delta merges, rewrite merges, bucket-subset and
  * watermarked compaction, vacuum, snapshot expiry, batch replay — must
  * preserve the oracle state at every checkpoint. The tombstone
  * watermark respects the feed's out-of-order window (the caller
  * contract: never GC a fence an in-flight straggler still needs).
  */
class TortureSpec extends SparkSpec {
  import graft.table.{LakeTable, Maintenance}
  import spark.implicits._

  private def batchDf(events: Seq[RawEvent]): DataFrame =
    ChangeGen.projectPhase(events.toDF(), Phase(0, Long.MaxValue)).drop("seg")

  private def stateOf(t: LakeTable): Map[String, (Seq[Int], Long)] =
    t.read(spark).collect()
      .map(r => r.getString(0) -> ((r.getSeq[Int](1), r.getLong(4)))).toMap

  private def oracleOf(evs: Seq[RawEvent]): Map[String, (Seq[Int], Long)] =
    ChangeGen.oracleFinalState(evs).map { case (k, e) => k -> ((e.tokens.toSeq, e.lsn)) }

  test("random op sequences preserve the oracle state throughout") {
    for (trial <- 0 until 2) {
      val rnd = new scala.util.Random(1000 + trial)
      val feed = FeedConfig(numEvents = 4000, numKeys = 150, seed = 1000L + trial,
        deleteFraction = 0.15, dupFraction = 0.05, outOfOrderWindow = 400,
        eventsPerSegment = 250) // 16 batches
      val events = ChangeGen.generateLocal(feed)
      val batches = events.groupBy(_.seg).toSeq.sortBy(_._1)
      val table = LakeTable(tmpDir(s"torture-$trial"))
      var applied = Vector.empty[RawEvent]
      batches.foreach { case (seg, evs) =>
        val thr = if (rnd.nextBoolean()) 1000000L else 0L // delta or rewrite
        MergeInto.apply(spark, table, batchDf(evs), "cp", seg,
          MergeConfig(numBuckets = 8, deltaAppendThreshold = thr))
        applied ++= evs
        rnd.nextInt(6) match {
          case 0 =>
            val nb = table.currentManifest().numBuckets
            val subset = (0 until nb).filter(_ => rnd.nextBoolean()).toSet
            Maintenance.compact(spark, table, buckets = Some(subset))
          case 1 =>
            // watermark stays BELOW anything still in flight
            val wm = applied.map(_.lsn).max - 1000L
            Maintenance.compact(spark, table, tombstoneWatermark = wm)
          case 2 => Maintenance.vacuum(table, table.currentVersion())
          case 3 if table.currentVersion() > 3 =>
            Maintenance.expireSnapshots(table, table.currentVersion() - 2)
          case 4 if table.currentManifest().numBuckets < 32 =>
            // online bucket-count growth joins the adversarial mix: the
            // shuffle-free split must survive interleaving with deltas,
            // compaction, vacuum, expiry AND the stale numBuckets=8 the
            // merges below keep passing (the kernel reads the manifest)
            Maintenance.rebucket(spark, table,
              table.currentManifest().numBuckets * 2)
          case _ => ()
        }
        if (seg % 4 == 3) assert(stateOf(table) === oracleOf(applied),
          s"trial $trial diverged after batch $seg")
      }
      assert(stateOf(table) === oracleOf(applied), s"trial $trial final state")
      // replay of a random earlier batch is a ledger no-op
      val (rseg, revs) = batches(rnd.nextInt(batches.size))
      val r = MergeInto.apply(spark, table, batchDf(revs), "cp", rseg,
        MergeConfig(numBuckets = 8))
      assert(r.skipped)
      assert(stateOf(table) === oracleOf(applied), s"trial $trial post-replay")
    }
  }
}

/** Snapshot isolation: a reader's plan binds to the manifest it was
  * created from — concurrent commits (including compaction rewrites)
  * never change what an in-flight reader sees, because data and manifest
  * files are immutable and only vacuum/expiry below a retention horizon
  * can invalidate them.
  */
class SnapshotIsolationSpec extends SparkSpec {
  import graft.table.{LakeTable, Maintenance}
  import spark.implicits._

  private def batchDf(events: Seq[RawEvent]): DataFrame =
    ChangeGen.projectPhase(events.toDF(), Phase(0, Long.MaxValue)).drop("seg")

  private def ev(lsn: Long, key: String) =
    RawEvent(lsn, key, Ops.Upsert, Array(lsn.toInt), 1, "s", null, 0)

  test("an in-flight reader is isolated from later commits and compactions") {
    val work = tmpDir("iso")
    val table = LakeTable(s"$work/t")
    MergeInto.apply(spark, table, batchDf((1 to 10).map(i => ev(i.toLong, s"k$i"))),
      "cp", 0, MergeConfig(numBuckets = 4))
    // plan the read against the v0 snapshot, do NOT collect yet
    val reader = table.read(spark)
    // concurrent writer activity: new data, a delta, a compaction
    MergeInto.apply(spark, table, batchDf(Seq(ev(100L, "k1"), ev(101L, "new1"))),
      "cp", 1, MergeConfig(numBuckets = 4, deltaAppendThreshold = 10L))
    Maintenance.compact(spark, table)
    // the in-flight reader still sees exactly the v0 state
    val got = reader.collect().map(r => r.getString(0) -> r.getLong(4)).toMap
    assert(got === (1 to 10).map(i => s"k$i" -> i.toLong).toMap)
    // a FRESH reader sees the new state
    val fresh = table.read(spark).collect()
      .map(r => r.getString(0) -> r.getLong(4)).toMap
    assert(fresh("k1") === 100L && fresh("new1") === 101L && fresh.size === 11)
  }
}
