package graft

import graft.changegen.{ChangeGen, Phase, RawEvent}
import graft.merge.{MergeConfig, MergeInto}
import graft.model.Ops
import graft.table.{LakeTable, Maintenance}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-3 regression: the maintenance/ledger-floor exactly-once
  * intersection.
  *
  * After ledger retention folds old batches into the manifest's batch
  * floor, that floor is the ONLY record those batches committed. Every
  * maintenance rewrite MUST carry the floor forward: otherwise a replayed
  * pre-floor batch re-applies, and after a compaction that GCs tombstones
  * a delete gets resurrected by its own original insert.
  */
class CompactFloorSpec extends SparkSpec {
  import spark.implicits._

  private def batchDf(events: Seq[RawEvent]): DataFrame =
    ChangeGen.projectPhase(events.toDF(), Phase(0, Long.MaxValue)).drop("seg")

  private def ev(lsn: Long, key: String, op: String, tok: Array[Int]) =
    RawEvent(lsn, key, op, tok, if (tok == null) -1 else tok.length, "s", null, 0)

  /** Batch 0 inserts k at lsn 5, batch 1 deletes it at lsn 9, batches 2..5
    * insert unrelated keys: retention 2 folds batches 0..3 into the floor
    * (floorBatch = cp -> 3). Then `maintain` rewrites the table, and the
    * pre-floor insert batch replays (checkpoint reset / secondary writer):
    * it must be recognized as committed and skipped — NOT re-applied.
    */
  private def assertFloorSurvives(dir: String)(maintain: LakeTable => Unit): Unit = {
    val table = LakeTable(s"$dir/t")
    val cfg = MergeConfig(numBuckets = 2, ledgerRetention = 2)
    val batches: Seq[Seq[RawEvent]] =
      Seq(Seq(ev(5, "k", Ops.Insert, Array(5))),
        Seq(ev(9, "k", Ops.Delete, null))) ++
        (2 to 5).map(b => Seq(ev(100L + b, s"other$b", Ops.Insert, Array(b))))
    batches.zipWithIndex.foreach { case (evs, b) =>
      MergeInto.apply(spark, table, batchDf(evs), "cp", b.toLong, cfg)
    }
    val before = table.currentManifest()
    assert(before.floorBatch.getOrElse("cp", -1L) >= 1L,
      s"precondition: the delete batch must be below the floor, got ${before.floorBatch}")

    maintain(table)
    val after = table.currentManifest()
    assert(after.version === before.version + 1)
    assert(after.floorBatch === before.floorBatch,
      "maintenance must carry the ledger batch floor forward")

    val r = MergeInto.apply(spark, table, batchDf(batches.head), "cp", 0L, cfg)
    assert(r.skipped, "pre-floor batch replay must be a ledger no-op")
    assert(table.read(spark).filter(col("doc_id") === "k").count() === 0,
      "deleted key must stay deleted after maintenance + pre-floor replay")
    assert(table.read(spark).count() === 4)
  }

  test("compact preserves the ledger batch floor: pre-floor replay cannot resurrect a deleted key") {
    assertFloorSurvives(tmpDir("lake-compact-floor")) { table =>
      // compact with watermark past every applied LSN: k's tombstone is GC'd
      Maintenance.compact(spark, table, tombstoneWatermark = 1000L)
      assert(table.readStored(spark).filter(col(MergeInto.TOMBSTONE)).count() === 0)
    }
  }

  test("rebucket preserves the ledger batch floor: pre-floor replay is skipped") {
    assertFloorSurvives(tmpDir("lake-rebucket-floor")) { table =>
      Maintenance.rebucket(spark, table, 4)
      assert(table.currentManifest().numBuckets === 4)
    }
  }
}

/** Incremental (bucket-subset) compaction: maintenance must be O(touched
  * buckets), not a full-table rewrite — untouched buckets' files carry
  * over into the new manifest byte-identical, with no I/O.
  */
class IncrementalCompactSpec extends SparkSpec {
  import spark.implicits._

  private def batchDf(events: Seq[RawEvent]): DataFrame =
    ChangeGen.projectPhase(events.toDF(), Phase(0, Long.MaxValue)).drop("seg")

  test("bucket-subset compact GCs only the selected buckets and keeps state identical") {
    val work = tmpDir("lake-inc-compact")
    val table = LakeTable(s"$work/t")
    val cfg = MergeConfig(numBuckets = 8)
    val feed = graft.changegen.FeedConfig(numEvents = 6000, numKeys = 300,
      seed = 23, deleteFraction = 0.2, eventsPerSegment = 2000)
    val events = ChangeGen.generateLocal(feed)
    events.groupBy(_.seg).toSeq.sortBy(_._1).foreach { case (seg, evs) =>
      MergeInto.apply(spark, table, batchDf(evs), "cp", seg, cfg)
    }
    val before = table.read(spark).collect().map(_.toSeq).toSet
    val storedBefore = table.readStored(spark)
    val tombBuckets = storedBefore.filter(col(MergeInto.TOMBSTONE))
      .select(LakeTable.bucketExpr(8).as("b")).distinct()
      .collect().map(_.getInt(0)).toSet
    assert(tombBuckets.size >= 2, "need tombstones in >= 2 buckets")
    val (subset, rest) = (tombBuckets.take(1), tombBuckets.drop(1))

    val keptBefore = table.filesOf(table.currentManifest())
      .filterNot(f => subset.contains(f.bucket)).map(_.path).toSet
    val res = Maintenance.compact(spark, table,
      tombstoneWatermark = Long.MaxValue / 2, buckets = Some(subset))
    // untouched buckets: same physical files, carried over with no rewrite
    val keptAfter = table.filesOf(table.currentManifest())
      .filterNot(f => subset.contains(f.bucket)).map(_.path).toSet
    assert(keptAfter === keptBefore)
    assert(res.version === table.currentVersion())
    // tombstones gone ONLY from the compacted subset
    val tombAfter = table.readStored(spark).filter(col(MergeInto.TOMBSTONE))
      .select(LakeTable.bucketExpr(8).as("b")).distinct()
      .collect().map(_.getInt(0)).toSet
    assert((tombAfter & subset).isEmpty)
    assert(tombAfter === rest)
    // live state identical
    assert(table.read(spark).collect().map(_.toSeq).toSet === before)

    // empty selection is a committed-nothing no-op
    val v = table.currentVersion()
    Maintenance.compact(spark, table, buckets = Some(Set.empty))
    assert(table.currentVersion() === v)

    // compacting the remainder clears all tombstones; merges keep working
    Maintenance.compact(spark, table,
      tombstoneWatermark = Long.MaxValue / 2, buckets = Some(rest))
    assert(table.readStored(spark).filter(col(MergeInto.TOMBSTONE)).count() === 0)
    assert(table.read(spark).collect().map(_.toSeq).toSet === before)
    MergeInto.apply(spark, table, batchDf(Seq(
      RawEvent(999999L, events.head.doc_id, Ops.Upsert, Array(9), 1, "s", null, 0))),
      "cp", 99L, cfg)
    assert(table.read(spark).filter(col("doc_id") === events.head.doc_id)
      .head().getAs[Seq[Int]]("tokens") === Seq(9))
  }

  test("mostFragmented selects multi-file buckets by file count") {
    val work = tmpDir("lake-frag")
    val table = LakeTable(s"$work/t")
    MergeInto.apply(spark, table, batchDf(Seq(
      RawEvent(1L, "a", Ops.Insert, Array(1), 1, "s", null, 0))),
      "cp", 0L, MergeConfig(numBuckets = 4))
    // merge rewrites whole buckets (1 file/bucket), so synthesize a
    // fragmented snapshot: add a second entry to one bucket's range
    // without touching the bucket (its existing entry carries over)
    val m = table.currentManifest()
    val f = table.filesOf(m).head
    table.commit(m.copy(version = m.version + 1, manifests = table.composeManifests(
      Some(m), Set.empty, Seq(f.copy(path = f.path + ".dup")), m.numBuckets)))
    assert(table.filesOf(table.currentManifest()).count(_.bucket == f.bucket) === 2)
    assert(Maintenance.mostFragmented(table, 4) === Set(f.bucket))
    assert(Maintenance.mostFragmented(table, 0) === Set.empty)
  }
}

/** Declarative updatereq rule ingestion: the reference configures its
  * whole upsert surface from a JSON rule document (flow.xml:1163-1307);
  * parse one of that exact shape and check every derived primitive.
  */
class UpdateReqSpec extends SparkSpec {
  import graft.rules.UpdateReq
  import spark.implicits._

  // the reference's Person/Location/Event rule shape (same fields:
  // predicate, type coercion, mandatoryInSearch, excludeFromUpdate,
  // postProcessor, edges)
  private val personDoc =
    """{"updatereq":{
      |  "vertices":[
      |    {"label":"Person","props":[
      |      {"name":"Person.Full_Name_fuzzy","val":"${person}",
      |       "predicate":"textContainsFuzzy","type":"[Ljava.lang.String;",
      |       "excludeFromUpdate":true,"mandatoryInSearch":true,
      |       "postProcessor":"${it?.toUpperCase()?.trim()}"},
      |      {"name":"Person.Last_Name","val":"${person}",
      |       "predicate":"textContainsFuzzy","type":"[Ljava.lang.String;",
      |       "excludeFromUpdate":true,
      |       "postProcessor":"${it?.toUpperCase()?.trim()}"}
      |    ]},
      |    {"label":"Location.Address","props":[
      |      {"name":"Location.Address.parser.postcode","val":"${postcode}",
      |       "type":"[Ljava.lang.String;","excludeFromUpdate":true,
      |       "mandatoryInSearch":true,
      |       "postProcessor":"${com.pontusvision.utils.PostCode.format(eachPostCode)}"}
      |    ]},
      |    {"label":"Event.Ingestion","props":[
      |      {"name":"Event.Ingestion.Type","val":"PDF Form Files",
      |       "excludeFromSearch":true},
      |      {"name":"Event.Ingestion.Metadata_Create_Date","val":"${new Date()}",
      |       "excludeFromSearch":true,"type":"java.util.Date"}
      |    ]}
      |  ],
      |  "edges":[
      |    {"label":"Has_Ingestion_Event","fromVertexLabel":"Person",
      |     "toVertexLabel":"Event.Ingestion"}
      |  ]}}""".stripMargin

  test("parses the reference rule-doc shape into keys, policies, edges") {
    val rules = UpdateReq.parse(personDoc)
    assert(rules.vertices.map(_.label) ===
      Seq("Person", "Location.Address", "Event.Ingestion"))
    val person = rules.vertex("Person")
    assert(person.fuzzyKeys.map(_.name) === Seq("Person.Full_Name_fuzzy"))
    assert(person.exactKeys.isEmpty)
    assert(person.columnPolicy.keySet ===
      Set("Person_Full_Name_fuzzy", "Person_Last_Name"))
    assert(rules.edges === Seq(UpdateReq.EdgeRule(
      "Has_Ingestion_Event", "Person", "Event.Ingestion")))
    // literal-valued, search-excluded props parse too
    val event = rules.vertex("Event.Ingestion")
    assert(event.props.forall(_.excludeFromSearch))
    assert(event.exactKeys.isEmpty && event.fuzzyKeys.isEmpty)
  }

  test("binding applies post-processors and type coercions") {
    val rules = UpdateReq.parse(personDoc)
    val df = Seq(("  jo smith ", "ec1a 1bb")).toDF("person", "postcode")
    val bound = rules.vertex("Person").bind(df)
    assert(bound.schema("Person_Full_Name_fuzzy").dataType.simpleString
      === "array<string>")
    assert(bound.select(element_at(col("Person_Full_Name_fuzzy"), 1))
      .head().getString(0) === "JO SMITH")
    val pc = rules.vertex("Location.Address").bind(df)
      .select(element_at(col("Location_Address_parser_postcode"), 1)).head().getString(0)
    assert(pc === "EC1A 1BB")
    // java.util.Date coercion yields a timestamp column
    val ev = rules.vertex("Event.Ingestion").bind(df)
    assert(ev.schema("Event_Ingestion_Metadata_Create_Date").dataType.simpleString
      === "timestamp")
    assert(ev.select(col("Event_Ingestion_Type")).head().getString(0)
      === "PDF Form Files")
  }

  test("exact-key matchStatus reproduces the match-or-create decision table") {
    val doc =
      """{"vertices":[{"label":"K","props":[
        |  {"name":"k","val":"${k}","predicate":"eq","mandatoryInSearch":true}
        |]}]}""".stripMargin
    val v = UpdateReq.parse(doc).vertex("K")
    val target = Seq("a", "b", "b").toDF("k")
    val incoming = Seq("a", "b", "c").toDF("k")
    val got = v.matchStatus(v.bind(incoming), v.bind(target))
      .select("k", "match_status").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got === Map("a" -> "MATCH", "b" -> "MULTIPLE", "c" -> "NO_MATCH"))
  }

  test("fuzzy matchStatus blocks on exact keys, matches within edit distance") {
    val doc =
      """{"vertices":[{"label":"P","props":[
        |  {"name":"nm","val":"${nm}","predicate":"textContainsFuzzy",
        |   "type":"[Ljava.lang.String;","mandatoryInSearch":true},
        |  {"name":"shard","val":"${shard}","predicate":"eq","mandatoryInSearch":true}
        |]}]}""".stripMargin
    val v = UpdateReq.parse(doc).vertex("P")
    val target = Seq(("smith", "1"), ("smyth", "2")).toDF("nm", "shard")
    val incoming = Seq(("smithh", "1"), ("smithh", "2"), ("smithh", "3"))
      .toDF("nm", "shard")
    val got = v.matchStatus(v.bind(incoming), v.bind(target), maxDist = 1)
      .select("_blk", "match_status").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    // block 1: 1 edit away -> MATCH; block 2: 2 edits -> NO_MATCH;
    // block 3: empty block -> NO_MATCH
    assert(got === Map("1" -> "MATCH", "2" -> "NO_MATCH", "3" -> "NO_MATCH"))
  }

  test("unsupported scriptlets raise at parse/bind time, not silently misbind") {
    val doc =
      """{"vertices":[{"label":"X","props":[
        |  {"name":"x","val":"${a.b?.complexCall()}","predicate":"eq"}
        |]}]}""".stripMargin
    val v = UpdateReq.parse(doc).vertex("X")
    val df = Seq("v").toDF("a")
    intercept[IllegalArgumentException] { v.bind(df) }
  }
}

/** StringReplacer long tail (reference StringReplacer.java:35-55,397-550):
  * numeric-suffix increment, cron validation, CPU hex mask, common prefix.
  */
class StringUtilSpec extends SparkSpec {
  import graft.functions.Fns
  import org.apache.spark.sql.Column
  import spark.implicits._

  private def one(fn: Column => Column, s: String): String =
    Seq(s).toDF("v").select(fn(col("v"))).head().getString(0)

  test("replaceAddOne increments the last digit run, preserving padding") {
    assert(one(Fns.replaceAddOne, "file-007") === "file-008")
    assert(one(Fns.replaceAddOne, "v9") === "v10")
    assert(one(Fns.replaceAddOne, "a99b") === "a100b")
    assert(one(Fns.replaceAddOne, "x-099.txt") === "x-100.txt")
    assert(one(Fns.replaceAddOne, "12-abc-34-def") === "12-abc-35-def")
    assert(one(Fns.replaceAddOne, "nodigits") === "nodigits")
  }

  test("cron regex accepts the quartz forms and rejects out-of-range fields") {
    def valid(s: String): Boolean =
      Seq(s).toDF("v").select(Fns.isValidCron(col("v"))).head().getBoolean(0)
    assert(valid("0 30 12 * * ?"))
    assert(valid("0/5 14 * * * ?"))
    assert(valid("0 15 10 ? JAN-MAR MON-FRI 2026"))
    assert(valid("59 59 23 31 12 6"))
    // anchored AFTER the whole alternation like the reference's generated
    // regex: the bare comment/assignment markers match, trailing content
    // does not (round-4 anchoring fix — previously '# anything' passed)
    assert(valid("#"))
    assert(valid("key ="))
    assert(valid(""))
    assert(!valid("# a comment line"))
    assert(!valid("key = value"))
    assert(!valid("99 0 12 * * ?"))   // seconds out of range
    assert(!valid("0 30 25 * * ?"))   // hour out of range
    assert(!valid("0 30 12 40 * ?"))  // day out of range
    assert(!valid("not a cron at all"))
  }

  test("cpuListToHex sets range and list bits across words") {
    assert(one(Fns.cpuListToHex(1, 16), "0-3") === "000000000000000f")
    assert(one(Fns.cpuListToHex(1, 16), "0,2,4") === "0000000000000015")
    assert(one(Fns.cpuListToHex(1, 4), "8") === "0100")
    // bit 70 lands in the second 64-bit word (most significant printed first)
    assert(one(Fns.cpuListToHex(2, 16), "1,70") ===
      "0000000000000040,0000000000000002")
    // out-of-range bits truncate silently (the reference's setDataMask
    // semantics) instead of failing the job
    assert(one(Fns.cpuListToHex(1, 16), "1,70") === "0000000000000002")
    assert(one(Fns.cpuListToHex(1, 16), "60-70") === "f000000000000000")
  }

  test("greatestCommonPrefix") {
    val got = Seq(("doc-12", "doc-19"), ("same", "same"), ("abc", "xyz"))
      .toDF("a", "b")
      .select(Fns.greatestCommonPrefix(col("a"), col("b")))
      .collect().map(_.getString(0)).toSeq
    assert(got === Seq("doc-1", "same", ""))
  }
}

/** Plan evidence for the fuzzy catalog queries: the bounded levenshtein
  * must run INSIDE an equi-join on the high-cardinality block key — never
  * as a cartesian / nested-loop comparison.
  */
class FuzzyPlanSpec extends SparkSpec {
  private def assertBlockedFuzzyPlan(name: String): Unit = {
    val df = SparkEntry.queries(name)(spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("levenshtein"), s"$name: fuzzy predicate missing")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"$name: fuzzy match must not plan as an all-pairs join:\n$plan")
    assert(Seq("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin")
      .exists(plan.contains), s"$name: expected a hash/merge equi-join")
  }

  test("match_fuzzy and rules_match_fuzzy plan as blocked equi-joins") {
    assertBlockedFuzzyPlan("match_fuzzy")
    assertBlockedFuzzyPlan("rules_match_fuzzy")
  }
}

/** Edges end-to-end through the MERGE kernel: accumulate across batches,
  * exactly-once under replay.
  */
class EdgesMergeSpec extends SparkSpec {
  import graft.operators.Edges
  import spark.implicits._

  test("edge batches fold into the edges table; replayed batch doesn't double-count") {
    val work = tmpDir("lake-edges")
    val table = LakeTable(s"$work/t")
    val cfg = MergeConfig(numBuckets = 4, columnPolicy = Edges.mergePolicies,
      initialSchema = Some(Edges.tableSchema))
    val rows = Seq(
      (1L, "u1", "e1"), (2L, "u1", "e1"), (3L, "u2", "e1"), // batch 0
      (4L, "u1", "e1"), (5L, "u3", "e2"))                   // batch 1
    val df = rows.toDF("lsn", "u", "e")
    // INTERLEAVED split (batch 1's max data-LSN for u1-e1 is BELOW batch
    // 0's): batch 0 = odd lsns {1,3,5}, batch 1 = even {2,4} — the case
    // that breaks a data-LSN merge version and requires the batch-seq one
    def edgesOf(part: DataFrame, b: Long) =
      Edges.asChanges(Edges.emit(part, "acted", col("u"), col("e"), Some(col("lsn"))), b)
    MergeInto.apply(spark, table, edgesOf(df.filter(col("lsn") % 2 === 1), 0), "ed", 0, cfg)
    MergeInto.apply(spark, table, edgesOf(df.filter(col("lsn") % 2 === 0), 1), "ed", 1, cfg)
    // replay batch 1: ledger skip, no double fold
    val r = MergeInto.apply(spark, table,
      edgesOf(df.filter(col("lsn") % 2 === 0), 1), "ed", 1, cfg)
    assert(r.skipped)

    val got = table.read(spark)
      .select("edge_label", "from_id", "to_id", "n_obs", "min_lsn", "max_lsn")
      .collect().map(r => (r.getString(1), r.getString(2)) ->
        ((r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    // u1-e1: seen in both batches -> counts add, lsn range widens
    assert(got(("u1", "e1")) === ((3L, 1L, 4L)))
    assert(got(("u2", "e1")) === ((1L, 3L, 3L)))
    assert(got(("u3", "e2")) === ((1L, 5L, 5L)))
    // matches the single-pass global aggregate exactly
    val global = Edges.emit(df, "acted", col("u"), col("e"), Some(col("lsn")))
      .collect().map(r => (r.getString(1), r.getString(2)) ->
        ((r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(got === global)
    // edges table schema is edge-shaped (no grafted seq columns)
    assert(!table.read(spark).columns.contains("tokens"))
  }
}

/** JDK-only archive explode: zip entry round-trip, pptx slide text, and
  * the real decoder behind the MediaDecoder seam.
  */
class ArchiveSpec extends SparkSpec {
  import graft.sources.ArchiveSource
  import spark.implicits._

  test("zip explode round-trips entry names, sizes, and bytes") {
    val entries = Seq(
      "a.txt" -> "hello world".getBytes("UTF-8"),
      "dir/b.bin" -> Array.tabulate(1000)(i => (i % 251).toByte),
      "empty.txt" -> Array.emptyByteArray)
    val zip = ArchiveSource.zipBytes(entries)
    val df = Seq((7L, zip), (8L, zip)).toDF("archive_id", "payload")
    val out = ArchiveSource.explodeZip(df).collect()
      .groupBy(_.archive_id).view.mapValues(_.sortBy(_.entry_name)).toMap
    assert(out.keySet === Set(7L, 8L))
    for (id <- Seq(7L, 8L)) {
      val es = out(id)
      assert(es.map(_.entry_name).toSeq === Seq("a.txt", "dir/b.bin", "empty.txt"))
      assert(es.map(_.n_bytes).toSeq === Seq(11, 1000, 0))
      assert(es(0).payload.toSeq === "hello world".getBytes("UTF-8").toSeq)
      assert(es(1).payload.toSeq === entries(1)._2.toSeq)
    }
    // deterministic builder: same input -> same bytes
    assert(ArchiveSource.zipBytes(entries).toSeq === zip.toSeq)
  }

  test("non-zip payloads yield zero entries (caller-side dead-letter via anti-join)") {
    val df = Seq((1L, "not a zip at all".getBytes("UTF-8")),
      (2L, Array.emptyByteArray),
      (3L, null.asInstanceOf[Array[Byte]])).toDF("archive_id", "payload")
    assert(ArchiveSource.explodeZip(df).count() === 0)
  }

  test("pptx slide text extracts in slide order with XML escaping round-trip") {
    val texts = Seq("plain slide", "a & b <c> 'quoted' \"double\"", "tail")
    val pptx = ArchiveSource.pptxBytes(texts)
    val df = Seq((1L, pptx)).toDF("archive_id", "payload")
    val got = ArchiveSource.pptxSlideText(df).collect().sortBy(_.slide_idx)
    assert(got.map(_.slide_idx).toSeq === Seq(1, 2, 3))
    assert(got.map(_.text).toSeq === texts)
  }

  test("ArchiveDecoder really parses zip containers (n_parts = entry count)") {
    import graft.operators.Multimodal
    val zip = ArchiveSource.zipBytes(Seq(
      "x" -> "1".getBytes, "y" -> "22".getBytes, "z" -> "333".getBytes))
    val f = Multimodal.ArchiveDecoder.decode(5L, zip)
    assert(f.format === "zip" && f.n_parts === 3 && f.n_bytes === zip.length)
    val crc = new java.util.zip.CRC32(); crc.update(zip)
    assert(f.checksum === crc.getValue)
    val binF = Multimodal.ArchiveDecoder.decode(6L, "plain".getBytes)
    assert(binF.format === "bin" && binF.n_parts === 1)
    // pptx is itself a zip container: sniffed and parsed as one
    val pptx = ArchiveSource.pptxBytes(Seq("s1", "s2"))
    val pf = Multimodal.ArchiveDecoder.decode(7L, pptx)
    assert(pf.format === "zip" && pf.n_parts === 3) // content types + 2 slides
  }
}

/** Hot-path hygiene regressions. */
class HotPathSpec extends SparkSpec {
  import spark.implicits._

  private def batchDf(events: Seq[RawEvent]): DataFrame =
    ChangeGen.projectPhase(events.toDF(), Phase(0, Long.MaxValue)).drop("seg")

  private def jobsOf(group: String)(body: => Unit): Int = {
    spark.sparkContext.setJobGroup(group, group)
    try body finally spark.sparkContext.clearJobGroup()
    spark.sparkContext.statusTracker.getJobIdsForGroup(group).length
  }

  test("dead-letter routing costs at most one extra Spark job per batch") {
    val work = tmpDir("lake-dlq-jobs")
    val evs = (1 to 50).map(i =>
      RawEvent(i.toLong, s"k$i", Ops.Insert, Array(i), 1, "s", null, 0))
    val plain = jobsOf("dlq-off") {
      MergeInto.apply(spark, LakeTable(s"$work/t0"), batchDf(evs), "cp", 0L,
        MergeConfig(numBuckets = 4))
    }
    val routed = jobsOf("dlq-on") {
      MergeInto.apply(spark, LakeTable(s"$work/t1"), batchDf(evs), "cp", 0L,
        MergeConfig(numBuckets = 4, deadLetterDir = Some(s"$work/dlq")))
    }
    assert(routed <= plain + 1,
      s"dead-letter path ran $routed jobs vs $plain without (allowed +1)")
  }

  test("hyperplane_bucket: mismatched-length vector buckets as 0 on both paths") {
    val dim = 8
    val df = Seq(
      (1L, Array.fill(dim)(0.5f)),          // exact dim
      (2L, Array.fill(dim - 2)(0.5f)),      // short
      (3L, Array.fill(dim + 3)(0.5f)))      // long
      .toDF("id", "v")
    val native = df.select(col("id"),
      graft.operators.Ann.hyperplaneBucket(col("v"), 6, 42L, dim).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val interp = df.select(col("id"),
      graft.operators.Ann.hyperplaneBucketColumns(col("v"), 6, 42L, dim).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(native === interp)
    assert(native(2L) === 0L && native(3L) === 0L)
  }

  test("RoutedCsv.release drops the cache entry (no per-read session leak)") {
    val dir = tmpDir("csv-release")
    Seq("1,alice", "2,bob").toDF("value").coalesce(1)
      .write.mode("overwrite").text(dir)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "id BIGINT, name STRING")
    val routed = graft.sources.CsvSource.readRouted(spark, dir, schema, header = false)
    assert(routed.good.count() === 2)
    assert(routed.corrupt.count() === 0)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    routed.release()
    // the routed read's cache entry is gone (others, if any, untouched)
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert(after.subsetOf(before) && after.size < before.size)
  }
}
