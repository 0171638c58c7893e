package graft.sources

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import graft.model.Ops
import graft.util.{IoUtil, LocalFs}
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, BindReferences, BoundReference, InterpretedOrdering, RuntimeReplaceable, SortOrder, UnsafeProjection}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import scala.collection.mutable

/** Minimal HTTP change-feed receiver — the engine-side re-expression of
  * the reference flow's HTTP ingress (`HandleHttpRequest` /
  * `HandleHttpResponse`, used in the production flow to accept records
  * over HTTP and route them into the graph pipeline). JDK-only
  * (`com.sun.net.httpserver`, no added dependencies).
  *
  * Design: HTTP is an INGRESS EDGE, not a special in-engine source. The
  * receiver buffers posted change events and flushes them as ordinary
  * LSN-ordered parquet feed segments under `feedDir/seg=N/` — exactly the
  * WAL-shaped contract [[graft.stream.CdcStream]] tails — so the whole
  * downstream path (admission, MERGE kernel, exactly-once ledger,
  * checkpoint resume) is identical whether events arrive by file drop,
  * generator, or HTTP. At scale this is the right shape: receivers are
  * stateless and horizontally shardable (each writes its own segment
  * files), and the streaming job never couples to request latency.
  *
  * A flush runs no Spark job: it parses, sorts and writes the segment on
  * the driver, and publishes it atomically (written under a hidden temp
  * directory, renamed to `seg=N` when complete). A line with a key outside
  * `schema` is rejected, not truncated to the known fields. See [[flush]].
  *
  * Endpoints:
  *   - `POST /events` — body = JSON lines, one change event per line;
  *     202, events buffered (auto-flush at `flushEvery`).
  *   - `POST /flush`  — force the buffer out as the next segment; 200
  *     with `{"seg":N,"rows":K}` (or `{"seg":-1,"rows":0}` on empty), K
  *     counting the accepted lines only.
  *   - `GET  /health` — 200 "ok".
  *
  * The client-side fetch (`GetHTTP`) is permanently out of scope: pulling
  * remote URLs is an ops/deployment concern ahead of the feed contract,
  * not an engine operator (ruling recorded in COVERAGE.md).
  */
final class HttpFeedServer private (
    server: HttpServer,
    spark: SparkSession,
    feedDir: String,
    schema: StructType,
    flushEvery: Int) {

  import HttpFeedServer.RejectField

  /** Parser field that holds a line Spark's JSON parser could not read. */
  private val Corrupt = "_corrupt_record"

  private val buf = mutable.ArrayBuffer.empty[String]
  private val fs = new Path(feedDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
  private var nextSeg: Long = {
    // resume numbering after existing segments (receiver restarts append).
    // Through the Hadoop FS, not java.io.File: segments are written via
    // Spark's FS, and a receiver whose feedDir is remote (hdfs://, s3a://)
    // must not silently restart at seg=0 and overwrite existing data.
    val p = new Path(feedDir)
    if (!fs.exists(p)) 0L
    else fs.listStatus(p).toIndexedSeq
      .map(_.getPath.getName).filter(_.startsWith("seg="))
      .flatMap(n => n.stripPrefix("seg=").toLongOption)
      .maxOption.map(_ + 1).getOrElse(0L)
  }

  def port: Int = server.getAddress.getPort

  /** `parseLine` maps a line to (`from_json` of it, with a
    * `_corrupt_record` field appended to `schema`; its top-level keys).
    * It is the select that Spark analyzes for those two columns, compiled
    * once as a projection that a flush evaluates on the driver: Spark's
    * own JSON parsing for any schema, with no query to plan per flush and
    * no Spark job. `segSchema`, the schema of the segment files, is
    * `schema` with every field nullable, as Spark's JSON parser returns it.
    */
  private val (parseLine, segSchema) = {
    val q = spark.createDataset(Seq.empty[String])(Encoders.STRING).select(
      from_json(col("value"), schema.add(Corrupt, StringType),
        Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> Corrupt)),
      json_object_keys(col("value"))).queryExecution.analyzed
    // the optimizer's ReplaceExpressions step: from_json and
    // json_object_keys evaluate through their runtime replacements
    val exprs = q.expressions.map(e => BindReferences.bindReference(
      e.transformDown { case r: RuntimeReplaceable => r.replacement },
      q.children.head.output))
    (UnsafeProjection.create(exprs),
      StructType(q.schema.head.dataType.asInstanceOf[StructType].dropRight(1)))
  }
  private val knownKeys = schema.fieldNames.toSet
  private val lsnIdx = schema.fieldIndex("lsn")
  private val docIdIdx = schema.fieldIndex("doc_id")
  private val opIdx = schema.fieldIndex("op")
  private val validOps = Ops.all.map(UTF8String.fromString).toSet
  private val lsnOrder = new InterpretedOrdering(Seq(SortOrder(
    BoundReference(lsnIdx, schema(lsnIdx).dataType, nullable = true), Ascending)))
  private val segRow = UnsafeProjection.create(segSchema.fields.toIndexedSeq
    .zipWithIndex.map { case (f, i) => BoundReference(i, f.dataType, nullable = true) })

  /** Flush buffered events as the next feed segment; returns (seg, rows)
    * or (-1, 0) when the buffer is empty. Synchronized with ingestion so
    * a segment is a consistent prefix of what was posted. The buffer is
    * cleared only AFTER the segment write succeeds: events acknowledged
    * with 202 must survive a failed flush (disk full, transient FS error)
    * and go out with the next one — a throwing flush loses nothing.
    *
    * No Spark job runs. The lines are parsed on the driver by Spark's
    * `from_json` (`parseLine`), so parsing follows Spark's JSON rules for
    * any schema. The accepted rows are sorted by `lsn` and written as one
    * parquet file by Spark's own parquet writer, under a hidden temp
    * directory that is renamed to `seg=N` once the file is complete: the
    * tailing stream never lists a half-written segment.
    *
    * A line is rejected when it does not parse into a feed event, has a
    * null `lsn` or `doc_id`, an `op` outside [[Ops.all]], or a key outside
    * the schema (it is not truncated to the known fields): the events the
    * merge kernel would refuse. Rejects go to `feedDir/_rejects/seg=N`
    * as JSON lines `{"line": <raw line>}` (the dead-letter posture of the
    * CSV source): the stream only tails `seg=*` dirs, so accepted garbage
    * can neither crash the tail nor merge as a null-keyed live row. The
    * returned row count excludes them.
    */
  def flush(): (Long, Long) = synchronized {
    if (buf.isEmpty) return (-1L, 0L)
    val seg = nextSeg
    val (good, rejects) = parse(buf.toIndexedSeq)
    if (rejects.nonEmpty)
      IoUtil.publishDir(fs, new Path(s"$feedDir/_rejects/seg=$seg")) { dir =>
        val out = fs.create(new Path(dir, "part-00000.json"))
        try rejects.foreach { l =>
          out.write(s"""{"$RejectField":${IoUtil.jsonString(l)}}\n"""
            .getBytes(StandardCharsets.UTF_8))
        } finally out.close()
      }
    IoUtil.publishDir(fs, new Path(s"$feedDir/seg=$seg"))(writeSegment(_, good))
    // only now is the segment durable: advance + drop the buffer
    nextSeg += 1
    buf.clear()
    (seg, good.length.toLong)
  }

  /** Accepted rows (in `segSchema`, sorted by `lsn`) and rejected lines. */
  private def parse(lines: Seq[String]): (Seq[InternalRow], Seq[String]) = {
    val n = segSchema.length
    val good = Seq.newBuilder[InternalRow]
    val rejects = Seq.newBuilder[String]
    lines.foreach { line =>
      val r = parseLine(InternalRow(UTF8String.fromString(line)))
      val e = if (r.isNullAt(0)) null else r.getStruct(0, n + 1)
      val ok = e != null && e.isNullAt(n) && !e.isNullAt(lsnIdx) &&
        !e.isNullAt(docIdIdx) && !e.isNullAt(opIdx) && validOps(e.getUTF8String(opIdx)) &&
        !r.isNullAt(1) &&
        r.getArray(1).toSeq[UTF8String](StringType).forall(k => knownKeys(k.toString))
      if (ok) good += segRow(e).copy() else rejects += line
    }
    (good.result().sorted(lsnOrder), rejects.result())
  }

  /** Write `rows` as one parquet file in `dir` with Spark's parquet
    * writer (same footer and schema metadata as a Spark job's write). */
  private def writeSegment(dir: Path, rows: Seq[InternalRow]): Unit = {
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    val factory = new ParquetFileFormat().prepareWrite(spark, job, Map.empty, segSchema)
    val ctx = new TaskAttemptContextImpl(job.getConfiguration, new TaskAttemptID())
    val w = factory.newInstance(
      new Path(dir, "part-00000" + factory.getFileExtension(ctx)).toString, segSchema, ctx)
    try rows.foreach(w.write) finally w.close()
  }

  private def ingest(body: String): Int = {
    val lines = body.linesIterator.map(_.trim).filter(_.nonEmpty).toIndexedSeq
    val doFlush = synchronized {
      buf ++= lines
      buf.length >= flushEvery
    }
    if (doFlush) flush(): Unit
    lines.length
  }

  private def handler: HttpHandler = (ex: HttpExchange) => {
    // headers can be sent at most once per exchange: a failure AFTER the
    // happy-path respond must not try to respond again (sendResponseHeaders
    // would throw out of the handler and the client would see a reset)
    var responded = false
    def respond(code: Int, body: String): Unit = {
      responded = true
      val bytes = body.getBytes(StandardCharsets.UTF_8)
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseHeaders(code, bytes.length.toLong)
      val os = ex.getResponseBody
      try os.write(bytes) finally os.close()
    }
    // exception messages carry quotes/newlines (Spark analysis errors
    // routinely do) — escape them or the error body is invalid JSON
    def jsonStr(s: String): String = graft.util.IoUtil.jsonString(s)
    try {
      (ex.getRequestMethod, ex.getRequestURI.getPath) match {
        case ("POST", "/events") =>
          val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
          val n = ingest(body)
          respond(202, s"""{"accepted":$n}""")
        case ("POST", "/flush") =>
          val (seg, rows) = flush()
          respond(200, s"""{"seg":$seg,"rows":$rows}""")
        case ("GET", "/health") => respond(200, """{"status":"ok"}""")
        case _ => respond(404, """{"error":"not found"}""")
      }
    } catch {
      case e: Exception if !responded =>
        respond(500, s"""{"error":${jsonStr(e.getMessage)}}""")
    }
  }

  def stop(): Unit = server.stop(0)
}

object HttpFeedServer {

  /** Field of a rejected line's JSON record that holds the raw line (not
    * `_corrupt_record`: Spark refuses queries of a JSON file that read
    * only that column). */
  val RejectField = "line"

  /** Start a receiver on `port` (0 = ephemeral) writing segments of
    * `schema`-shaped change events under `feedDir`.
    */
  def start(spark: SparkSession, feedDir: String, schema: StructType,
      port: Int = 0, flushEvery: Int = 100000): HttpFeedServer = {
    LocalFs.install(spark)
    new java.io.File(feedDir).mkdirs()
    val server = HttpServer.create(new InetSocketAddress(port), 0)
    val s = new HttpFeedServer(server, spark, feedDir, schema, flushEvery)
    server.createContext("/", s.handler)
    server.setExecutor(null) // serial dispatch; segment writes serialize anyway
    server.start()
    s
  }
}
