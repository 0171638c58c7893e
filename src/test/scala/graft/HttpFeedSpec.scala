package graft

import graft.merge.MergeConfig
import graft.model.Ops
import graft.sources.HttpFeedServer
import graft.stream.{CdcStream, StreamConfig}
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

/** HTTP ingress edge (the reference's HandleHttpRequest/Response shape):
  * events POSTed over HTTP become ordinary feed segments, and the whole
  * downstream CDC path — admission, MERGE, exactly-once — is unchanged.
  * A flush runs no Spark job and publishes its segment atomically.
  */
class HttpFeedSpec extends SparkSpec {

  private val feedSchema = StructType(Seq(
    StructField("lsn", LongType),
    StructField("doc_id", StringType),
    StructField("op", StringType),
    StructField("tokens", ArrayType(IntegerType)),
    StructField("n_tok", IntegerType),
    StructField("source", StringType)))

  private def ev(lsn: Long, key: String, op: String, toks: Seq[Int]): String = {
    val t = if (op == Ops.Delete) "null" else toks.mkString("[", ",", "]")
    val n = if (op == Ops.Delete) "null" else toks.length.toString
    s"""{"lsn":$lsn,"doc_id":"$key","op":"$op","tokens":$t,"n_tok":$n,"source":"http"}"""
  }

  private val client = HttpClient.newHttpClient()

  private def post(srv: HttpFeedServer, path: String, body: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${srv.port}$path"))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  private def withServer[T](feedDir: String, schema: StructType = feedSchema)(
      f: HttpFeedServer => T): T = {
    val srv = HttpFeedServer.start(spark, feedDir, schema, flushEvery = Int.MaxValue)
    try f(srv) finally srv.stop()
  }

  /** `n` events over `n / 3` keys, posted out of LSN order. */
  private def shuffledEvents(n: Int): Seq[String] =
    new scala.util.Random(7).shuffle((1 to n).map { i =>
      val op = if (i % 11 == 0) Ops.Delete else if (i % 3 == 0) Ops.Update else Ops.Insert
      ev(i.toLong, s"k${i % (n / 3)}", op, Seq.fill(i % 4 + 1)(i))
    })

  /** Files of a directory that Spark's listing would read. */
  private def visible(dir: java.io.File): Seq[java.io.File] =
    Option(dir.listFiles).toSeq.flatten
      .filterNot(f => f.getName.startsWith(".") || f.getName.startsWith("_"))

  test("posted events -> segments -> merged table state (auto- and forced flush)") {
    val work = tmpDir("http-feed")
    val srv = HttpFeedServer.start(spark, s"$work/feed", feedSchema, flushEvery = 4)
    try {
      assert(client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${srv.port}/health")).GET().build(),
        HttpResponse.BodyHandlers.ofString()).statusCode() === 200)
      // batch 1: 4 events -> auto-flush at flushEvery
      val r1 = post(srv, "/events", Seq(
        ev(1, "a", Ops.Insert, Seq(1)), ev(2, "b", Ops.Insert, Seq(2)),
        ev(3, "a", Ops.Update, Seq(3, 3)), ev(4, "c", Ops.Insert, Seq(4))).mkString("\n"))
      assert(r1.statusCode() === 202 && r1.body().contains("\"accepted\":4"))
      // batch 2: delete + late event, forced flush
      post(srv, "/events",
        Seq(ev(6, "b", Ops.Delete, Nil), ev(5, "c", Ops.Upsert, Seq(5))).mkString("\n"))
      val r2 = post(srv, "/flush", "")
      assert(r2.statusCode() === 200 && r2.body().contains("\"seg\":1"))
      assert(post(srv, "/flush", "").body().contains("\"seg\":-1"))
    } finally srv.stop()
    val got = CdcStream.runToCompletion(spark, StreamConfig(
      feedDir = s"$work/feed", tableDir = s"$work/t", checkpointDir = s"$work/cp",
      checkpointId = "http", maxFilesPerTrigger = 1,
      merge = MergeConfig(numBuckets = 4)))
      .select("doc_id", "tokens", "lsn").collect()
      .map(r => (r.getString(0), r.getSeq[Int](1), r.getLong(2))).toSet
    assert(got === Set(("a", Seq(3, 3), 3L), ("c", Seq(5), 5L)))
    // receiver restart resumes segment numbering after existing segments
    val srv2 = HttpFeedServer.start(spark, s"$work/feed", feedSchema)
    try {
      post(srv2, "/events", ev(7, "d", Ops.Insert, Seq(7))): Unit
      assert(srv2.flush()._1 === 2L)
    } finally srv2.stop()
  }

  test("garbage lines divert to _rejects and never reach the feed segment") {
    val work = tmpDir("http-rejects")
    withServer(s"$work/feed") { srv =>
      // 2 valid events + raw garbage + a JSON object missing the key:
      // everything is 202-accepted (ingress contract), but only the valid
      // rows may land in the segment the stream tails
      post(srv, "/events", Seq(
        ev(1, "a", Ops.Insert, Seq(1)),
        "this is not json",
        """{"lsn":9,"op":"U","tokens":[1],"n_tok":1,"source":"http"}""", // null doc_id
        ev(2, "b", Ops.Insert, Seq(2))).mkString("\n")): Unit
      val r = post(srv, "/flush", "")
      assert(r.statusCode() === 200 && r.body().contains("\"rows\":2"), r.body())
    }
    val seg = spark.read.schema(feedSchema).parquet(s"$work/feed/seg=0")
    assert(seg.count() === 2)
    assert(seg.filter(col("doc_id").isNull || col("lsn").isNull).count() === 0)
    val rejects = spark.read.json(s"$work/feed/_rejects/seg=0")
    assert(rejects.count() === 2)
  }

  test("rejects carry the raw line, and a line with an unknown key is rejected, not truncated") {
    val work = tmpDir("http-unknown")
    val bad = Seq(
      "{not json",
      """{"lsn":3,"doc_id":"c","op":"I","tokens":[3],"n_tok":1,"source":"http","extra":7}""",
      """{"lsn":4,"doc_id":null,"op":"I","tokens":[4],"n_tok":1,"source":"http"}""",
      """{"lsn":5,"doc_id":"e","op":"WAT","tokens":[5],"n_tok":1,"source":"http"}""",
      """[1, 2]""")
    withServer(s"$work/feed") { srv =>
      post(srv, "/events", (Seq(ev(1, "a", Ops.Insert, Seq(1))) ++ bad ++
        Seq(ev(2, "b", Ops.Insert, Seq(2)))).mkString("\n")): Unit
      assert(srv.flush() === ((0L, 2L)))
    }
    val seg = spark.read.parquet(s"$work/feed/seg=0")
    assert(seg.columns.toSeq === feedSchema.fieldNames.toSeq)
    assert(seg.select("doc_id").collect().map(_.getString(0)).toSeq === Seq("a", "b"))
    val raw = spark.read.schema(StructType(Seq(StructField(HttpFeedServer.RejectField, StringType))))
      .json(s"$work/feed/_rejects/seg=0").collect().map(_.getString(0)).toSeq
    assert(raw.sorted === bad.sorted)
  }

  test("a flush runs no Spark job") {
    val work = tmpDir("http-nojob")
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet(): Unit
    }
    withServer(s"$work/feed") { srv =>
      // the first flush also pays class loading; count the second too
      (0 until 2).foreach { k =>
        post(srv, "/events", shuffledEvents(300).mkString("\n") + "\nnot json"): Unit
        org.apache.spark.ListenerBusDrain(spark.sparkContext)
        spark.sparkContext.addSparkListener(listener)
        try {
          assert(post(srv, "/flush", "").body() === s"""{"seg":$k,"rows":300}""")
          org.apache.spark.ListenerBusDrain(spark.sparkContext)
        } finally spark.sparkContext.removeSparkListener(listener)
      }
    }
    assert(jobs.get === 0)
  }

  test("a segment is one parquet file in LSN order, equal to the posted events, as a Spark write") {
    val work = tmpDir("http-seg")
    val lines = shuffledEvents(600)
    // the wire schema declares non-null fields and elements
    withServer(s"$work/feed", graft.model.Schemas.changeV1) { srv =>
      post(srv, "/events", lines.mkString("\n")): Unit
      assert(srv.flush() === ((0L, 600L)))
    }
    val segDir = new java.io.File(s"$work/feed/seg=0")
    val files = visible(segDir)
    assert(files.size === 1 && files.head.getName.endsWith(".parquet"), files)
    val seg = spark.read.parquet(segDir.getPath)
    // every field and element nullable, as Spark's JSON reader makes them
    assert(seg.schema === feedSchema)
    val rows = seg.collect()
    val lsns = rows.map(_.getLong(0)).toSeq
    assert(lsns === lsns.sorted, "one file, rows in LSN order")
    val want = spark.read.schema(feedSchema).json(spark.createDataset(lines)(
      org.apache.spark.sql.Encoders.STRING))
    assert(seg.exceptAll(want).isEmpty && want.exceptAll(seg).isEmpty)

    // the footer matches what a Spark job writes for the same rows
    val byJob = s"$work/by-job"
    want.coalesce(1).sortWithinPartitions("lsn").write.parquet(byJob)
    def footer(dir: String) = {
      val f = visible(new java.io.File(dir)).find(_.getName.endsWith(".parquet")).get
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f.getPath),
        spark.sparkContext.hadoopConfiguration))
      try {
        val m = r.getFileMetaData
        (m.getSchema, m.getKeyValueMetaData.asScala.toMap)
      } finally r.close()
    }
    assert(footer(segDir.getPath) === footer(byJob))
  }

  test("no segment is visible under the feed directory before it is complete") {
    val work = tmpDir("http-atomic")
    val feedDir = new java.io.File(s"$work/feed")
    val conf = spark.sparkContext.hadoopConfiguration
    @volatile var done = false
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    // lists the feed as the stream would, while the flushes run: every
    // visible segment must already hold its one complete parquet file
    val watcher = new Thread(() => {
      while (!done) visible(feedDir).foreach { d =>
        val files = visible(d)
        val complete = files.size == 1 && files.head.getName.endsWith(".parquet") &&
          scala.util.Try(ParquetFileReader.open(HadoopInputFile.fromPath(
            new Path(files.head.getPath), conf)).close()).isSuccess
        if (!complete) seen.add(s"${d.getName}: ${files.map(_.getName).mkString(",")}")
      }
    })
    withServer(feedDir.getPath) { srv =>
      watcher.start()
      try (0 until 8).foreach { k =>
        post(srv, "/events", shuffledEvents(900).mkString("\n")): Unit
        assert(srv.flush()._1 === k.toLong)
      } finally { done = true; watcher.join() }
    }
    assert(seen.isEmpty, seen.asScala.take(5).mkString("; "))
    assert(visible(feedDir).map(_.getName).sorted === (0 until 8).map(k => s"seg=$k"))
    assert(feedDir.list().forall(n => !n.startsWith(".tmp")), "no temp dir left behind")
  }

  test("a throwing segment write keeps the buffer and the segment number") {
    val work = tmpDir("http-fail")
    val lines = shuffledEvents(90)
    val codec = "spark.sql.parquet.compression.codec"
    withServer(s"$work/feed") { srv =>
      post(srv, "/events", lines.mkString("\n")): Unit
      // a codec whose classes are not on the classpath: the writer throws
      spark.conf.set(codec, "lzo")
      val failed =
        try post(srv, "/flush", "")
        finally spark.conf.unset(codec)
      assert(failed.statusCode() === 500, failed.body())
      assert(visible(new java.io.File(s"$work/feed")).isEmpty, "nothing published")
      // the next flush sends the same events as the same segment
      assert(srv.flush() === ((0L, 90L)))
    }
    assert(spark.read.parquet(s"$work/feed/seg=0").count() === 90)
  }
}
