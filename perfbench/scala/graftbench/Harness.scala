package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import java.io.File
import scala.collection.mutable

/** Plain `key=value` command-line arguments. */
final class Args(argv: Array[String]) {
  private val kv: Map[String, String] = argv.toSeq.map { a =>
    val i = a.indexOf('=')
    require(i > 0, s"expected key=value, got '$a'")
    a.take(i) -> a.drop(i + 1)
  }.toMap
  def str(k: String): String = kv.getOrElse(k, sys.error(s"missing argument $k"))
  def str(k: String, d: String): String = kv.getOrElse(k, d)
  def int(k: String, d: Int): Int = kv.get(k).map(_.toInt).getOrElse(d)
  def long(k: String, d: Long): Long = kv.get(k).map(_.toLong).getOrElse(d)
  def double(k: String, d: Double): Double = kv.get(k).map(_.toDouble).getOrElse(d)
  def bool(k: String, d: Boolean): Boolean = kv.get(k).map(_ == "1").getOrElse(d)
}

object Stats {

  /** Median (mean of the middle two for an even count). */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** Metrics the JVM hands back to `run.py`: plain numbers by name. */
final class Report {
  val metrics: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  var attempted = 0L
  var failed = 0L
  val errors: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty

  /** Record a metric; NaN (e.g. a p90 of fewer than 100 samples) is left out. */
  def put(name: String, v: Double): Unit = if (!v.isNaN) metrics(name) = v
  def fail(msg: String): Unit = { failed += 1; errors += msg; Log(s"FAILED: $msg") }

  def json: String = {
    def num(d: Double) =
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    val ms = metrics.map { case (k, v) => s""""$k":${num(v)}""" }.mkString("{", ",", "}")
    val es = errors.take(20).map(graft.util.IoUtil.jsonString).mkString("[", ",", "]")
    s"""{"attempted":$attempted,"failed":$failed,"errors":$es,"metrics":$ms}"""
  }
}

object Log {
  private val t0 = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  def apply(msg: String): Unit =
    System.err.println(f"[graftbench ${(System.currentTimeMillis() - t0) / 1e3}%7.2f] $msg")
}

object Clock {
  def now(): Long = System.nanoTime()
  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  def time[T](f: => T): (T, Double) = { val t0 = now(); val r = f; (r, secs(t0)) }
}

/** Host health and ceilings sampled next to the timed window. */
object Host {
  def nproc: Int = Runtime.getRuntime.availableProcessors()

  /** Whole-host jiffies (user, nice, system, idle, iowait, irq, softirq,
    * steal) from /proc/stat, or None where it is unreadable.
    */
  def jiffies(): Option[Array[Long]] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try Some(src.getLines().next().trim.split("\\s+").drop(1).take(8).map(_.toLong))
        .filter(_.length == 8)
      finally src.close()
    } catch { case _: Exception => None }

  /** (sys fraction, steal fraction) of host CPU between two samples. */
  def sysSteal(a: Option[Array[Long]], b: Option[Array[Long]]): (Double, Double) =
    (a, b) match {
      case (Some(x), Some(y)) =>
        val d = y.zip(x).map { case (p, q) => (p - q).max(0L).toDouble }
        val tot = d.sum.max(1.0)
        ((d(2) + d(5) + d(6)) / tot, d(7) / tot)
      case _ => (0.0, 0.0)
    }

  /** Peak resident set of this JVM in MiB (VmHWM). */
  def peakRssMb(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
      finally src.close()
    } catch { case _: Exception => 0.0 }

  private def parallel(threads: Int)(body: Int => Double): Double = {
    val out = new Array[Double](threads)
    val ts = (0 until threads).map { i =>
      val t = new Thread(() => out(i) = body(i))
      t.start(); t
    }
    ts.foreach(_.join())
    out.sum
  }

  /** Register-only spin iterations per second over `threads` threads. */
  def spinRate(threads: Int, seconds: Double = 0.15): Double = parallel(threads) { _ =>
    val t0 = System.nanoTime()
    val end = t0 + (seconds * 1e9).toLong
    var x = 1L
    var n = 0L
    while (System.nanoTime() < end) {
      var i = 0
      while (i < 100000) { x = x * 6364136223846793005L + 1442695040888963407L; i += 1 }
      n += 100000
    }
    if (x == 42) Log("")
    n / ((System.nanoTime() - t0) / 1e9)
  }

  /** Streaming-read bandwidth in GB/s over `threads` threads, each
    * summing its own 32 MiB array.
    */
  def memBw(threads: Int, seconds: Double = 0.15): Double = parallel(threads) { _ =>
    val a = Array.fill(4 << 20)(1L)
    val t0 = System.nanoTime()
    val end = t0 + (seconds * 1e9).toLong
    var bytes = 0L
    var s = 0L
    while (System.nanoTime() < end) {
      var i = 0
      while (i < a.length) { s += a(i); i += 1 }
      bytes += a.length * 8L
    }
    if (s == 42) Log("")
    bytes / ((System.nanoTime() - t0) / 1e9) / 1e9
  }

  /** Ceilings at 1 and nproc threads as per-layer `host.*` metrics. */
  def stamp(r: Report): Unit = {
    r.put("host.spin_rate_1", spinRate(1))
    r.put("host.spin_rate_n", spinRate(nproc))
    r.put("host.membw_gbs_1", memBw(1))
    r.put("host.membw_gbs_n", memBw(nproc))
  }
}

object Session {
  def apply(cores: Int, localDir: String): SparkSession = {
    require(cores >= 1 && cores <= Host.nproc,
      s"parallelism $cores outside 1..${Host.nproc}")
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graftbench-$cores")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

object Files {
  def rm(path: String): Unit = graft.util.IoUtil.deleteRecursively(new File(path))

  /** Bytes of the regular files under `path` (recursively). */
  def bytes(path: String): Long = {
    val f = new File(path)
    if (f.isFile) f.length()
    else Option(f.listFiles).toSeq.flatten.map(c => bytes(c.getPath)).sum
  }

  /** Local path of a (possibly `file:`-qualified) table or data path. */
  def local(p: String): String = new org.apache.hadoop.fs.Path(p).toUri.getPath

  def bytesOfUri(p: String): Long = bytes(local(p))
}

/** In-memory spans plus a SparkListener that charges jobs, stages and
  * task metrics to the span or stream micro-batch that submitted them.
  *
  * A span is a (name, group, parent, start, end) record; spans of one
  * batch or query share a group id. The span id rides on the submitting
  * thread's Spark local property, so a job started inside a span is
  * charged to the innermost open span of that thread. A job that a
  * Structured Streaming query runs carries the query and batch ids instead
  * and is charged to that micro-batch. Counters are read after draining
  * the listener bus, once, when the run ends.
  */
object Tracer {
  final case class Span(id: Int, name: String, group: Long, parent: Int,
      t0Ns: Long, t1Ns: Long, t0Ms: Long, t1Ms: Long) {
    def secs: Double = (t1Ns - t0Ns) / 1e9
  }
  final class Acc {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var cpuNs = 0L; var gcMs = 0L; var shuffleBytes = 0L
    var spillBytes = 0L; var writtenBytes = 0L
    def add(a: Acc): Unit = {
      jobs += a.jobs; stages += a.stages; tasks += a.tasks
      cpuNs += a.cpuNs; gcMs += a.gcMs; shuffleBytes += a.shuffleBytes
      spillBytes += a.spillBytes; writtenBytes += a.writtenBytes
    }
  }
  /** A tracer that records nothing: untraced calls and warm-up. */
  val Off = new Tracer(false)

  /** Local properties Structured Streaming sets on every job of a
    * micro-batch: the batch id and the id of the query that runs it.
    */
  val StreamBatchKey = "streaming.sql.batchId"
  val StreamQueryKey = "sql.streaming.queryId"

  /** Length of the union of `[a, b)` intervals. */
  def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curA = 0L; var curB = Long.MinValue
    iv.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = curB.max(b)
    }
    if (curB > curA) total += curB - curA
    total
  }
}

final class Tracer(val on: Boolean) {
  import Tracer.{Acc, Span}

  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private val open = new ThreadLocal[List[Int]] { override def initialValue() = Nil }
  private var nextId = 0
  /** Counters by owner: `s<span id>` or `b<stream query id>:<batch id>`. */
  private val accs = mutable.HashMap.empty[String, Acc]
  private val stageOwner = mutable.HashMap.empty[Int, String]
  private val jobStart = mutable.HashMap.empty[Int, (Long, String)]
  /** (start ms, end ms, owner or null) of every finished job. */
  private val jobs = mutable.ArrayBuffer.empty[(Long, Long, String)]
  private val Prop = "graftbench.span"
  private var sc: org.apache.spark.SparkContext = _

  def attach(spark: SparkSession): Unit = if (on) {
    sc = spark.sparkContext
    sc.addSparkListener(listener)
  }

  def span[T](name: String, group: Long)(f: => T): T =
    if (!on) f
    else {
      val id = synchronized { nextId += 1; nextId }
      val parents = open.get()
      val prevProp = if (sc != null) sc.getLocalProperty(Prop) else null
      open.set(id :: parents)
      if (sc != null) sc.setLocalProperty(Prop, id.toString)
      val t0 = System.nanoTime(); val m0 = System.currentTimeMillis()
      try f
      finally {
        val t1 = System.nanoTime(); val m1 = System.currentTimeMillis()
        open.set(parents)
        if (sc != null) sc.setLocalProperty(Prop, prevProp)
        synchronized {
          spans += Span(id, name, group, parents.headOption.getOrElse(0), t0, t1, m0, m1)
        }
      }
    }

  private def ownerOf(p: java.util.Properties): String =
    if (p == null) null
    else Option(p.getProperty(Prop)).map("s" + _)
      .orElse(Option(p.getProperty(Tracer.StreamBatchKey))
        .map(b => s"b${p.getProperty(Tracer.StreamQueryKey)}:$b")).orNull

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val owner = ownerOf(e.properties)
      jobStart(e.jobId) = (e.time, owner)
      if (owner != null) {
        accs.getOrElseUpdate(owner, new Acc).jobs += 1
        e.stageIds.foreach(stageOwner(_) = owner)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobStart.remove(e.jobId).foreach { case (t, owner) => jobs += ((t, e.time, owner)) }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        stageOwner.get(e.stageInfo.stageId).foreach(o => accs(o).stages += 1)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      stageOwner.get(e.stageId).foreach { o =>
        val a = accs(o)
        a.tasks += 1
        val m = e.taskMetrics
        if (m != null) {
          a.cpuNs += m.executorCpuTime
          a.gcMs += m.jvmGCTime
          a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          a.writtenBytes += m.outputMetrics.bytesWritten
        }
      }
    }
  }

  /** Deliver every queued listener event before counters are read. */
  def drain(): Unit = if (on && sc != null) org.apache.spark.BenchBus.drain(sc)

  def named(name: String): Seq[Span] = synchronized(spans.filter(_.name == name).toSeq)

  /** Counters charged to `s` and to every span nested in it. */
  def counters(s: Span): Acc = synchronized {
    val out = new Acc
    val byParent = spans.groupBy(_.parent)
    def walk(id: Int): Unit = {
      accs.get(s"s$id").foreach(out.add)
      byParent.getOrElse(id, Nil).foreach(c => walk(c.id))
    }
    walk(s.id)
    out
  }

  /** Counters charged to micro-batch `batchId` of stream query `query`. */
  def streamBatch(query: String, batchId: Long): Acc = synchronized {
    val out = new Acc
    accs.get(s"b$query:$batchId").foreach(out.add)
    out
  }

  /** Seconds during which a job of micro-batch `batchId` of `query` was running. */
  def streamBatchJobSecs(query: String, batchId: Long): Double = synchronized {
    val owner = s"b$query:$batchId"
    Tracer.covered(jobs.toSeq.filter(_._3 == owner).map(j => (j._1, j._2))) / 1000.0
  }

  /** Seconds of `s` during which no Spark job was running: the driver-side
    * serial floor of the call (planning, manifest I/O, commit).
    */
  def driverSecs(s: Span): Double = synchronized {
    val iv = jobs.toSeq.map { case (a, b, _) => (a.max(s.t0Ms), b.min(s.t1Ms)) }
    (s.secs - Tracer.covered(iv) / 1000.0).max(0.0)
  }

  /** Self time of `s`: its duration minus the part its children cover. */
  def selfSecs(s: Span): Double = synchronized {
    val kids = spans.toSeq.filter(_.parent == s.id).map(k => (k.t0Ns, k.t1Ns))
    (s.secs - Tracer.covered(kids) / 1e9).max(0.0)
  }

  /** Write every span as one JSON line (with its counters) to `path`. */
  def write(path: String): Unit = if (on) synchronized {
    new File(path).getParentFile.mkdirs()
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.sortBy(_.t0Ns).foreach { s =>
      val a = counters(s)
      w.println(s"""{"id":${s.id},"name":"${s.name}","group":${s.group},""" +
        s""""parent":${s.parent},"start_ms":${s.t0Ms},"end_ms":${s.t1Ms},""" +
        s""""dur_s":${s.secs},"self_s":${selfSecs(s)},"jobs":${a.jobs},""" +
        s""""stages":${a.stages},"tasks":${a.tasks},"cpu_s":${a.cpuNs / 1e9},""" +
        s""""gc_s":${a.gcMs / 1e3},"shuffle_bytes":${a.shuffleBytes},""" +
        s""""spill_bytes":${a.spillBytes},"bytes_written":${a.writtenBytes}}""")
    } finally w.close()
  }
}
