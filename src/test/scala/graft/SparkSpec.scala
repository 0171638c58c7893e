package graft

import graft.changegen.{ChangeGen, RawEvent}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Shared local session for all suites (one JVM-wide session; suites grab
  * it lazily).
  */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Descriptions of the Spark jobs started inside `body`. */
  def jobDescriptions(body: => Unit): Seq[String] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        seen.add(String.valueOf(Option(e.properties)
          .map(_.getProperty("spark.job.description")).orNull)): Unit
    }
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    seen.asScala.toSeq
  }

  /** `live` (a table's live rows) holds one row per key, equal in `lsn`
    * and `tokens` to the independent fold of `events`.
    */
  def assertOracle(live: DataFrame, events: Seq[RawEvent]): Unit = {
    val got = live.select("doc_id", "lsn", "tokens").collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), Option(r.getSeq[Int](2)).getOrElse(Seq.empty[Int]))))
    assert(got.length === got.map(_._1).distinct.length, "one live row per key")
    val want = ChangeGen.oracleFinalState(events).map { case (k, e) =>
      k -> ((e.lsn, Option(e.tokens).map(_.toSeq).getOrElse(Seq.empty[Int])))
    }
    assert(got.toMap === want)
  }
}
