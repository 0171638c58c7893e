package graft.util

import org.apache.spark.sql.SparkSession

/** Names the Spark jobs of one engine step: every job that `body` starts
  * on this thread carries the description `graft <step>`, so a listener
  * (or the UI) can tell which step ran it. The caller's description is
  * restored afterwards. The job group is never touched: a streaming query
  * cancels its micro-batch through it.
  */
object JobDescription {
  val Prefix = "graft "
  private val Key = "spark.job.description"

  def apply[T](spark: SparkSession, step: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Key)
    sc.setJobDescription(Prefix + step)
    try body
    finally sc.setLocalProperty(Key, prev)
  }
}
