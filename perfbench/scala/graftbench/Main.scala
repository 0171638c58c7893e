package graftbench

/** One benchmark JVM: `graftbench.Main workload=<name> work=<dir> ...`.
  *
  * Runs one workload (or one bulk_merge parallelism level) and prints a
  * single `@@graftbench {json}` line on stdout with its counters and raw
  * metric values; `run.py` attaches units and prints the final result.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = new Args(argv)
    val workload = a.str("workload")
    if (workload == "selftest") { SelfTest.run(); return }
    val work = a.str("work")
    val spark = Session(a.int("cores", Host.nproc), s"$work/spark-local")
    Log("session ready")
    val r = new Report
    r.put("session_ready_ms", System.currentTimeMillis().toDouble)
    val tr = new Tracer(a.bool("trace", false))
    tr.attach(spark)
    try workload match {
      case "bulk_merge" => BulkMerge.run(spark, a, tr, r, work)
      case "trickle_delta" => TrickleDelta.run(spark, a, tr, r, work)
      case other => sys.error(s"unknown workload $other")
    } catch {
      case e: Throwable =>
        r.attempted += 1
        r.fail(s"$workload aborted: $e")
        e.printStackTrace()
    }
    if (tr.on) {
      Host.stamp(r)
      tr.write(a.str("trace_out", s"$work/trace.jsonl"))
    }
    r.put("peak_rss_mb", Host.peakRssMb())
    Log("done")
    println("@@graftbench " + r.json)
    System.out.flush()
    spark.stop()
  }
}
