package graft.tools

import graft.SparkEntry
import org.apache.spark.sql.SparkSession

/** Round-6 optimization harness (guide §1.4): time catalog queries in
  * isolation with the noop sink (computes every column of every row,
  * pays no output cost) and optionally dump `.explain("formatted")`
  * plans, without touching the FROZEN `graft.Bench`.
  *
  * usage: runMain graft.tools.BenchExtra [--count] [--plans <dir> <suffix>]
  *          [--reps N] [--cpus N] [--sf dir] <query|all> ...
  *
  *  --count        time with .count() (the frozen bench's action) instead
  *                 of the noop sink
  *  --plans d sfx  write d/<query>_<sfx>.txt with the formatted plan
  *  --cpus N       local[N] (default SPARK_GRAFT_CPUS, else all cores)
  *  --sf dir       input tables (default SPARK_GRAFT_SF_DIR; required)
  */
object BenchExtra {
  private val usage =
    "usage: graft.tools.BenchExtra [--count] [--plans <dir> <suffix>] " +
      "[--reps N] [--cpus N] [--sf dir] <query|all> ...\n" +
      "  --sf (or SPARK_GRAFT_SF_DIR) names the input-table directory"

  def main(args: Array[String]): Unit = {
    var reps = 2
    var cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    var sfOpt = sys.env.get("SPARK_GRAFT_SF_DIR")
    var plansDir: Option[(String, String)] = None
    var useCount = false
    val names = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--reps" => reps = args(i + 1).toInt; i += 2
        case "--cpus" => cpus = args(i + 1).toInt; i += 2
        case "--sf" => sfOpt = Some(args(i + 1)); i += 2
        case "--plans" => plansDir = Some((args(i + 1), args(i + 2))); i += 3
        case "--count" => useCount = true; i += 1
        case q => names += q; i += 1
      }
    }
    val sfDir = sfOpt.getOrElse { System.err.println(usage); sys.exit(2) }
    val all = SparkEntry.queries
    val picked =
      if (names.isEmpty || names.contains("all")) all.keys.toSeq.sorted
      else names.toSeq
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-bench-extra")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    picked.foreach { name =>
      val fn = all.getOrElse(name, sys.error(s"no such query: $name"))
      plansDir.foreach { case (dir, sfx) =>
        val df = fn(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        val p = java.nio.file.Paths.get(dir, s"${name}_$sfx.txt")
        java.nio.file.Files.createDirectories(p.getParent)
        java.nio.file.Files.writeString(p, plan)
        println(s"[extra] plan -> $p")
      }
      (1 to reps).foreach { r =>
        spark.sparkContext.setJobDescription(s"$name rep$r")
        val t0 = System.nanoTime()
        try {
          val df = fn(spark, sfDir)
          val n = if (useCount) df.count()
            else { df.write.format("noop").mode("overwrite").save(); -1L }
          println(f"[extra] $name rep$r: ${(System.nanoTime() - t0) / 1e9}%.3f s" +
            (if (n >= 0) s" ($n rows)" else ""))
        } catch {
          case e: Throwable =>
            println(f"[extra] $name rep$r: FAILED after " +
              f"${(System.nanoTime() - t0) / 1e9}%.3f s: ${e.getMessage.take(200)}")
        }
        spark.sparkContext.setJobDescription(null)
      }
    }
    spark.stop()
  }
}
