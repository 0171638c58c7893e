package graft.tools

import graft.changegen.{ChangeGen, FeedConfig}
import graft.merge.{MergeConfig, MergeInto}
import graft.table.LakeTable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Print formatted physical plans for the hot paths — the review loop for
  * shuffle/broadcast/pushdown hygiene:
  *
  * {{{ sbt "runMain graft.tools.Explain [--sf dir] [queryName ...]" }}}
  *
  * With no query names: dumps the MERGE kernel's dedupe+join plan
  * (broadcast and shuffle variants) plus a default set of catalog queries.
  * The catalog queries read `--sf dir` (default SPARK_GRAFT_SF_DIR;
  * required).
  */
object Explain {
  def main(argv: Array[String]): Unit = {
    val (sfOpt, args) = argv.toSeq match {
      case "--sf" +: dir +: rest => (Some(dir), rest)
      case rest => (sys.env.get("SPARK_GRAFT_SF_DIR"), rest)
    }
    val sfDir = sfOpt.getOrElse {
      System.err.println("usage: graft.tools.Explain [--sf dir] [queryName ...]\n" +
        "  --sf (or SPARK_GRAFT_SF_DIR) names the input-table directory")
      sys.exit(2)
    }
    val spark = SparkSession.builder()
      .master("local[8]")
      .appName("graft-explain")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    if (args.isEmpty) {
      // ---- MERGE kernel plans ----------------------------------------
      val work = java.nio.file.Files.createTempDirectory("graft-explain").toString
      val feed = FeedConfig(numEvents = 20000, numKeys = 1000, eventsPerSegment = 10000)
      val Seq(phase) = ChangeGen.writeFeed(spark, s"$work/feed", feed)
      val batch0 = spark.read.parquet(phase).filter(col("seg") === 0).drop("seg")
      // seed the table so batch 1 exercises the matched path
      MergeInto.apply(spark, LakeTable(s"$work/t"), batch0, "x", 0,
        MergeConfig(numBuckets = 8))
      val batch1 = spark.read.parquet(phase).filter(col("seg") === 1).drop("seg")

      println("==== dedupe (salted two-stage window) ====")
      MergeInto.dedupeLatest(batch1, saltFactor = 16).explain("formatted")
      println("==== dedupe (plain window) ====")
      MergeInto.dedupeLatest(batch1, saltFactor = 0).explain("formatted")
      println("==== table read (bucket-pruned, live rows) ====")
      LakeTable(s"$work/t").read(spark, Some(Set(0, 1))).explain("formatted")
      println("==== table read with merge-on-read deltas (scan-time LWW resolve) ====")
      val batch2 = batch1.limit(500)
      MergeInto.apply(spark, LakeTable(s"$work/t"), batch2, "x", 1,
        MergeConfig(numBuckets = 8, deltaAppendThreshold = 1000L))
      LakeTable(s"$work/t").read(spark).explain("formatted")
    }

    val names = if (args.nonEmpty) args else Seq(
      "cdc_dedupe_lww", "join_revenue_by_nation", "dedup_ngram_jaccard",
      "ann_bruteforce_topk", "window_topk_per_user",
      "ann_lsh_topk", "match_fuzzy", "csv_parse_route", "edges_emit")
    names.foreach { n =>
      graft.SparkEntry.queries.get(n).foreach { fn =>
        println(s"==== query: $n ====")
        fn(spark, sfDir).explain("formatted")
      }
    }
    spark.stop()
  }
}
