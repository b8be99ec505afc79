package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.streaming.MergeSink

/** Scale probe for the bucketed merge sink: build a large keyed state, then
  * merge a small batch and compare wall-clock + rewritten-file count against
  * the state size. The property under test is the one that matters at scale — a drop-folder
  * batch costs O(batch + dirty buckets), not O(total state).
  *
  * `sbt "runMain graft.tools.MergeScale [stateRows] [batchRows] [buckets]"`
  */
object MergeScale {

  private def synthetic(spark: SparkSession, n: Long, tag: String): DataFrame =
    spark.range(n).select(
      concat(lit("Root/dir"), (col("id") % 9973).cast("string"),
        lit("/f"), col("id").cast("string"), lit(".dat")).as("file_name"),
      col("id").cast("string").as("target_file_id"),
      lit(tag).as("file_status"),
      lit("Job.xlsx").as("_src_file"),
      lit("Transfer Report").as("_sheet"),
      (col("id") + 1).as("_row_idx"))

  private def parquetFiles(dir: String): Map[String, Long] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(new java.io.File(dir)).filter(_.getName.startsWith("part-"))
      .map(f => f.getPath -> f.lastModified()).toMap
  }

  def main(args: Array[String]): Unit = {
    val stateRows = args.headOption.map(_.toLong).getOrElse(2000000L)
    // small by design: the dirty-bucket win is for incremental re-ships and
    // corrections; a batch with ≥~buckets distinct keys hashes into every
    // bucket and the merge degrades to the (correct) full-state rewrite
    val batchRows = args.drop(1).headOption.map(_.toLong).getOrElse(12L)
    val buckets = args.drop(2).headOption.map(_.toInt).getOrElse(64)
    val spark = graft.LocalSpark()

    val state = Files.createTempDirectory("graft-mergescale").toString + "/state"
    var t0 = System.nanoTime()
    val n0 = MergeSink.merge(spark, synthetic(spark, stateRows, "loaded"), state, buckets)
    val initSec = (System.nanoTime() - t0) / 1e9
    println(f"=== initial state: $n0%,d rows / $buckets buckets in $initSec%.1f s ===")

    val before = parquetFiles(state)
    // the batch touches a contiguous key slice → a subset of buckets
    val batch = synthetic(spark, batchRows, "retouched")
    t0 = System.nanoTime()
    val n1 = MergeSink.merge(spark, batch, state, buckets)
    val mergeSec = (System.nanoTime() - t0) / 1e9
    val after = parquetFiles(state)
    val untouched = before.count { case (p, m) => after.get(p).contains(m) }
    println(f"=== merge of $batchRows%,d rows into $n1%,d-row state: $mergeSec%.1f s; " +
      f"${before.size - untouched}%,d of ${before.size}%,d state files rewritten ===")
    println(f"=== merge/initial time ratio: ${mergeSec / initSec}%.2f " +
      f"(1.0 would mean O(state) rewrite) ===")
    spark.stop()
  }
}
