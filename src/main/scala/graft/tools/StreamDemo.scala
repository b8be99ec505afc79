package graft.tools

import java.nio.file.{Files, Paths}

import graft.ingest.XlsxWriter
import graft.model.TransferSchema
import graft.streaming.{MergeSink, StreamIngest}

/** Streaming demo: reproduces the reference's drop-folder lifecycle
  * (source/ → import once → archive to processed/) with the incremental
  * engine, merging each batch into a keyed [[MergeSink]] state, then prints
  * that state and the event-time window/session queries over the events
  * table.
  *
  * Usage: `sbt "runMain graft.tools.StreamDemo [workDir]"`. A fresh workDir
  * gets two workbooks, one with a spaced name as the reference's reports
  * have. Run it twice against the same workDir to see exactly-once: the
  * second run imports nothing.
  */
object StreamDemo {
  def main(args: Array[String]): Unit = {
    val work = args.headOption.getOrElse(
      Files.createTempDirectory("graft-stream-demo").toString)
    val spark = graft.LocalSpark()
    val (src, archive, ckpt, out) =
      (s"$work/source", s"$work/processed", s"$work/ckpt", s"$work/out")
    Files.createDirectories(Paths.get(src))
    if (!Files.exists(Paths.get(ckpt))) {
      def drop(name: String, rows: Seq[String]*): Unit = {
        XlsxWriter.write(new java.io.File(src, name), "Transfer Report",
          TransferSchema.excelHeaders, rows.iterator)
        println(s"=== dropped $name into $src ===")
      }
      def row(cells: String*): Seq[String] = cells ++ Seq.fill(19 - cells.size)("")
      drop("Transfer Report 01 - JobA.xlsx",
        row("WbRoot", "0", "", "2001", "", "", "45000.5"),
        row("WbRoot/a.txt", "77", "", "2002"),
        row()) // all-blank key: quarantined
      drop("JobB.xlsx",
        // re-shipped key: the other file sorts later by name, so its row wins
        row("WbRoot/a.txt", "78", "", "2002"),
        row("WbRoot/b.txt", "5", "", "2003"))
    }

    val q = StreamIngest.runDropFolder(spark, src, archive, ckpt) {
      (resolved, quarantined, id) =>
        // keyed merge: successive drops CONVERGE (reference INSERT OR
        // REPLACE semantics across runs), instead of appending
        val total = MergeSink.merge(spark, resolved, out)
        println(s"=== batch $id: merged state $total keyed rows, " +
          s"${quarantined.count()} rows quarantined ===")
    }
    q.awaitTermination()
    if (q.recentProgress.forall(_.numInputRows == 0))
      println("=== no new files to import (exactly-once checkpoint) ===")
    if (Files.exists(Paths.get(out))) {
      val df = spark.read.parquet(out)
      println(s"=== merged state: ${df.count()} rows ===")
      df.select("file_name", "source_file_size", "job_name", "level", "parent_id")
        .orderBy("file_name").show(20, truncate = false)
    }

    println("=== event-time windows (first 5) ===")
    graft.queries.Registry.qEventWindows(spark, "/root/testdata/sf0.001").show(5)
    val events = graft.queries.Registry.microsTs(
      spark.read.parquet("/root/testdata/sf0.001/events.parquet"))
    println("=== user sessions (first 5) ===")
    StreamIngest.userSessions(events).orderBy("session_start", "user_id").show(5)

    // stateful streaming: watermarked dedup + custom running state, driven
    // synchronously over a doubled copy of the events table
    val dupDir = s"$work/events-doubled"
    events.union(events).write.mode("overwrite").parquet(dupDir)
    val stream = spark.readStream.schema(events.schema).parquet(dupDir)
    val dq = StreamIngest.dedupEvents(stream).writeStream
      .outputMode("append").format("memory").queryName("sd_dedup").start()
    dq.processAllAvailable(); dq.stop()
    println(s"=== streaming dedup: ${events.count() * 2} in → " +
      s"${spark.table("sd_dedup").count()} unique out ===")
    val sq = StreamIngest.runningUserTotals(spark,
      spark.readStream.schema(events.schema).parquet(dupDir)).writeStream
      .outputMode("update").format("memory").queryName("sd_state").start()
    sq.processAllAvailable(); sq.stop()
    println("=== mapGroupsWithState running totals (first 5 users) ===")
    spark.table("sd_state").orderBy("user_id").show(5)
    spark.stop()
  }
}
