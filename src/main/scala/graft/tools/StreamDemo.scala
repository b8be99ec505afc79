package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.ingest.Coerce
import graft.ops.Enrich
import graft.pipeline.Pipeline
import graft.streaming.StreamIngest

/** Streaming demo: reproduces the reference's drop-folder lifecycle
  * (source/ → process once → archive to processed/) with the incremental
  * engine, then prints the resulting analytic state and the event-time
  * window/session queries over the events table.
  *
  * Usage: `sbt "runMain graft.tools.StreamDemo [workDir]"` — run it twice
  * against the same workDir to see exactly-once semantics (second run
  * processes nothing new).
  */
object StreamDemo {
  def main(args: Array[String]): Unit = {
    val work = args.headOption.getOrElse(
      Files.createTempDirectory("graft-stream-demo").toString)
    val spark = graft.LocalSpark()
    val (src, archive, ckpt, out) =
      (s"$work/source", s"$work/processed", s"$work/ckpt", s"$work/out")
    Files.createDirectories(Paths.get(src))

    // drop a report batch into source/ if none pending. Names must be fresh:
    // the file source's checkpoint tracks seen PATHS, so a re-dropped file
    // with an already-seen name is (correctly) never reprocessed.
    val srcEmpty = {
      val s = Files.list(Paths.get(src))
      try !s.findAny().isPresent finally s.close()
    }
    if (srcEmpty) {
      val archived = Option(new java.io.File(archive).listFiles()).map(_.length).getOrElse(0)
      val name = s"report${archived + 1}.parquet"
      val stage = s"$work/stage"
      Demo.writeFixture(spark, stage)
      val part = new java.io.File(s"$stage").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, Paths.get(src, name))
      println(s"=== dropped $name into $src ===")
    }

    val q = StreamIngest.runDropFolder(spark, src, archive, ckpt) { (batch, id) =>
      if (!batch.isEmpty) {
        val n = batch.count()
        println(s"=== batch $id: processing $n raw rows ===")
        // keyed merge: successive drops CONVERGE (reference INSERT OR REPLACE
        // semantics across runs), instead of appending
        val total = graft.streaming.MergeSink.merge(
          spark, Pipeline.resolve(Enrich(Coerce(batch))), out)
        println(s"=== merged state: $total keyed rows ===")
      }
    }
    q.awaitTermination()

    if (Files.exists(Paths.get(out))) {
      val df = spark.read.parquet(out)
      println(s"=== pipeline state: ${df.count()} resolved rows ===")
      df.select("file_name", "file_status", "level", "parent_id").show(20, truncate = false)
    } else println("=== no new files to process (exactly-once checkpoint) ===")

    // workbook drop-folder: REAL .xlsx files streaming through binaryFile +
    // the dependency-free reader — the reference's actual operating mode
    val (wbSrc, wbArch, wbCkpt) =
      (s"$work/wb-source", s"$work/wb-processed", s"$work/wb-ckpt")
    Files.createDirectories(Paths.get(wbSrc))
    val wbEmpty = {
      val s = Files.list(Paths.get(wbSrc))
      try !s.findAny().isPresent finally s.close()
    }
    if (wbEmpty) {
      val n = Option(new java.io.File(wbArch).listFiles()).map(_.length).getOrElse(0)
      graft.ingest.XlsxWriter.write(
        new java.io.File(wbSrc, s"Drop${n + 1}.xlsx"), "Transfer Report",
        graft.model.TransferSchema.excelHeaders,
        Iterator(
          Seq("WbRoot", "0", "", "2001", "", "", "45000.5") ++ Seq.fill(12)(""),
          Seq("WbRoot/a.txt", "77", "", "2002", "", "", "") ++ Seq.fill(12)("")))
      println(s"=== dropped Drop${n + 1}.xlsx into $wbSrc ===")
    }
    val wq = StreamIngest.runWorkbookDropFolder(spark, wbSrc, wbArch, wbCkpt) { (batch, id) =>
      if (!batch.isEmpty) {
        val resolved = Pipeline.resolve(Enrich(Coerce(batch)))
        println(s"=== workbook batch $id: ${resolved.count()} resolved rows " +
          "(xlsx → binaryFile stream → pipeline) ===")
      }
    }
    wq.awaitTermination()

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
