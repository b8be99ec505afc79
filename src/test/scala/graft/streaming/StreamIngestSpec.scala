package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ingest.Coerce
import graft.ops.Enrich
import graft.pipeline.Pipeline
import graft.queries.Registry

class StreamIngestSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString

  test("drop-folder contract: each file processed exactly once through the pipeline") {
    val src = tmp("graft-stream-src")
    val archive = tmp("graft-stream-archive")
    val ckpt = tmp("graft-stream-ckpt")
    val out = tmp("graft-stream-out")

    // two "report drops" as single parquet FILES in the drop folder (the
    // file stream source lists plain files, mirroring the reference's
    // one-workbook-per-drop contract)
    def dropFile(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val stage = tmp("graft-stage")
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, java.nio.file.Paths.get(src, name))
    }
    val fixture = graft.pipeline.PipelineFixture.raw(spark)
    dropFile(fixture.filter(col(graft.model.TransferSchema.rowIdxCol) <= 5), "drop1.parquet")
    dropFile(fixture.filter(col(graft.model.TransferSchema.rowIdxCol) > 5), "drop2.parquet")

    def run(): Unit = {
      val q = StreamIngest.runDropFolder(spark, src, archive, ckpt) { (batch, _) =>
        if (!batch.isEmpty)
          Pipeline.resolve(Enrich(Coerce(batch)))
            .write.mode("append").parquet(out)
      }
      q.awaitTermination()
    }
    run()
    val n1 = spark.read.parquet(out).count()
    assert(n1 === 8) // 10 raw rows, upsert collapses 2 within the batch set
    // source files archived to processed/ (the reference's move contract)
    assert(new java.io.File(src).listFiles().count(_.getName.endsWith(".parquet")) === 0)
    assert(new java.io.File(archive).listFiles().count(_.getName.endsWith(".parquet")) === 2)

    // re-run with same checkpoint: no new files → no reprocessing
    run()
    assert(spark.read.parquet(out).count() === n1)
  }

  test("workbook drop-folder: .xlsx and .xls stream through the pipeline exactly once") {
    val src = tmp("graft-wb-src")
    val archive = tmp("graft-wb-archive")
    val ckpt = tmp("graft-wb-ckpt")
    val out = tmp("graft-wb-out")

    def row(fn: String, id: String, status: String): Seq[String] =
      Seq(fn, "1", "", id, "", "", "", "", "", "", "", "", "", "", "",
        status, "", "", "")
    val headers = graft.model.TransferSchema.excelHeaders
    graft.ingest.XlsxFixture.write(new java.io.File(src, "JobA.xlsx"), Seq(
      "Transfer Report" -> Seq(headers, row("A/x.txt", "1", "s1"), row("A/y.txt", "2", "s2"))))
    graft.ingest.XlsFixture.write(new java.io.File(src, "JobB.xls"), Seq(
      "Transfer Report" -> Seq(headers, row("B/z.txt", "3", "s3"))))
    // hygiene: an Office lock file and a prior extractor output in the drop
    // folder must be neither ingested nor archived away
    graft.ingest.XlsxFixture.write(new java.io.File(src, "~$JobA.xlsx"), Seq(
      "Transfer Report" -> Seq(headers, row("LOCK/file.txt", "9", "s9"))))
    graft.ingest.XlsxFixture.write(new java.io.File(src, "Transfer-Overview-Old.xlsx"), Seq(
      "Transfer Report" -> Seq(headers, row("OVW/file.txt", "8", "s8"))))

    def run(): Unit = {
      val q = StreamIngest.runWorkbookDropFolder(spark, src, archive, ckpt) { (batch, _) =>
        if (!batch.isEmpty)
          Pipeline.resolve(Enrich(Coerce(batch)))
            .write.mode("append").parquet(out)
      }
      q.awaitTermination()
    }
    run()
    val got = spark.read.parquet(out)
    assert(got.count() === 3)
    assert(got.select("file_name").as[String].collect().toSet ===
      Set("A/x.txt", "A/y.txt", "B/z.txt"))
    assert(got.filter($"file_name" === "B/z.txt").head.getAs[String]("job_name") === "JobB")
    // both REAL workbooks archived; the lock file and extractor output
    // remain untouched in the drop folder
    assert(new java.io.File(src).listFiles().map(_.getName).sorted.toSeq ===
      Seq("Transfer-Overview-Old.xlsx", "~$JobA.xlsx"))
    assert(new java.io.File(archive).listFiles().length === 2)
    // re-run with same checkpoint: nothing new → no reprocessing
    run()
    assert(spark.read.parquet(out).count() === 3)
  }

  test("streaming DSIR scoring: narrow scorer on a stream equals the batch weights") {
    // the narrow scorer is stateless (one broadcast table, no shuffle), so
    // it must drop into a micro-batch unchanged — the scaladoc's
    // stream-safe claim, pinned
    val srcDir = tmp("graft-dsir-stream")
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs.write.mode("overwrite").parquet(srcDir)
    val ratios = graft.ops.Importance.hashedRatioTable(
      docs.filter(col("lang") === "en"), docs, "text")

    val stream = spark.readStream.schema(docs.schema).parquet(srcDir)
    val scored = graft.ops.Importance.importanceWeightsNarrow(
      stream, "doc_id", "text", ratios)
      .select("doc_id", "weight_micro")
    val q = scored.writeStream.outputMode("append")
      .format("memory").queryName("dsir_out").start()
    q.processAllAvailable(); q.stop()

    val got = spark.table("dsir_out").orderBy("doc_id")
      .collect().map(_.toSeq).toSeq
    val want = graft.ops.Importance.importanceWeightsNarrow(
      docs, "doc_id", "text", ratios)
      .select("doc_id", "weight_micro").orderBy("doc_id")
      .collect().map(_.toSeq).toSeq
    assert(got === want)
  }

  test("streaming dedup: watermarked state drops duplicate event_ids exactly-once") {
    val srcDir = tmp("graft-dup-events")
    val events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .transform(Registry.microsTs)
    // ship every event twice — the stream must emit each id once
    events.union(events).write.mode("overwrite").parquet(srcDir)
    val stream = spark.readStream.schema(events.schema).parquet(srcDir)
    val q = StreamIngest.dedupEvents(stream).writeStream
      .outputMode("append").format("memory").queryName("dedup_out").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("dedup_out")
    assert(got.count() === events.count())
    assert(got.select("event_id").distinct().count() === got.count())
  }

  test("mapGroupsWithState: running per-user totals equal the batch aggregate") {
    val srcDir = tmp("graft-state-events")
    val events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .transform(Registry.microsTs)
    events.write.mode("overwrite").parquet(srcDir)
    val stream = spark.readStream.schema(events.schema).parquet(srcDir)
    val q = StreamIngest.runningUserTotals(spark, stream).writeStream
      .outputMode("update").format("memory").queryName("state_out").start()
    q.processAllAvailable(); q.stop()
    // single batch → latest update per user == the ORACLED registry
    // anchor (q_user_totals): the custom-state path converges to a
    // DuckDB-gated frame, not just a local re-aggregate. Counts match
    // exactly; the value total within float tolerance (the state fold
    // accumulates raw doubles in arrival order, the anchor sums
    // decimal-exact — ulp-level drift is inherent to the double fold)
    val got = spark.table("state_out")
      .groupBy("user_id").agg(max("n_events").as("n"),
        max("total_value").as("v"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val want = Registry.qUserTotals(spark, "/root/testdata/sf0.001")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got.keySet === want.keySet)
    got.foreach { case (u, (n, v)) =>
      assert(n === want(u)._1, s"user $u count")
      assert(math.abs(v - want(u)._2) < 1e-6, s"user $u total: $v vs ${want(u)._2}")
    }
  }

  test("stream-stream range join: attribution matches the identical batch join") {
    val srcDir = tmp("graft-ss-events")
    val events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .transform(Registry.microsTs)
    val views = events.filter(col("event_type") === "view")
    val buys = events.filter(col("event_type") === "purchase")
    views.write.mode("overwrite").parquet(s"$srcDir/l")
    buys.write.mode("overwrite").parquet(s"$srcDir/r")
    val lStream = spark.readStream.schema(events.schema).parquet(s"$srcDir/l")
    val rStream = spark.readStream.schema(events.schema).parquet(s"$srcDir/r")
    val q = StreamIngest.correlatedEvents(lStream, rStream).writeStream
      .outputMode("append").format("memory").queryName("ss_join_out").start()
    q.processAllAvailable(); q.stop()
    // anchor on the ORACLED registry row (q_event_attribution), full rows:
    // the watermarked state-store emission is transitively DuckDB-gated
    val got = spark.table("ss_join_out").collect().map(_.toSeq).toSet
    val want = Registry.qEventAttribution(spark, "/root/testdata/sf0.001")
      .collect().map(_.toSeq).toSet
    assert(got === want, s"stream join emitted ${got.size} pairs, batch ${want.size}")
    assert(want.nonEmpty, "fixture should produce at least one attribution pair")
  }

  test("user sessions: gap-based session windows produce bounded sessions") {
    val events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .transform(Registry.microsTs)
    val sessions = StreamIngest.userSessions(events, gap = "30 minutes")
    val rows = sessions.collect()
    assert(rows.nonEmpty)
    // sessions are per-user, non-overlapping, end > start
    rows.foreach { r =>
      assert(r.getAs[java.sql.Timestamp]("session_end")
        .after(r.getAs[java.sql.Timestamp]("session_start")))
    }
    val total = sessions.agg(sum("n_events")).head.getLong(0)
    assert(total === events.count())
  }
}
