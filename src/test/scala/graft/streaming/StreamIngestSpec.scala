package graft.streaming

import java.io.File
import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.datasources.binaryfile.BinaryFileFormat
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ingest.{WorkbookRawSource, XlsFixture, XlsxFixture}
import graft.pipeline.Pipeline
import graft.queries.Registry

class StreamIngestSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString

  private def row(fn: String, id: String, status: String): Seq[String] =
    Seq(fn, "1", "", id, "", "", "", "", "", "", "", "", "", "", "",
      status, "", "", "")
  private val headers = graft.model.TransferSchema.excelHeaders
  private def xlsx(dir: String, name: String, rows: Seq[String]*): Unit =
    XlsxFixture.write(new File(dir, name), Seq("Transfer Report" -> (headers +: rows)))
  private def xls(dir: String, name: String, rows: Seq[String]*): Unit =
    XlsFixture.write(new File(dir, name), Seq("Transfer Report" -> (headers +: rows)))
  private def names(dir: String): Seq[String] =
    Option(new File(dir).listFiles()).toSeq.flatten.map(_.getName).sorted

  /** One drop-folder run to termination; the batch ids that imported, in
    * order. Each batch's resolved rows are appended to `out`.
    */
  private def runDrop(src: String, archive: String, ckpt: String,
      out: String): Seq[Long] = {
    val ids = ArrayBuffer.empty[Long]
    val q = StreamIngest.runDropFolder(spark, src, archive, ckpt) { (resolved, _, id) =>
      resolved.write.mode("append").parquet(out)
      ids += id
    }
    q.awaitTermination()
    ids.toSeq
  }

  private def fileNames(out: String): Set[String] =
    spark.read.parquet(out).select("file_name").as[String].collect().toSet

  test("drop-folder contract: each file processed exactly once through the pipeline") {
    val (src, archive, ckpt, out) =
      (tmp("graft-drop-src"), tmp("graft-drop-archive"), tmp("graft-drop-ckpt"), tmp("graft-drop-out"))
    xlsx(src, "JobA.xlsx", row("A/x.txt", "1", "s1"), row("A/y.txt", "2", "s2"),
      row("A/x.txt", "1", "s3")) // re-shipped key: the upsert keeps the later row
    assert(runDrop(src, archive, ckpt, out) === Seq(0L))
    assert(spark.read.parquet(out).count() === 2)
    // a later drop is the next batch and imports only its own file
    xls(src, "JobB.xls", row("B/z.txt", "3", "s3"))
    assert(runDrop(src, archive, ckpt, out) === Seq(1L))
    assert(spark.read.parquet(out).count() === 3)
    assert(fileNames(out) === Set("A/x.txt", "A/y.txt", "B/z.txt"))
    assert(spark.read.parquet(out).filter($"file_name" === "A/x.txt")
      .head.getAs[String]("file_status") === "s3")
    // source files archived to processed/ (the reference's move contract)
    assert(names(src).isEmpty)
    assert(names(archive) === Seq("JobA.xlsx", "JobB.xls"))
    // re-run with same checkpoint: no new files → no reprocessing
    assert(runDrop(src, archive, ckpt, out).isEmpty)
    assert(spark.read.parquet(out).count() === 3)
  }

  test("workbook drop-folder: .xlsx and .xls stream through the pipeline exactly once") {
    val src = tmp("graft-wb-src")
    val archive = tmp("graft-wb-archive")
    val ckpt = tmp("graft-wb-ckpt")
    val out = tmp("graft-wb-out")

    xlsx(src, "JobA.xlsx", row("A/x.txt", "1", "s1"), row("A/y.txt", "2", "s2"))
    xls(src, "JobB.xls", row("B/z.txt", "3", "s3"))
    // hygiene: an Office lock file and a prior extractor output in the drop
    // folder must be neither ingested nor archived away
    xlsx(src, "~$JobA.xlsx", row("LOCK/file.txt", "9", "s9"))
    xlsx(src, "Transfer-Overview-Old.xlsx", row("OVW/file.txt", "8", "s8"))

    def run(): Unit = runDrop(src, archive, ckpt, out)
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

  test("spaced file names: .xlsx and .xls workbooks import once and are archived") {
    // the reference's report names carry spaces; the stream's paths are
    // URI-escaped, so a name must round-trip to its local file
    val (src, archive, ckpt, out) =
      (tmp("graft-sp-src"), tmp("graft-sp-archive"), tmp("graft-sp-ckpt"), tmp("graft-sp-out"))
    val (a, b) = ("Transfer Report 01 - JobA.xlsx", "Transfer Report 02 - JobB.xls")
    xlsx(src, a, row("A/x.txt", "1", "s1"), row("A/y.txt", "2", "s2"))
    xls(src, b, row("B/z.txt", "3", "s3"))
    assert(runDrop(src, archive, ckpt, out) === Seq(0L))
    assert(fileNames(out) === Set("A/x.txt", "A/y.txt", "B/z.txt"))
    assert(names(src).isEmpty)
    assert(names(archive) === Seq(a, b))
    assert(runDrop(src, archive, ckpt, out).isEmpty)
    assert(spark.read.parquet(out).count() === 3)
  }

  test("differential: one AvailableNow batch imports what the one-shot import does") {
    val (src, archive, ckpt) =
      (tmp("graft-diff-src"), tmp("graft-diff-archive"), tmp("graft-diff-ckpt"))
    val rnd = new scala.util.Random(31L)
    val pool = Seq("R", "R/a", "R/b", "R/a/x.txt", "R/a/y.txt", "R/b/z.txt",
      "R/b/c", "R/b/c/w.txt")
    // blank-key rows (both key cells empty) one in six; few names and ids,
    // so keys repeat within and across workbooks
    def gen(n: Int): Seq[Seq[String]] = Seq.fill(n) {
      val status = s"s${rnd.nextInt(4)}"
      if (rnd.nextInt(6) == 0) row("", "", status)
      else row(pool(rnd.nextInt(pool.size)), (1 + rnd.nextInt(4)).toString, status)
    }
    // one key shipped twice: file-name order puts JobC.xlsx first, so
    // JobA's row is the later arrival and wins
    val a = "Transfer Report 01 - JobA.xlsx"
    XlsxFixture.write(new File(src, a), Seq(
      "Transfer Report" -> (headers +: (gen(40) :+ row("R/shared.txt", "900", "second"))),
      "Overview" -> Seq(Seq("Metric", "Value"), Seq("total", "41"))))
    xls(src, "Transfer Report 02 - JobB.xls", gen(30): _*)
    xlsx(src, "JobC.xlsx", (gen(30) :+ row("R/shared.txt", "900", "first")): _*)
    xlsx(src, "~$JobC.xlsx", gen(5): _*)
    assert(graft.ingest.OverviewExtract.extract(new File(src, a)).nonEmpty)
    assert(names(src).contains(s"Transfer-Overview-$a"))

    def rows(df: DataFrame): Map[Seq[Any], Int] =
      df.drop("import_timestamp").collect().toSeq.map(_.toSeq).groupBy(identity)
        .map { case (r, rs) => r -> rs.size }
    val (wantResolved, wantQuarantined) = {
      val (r, q) = Pipeline.runWithQuarantine(spark, src, WorkbookRawSource)
      (rows(r), rows(q))
    }
    // the input covers what the check is about
    assert(wantQuarantined.values.sum > 0)
    assert(wantResolved.keys.count(r => r.head == "R/shared.txt") === 1)
    assert(wantResolved.keys.exists(r => r.head == "R/shared.txt" && r.contains("second")))

    val got = ArrayBuffer.empty[(Map[Seq[Any], Int], Map[Seq[Any], Int])]
    val q = StreamIngest.runDropFolder(spark, src, archive, ckpt) { (resolved, quarantined, _) =>
      got += ((rows(resolved), rows(quarantined)))
    }
    q.awaitTermination()
    assert(got.size === 1)
    assert(got.head._1 === wantResolved)
    assert(got.head._2 === wantQuarantined)
  }

  test("drop-folder stream scans file paths only: the binaryFile read needs no workbook bytes") {
    val (src, archive, ckpt, out) =
      (tmp("graft-path-src"), tmp("graft-path-archive"), tmp("graft-path-ckpt"), tmp("graft-path-out"))
    xlsx(src, "JobA.xlsx", row("A/x.txt", "1", "s1"))
    val q = StreamIngest.runDropFolder(spark, src, archive, ckpt) { (resolved, _, _) =>
      resolved.write.mode("append").parquet(out)
    }
    q.awaitTermination()
    val plan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan
    val scans = plan.collect { case s: FileSourceScanExec => s }
    assert(scans.map(s => (s.relation.fileFormat.isInstanceOf[BinaryFileFormat],
      s.requiredSchema.fieldNames.toSeq)) === Seq((true, Seq("path"))))
    assert(fileNames(out) === Set("A/x.txt"))
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
