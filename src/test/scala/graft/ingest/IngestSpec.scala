package graft.ingest

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.{JobLog, SparkSpec}
import graft.model.TransferSchema._
import graft.pipeline.{Pipeline, PipelineFixture}
import graft.report.Report
import graft.views.Analytic

class IngestSpec extends SparkSpec {
  import spark.implicits._

  test("ReportFiles: extension case-insensitivity, temp-skip, sorted order") {
    val dir = Files.createTempDirectory("graft-files")
    Seq("B.xlsx", "a.XLSX", "c.xls", "~lock.xlsx", "notes.txt", "d.parquet",
      "Overview-old.xlsx").foreach(n => Files.createFile(dir.resolve(n)))
    Files.createDirectory(dir.resolve("sub.xlsx")) // directories never match
    val names = ReportFiles.list(dir.toString).map(_.getFileName.toString)
    assert(names === Seq("B.xlsx", "Overview-old.xlsx", "a.XLSX", "c.xls", "d.parquet"))
    val skipped = ReportFiles.listSkippingOverviewOutputs(dir.toString)
      .map(_.getFileName.toString)
    assert(!skipped.contains("Overview-old.xlsx"))
  }

  test("SheetExtract: sheet prefix filter + per-source artifact layout") {
    val raw = PipelineFixture.raw(spark)
      // plant an Overview sheet row alongside the Transfer Report rows
      .union(spark.createDataFrame(sc.parallelize(Seq(
        Row.fromSeq(Seq("ov-row", "", "", "", "", "", "", "", "", "", "", "", "",
          "", "", "", "", "", "", "JobA.xlsx", "Overview", 99L)))), rawSchema))
    assert(SheetExtract.sheet(raw, "Overview").count() === 1)
    assert(SheetExtract.sheet(raw, "Transfer Report").count() === 10)
    val out = Files.createTempDirectory("graft-sheet").toString
    SheetExtract.writePerSource(raw, "Transfer Report", out)
    val back = spark.read.parquet(out)
    assert(back.count() === 10)
    assert(back.select(srcFileCol).distinct().as[String].collect().toSet
      === Set("JobA.xlsx", "JobB.xlsx"))
  }

  test("Quarantine: all-blank-key rows rejected with reason; rest untouched") {
    val raw = PipelineFixture.raw(spark)
      .union(spark.createDataFrame(sc.parallelize(Seq(
        // padded short row: every key cell empty → structurally unusable
        Row.fromSeq(Seq("", "", "", "", "x", "", "", "", "", "", "", "", "",
          "", "", "", "", "", "", "JobA.xlsx", "Transfer Report", 50L)))), rawSchema))
    val (good, bad) = Quarantine.split(raw)
    assert(bad.count() === 1)
    assert(bad.head.getAs[String]("_quarantine_reason").startsWith("empty_key"))
    // note: fixture row 8 has file_name "" but target_file_id "1007" → keyable → good
    assert(good.count() === 10)
  }

  test("Report: stats + top statuses + quarantine count") {
    val (resolved, bad) = {
      val (g, b) = Quarantine.split(PipelineFixture.raw(spark))
      (graft.pipeline.Pipeline.resolve(
        graft.ops.Enrich(Coerce(g))), b)
    }
    val s = Report.collect(resolved, Some(bad))
    assert(s.totalRecords === 8)
    assert(s.fileCount === 3 && s.folderCount === 5)
    assert(s.topStatuses.head._1 === "success")
    assert(s.quarantined === 0)
    val lines = Report.render(s)
    assert(lines.exists(_.contains("total records : 8")))
  }

  /** A two-workbook drop folder: 5 keyed rows (4 keys), 3 blank-key rows. */
  private def dropFolder(): String = {
    val dir = Files.createTempDirectory("graft-quarantine").toFile
    def row(name: String, id: String, status: String): Seq[String] =
      Seq(name, "0", "", id) ++ Seq.fill(11)("") ++ Seq(status, "", "", "")
    Seq("JobA" -> Seq(row("Root", "1", "success"), row("", "", ""), row("Root/a", "2", "success"),
        row("", "", "")),
      "JobB" -> Seq(row("Root/a", "2", "resent"), row("", "", ""), row("Root/c", "3", "success"),
        row("Root/d", "4", "failed"))).foreach {
      case (job, rows) => XlsxWriter.write(new File(dir, s"$job.xlsx"), "Transfer Report",
        excelHeaders, rows.iterator)
    }
    dir.getPath
  }

  /** Writes the resolved frame as a parquet database and reads it back. */
  private def written(resolved: DataFrame): DataFrame = {
    val out = Files.createTempDirectory("graft-quarantine-db").toString + "/db"
    resolved.write.parquet(out)
    spark.read.parquet(out)
  }

  test("Report: the quarantine count comes from the write job; the report runs only its aggregate") {
    val (resolved, bad) = Pipeline.runWithQuarantine(spark, dropFolder(), XlsxRawSource)
    val db = written(resolved)
    val (s, jobs) = JobLog.of(sc)(Report.collect(db, Some(bad)))
    assert(s.quarantined === 3)
    assert(s.totalRecords === 4)
    val (_, aggregate) = JobLog.of(sc)(Analytic.statusCounts(db).collect())
    assert(jobs.size === aggregate.size, jobs)
    assert(!jobs.exists(_.scansWorkbooks), jobs)
  }

  test("Report: the quarantine count stays exact when a partial read ran before the write") {
    val (resolved, bad) = Pipeline.runWithQuarantine(spark, dropFolder(), XlsxRawSource)
    assert(resolved.limit(1).collect().length === 1)
    val db = written(resolved)
    val (s, jobs) = JobLog.of(sc)(Report.collect(db, Some(bad)))
    assert(s.quarantined === 3)
    assert(!jobs.exists(_.scansWorkbooks), jobs)
  }

  test("Report: the quarantine count stays exact when no job read the good branch first") {
    val dir = dropFolder()
    // the report's own aggregate is the first job over the good branch
    val (resolved, bad) = Pipeline.runWithQuarantine(spark, dir, XlsxRawSource)
    assert(Report.collect(resolved, Some(bad)).quarantined === 3)
    // no job over this good branch ever runs: the report counts the frame
    val (_, unread) = Pipeline.runWithQuarantine(spark, dir, XlsxRawSource)
    val db = written(resolved)
    val (s, jobs) = JobLog.of(sc)(Report.collect(db, Some(unread)))
    assert(s.quarantined === 3)
    assert(jobs.exists(_.scansWorkbooks), jobs)
  }
}
