package graft.tools

import org.apache.spark.sql.{Row, SparkSession}

import graft.model.TransferSchema
import graft.pipeline.Pipeline

/** End-to-end demo / smoke driver: writes a small synthetic transfer-report
  * batch as parquet (the raw 19-string-column contract), ingests it through
  * the full pipeline, registers the analytic layer, and runs the reference's
  * documented acceptance query corpus (SCHEMA.sql:92-101;
  * run-sqlite-importer.sh:199-204) via `spark.sql` against the views.
  *
  * Usage: `sbt "runMain graft.tools.Demo [workDir]"`.
  */
object Demo {

  /** Synthetic "source/" drop-folder content (FIXTURES.md §A shape). */
  def writeFixture(spark: SparkSession, dir: String): Unit = {
    def r(fn: String, size: String, id: String, status: String, serial: String,
        src: String, row: Long): Row =
      Row.fromSeq(Seq(fn, size, "", id, "", "", serial, "", "", "", "", "", "",
        "", "", status, "", "", "", src, "Transfer Report", row))
    val rows = Seq(
      r("Root", "0", "1001", "success", "45000.5", "JobA.xlsx", 1),
      r("Root/Sub", "", "1002", "success", "0", "JobA.xlsx", 2),
      r("Root/Sub/a.pdf", "2048", "1003", "match-exists", "45123.25", "JobA.xlsx", 3),
      r("Root/Sub/b.pdf", "abc", "1004", "filtered", "notadate", "JobA.xlsx", 4),
      r("/lead/slash.txt", "10", "1005", "success", "", "JobA.xlsx", 5),
      r("Root/Sub/a.pdf", "4096", "1003", "success", "", "JobA.xlsx", 6),
      r("Orphan/child.txt", "5", "1006", "weird status!", "", "JobA.xlsx", 7),
      r("Root", "0", "1001", "resent", "", "JobB.xlsx", 8))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows), TransferSchema.rawSchema)
      .coalesce(1).write.mode("overwrite").parquet(dir)
  }

  def main(args: Array[String]): Unit = {
    val workDir = args.headOption.getOrElse(
      java.nio.file.Files.createTempDirectory("graft-demo").toString)
    val spark = graft.LocalSpark()

    val format = args.drop(1).headOption.getOrElse("parquet")
    val df = format match {
      case "csv" =>
        val raw = { // re-render the fixture as header'd CSV
          val stage = s"$workDir/stage-raw"
          writeFixture(spark, stage)
          spark.read.parquet(stage)
        }
        raw.coalesce(1).write.mode("overwrite").option("header", "true")
          .csv(s"$workDir/source")
        val out = Pipeline.run(spark, s"$workDir/source", graft.ingest.CsvRawSource)
        graft.views.Analytic.registerAll(spark, out)
        out
      case "xlsx" =>
        // real .xlsx workbooks through the dependency-free reader: the
        // fixture rows become two workbooks (JobA/JobB), read back through
        // Pipeline.run with XlsxRawSource — the reference's primary format
        val srcDir = new java.io.File(s"$workDir/source"); srcDir.mkdirs()
        val stage = s"$workDir/stage-raw"
        writeFixture(spark, stage)
        val raw = spark.read.parquet(stage).collect()
          .groupBy(_.getAs[String]("_src_file"))
        raw.foreach { case (src, rows) =>
          val data = rows.sortBy(_.getAs[Long]("_row_idx")).toSeq
            .map(r => (0 until 19).map(i => Option(r.getString(i)).getOrElse("")))
          graft.ingest.XlsxWriter.write(new java.io.File(srcDir, src),
            "Transfer Report", TransferSchema.excelHeaders, data.iterator)
        }
        val out = Pipeline.run(spark, srcDir.toString, graft.ingest.XlsxRawSource)
        graft.views.Analytic.registerAll(spark, out)
        out
      case _ =>
        writeFixture(spark, s"$workDir/source")
        Pipeline.runAndRegister(spark, s"$workDir/source")
    }
    println(s"=== ingested ${df.count()} rows (post-upsert) ===")

    // The reference's documented acceptance queries (SCHEMA.sql:92-101)
    val corpus = Seq(
      "Status summary" -> "SELECT * FROM status_summary",
      "Hierarchy" -> "SELECT file_name, depth, path FROM hierarchy_children",
      "Files preview" -> "SELECT file_name, source_file_size FROM files_view LIMIT 10",
      "Folders preview" -> "SELECT file_name FROM folders_view LIMIT 10",
      "Per-status view" -> "SELECT file_name, file_status FROM status_success",
      "Counts by level" ->
        "SELECT level, COUNT(*) AS n FROM transfer_data GROUP BY level ORDER BY level",
      "Counts by job" ->
        "SELECT job_name, COUNT(*) AS n FROM transfer_data GROUP BY job_name",
      "Children of id" ->
        "SELECT file_name FROM transfer_data WHERE parent_id = '1002'")
    corpus.foreach { case (title, sql) =>
      println(s"--- $title: $sql")
      spark.sql(sql).show(50, truncate = false)
    }
    spark.stop()
  }
}
