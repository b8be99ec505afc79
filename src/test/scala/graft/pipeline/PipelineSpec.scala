package graft.pipeline

import java.io.File
import java.nio.file.{Files, Path}
import java.util.Comparator

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.{JobLog, SparkSpec}
import graft.ingest.{Coerce, XlsxRawSource, XlsxWriter}
import graft.model.TransferSchema._
import graft.ops.{Enrich, Hierarchy, Parents, Upsert}
import graft.views.Analytic

/** The FIXTURES.md §A synthetic transfer-report fixture — shared by the
  * pipeline and streaming suites.
  */
object PipelineFixture {
  /** (file_name, src_size, tgt_id, file_status, creation_serial) + meta. */
  private def rawRow(fn: String, size: String, id: String, status: String,
      serial: String, src: String, row: Long): Row =
    Row.fromSeq(Seq(fn, size, "", id, "", "", serial, "", "", "", "", "", "",
      "", "", status, "", "", "", src, "Transfer Report", row))

  def raw(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    val rows = Seq(
      rawRow("Root", "0", "1001", "success", "45000.5", "JobA.xlsx", 1L),
      rawRow("Root/Sub", "", "1002", "success", "0", "JobA.xlsx", 2L),
      rawRow("Root/Sub/a.pdf", "2048", "1003", "match-exists", "45123.25", "JobA.xlsx", 3L),
      rawRow("Root/Sub/b.pdf", "abc", "1004", "filtered", "notadate", "JobA.xlsx", 4L),
      rawRow("/lead/slash.txt", "10", "1005", "success", "", "JobA.xlsx", 5L),
      // dup of row 3: later arrival, different status → must win
      rawRow("Root/Sub/a.pdf", "4096", "1003", "success", "", "JobA.xlsx", 6L),
      rawRow("Orphan/child.txt", "5", "1006", "weird status!", "", "JobA.xlsx", 7L),
      rawRow("", "0", "1007", "", "", "JobA.xlsx", 8L),
      // cross-file re-ship of Root (JobB arrives later) → JobB's row wins
      rawRow("Root", "0", "1001", "resent", "", "JobB.xlsx", 9L),
      rawRow("/lead", "0", "1008", "success", "", "JobB.xlsx", 10L))
    spark.createDataFrame(spark.sparkContext.parallelize(rows), rawSchema)
  }
}

/** End-to-end over the FIXTURES.md §A synthetic transfer-report fixture —
  * the reference's input contract (19 positional strings, empty-never-null),
  * checked against the reference's documented acceptance queries
  * (SCHEMA.sql:92-101).
  */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private lazy val raw: DataFrame = PipelineFixture.raw(spark)

  private lazy val resolved: DataFrame = Pipeline.resolve(Enrich(Coerce(raw))).cache()

  private def tempPath(): String = Files.createTempDirectory("graft-db").resolve("db").toString

  /** `df` written to a fresh parquet path and read back: an uncached frame
    * over files, as an import registers its database.
    */
  private def parquetCopy(df: DataFrame): (String, DataFrame) = {
    val path = tempPath()
    df.write.parquet(path)
    (path, spark.read.parquet(path))
  }

  private def delete(path: String): Unit =
    Files.walk(Path.of(path)).sorted(Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))

  /** A two-workbook drop folder written with `XlsxWriter`: a root folder,
    * three sub-folders of four files each, mixed statuses (one blank, one
    * that sanitizes), a key re-shipped by the later workbook and one
    * key-less row.
    */
  private def xlsxDropFolder(dir: File): Unit = {
    def row(name: String, size: Long, id: Long, status: String): Seq[String] =
      Seq(name, size.toString, "", id.toString) ++ Seq.fill(11)("") ++ Seq(status, "", "", "")
    val statuses = Seq("success", "filtered", "match-exists", "weird status!", "")
    val jobA = row("Root", 0, 1, "success") +: (0 until 3).flatMap { i =>
      row(s"Root/s$i", 0, 10 + i, "success") +: (0 until 4).map { j =>
        row(s"Root/s$i/f$j.txt", 100L * (j + 1), 100 + 10 * i + j, statuses((i + j) % statuses.size))
      }
    }
    val jobB = Seq(row("Root/s0/f0.txt", 999, 100, "resent"),
      Seq.fill(19)(""), row("Root/s2/late.txt", 7, 200, "success"))
    Seq("JobA" -> jobA, "JobB" -> jobB).foreach { case (job, rows) =>
      XlsxWriter.write(new File(dir, s"$job.xlsx"), "Transfer Report",
        excelHeaders, rows.iterator)
    }
  }

  test("coerce: bigint strictness and serial dates") {
    val typed = Coerce(raw)
    val byRow = typed.orderBy(rowIdxCol).collect()
    assert(byRow(0).getAs[Long]("source_file_size") === 0L)
    assert(byRow(1).getAs[Any]("source_file_size") === null) // "" → null
    assert(byRow(3).getAs[Any]("source_file_size") === null) // "abc" → null
    assert(byRow(0).getAs[java.sql.Timestamp]("creation_time").toString
      === "2023-03-15 12:00:00.0")
    assert(byRow(1).getAs[Any]("creation_time") === null) // serial 0 → null
    assert(byRow(3).getAs[Any]("creation_time") === null) // unparsable → null
    // text columns: empty string preserved, never null
    assert(byRow(1).getAs[String]("source_account") === "")
  }

  test("upsert: last-writer-wins per (file_name, target_file_id)") {
    val r = resolved
    assert(r.count() === 8) // 10 raw rows, 2 dup keys collapse
    val a = r.filter($"file_name" === "Root/Sub/a.pdf").head
    assert(a.getAs[String]("file_status") === "success") // row 6 beat row 3
    assert(a.getAs[Long]("source_file_size") === 4096L)  // whole row replaced
    val root = r.filter($"file_name" === "Root").head
    assert(root.getAs[String]("file_status") === "resent") // JobB beat JobA
    assert(root.getAs[String](jobNameCol) === "JobB")
  }

  test("enrich: level, parent_folder, job_name") {
    val m = resolved.select("file_name", "level", "parent_folder", "job_name")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(m("Root").getAs[Int]("level") === 1)
    assert(m("Root").getAs[Any]("parent_folder") === null)
    assert(m("Root/Sub/a.pdf").getAs[Int]("level") === 3)
    assert(m("Root/Sub/a.pdf").getAs[String]("parent_folder") === "Root/Sub")
    assert(m("/lead/slash.txt").getAs[Int]("level") === 2)
    assert(m("/lead/slash.txt").getAs[String]("parent_folder") === "/lead")
    assert(m("").getAs[Int]("level") === 0)
    assert(m("Root").getAs[String]("job_name") === "JobB") // winning row came from JobB
  }

  test("parents: name-keyed window fills parent_id; miss stays null") {
    val m = resolved.select("file_name", "parent_id").collect()
      .map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(m("Root/Sub") === Some("1001"))
    assert(m("Root/Sub/a.pdf") === Some("1002"))
    assert(m("Root/Sub/b.pdf") === Some("1002"))
    assert(m("/lead/slash.txt") === Some("1008")) // parent "/lead" exists via JobB
    assert(m("Orphan/child.txt") === None) // unmatched parent
    assert(m("Root") === None) // level-1 rows have no parent_folder
  }

  test("status_summary: conditional counts + Unknown coalesce + desc order") {
    val rows = Analytic.statusSummary(resolved).collect()
    val byName = rows.map(r => r.getString(0) -> r).toMap
    // statuses: resent(Root), success(Root/Sub, a.pdf-winner, /lead/slash.txt,
    // /lead), match-exists replaced; filtered, weird status!, "" (empty ≠ NULL)
    assert(byName("success").getAs[Long]("record_count") === 4)
    assert(byName("success").getAs[Long]("file_count") === 2) // a.pdf 4096, slash.txt 10
    assert(byName("success").getAs[Long]("folder_count") === 2) // Root/Sub null-size, /lead 0
    assert(byName("").getAs[Long]("record_count") === 1) // empty string ≠ NULL → no coalesce
    assert(!byName.contains("match-exists"))
    // ordered by record_count desc
    assert(rows.head.getString(0) === "success")
  }

  test("files/folders views partition the table") {
    val files = Analytic.filesView(resolved)
    val folders = Analytic.foldersView(resolved)
    assert(files.count() + folders.count() === resolved.count())
    assert(files.select("file_name").as[String].collect().toSet
      === Set("Root/Sub/a.pdf", "/lead/slash.txt", "Orphan/child.txt"))
    // null-size rows (parse failures) land in folders_view
    assert(folders.filter($"file_name" === "Root/Sub/b.pdf").count() === 1)
  }

  test("dynamic status views: sanitized names; blank status → status_unknown") {
    // "" is NOT NULL, so it passes the reference's DISTINCT filter and its
    // blank-input sanitize yields "unknown" (SQLiteDirectImporter.java:888-899,
    // 921-930) → a fifth view, status_unknown, filtering file_status = ''.
    val views = Analytic.statusViews(resolved).toMap
    assert(views.keySet === Set("status_resent", "status_success", "status_filtered",
      "status_weird_status", "status_unknown"))
    assert(views("status_weird_status").count() === 1)
    assert(views("status_unknown").head.getAs[String]("file_name") === "")
  }

  test("hierarchy: depth, breadcrumb path, path order") {
    val h = Hierarchy(resolved)
    val rows = h.select("file_name", "depth", "path").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2)))
    val byName = rows.groupBy(_._1)
    assert(byName("Root").head._2 === 0)
    assert(byName("Root/Sub").head._2 === 1)
    assert(byName("Root/Sub/a.pdf").head._3 === "Root > Root/Sub > Root/Sub/a.pdf")
    assert(byName("Root/Sub/b.pdf").head._2 === 2)
    val paths = h.select("path").as[String].collect()
    assert(paths.toSeq === paths.sorted) // ORDER BY path
  }

  test("hierarchy: rows with null parent_id are anchors (reference semantics)") {
    val h = Hierarchy(resolved)
    // Orphan/child.txt: parent unresolved → parent_id NULL → anchor depth 0
    assert(h.filter($"file_name" === "Orphan/child.txt").head.getAs[Int]("depth") === 0)
  }

  test("registerAll: every view resolves by name; hierarchy_children == Hierarchy") {
    Analytic.registerAll(spark, resolved)
    val statusNames = Analytic.statusViews(resolved).map(_._1)
    assert(statusNames.nonEmpty)
    (Seq("transfer_data", "files_view", "folders_view", "status_summary", "hierarchy_children")
      ++ statusNames).foreach(name => spark.table(name).collect())
    assert(spark.table("transfer_data").count() === resolved.count())
    assert(spark.table("hierarchy_children").collect().toSeq
      === Hierarchy(resolved).collect().toSeq)
  }

  test("registerAll: a 100-deep chain registers and resolves every level") {
    val chain = spark.range(100).select(
      concat(lit("d"), col("id")).as("file_name"),
      (col("id") + 10L).as("target_file_id"),
      when(col("id") === 0, lit(null).cast("string"))
        .otherwise((col("id") + 9L).cast("string")).as("parent_id"),
      (col("id") + 1).cast("int").as("level"),
      lit(0L).as("source_file_size"),
      lit("success").as("file_status"))
    Analytic.registerAll(spark, chain)
    val r = spark.table("hierarchy_children").agg(count(lit(1)), max(col("depth"))).head()
    assert(r.getLong(0) === 100L)
    assert(r.getInt(1) === 99)
  }

  test("registerAll: runs only the distinct-status job; hierarchy_children traverses on first read, once") {
    val (path, db) = parquetCopy(resolved)
    val (_, statusJobs) = JobLog.of(sc)(Analytic.distinctStatuses(db))
    val (_, registerJobs) = JobLog.of(sc)(Analytic.registerAll(spark, db))
    assert(registerJobs.size === statusJobs.size, registerJobs)
    assert(registerJobs.forall(_.readsCopy("transfer_data")), registerJobs)
    assert(!registerJobs.exists(_.is("localCheckpoint")), registerJobs)
    // that job also filled the copy: with the parquet files gone, every
    // view still answers, so no read after it scans the source
    delete(path)
    val (first, firstJobs) = JobLog.of(sc)(spark.table("hierarchy_children").collect())
    assert(first.toSeq === Hierarchy(resolved).collect().toSeq)
    assert(firstJobs.exists(_.is("localCheckpoint")), firstJobs)
    val (second, secondJobs) = JobLog.of(sc)(spark.table("hierarchy_children").collect())
    assert(second.toSeq === first.toSeq)
    assert(!secondJobs.exists(_.is("localCheckpoint")), secondJobs)
    assert(spark.table("files_view").count() === 3)
    assert(spark.table("transfer_data").filter($"parent_id" === "1002").count() === 2)
    assert(spark.table("status_summary").head.getString(0) === "success")
  }

  test("runAndRegister: a view read answers from the copy and does not re-run the pipeline") {
    val dir = tempPath()
    raw.write.parquet(dir)
    val df = Pipeline.runAndRegister(spark, dir)
    // the raw source is gone: a read that re-ran the pipeline would fail
    delete(dir)
    assert(df.storageLevel === StorageLevel.MEMORY_AND_DISK)
    assert(spark.table("transfer_data").count() === 8)
    assert(spark.table("folders_view").count() === 5)
    assert(spark.table("status_success").count() === 4)
    assert(spark.table("hierarchy_children").filter($"file_name" === "Root/Sub/a.pdf")
      .head.getAs[String]("path") === "Root > Root/Sub > Root/Sub/a.pdf")
  }

  test("registerAll: registering another frame frees the previous copy") {
    val (_, first) = parquetCopy(resolved)
    Analytic.registerAll(spark, first)
    assert(first.storageLevel === StorageLevel.MEMORY_AND_DISK)
    val (_, second) = parquetCopy(resolved)
    Analytic.registerAll(spark, second)
    assert(first.storageLevel === StorageLevel.NONE)
    assert(second.storageLevel === StorageLevel.MEMORY_AND_DISK)
  }

  test("registerAll: a new read of the same path, re-registered, drops the old copy") {
    val (path, db) = parquetCopy(resolved)
    Analytic.registerAll(spark, db)
    assert(spark.table("transfer_data").count() === 8)
    assert(spark.table("status_summary").head.getLong(1) === 4)
    // replace the files without Spark: no write refreshes the copy
    val (newPath, _) = parquetCopy(resolved.filter($"file_status" === "resent"))
    delete(path)
    assert(new File(newPath).renameTo(new File(path)))
    Analytic.registerAll(spark, spark.read.parquet(path))
    val resent = resolved.filter($"file_status" === "resent").count()
    assert(spark.table("transfer_data").count() === resent)
    assert(spark.table("status_summary").collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
      === Seq("resent" -> resent))
    assert(Analytic.statusViews(spark.table("transfer_data")).map(_._1) === Seq("status_resent"))
  }

  test("registerAll: a Spark write to the registered path refreshes the copy") {
    val (path, db) = parquetCopy(resolved)
    Analytic.registerAll(spark, db)
    def files = spark.table("files_view").select("file_name").as[String].collect().toSet
    def summary = spark.table("status_summary").collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(files === Set("Root/Sub/a.pdf", "/lead/slash.txt", "Orphan/child.txt"))
    assert(summary("success") === 2)
    resolved.withColumn("source_file_size", lit(1L)).write.mode("overwrite").parquet(path)
    assert(files === resolved.select("file_name").as[String].collect().toSet)
    assert(summary("success") === 4)
  }

  test("registerAll: every view answers through the copy as over the uncached frame") {
    val dir = Files.createTempDirectory("graft-drop").toFile
    xlsxDropFolder(dir)
    Seq(resolved, Pipeline.run(spark, dir.getPath, XlsxRawSource)).foreach { frame =>
      val (_, db) = parquetCopy(frame)
      val frames = Seq("transfer_data" -> db, "files_view" -> Analytic.filesView(db),
        "folders_view" -> Analytic.foldersView(db), "status_summary" -> Analytic.statusSummary(db),
        "hierarchy_children" -> Analytic.hierarchyChildren(db)) ++ Analytic.statusViews(db)
      assert(db.storageLevel === StorageLevel.NONE)
      val uncached = frames.map { case (name, f) => name -> f.collect().toSeq }
      Analytic.registerAll(spark, db)
      assert(db.storageLevel === StorageLevel.MEMORY_AND_DISK)
      uncached.foreach { case (name, rows) =>
        val viaCopy = spark.table(name).collect().toSeq
        assert(rows.nonEmpty, name)
        assert(viaCopy.map(_.toString).sorted === rows.map(_.toString).sorted, name)
      }
      assert(spark.table("hierarchy_children").collect().toSeq === uncached.toMap.apply("hierarchy_children"))
    }
  }

  test("registerAll: a cycle a root reaches registers; the first read throws, once") {
    // root → a(2) → b(3) → a2(2) → b(3) → … : WITH RECURSIVE never ends
    val cyclic = Seq(("root", 1L, None, 1), ("a", 2L, Some("1"), 1),
      ("b", 3L, Some("2"), 1), ("a2", 2L, Some("3"), 1))
      .toDF("file_name", "target_file_id", "parent_id", "level")
      .withColumn("source_file_size", lit(0L)).withColumn("file_status", lit("success"))
    Analytic.registerAll(spark, cyclic)
    intercept[IllegalStateException](spark.table("hierarchy_children").collect())
    // the failure is kept: a second read throws again without traversing
    val (_, again) = JobLog.of(sc)(
      intercept[IllegalStateException](spark.table("hierarchy_children").collect()))
    assert(again.isEmpty, again)
  }

  test("stats: one-pass totals") {
    val s = Analytic.stats(resolved).head
    assert(s.getAs[Long]("total_records") === 8)
    assert(s.getAs[Long]("file_count") === 3)
    assert(s.getAs[Long]("folder_count") === 5)
  }

  test("upsert idempotence: resolve(resolve(x)) == resolve(x)") {
    val once = Upsert(Enrich(Coerce(raw)))
    val twice = Upsert(once)
    assert(once.count() === twice.count())
  }

  test("upsert: NULL target_file_id rows never conflict (SQLite UNIQUE semantics)") {
    // two rows, same file_name, both with unparsable ("" → NULL) ids: SQLite's
    // UNIQUE(file_name, target_file_id) sees no conflict — both survive
    val rows = Seq(
      Row.fromSeq(Seq("Dup/x.txt", "1", "", "", "", "", "", "", "", "", "", "", "",
        "", "", "s1", "", "", "", "JobA.xlsx", "Transfer Report", 1L)),
      Row.fromSeq(Seq("Dup/x.txt", "2", "", "", "", "", "", "", "", "", "", "", "",
        "", "", "s2", "", "", "", "JobA.xlsx", "Transfer Report", 2L)),
      Row.fromSeq(Seq("Dup/y.txt", "3", "", "77", "", "", "", "", "", "", "", "", "",
        "", "", "s3", "", "", "", "JobA.xlsx", "Transfer Report", 3L)),
      Row.fromSeq(Seq("Dup/y.txt", "4", "", "77", "", "", "", "", "", "", "", "", "",
        "", "", "s4", "", "", "", "JobA.xlsx", "Transfer Report", 4L)))
    val df = Upsert(Enrich(Coerce(
      spark.createDataFrame(sc.parallelize(rows), rawSchema))))
    assert(df.filter($"file_name" === "Dup/x.txt").count() === 2) // NULL ids: both kept
    val y = df.filter($"file_name" === "Dup/y.txt")
    assert(y.count() === 1) // same non-null id: last wins
    assert(y.head.getAs[String]("file_status") === "s4")
  }
}
