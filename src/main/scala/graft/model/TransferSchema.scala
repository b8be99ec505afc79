package graft.model

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{col, monotonically_increasing_id}
import org.apache.spark.sql.types._

/** Column constants and schemas for the transfer-report data model.
  *
  * Mirrors the reference's fixed positional schema: 19 imported columns
  * (SQLiteDirectImporter.java:67-72), BIGINT set (ibid.:89-91), DATETIME set
  * (ibid.:83-86), plus the derived columns (ibid.:299-303). The raw stage is
  * all-strings (the reference receives POI-formatted strings,
  * SQLiteDirectImporter.java:736-737); typing happens in [[graft.ingest.Coerce]].
  */
object TransferSchema {

  /** The 19 imported columns, in sheet-position order (SQLiteDirectImporter.java:67-72). */
  val dbColumns: Seq[String] = Seq(
    "file_name", "source_file_size", "target_file_size", "target_file_id", "source_account",
    "target_account", "creation_time", "source_last_modified_by", "source_last_modification_time",
    "target_last_modification_time", "last_access_time", "start_time", "transfer_time",
    "checksum_method", "checksum", "file_status", "errors", "status", "translated_file_name")

  /** Excel header texts — captured but never used for mapping by the reference
    * (SQLiteDirectImporter.java:469-472, 511-513); kept for adapter-side checks.
    */
  val excelHeaders: Seq[String] = Seq(
    "File Name", "Source File Size", "Target File Size", "Target File ID", "Source Account",
    "Target Account", "Creation Time", "Source Last Modified By", "Source Last Modification Time",
    "Target Last Modification Time", "Last Access Time", "Start Time", "Transfer Time",
    "Checksum Method", "Checksum", "File Status", "Errors", "Status", "Translated File Name")

  /** Columns coerced string→long; parse failure → null (SQLiteDirectImporter.java:89-91, 522-531). */
  val bigintColumns: Set[String] =
    Set("source_file_size", "target_file_size", "target_file_id")

  /** Columns coerced Excel-serial→timestamp (SQLiteDirectImporter.java:83-86, 984-1006). */
  val dateColumns: Set[String] = Set(
    "creation_time", "source_last_modification_time", "target_last_modification_time",
    "last_access_time", "start_time", "transfer_time")

  /** Ingest metadata columns added by the source adapter (not part of the
    * reference's schema; they carry the physical arrival order that SQLite got
    * implicitly from its single-threaded insert loop — SURVEY.md §7.5 item 1).
    */
  val srcFileCol = "_src_file"     // source workbook file name
  val sheetCol = "_sheet"          // sheet name within the workbook
  val rowIdxCol = "_row_idx"       // 0-based row index within the sheet (0 = header)
  val epochCol = "_epoch"          // cross-batch merge epoch (MergeSink)

  val metaColumns: Seq[String] = Seq(srcFileCol, sheetCol, rowIdxCol)

  /** The arrival total order (ascending), WITHOUT materializing a global
    * sequence: the reference's physical insert order is (file name asc,
    * sheet asc, row asc) — its sequential sorted-file loop
    * (SQLiteDirectImporter.java:171, 480-486) — and every consumer
    * (upsert winner, parent-map build, merge sink) only ever needs to
    * COMPARE arrival order within a key, never a global row number. Sorting
    * by the triple inside hash-partitioned windows keeps the whole ingest
    * path shuffle-parallel; a materialized `row_number() OVER (ORDER BY …)`
    * would funnel all rows through one task.
    *
    * Order: `_epoch` (cross-batch, strictly later batches win), then the
    * (file, sheet, row) triple; `monotonically_increasing_id()` stands in
    * for the triple, arbitrary but stable, only in frames without it.
    */
  def arrivalOrderAsc(columns: Seq[String]): Seq[Column] = {
    val epoch = if (columns.contains(epochCol)) Seq(col(epochCol)) else Nil
    val base =
      if (metaColumns.forall(columns.contains)) metaColumns.map(col)
      else Seq(monotonically_increasing_id())
    epoch ++ base
  }

  /** [[arrivalOrderAsc]] reversed: "latest arrival first" for last-wins. */
  def arrivalOrderDesc(columns: Seq[String]): Seq[Column] =
    arrivalOrderAsc(columns).map(_.desc)

  /** Raw (pre-coercion) schema: 19 string columns + ingest metadata. Missing
    * cells are empty string, never null (SQLiteDirectImporter.java:461-464, 534).
    */
  val rawSchema: StructType = StructType(
    dbColumns.map(c => StructField(c, StringType, nullable = false)) ++ Seq(
      StructField(srcFileCol, StringType, nullable = false),
      StructField(sheetCol, StringType, nullable = false),
      StructField(rowIdxCol, LongType, nullable = false)))

  /** Typed (post-coercion) type per imported column. */
  def typedType(col: String): DataType =
    if (bigintColumns(col)) LongType
    else if (dateColumns(col)) TimestampType
    else StringType

  /** Typed schema after Coerce + Enrich: imported columns with engine types,
    * then derived columns (SQLiteDirectImporter.java:299-303). `parent_id` is
    * string-typed to match the reference's TEXT column even though it carries
    * `target_file_id` values (SQLiteDirectImporter.java:300 vs :90).
    */
  val levelCol = "level"
  val parentFolderCol = "parent_folder"
  val parentIdCol = "parent_id"
  val jobNameCol = "job_name"
  val importTimestampCol = "import_timestamp"

  val typedSchema: StructType = StructType(
    dbColumns.map(c => StructField(c, typedType(c), nullable = true)) ++ Seq(
      StructField(parentFolderCol, StringType, nullable = true),
      StructField(parentIdCol, StringType, nullable = true),
      StructField(levelCol, IntegerType, nullable = true),
      StructField(jobNameCol, StringType, nullable = true),
      StructField(importTimestampCol, TimestampType, nullable = true)))

  /** Upsert key — UNIQUE(file_name, target_file_id), SQLiteDirectImporter.java:306. */
  val upsertKey: Seq[String] = Seq("file_name", "target_file_id")
}
