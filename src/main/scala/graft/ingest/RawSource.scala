package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.TransferSchema._

/** Source adapters producing the raw (pre-coercion) frame: the 19 positional
  * string columns + ingest metadata (`_src_file`, `_sheet`, `_row_idx`).
  *
  * The reference reads Excel workbooks via POI SAX/DataFormatter and delivers
  * every cell as a formatted STRING (SQLiteDirectImporter.java:330-379,
  * 736-741); all Excel specifics — the `Transfer Report*` sheet-name predicate
  * (ibid.:349), header-row skip (ibid.:468-473), short-row padding to 19
  * columns with "" (ibid.:460-464), extra-column drop (ibid.:511-513) — are
  * reproduced here behind a format-agnostic trait, so engine semantics are
  * fully testable from Parquet/CSV in the offline environment (SURVEY.md §7.5
  * item 7); a POI-backed adapter is a drop-in later.
  */
trait RawSource {

  /** Load one or more report files into the raw frame. */
  def load(spark: SparkSession, path: String): DataFrame

  /** Normalize an arbitrary positionally-mapped string frame into the raw
    * contract: rename first 19 columns positionally to `dbColumns` (header
    * text ignored — SQLiteDirectImporter.java:511-513), drop extras, pad
    * missing trailing columns with "", null cells → "".
    */
  protected def positional(df: DataFrame): DataFrame = {
    // underscore-prefixed columns are ingest metadata (the triple, or one an
    // upstream writer left, such as a merge state's `_epoch`) and stay OUT of
    // the positional band: a short row (< 19 data cells) must pad with "",
    // never consume one as a trailing data column. Spark names a blank CSV
    // header cell `_c<N>`; that column is data.
    val dataCols = df.columns.filterNot(c => c.startsWith("_") && !c.matches("_c\\d+"))
    val present = dataCols.take(dbColumns.size)
    val renamed = present.zip(dbColumns).map { case (src, dst) => col(src).as(dst) }
    val padded = dbColumns.drop(present.size).map(c => lit("").as(c))
    // meta columns may arrive string-typed from CSV/JSON round-trips — pin
    // the contract types (lexicographic "_row_idx" ordering would invert
    // last-writer-wins at 10+ rows)
    val metas = metaColumns.filter(df.columns.contains).map {
      case c @ `rowIdxCol` => col(c).cast("long").as(c)
      case c => col(c).cast("string").as(c)
    }
    val out = df.select(renamed ++ padded ++ metas: _*)
    // missing cells are empty string, never null (SQLiteDirectImporter.java:461-464, 534)
    out.na.fill("", dbColumns)
  }

  /** Sheet-name predicate S4 + header-skip S5, applied when the adapter
    * carries sheet metadata.
    */
  protected def sheetFilter(df: DataFrame): DataFrame = {
    val afterSheet =
      if (df.columns.contains(sheetCol)) df.filter(col(sheetCol).startsWith("Transfer Report"))
      else df
    if (afterSheet.columns.contains(rowIdxCol)) afterSheet.filter(col(rowIdxCol) > 0)
    else afterSheet
  }
}

/** Parquet-backed raw source: expects string-typed positional columns, with
  * optional `_src_file`/`_sheet`/`_row_idx` metadata columns. Synthesizes any
  * missing triple column (`_src_file` from the physical file name, `_row_idx`
  * from within-file order) so downstream upsert determinism holds.
  *
  * NO global sequence is materialized: arrival order is the
  * (file, sheet, row) triple, compared lazily inside hash-partitioned
  * windows/aggregates (TransferSchema.arrivalOrderAsc). A
  * `row_number() OVER (ORDER BY …)` here would be a single-task global
  * sort of the entire ingest.
  */
object ParquetRawSource extends RawSource {
  def load(spark: SparkSession, path: String): DataFrame =
    sheetFilter(positional(attachMeta(spark.read.parquet(path))))

  private[ingest] def attachMeta(df0: DataFrame): DataFrame = {
    var df = df0
    if (!df.columns.contains(srcFileCol))
      df = df.withColumn(srcFileCol, regexp_extract(input_file_name(), "([^/]+)$", 1))
    if (!df.columns.contains(sheetCol))
      df = df.withColumn(sheetCol, lit("Transfer Report"))
    if (!df.columns.contains(rowIdxCol))
      // per-(file, sheet) window: partition-parallel, no global sort
      df = df.withColumn(rowIdxCol, row_number().over(
        Window.partitionBy(col(srcFileCol), col(sheetCol)).orderBy(monotonically_increasing_id()))
        .cast("long"))
    df
  }
}

/** CSV-backed raw source (one CSV per sheet, header row present). */
object CsvRawSource extends RawSource {
  def load(spark: SparkSession, path: String): DataFrame = {
    val df = spark.read
      .option("header", "true") // S5: header row dropped from data
      .option("inferSchema", "false") // all strings — typing is the engine's job
      .csv(path)
    sheetFilter(positional(ParquetRawSource.attachMeta(df)))
  }
}

/** XLSX-backed raw source — the reference's PRIMARY input format
  * (SQLiteDirectImporter.java:330-379), read dependency-free via [[Xlsx]]
  * (JDK zip + StAX; no POI, which is unavailable offline).
  *
  * Distribution model: one workbook per task. The xlsx container is a ZIP
  * whose sheet parts are single compressed streams, so a file is the unit
  * of scan parallelism — the cluster parallelizes across the drop-folder's
  * files (the reference processes them one by one on one thread). File
  * paths must be visible to executors (local/NFS mounts; on object stores,
  * localize first — the workbook format itself precludes split reads).
  *
  * The `Transfer Report*` sheet predicate is applied AT SCAN (non-matching
  * sheets are never parsed, SQLiteDirectImporter.java:349); the shared
  * `sheetFilter` then re-asserts it and drops header rows, identically to
  * every other adapter.
  */
object XlsxRawSource extends RawSource {
  def load(spark: SparkSession, path: String): DataFrame =
    sheetFilter(positional(WorkbookFrames.frame(spark, path, "xlsx")(
      f => Xlsx.scanRows(f, _.startsWith("Transfer Report")))))
}

/** XLS (legacy BIFF8) raw source — the reference's "traditional" path
  * (SQLiteDirectImporter.java:384-426), dependency-free via [[Cfb]] +
  * [[Xls]]. Same one-workbook-per-task distribution and semantics as
  * [[XlsxRawSource]]; the legacy container is whole-file-in-memory by
  * nature (as with the reference's HSSFWorkbook), which is fine for the
  * bounded archival files the format implies — the scale path is xlsx.
  */
object XlsRawSource extends RawSource {
  def load(spark: SparkSession, path: String): DataFrame =
    sheetFilter(positional(WorkbookFrames.frame(spark, path, "xls")(
      f => Xls.scanRows(f, _.startsWith("Transfer Report")))))
}

/** Combined workbook source matching the reference's per-file dispatch
  * (`.xlsx` → streaming, anything else → traditional,
  * SQLiteDirectImporter.java:319-325).
  */
object WorkbookRawSource extends RawSource {
  def load(spark: SparkSession, path: String): DataFrame =
    sheetFilter(positional(WorkbookFrames.frame(spark, path, "xlsx", "xls")({ f =>
      if (f.getName.toLowerCase.endsWith(".xlsx"))
        Xlsx.scanRows(f, _.startsWith("Transfer Report"))
      else Xls.scanRows(f, _.startsWith("Transfer Report"))
    })))

  /** Raw frame from a `binaryFile` (path, content) batch — the streaming
    * drop-folder entry (StreamIngest.runWorkbookDropFolder): same per-file
    * dispatch and normalization as [[load]], parsing on executors.
    */
  def fromBinary(spark: SparkSession, batch: DataFrame): DataFrame =
    sheetFilter(positional(WorkbookFrames.frameFromBinary(spark, batch)))
}

/** Shared scan→DataFrame assembly for the workbook adapters: list report
  * files, parallelize ONE FILE PER TASK (the workbook containers are
  * single-stream artifacts — files are the unit of scan parallelism; the
  * reference processes them sequentially on one thread), run the
  * per-file scan closure, pad/truncate positionally to the 19-column band
  * (SQLiteDirectImporter.java:460-464, 511-513).
  */
private[ingest] object WorkbookFrames {
  import org.apache.spark.sql.Row
  import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

  private val scanSchema = StructType(
    dbColumns.map(c => StructField(c, StringType, nullable = false)) ++ Seq(
      StructField(srcFileCol, StringType, nullable = false),
      StructField(sheetCol, StringType, nullable = false),
      StructField(rowIdxCol, LongType, nullable = false)))

  /** Per-FILE error tolerance (SQLiteDirectImporter.java:196-197): a corrupt
    * workbook logs one stderr line and keeps the rows read before the error
    * (none when opening it fails) instead of failing the batch — including
    * failures surfacing lazily mid-iteration. The rows after the error are
    * dropped, and nothing but that line reports the loss. Row-level
    * structural tolerance is downstream ([[Quarantine]]).
    */
  private def tolerant(name: String,
      mk: => Iterator[(String, Long, Array[String])])
      : Iterator[(String, Long, Array[String])] =
    new Iterator[(String, Long, Array[String])] {
      // prefetch-based: BOTH hasNext- and next-time parse failures (the xlsx
      // reader parses inside next()) truncate this file instead of killing
      // the task
      private var broken = false
      private var pending: (String, Long, Array[String]) = null
      private val underlying =
        try mk catch { case scala.util.control.NonFatal(e) => fail(e); null }
      private def fail(e: Throwable): Unit = {
        broken = true
        System.err.println(s"[graft] error processing $name: ${e.getMessage} — skipped")
      }
      private def prefetch(): Unit =
        if (!broken && pending == null) {
          try { if (underlying.hasNext) pending = underlying.next() }
          catch { case scala.util.control.NonFatal(e) => fail(e) }
        }
      override def hasNext: Boolean = { prefetch(); pending != null }
      override def next(): (String, Long, Array[String]) = {
        prefetch()
        if (pending == null) throw new NoSuchElementException(name)
        val out = pending; pending = null; out
      }
    }

  private def toRow(name: String, sheet: String, rowIdx: Long,
      cells: Array[String]): Row = {
    val nCols = dbColumns.size
    val vals = new Array[Any](nCols + 3)
    var i = 0
    while (i < nCols) {
      vals(i) = if (i < cells.length && cells(i) != null) cells(i) else ""
      i += 1
    }
    vals(nCols) = name
    vals(nCols + 1) = sheet
    vals(nCols + 2) = rowIdx
    Row.fromSeq(vals.toIndexedSeq)
  }

  def frame(spark: SparkSession, path: String, extensions: String*)(
      scan: java.io.File => Iterator[(String, Long, Array[String])]): DataFrame = {
    val files = ReportFiles.list(path, extensions = extensions).map(_.toString)
    val rows = spark.sparkContext
      .parallelize(files, math.max(files.size, 1))
      .flatMap { f =>
        val name = new java.io.File(f).getName
        tolerant(name, scan(new java.io.File(f))).map { case (sheet, rowIdx, cells) =>
          toRow(name, sheet, rowIdx, cells)
        }
      }
    spark.createDataFrame(rows, scanSchema)
  }

  /** Same assembly over an in-memory `binaryFile` batch (path, content):
    * workbook bytes parsed on executors, dispatched by extension.
    */
  def frameFromBinary(spark: SparkSession, batch: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.col
    val rows = batch.select(col("path"), col("content")).rdd
      .flatMap { r =>
        val path = r.getString(0)
        val bytes = r.getAs[Array[Byte]](1)
        val name = path.substring(path.lastIndexOf('/') + 1)
        val it = tolerant(name,
          if (name.toLowerCase.endsWith(".xlsx"))
            Xlsx.scanRowsBytes(bytes, _.startsWith("Transfer Report"))
          else Xls.scanRowsBytes(bytes, _.startsWith("Transfer Report")))
        it.map { case (sheet, rowIdx, cells) => toRow(name, sheet, rowIdx, cells) }
      }
    spark.createDataFrame(rows, scanSchema)
  }
}

/** JSON-lines raw source: one object per row; values read as strings (the
  * engine owns typing, like every other adapter).
  */
object JsonRawSource extends RawSource {
  def load(spark: SparkSession, path: String): DataFrame = {
    val df0 = spark.read
      .option("primitivesAsString", "true") // all strings — typing is the engine's job
      .json(path)
    // JSON is name-addressed, not positional: select the 19 db columns by
    // name where present (absent → ""), then reuse the shared contract.
    val named = df0.select(
      (graft.model.TransferSchema.dbColumns.map(c =>
        (if (df0.columns.contains(c)) col(c) else lit("")).as(c)) ++
        graft.model.TransferSchema.metaColumns.filter(df0.columns.contains).map(col)): _*)
    sheetFilter(positional(ParquetRawSource.attachMeta(named)))
  }
}
