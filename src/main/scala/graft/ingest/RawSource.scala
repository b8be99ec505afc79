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
  * reproduced here behind a format-agnostic trait. The workbook sources
  * ([[WorkbookSource]]) read the reference's own input; the Parquet and CSV
  * sources carry the same contract for tests and tools (SURVEY.md §7.5
  * item 7).
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

/** The workbook sources — the reference's PRIMARY input format — read
  * dependency-free: `.xlsx` via [[Xlsx]] (JDK zip + StAX), legacy `.xls` via
  * [[Cfb]] + [[Xls]] (no POI, which is unavailable offline). Each lists the
  * drop folder's report files with its extensions ([[ReportFiles.list]]) and
  * reads them through [[WorkbookFrames.frame]]; the sources differ only in
  * those extensions.
  *
  * The `Transfer Report*` sheet predicate is applied AT SCAN (non-matching
  * sheets are never parsed, SQLiteDirectImporter.java:349); the shared
  * `sheetFilter` then re-asserts it and drops header rows, identically to
  * every other adapter.
  */
sealed abstract class WorkbookSource(val extensions: Seq[String]) extends RawSource {
  def load(spark: SparkSession, path: String): DataFrame =
    frame(spark, ReportFiles.list(path, extensions = extensions).map(_.toFile))

  /** The raw frame of the given workbook files, in the given order. */
  def frame(spark: SparkSession, files: Seq[java.io.File]): DataFrame =
    sheetFilter(positional(WorkbookFrames.frame(spark, files)))
}

/** `.xlsx` workbooks (SQLiteDirectImporter.java:330-379). */
object XlsxRawSource extends WorkbookSource(Seq("xlsx"))

/** Legacy `.xls` (BIFF8) workbooks, the reference's "traditional" path
  * (SQLiteDirectImporter.java:384-426). The container is read whole into
  * memory (as the reference's HSSFWorkbook does), which is fine for the
  * bounded archival files the format implies — the scale path is xlsx.
  */
object XlsRawSource extends WorkbookSource(Seq("xls"))

/** Both workbook formats, as the reference's drop folder holds them. */
object WorkbookRawSource extends WorkbookSource(Seq("xlsx", "xls"))

/** Shared scan→DataFrame assembly for the workbook sources: parallelize
  * ONE FILE PER TASK (the workbook containers are single-stream artifacts —
  * files are the unit of scan parallelism; the reference processes them
  * sequentially on one thread), scan each with the reader its extension
  * picks, pad/truncate positionally to the 19-column band
  * (SQLiteDirectImporter.java:460-464, 511-513). File paths must be visible
  * to executors (local/NFS mounts; on object stores, localize first — the
  * workbook format itself precludes split reads).
  */
private[ingest] object WorkbookFrames {
  import org.apache.spark.sql.Row

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

  /** The reference's per-file dispatch (SQLiteDirectImporter.java:319-325):
    * `.xlsx` → the streaming reader, anything else → the traditional one.
    */
  private def scan(f: java.io.File): Iterator[(String, Long, Array[String])] =
    if (f.getName.toLowerCase.endsWith(".xlsx"))
      Xlsx.scanRows(f, _.startsWith("Transfer Report"))
    else Xls.scanRows(f, _.startsWith("Transfer Report"))

  def frame(spark: SparkSession, files: Seq[java.io.File]): DataFrame = {
    val rows = spark.sparkContext
      .parallelize(files, math.max(files.size, 1))
      .flatMap { f =>
        val name = f.getName
        tolerant(name, scan(f)).map { case (sheet, rowIdx, cells) =>
          toRow(name, sheet, rowIdx, cells)
        }
      }
    spark.createDataFrame(rows, rawSchema)
  }
}
