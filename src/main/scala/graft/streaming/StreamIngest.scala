package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.model.TransferSchema

/** Structured-streaming reproduction of the reference's incremental
  * behaviors (SURVEY.md §2.8):
  *
  *   - the DROP-FOLDER CONTRACT (SQLiteDirectImporter.java:124-143, 186-192):
  *     files appear in `source/`, are processed exactly once, then archived —
  *     `readStream` file source + `Trigger.AvailableNow` +
  *     `cleanSource=archive`, with the batch pipeline running unchanged in
  *     `foreachBatch`. Exactly-once bookkeeping comes from the checkpoint.
  *   - watermarked event-time operators over the `events` stream (dedup,
  *     per-key state, a range join, session windows) — extension scope
  *     (the reference has no event-time operators).
  */
object StreamIngest {

  /** Ingest the drop-folder incrementally: every new parquet file under
    * `sourceDir` flows once through `batchFn` (typically
    * `Pipeline.resolve(Enrich(Coerce(_)))` + a sink write), then is archived
    * under `archiveDir` — the reference's source/→processed/ lifecycle
    * (SQLiteDirectImporter.java:186-192).
    *
    * Archiving is done explicitly per batch from `input_file_name()` rather
    * than via the `cleanSource=archive` option: the built-in cleaner is an
    * async best-effort task that typically never runs before an
    * `AvailableNow` query terminates, while the reference's move is part of
    * its per-file contract. The file list per batch is bounded by
    * `maxFilesPerTrigger`, so the driver-side collect is safe.
    */
  def runDropFolder(spark: SparkSession, sourceDir: String, archiveDir: String,
      checkpointDir: String)(batchFn: (DataFrame, Long) => Unit): StreamingQuery =
    spark.readStream
      .schema(TransferSchema.rawSchema)
      .option("maxFilesPerTrigger", 1000)
      .parquet(sourceDir)
      .writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val files = batch.select(input_file_name()).distinct()
          .collect().map(_.getString(0)).filter(_.nonEmpty)
        batchFn(batch, id)
        archiveFiles(files, archiveDir)
      }
      .start()

  /** The drop-folder contract over WORKBOOK files (`.xlsx`/`.xls`) — the
    * reference's actual input mode: new workbooks stream in as
    * `binaryFile` rows (path + content), are parsed on executors by the
    * dependency-free readers (Xlsx/Xls via WorkbookRawSource.fromBinary),
    * flow once through `batchFn` as the raw 19-column frame, then are
    * archived. Exactly-once bookkeeping from the checkpoint, as in
    * [[runDropFolder]].
    *
    * Scale note: `binaryFile` materializes each workbook's bytes as one row
    * (spilling to an executor temp file for the zip's random access) —
    * right for drop-folder cadences of bounded report files; for very large
    * workbooks on a shared mount, the batch adapter (`XlsxRawSource`)
    * streams straight from the file instead.
    */
  def runWorkbookDropFolder(spark: SparkSession, sourceDir: String,
      archiveDir: String, checkpointDir: String)(
      batchFn: (DataFrame, Long) => Unit): StreamingQuery =
    spark.readStream
      .format("binaryFile")
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("path", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("modificationTime", org.apache.spark.sql.types.TimestampType),
        org.apache.spark.sql.types.StructField("length", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("content", org.apache.spark.sql.types.BinaryType))))
      .option("pathGlobFilter", "*.xls*")
      .option("maxFilesPerTrigger", 1000)
      .load(sourceDir)
      .writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch0: DataFrame, id: Long) =>
        // same hygiene as the batch scan (ReportFiles / S1): skip Office
        // `~$` lock files and prior extractor outputs — archiving a lock
        // file would break an open Excel session — and accept exactly
        // .xlsx/.xls (the glob also matches .xlsm/.xlsb, which the
        // readers can't parse)
        val fname = lower(regexp_extract(col("path"), "([^/]+)$", 1))
        val batch = batch0.filter(
          !regexp_extract(col("path"), "([^/]+)$", 1).startsWith("~") &&
          !regexp_extract(col("path"), "([^/]+)$", 1).startsWith("Transfer-Overview-") &&
          !regexp_extract(col("path"), "([^/]+)$", 1).startsWith("Overview-") &&
          (fname.endsWith(".xlsx") || fname.endsWith(".xls")))
        val files = batch.select(col("path")).distinct()
          .collect().map(_.getString(0)).filter(_.nonEmpty)
        batchFn(graft.ingest.WorkbookRawSource.fromBinary(spark, batch), id)
        archiveFiles(files, archiveDir)
      }
      .start()

  private def archiveFiles(files: Seq[String], archiveDir: String): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    Files.createDirectories(Paths.get(archiveDir))
    files.foreach { uri =>
      val p = Paths.get(java.net.URI.create(uri))
      if (Files.exists(p))
        Files.move(p, Paths.get(archiveDir, p.getFileName.toString),
          StandardCopyOption.REPLACE_EXISTING)
    }
  }

  /** Streaming exactly-once event dedup: watermark-bounded state keyed on
    * `event_id` — duplicates arriving within the watermark horizon are
    * dropped by the state store; state for events older than the watermark
    * is reclaimed. The streaming twin of the batch upsert's "seen keys" set.
    */
  def dedupEvents(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark).dropDuplicates("event_id")

  /** Custom per-key state via `mapGroupsWithState`: running per-user
    * (event count, value total), re-emitted on every update — the
    * KeyValueGroupedDataset form for state machines the built-in windows
    * can't express. GroupState holds one small case class per user; at
    * scale the state store shards by key across executors.
    */
  def runningUserTotals(spark: SparkSession, events: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    import spark.implicits._
    case class In(user_id: Long, value: Double)
    val typed = events.select(col("user_id"), col("value")).as[(Long, Double)]
    typed.groupByKey(_._1)
      .mapGroupsWithState[(Long, Double), (Long, Long, Double)](
        GroupStateTimeout.NoTimeout) {
        case (user, rows, state: GroupState[(Long, Double)]) =>
          val (n0, v0) = state.getOption.getOrElse((0L, 0.0))
          var n = n0; var v = v0
          rows.foreach { case (_, value) => n += 1; v += value }
          state.update((n, v))
          (user, n, v)
      }
      .toDF("user_id", "n_events", "total_value")
  }

  /** Stream-stream inner join with event-time range bounds: attribute each
    * left-stream event to same-user right-stream events inside the
    * following `rangeMinutes` — the attribution-join shape (view →
    * purchase). BOTH sides carry watermarks and the time-range predicate,
    * which is what lets Spark bound the join state: a buffered left row can
    * be dropped once the right watermark passes `l_ts + range`, and vice
    * versa. Without the range condition the state store would hold every
    * row forever.
    */
  def correlatedEvents(left: DataFrame, right: DataFrame,
      rangeMinutes: Int = 60, watermark: String = "1 hour"): DataFrame = {
    val l = left.withWatermark("ts", watermark).select(
      col("user_id"), col("event_id").as("l_event"),
      col("ts").as("l_ts"), col("event_type").as("l_type"))
    val r = right.withWatermark("ts", watermark).select(
      col("user_id").as("r_user"), col("event_id").as("r_event"),
      col("ts").as("r_ts"), col("event_type").as("r_type"))
    l.join(r,
      col("user_id") === col("r_user") &&
        col("r_ts") >= col("l_ts") &&
        col("r_ts") <= col("l_ts") + expr(s"INTERVAL $rangeMinutes MINUTES") &&
        col("l_event") =!= col("r_event"))
      .select("user_id", "l_event", "l_type", "r_event", "r_type", "l_ts", "r_ts")
  }

  /** Sessionized per-user activity via gap-based `session_window` — the
    * idiomatic built-in for session state (see [[runningUserTotals]] for the
    * custom-state form).
    */
  def userSessions(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        // decimal-exact sum, DOUBLE on the wire (exact decimal→double is
        // deterministic; Decimal columns hash inconsistently downstream)
        sum(col("value").cast("decimal(18,2)")).cast("decimal(18,2)")
          .cast("double").as("total_value"))
      .select(col("w.start").as("session_start"), col("w.end").as("session_end"),
        col("user_id"), col("n_events"), col("total_value"))
}
