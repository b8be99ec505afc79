package graft.streaming

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ingest.{ReportFiles, WorkbookRawSource}
import graft.pipeline.Pipeline

/** Structured-streaming reproduction of the reference's incremental
  * behaviors (SURVEY.md §2.8):
  *
  *   - the DROP-FOLDER CONTRACT (SQLiteDirectImporter.java:124-143, 186-192):
  *     workbooks appear in `source/`, are imported exactly once, then
  *     archived — a `readStream` file source + `Trigger.AvailableNow`, with
  *     the one-shot import running unchanged in `foreachBatch`.
  *     Exactly-once bookkeeping comes from the checkpoint.
  *   - watermarked event-time operators over the `events` stream (dedup,
  *     per-key state, a range join, session windows) — extension scope
  *     (the reference has no event-time operators).
  */
object StreamIngest {

  /** Import the drop folder incrementally: every new workbook (`.xlsx` or
    * `.xls`) under `sourceDir` is imported once, then moved to `archiveDir`
    * — the reference's source/→processed/ lifecycle
    * (SQLiteDirectImporter.java:186-192).
    *
    * The stream carries file paths only: the `binaryFile` scan reads no
    * workbook bytes. Each micro-batch turns its paths into local files on
    * the driver, keeps those [[ReportFiles.accepts]] takes (no `~$` lock
    * file, whose move would break an open Excel session, and no prior
    * extractor output), and imports them exactly as the one-shot import
    * does: [[WorkbookRawSource]]'s scan, then [[Pipeline.fromRaw]].
    * `batchFn` gets the resolved and the quarantined frame and the batch
    * id; then the same files are archived. A batch with no such file
    * imports nothing and does not call `batchFn`. The file list per batch
    * is bounded by `maxFilesPerTrigger`. `sourceDir` is a local (or
    * mounted) directory: the readers open the workbooks by local path, as
    * the one-shot import does.
    *
    * Archiving is done here rather than via the `cleanSource=archive`
    * option: the built-in cleaner is an async best-effort task that
    * typically never runs before an `AvailableNow` query terminates, while
    * the reference's move is part of its per-file contract. A file already
    * gone (a batch replayed after its files were archived) is skipped.
    */
  def runDropFolder(spark: SparkSession, sourceDir: String, archiveDir: String,
      checkpointDir: String)(
      batchFn: (DataFrame, DataFrame, Long) => Unit): StreamingQuery =
    spark.readStream
      .format("binaryFile")
      .schema("path STRING, modificationTime TIMESTAMP, length BIGINT, content BINARY")
      .option("maxFilesPerTrigger", 1000)
      .load(sourceDir)
      .select("path")
      .writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val files = batch.collect()
          .map(r => new File(new Path(r.getString(0)).toUri))
          .filter(f => f.isFile && ReportFiles.accepts(f.getName,
            WorkbookRawSource.extensions, ReportFiles.overviewOutputPrefixes))
          .sortBy(_.getName).toSeq
        if (files.nonEmpty) {
          val (resolved, quarantined) =
            Pipeline.fromRaw(WorkbookRawSource.frame(spark, files))
          batchFn(resolved, quarantined, id)
          Files.createDirectories(Paths.get(archiveDir))
          files.foreach(f => Files.move(f.toPath, Paths.get(archiveDir, f.getName),
            StandardCopyOption.REPLACE_EXISTING))
        }
      }
      .start()

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
