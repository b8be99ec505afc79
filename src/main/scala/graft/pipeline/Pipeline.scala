package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ingest.{Coerce, ParquetRawSource, Quarantine, RawSource}
import graft.ops.{Enrich, Parents, Upsert}
import graft.views.Analytic

/** The reference's hard-coded main() call sequence
  * (SQLiteDirectImporter.java:109-221; SURVEY.md §3.1) as one composable
  * pipeline: scan → positional project → coerce → derive → upsert-dedup →
  * parent resolution → analytic views.
  *
  * Stage dataflow (physical): ONE scan of the source feeds the whole write
  * job — quarantine/coerce/enrich are narrow (per-split) projections of it;
  * the upsert window is shuffle #1 (hash by key, null-keyed rows each their
  * own group); parent resolution is shuffle #2 (one name-keyed window, no
  * self-join). Neither operator branches the plan, so nothing re-reads the
  * workbooks and nothing is cached. The quarantine frame is the same scan
  * filtered the other way; its row count is observed in the write job, so
  * the report need not read it again. Registering the views caches the
  * resolved frame and runs one job, the distinct statuses, which fills
  * that in-memory copy as it runs; every view, and the report, then reads
  * the copy, so no read after registration runs the pipeline again. The
  * hierarchy's driver loop of distributed joins runs on the first read of
  * `hierarchy_children`.
  */
object Pipeline {

  /** Ingest one batch of report data into the final analytical frame. */
  def run(spark: SparkSession, path: String, source: RawSource = ParquetRawSource): DataFrame =
    runWithQuarantine(spark, path, source)._1

  /** Same, but also surfaces the structurally-rejected rows (A6 error
    * channel) for the report. The first job over the resolved frame counts
    * them: it passes the upsert exchange, so it reads every row.
    */
  def runWithQuarantine(spark: SparkSession, path: String,
      source: RawSource = ParquetRawSource): (DataFrame, DataFrame) =
    fromRaw(source.load(spark, path))

  /** A raw frame (a [[RawSource]]'s output) to (resolved, quarantined): the
    * one import every path runs, the streaming drop folder's micro-batches
    * included.
    */
  def fromRaw(raw: DataFrame): (DataFrame, DataFrame) = {
    val (good, bad) = Quarantine.split(raw)
    (resolve(Enrich(Coerce(good))), bad)
  }

  /** The post-ingest passes over an already-typed frame. */
  def resolve(typed: DataFrame): DataFrame = Parents(Upsert(typed))

  /** Run + bind the analytic layer (the reference's end state: a queryable
    * database).
    */
  def runAndRegister(spark: SparkSession, path: String): DataFrame = {
    val df = run(spark, path)
    Analytic.registerAll(spark, df)
    df
  }
}
