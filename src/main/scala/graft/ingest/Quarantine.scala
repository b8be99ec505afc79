package graft.ingest

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

import graft.model.TransferSchema._

/** Row-level error tolerance (A6 / SURVEY.md §7.5 item 8): the reference
  * skips bad rows and keeps going, logging every failure and a warning each
  * 100 (SQLiteDirectImporter.java:487-507, 620-639). In a declarative
  * engine, value-level failures already degrade to NULL (P2/P3 coercion);
  * what remains are STRUCTURALLY unusable rows. Those go to a quarantine
  * frame — a queryable error channel with a reason column — instead of
  * stderr.
  */
object Quarantine {

  /** A row is structurally unusable when it carries no identity at all:
    * both upsert-key cells empty (the reference would insert it, but it can
    * never be addressed or resolved — and a padded short row
    * (SQLiteDirectImporter.java:460-464) of all-empty cells is exactly this
    * shape).
    */
  def invalidReason: Column =
    when(trim(col("file_name")) === "" && trim(col("target_file_id")) === "",
      lit("empty_key: file_name and target_file_id both blank"))
      .otherwise(lit(null).cast("string"))

  /** (good, quarantined-with-reason). One narrow pass, no shuffle. The good
    * branch counts the quarantined rows as they pass, with an `observe`
    * before its filter, so the job that reads `good` (the import's write)
    * also yields the quarantine count; [[observedCount]] hands it to whoever
    * holds `bad`. `bad` carries no observation: an action on it may read
    * only part of its input.
    */
  def split(raw: DataFrame): (DataFrame, DataFrame) = {
    val tagged = raw.withColumn("_quarantine_reason", invalidReason)
    val seen = Observation()
    val good = tagged.observe(seen, count(col("_quarantine_reason")).as("quarantined"))
      .filter(col("_quarantine_reason").isNull).drop("_quarantine_reason")
    val bad = tagged.filter(col("_quarantine_reason").isNotNull)
    counts.synchronized(counts.put(bad, seen))
    (good, bad)
  }

  /** `bad` → the observation on its good branch. `Dataset` keeps `Object`'s
    * identity equality, and the keys are weak: an entry goes with its frame.
    */
  private val counts = new java.util.WeakHashMap[DataFrame, Observation]()

  /** The row count of a quarantine frame from [[split]], if a job over its
    * good branch has completed and Spark has delivered the observation.
    */
  def observedCount(bad: DataFrame): Option[Long] =
    Option(counts.synchronized(counts.get(bad)))
      .flatMap(_.future.value).flatMap(_.toOption).map(_.getLong(0))
}
