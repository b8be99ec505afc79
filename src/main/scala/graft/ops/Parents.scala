package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.TransferSchema._

/** Parent-id resolution (J1): the reference builds an in-memory map
  * `file_name → target_file_id` over rows with non-null id, then updates each
  * row whose `parent_folder` hits the map (SQLiteDirectImporter.java:797-860).
  *
  * Here the build and the probe share one name-keyed window, so the input is
  * read once and never joined to an aggregate of itself. Each row is emitted
  * twice by one `explode`: as a PROBE under its `parent_folder`, and — when
  * it has a `target_file_id` — as a MAP ENTRY under its own `file_name`, with
  * every other column nulled so the entry costs a few bytes in the shuffle.
  * Over `partitionBy(name)`, `max_by(target_file_id, arrival)` restricted to
  * the map entries is the map's value for that name; the probes keep it as
  * `parent_id` and the entries are dropped.
  *
  * Two semantic quirks replicated exactly (SURVEY.md §7.5 item 2):
  *   - the build map keeps the LAST `(file_name → target_file_id)` inserted
  *     (map overwrite, SQLiteDirectImporter.java:810) → the max is taken
  *     over the arrival order ([[graft.model.TransferSchema.arrivalOrderAsc]]
  *     as an orderable struct — no global sequence materialized);
  *   - a miss leaves `parent_id` NULL, and so does a NULL `parent_folder`.
  *
  * Physical shape: one hash exchange on the name and a per-partition sort,
  * no join. Output columns are the input's without `parent_id`, then
  * `parent_id` last.
  */
object Parents {

  def apply(df: DataFrame): DataFrame = {
    val rest = df.columns.toSeq.filterNot(_ == parentIdCol)
    // struct comparison is lexicographic by field → the arrival-order cols
    // wrapped in one struct give max_by a total "latest arrival" order
    val ord = struct(arrivalOrderAsc(df.columns.toSeq): _*)
    // null-guard, SQLiteDirectImporter.java:802; a null name is never a key
    val isEntry = col("target_file_id").isNotNull && col("file_name").isNotNull
    val probe = struct(col(parentFolderCol).as("key"), lit(false).as("entry"))
    val entry = struct(col("file_name").as("key"), lit(true).as("entry"))
    val emitted = df
      .select(rest.map(col) :+ ord.as("_ord"): _*)
      .withColumn("_e", explode(when(isEntry, array(probe, entry)).otherwise(array(probe))))
      .select(rest.map(c => if (c == "target_file_id") col(c) else when(!col("_e.entry"), col(c)).as(c)) ++
        Seq(col("_e.key").as("_key"), col("_e.entry").as("_entry"),
          when(col("_e.entry"), col("_ord")).as("_ord")): _*)
    // a NULL key (parent_folder of a level-1 row) groups no entries → NULL
    val resolved = max_by(col("target_file_id"), col("_ord")).over(Window.partitionBy(col("_key")))
    emitted
      .withColumn(parentIdCol, resolved.cast("string"))
      .filter(!col("_entry"))
      .select(rest.map(col) :+ col(parentIdCol): _*)
  }
}
