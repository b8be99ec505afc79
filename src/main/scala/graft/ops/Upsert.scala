package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.TransferSchema._

/** Keyed last-writer-wins dedup (J3/A4), replicating SQLite
  * `INSERT OR REPLACE` on `UNIQUE(file_name, target_file_id)`
  * (SQLiteDirectImporter.java:306, 711-729): the whole old row is replaced;
  * the winner is the physically last arrival — compared via
  * [[graft.model.TransferSchema.arrivalOrderDesc]] (epoch, then the
  * (file, sheet, row) triple), never a materialized global sequence.
  *
  * Physical shape at scale: the input is read once; one hash-partition
  * shuffle on the key, then a per-partition sort for `row_number` — Spark's
  * standard window dedup. With AQE on, skewed keys split automatically. No
  * driver-side state, no global sort anywhere.
  */
object Upsert {

  /** SQLite NULL semantics: rows with a NULL in a UNIQUE column never
    * conflict — every insert with `target_file_id IS NULL` survives, and
    * `INSERT OR REPLACE` replaces nothing. A plain window over the key would
    * group the NULLs together and collapse them, so the partition key gains
    * one more field: NULL for keyed rows, and the row's own arrival struct
    * for NULL-keyed ones. The arrival order identifies a row, so each
    * NULL-keyed row is a group of one and `row_number` keeps it — one
    * window, no filter/union of two branches (which would scan the input
    * twice). (`file_name` is never null from import — missing cells become
    * "" — so only `target_file_id` carries this case.)
    */
  def apply(df: DataFrame): DataFrame = {
    val columns = df.columns.toSeq
    val ownGroup = when(col("target_file_id").isNull, struct(arrivalOrderAsc(columns): _*))
    dedupLastWins(df, upsertKey.map(col) :+ ownGroup, arrivalOrderDesc(columns))
  }

  /** Generic keyed last-wins: keep the single row per key that sorts FIRST by
    * `order` (pass descending cols for "latest wins"). `order` must be a total
    * order within key for determinism.
    */
  def dedupLastWins(df: DataFrame, key: Seq[Column], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(key: _*).orderBy(order: _*)
    df.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn")
  }
}
