package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, collect_set, count, hash, lit, max, pmod}

import graft.model.TransferSchema.epochCol
import graft.ops.Upsert

/** Keyed-merge parquet sink: the cross-batch analog of the reference's
  * `INSERT OR REPLACE` into one database — successive batches CONVERGE on
  * one row per key instead of appending (re-ingesting the same report is
  * idempotent, as with the reference's re-runs — SURVEY.md §2.8).
  *
  * State layout: parquet partitioned by `_bucket` = hash(upsert key) mod
  * `numBuckets`. Every row of a given key lands in exactly one bucket, so a
  * per-bucket keyed upsert equals the global one. A merge touches ONLY the
  * buckets the incoming batch hashes into — dynamic partition overwrite
  * replaces just those directories and leaves every other bucket's files
  * untouched (byte-identical). Cost per batch is O(batch + dirty-bucket
  * state), not O(total state).
  *
  * Cross-batch ordering: each merge stamps the batch with a strictly
  * increasing `_epoch` (persisted in a `_graft_meta` sidecar; underscore
  * files are invisible to Spark's file index). Within the upsert, epoch
  * dominates the arrival order (TransferSchema.arrivalOrderAsc), so a
  * re-shipped key whose per-batch row indices restarted still beats every
  * earlier epoch — the reference's wall-clock insert order across runs.
  *
  * A batch merges only into a state of its own columns: a state whose
  * columns differ (say, one written by an older pipeline) is refused before
  * anything is written, never null-filled.
  *
  * Visibility: partition overwrite commits per-bucket, so a concurrent
  * reader can observe some buckets new and some old mid-merge (the previous
  * whole-directory swap had its own no-directory window). Crash recovery is
  * re-running the merge: the keyed upsert is idempotent. On a real
  * deployment the same call site targets a table format (Delta/Iceberg
  * `MERGE INTO`) for snapshot-atomic visibility.
  */
object MergeSink {

  private val bucketColName = "_bucket"

  /** Merge `resolved` (post-pipeline rows carrying arrival-order metadata)
    * into the keyed state at `statePath`. Returns the new state row count.
    * Throws `IllegalStateException` when the state's columns are not the
    * batch's.
    */
  def merge(spark: SparkSession, resolved: DataFrame, statePath: String,
      numBuckets: Int = 64): Long = {
    val state = new Path(statePath)
    val fs = state.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // "state exists" = it has the sidecar or at least one bucket dir — a
    // merely-created empty directory is a fresh state, not a crash
    val exists = fs.exists(state) && (fs.exists(metaFile(state)) ||
      fs.listStatus(state).exists(_.getPath.getName.startsWith(bucketColName + "=")))
    // data files in no layout this sink wrote (e.g. flat parquet): the
    // fresh-state branch's overwrite would clobber them, so refuse
    if (!exists && fs.exists(state) &&
        fs.listStatus(state).exists(_.getPath.getName.startsWith("part-")))
      throw new IllegalStateException(s"$statePath holds part- files but no " +
        s"_graft_meta sidecar and no $bucketColName= directory: not a merge state")
    val current = if (exists) Some(spark.read.parquet(statePath)) else None
    current.foreach { st =>
      val batchCols = resolved.columns.toSet + epochCol + bucketColName
      val stateOnly = st.columns.toSet -- batchCols
      val batchOnly = batchCols -- st.columns
      if (stateOnly.nonEmpty || batchOnly.nonEmpty)
        throw new IllegalStateException(s"$statePath: the state's columns " +
          s"differ from the batch's (state only: ${stateOnly.toSeq.sorted.mkString(", ")}; " +
          s"batch only: ${batchOnly.toSeq.sorted.mkString(", ")})")
    }
    val (epoch, prevTotal) = readMeta(fs, state, spark, statePath, exists)
    // RESERVE the new epoch before touching data: if the data write crashes
    // mid-way, the next (different) batch gets a strictly later epoch and
    // can never tie with the crashed batch's partially-written rows. The
    // total in the sidecar is advisory until the post-write update lands —
    // the `reserved` flag makes readMeta recount from data instead of
    // trusting it, so a crash can't make the persisted total drift forever.
    if (exists) writeMeta(fs, state, epoch + 1, prevTotal, finalized = false)

    // bucket by the upsert key's hash: same key → same bucket, always. The
    // batch is evaluated once, into a local checkpoint whose job also
    // collects the buckets it touches (bounded by numBuckets)
    val dirtyObs = Observation()
    val batch = resolved
      .withColumn(epochCol, lit(epoch + 1))
      .withColumn(bucketColName,
        pmod(hash(col("file_name"), col("target_file_id")), lit(numBuckets)))
      .observe(dirtyObs, collect_set(col(bucketColName)).as("dirty"))
      .localCheckpoint()
    val dirty = dirtyObs.get("dirty").asInstanceOf[scala.collection.Seq[Int]].toSeq

    // the write job counts the rows it writes, and the dirty state it reads
    val writtenObs = Observation()
    def upsert(in: DataFrame) =
      Upsert(in).observe(writtenObs, count(lit(1)).as("n"))
        .write.mode("overwrite").partitionBy(bucketColName)
    def written = writtenObs.get("n").asInstanceOf[Long]
    val merged = current match {
      case Some(st) =>
        // partition pruning: only the dirty buckets' files are read
        val readObs = Observation()
        val dirtyState = st
          .filter(col(bucketColName).isin(dirty: _*))
          .observe(readObs, count(lit(1)).as("n"))
        upsert(dirtyState.unionByName(batch))
          .option("partitionOverwriteMode", "dynamic")
          .parquet(statePath)
        prevTotal - readObs.get("n").asInstanceOf[Long] + written
      case None =>
        upsert(batch).parquet(statePath)
        written
    }
    writeMeta(fs, state, epoch + 1, merged)
    merged
  }

  /** Current (epoch, total rows). Prefers the sidecar; falls back to a scan
    * with a null-guard (empty-but-existing state ⇒ epoch 0, count 0) so a
    * state directory with zero rows never throws.
    *
    * A `reserved` (non-finalized) sidecar means the previous merge crashed
    * between the epoch reservation and the post-write update: the epoch
    * reservation is still honored (that's its point — no tie with the
    * crashed batch's partial rows), but the advisory total is stale, so the
    * real count comes from a data scan instead.
    */
  private def readMeta(fs: org.apache.hadoop.fs.FileSystem, state: Path,
      spark: SparkSession, statePath: String, exists: Boolean): (Long, Long) = {
    if (!exists) return (0L, 0L)
    val meta = metaFile(state)
    if (fs.exists(meta)) {
      val in = fs.open(meta)
      val line = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
      line.split(',') match {
        case Array(e, t, "f") => (e.toLong, t.toLong)
        case Array(e, _, "r") =>
          val (scanEpoch, scanCount) = scanMeta(spark, statePath)
          (math.max(e.toLong, scanEpoch), scanCount)
        case _ => scanMeta(spark, statePath)
      }
    } else scanMeta(spark, statePath)
  }

  private def scanMeta(spark: SparkSession, statePath: String): (Long, Long) = {
    val df = spark.read.parquet(statePath)
    val row = df.agg(coalesce(max(col(epochCol)), lit(0L)), count(lit(1))).head()
    (row.getLong(0), row.getLong(1))
  }

  private def writeMeta(fs: org.apache.hadoop.fs.FileSystem, state: Path,
      epoch: Long, total: Long, finalized: Boolean = true): Unit = {
    val flag = if (finalized) "f" else "r"
    val out = fs.create(metaFile(state), true)
    try out.write(s"$epoch,$total,$flag".getBytes("UTF-8")) finally out.close()
  }

  private def metaFile(state: Path) = new Path(state, "_graft_meta")
}
