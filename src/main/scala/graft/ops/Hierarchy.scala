package graft.ops

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.model.PathOps
import graft.model.TransferSchema._

/** Recursive hierarchy traversal (J2) — the reference's `hierarchy_children`
  * view (`WITH RECURSIVE`, SQLiteDirectImporter.java:902-912; SCHEMA.sql:71-81):
  * anchor = rows with `parent_id IS NULL` at depth 0 with `path = file_name`;
  * step = child rows joined on `parent_id = parent.target_file_id`, depth+1,
  * path appended with `' > '`; result ordered by path.
  *
  * Spark 4.1 does have a recursive-CTE node (`UnionLoop`, `WITH RECURSIVE`),
  * but it is no substitute here. It steps one level per iteration; on a
  * 25k-node random forest it ran 4.5–5.2 s against 1.6–1.9 s for this
  * operator (3 warm runs each, 4 cores); a 300-deep chain fails at the
  * default `spark.sql.cteRecursionLevelLimit` of 100; and a cycle a root
  * reaches ends in `RECURSION_LEVEL_LIMIT_EXCEEDED`. This operator is instead
  * a driver loop of distributed joins (SURVEY.md §4) using path doubling, the
  * classic parallel list ranking: every row keeps a pointer to its nearest not-yet-absorbed
  * ancestor plus the breadcrumb segment and edge count back to it. Each round
  * joins the live rows to the rows their pointer names, jumps the pointer to
  * that row's pointer and prepends its segment, so a row's distance to its
  * pointer doubles per round. A row whose pointer becomes null has absorbed
  * a root and is settled: its segment is its full path. Settled rows stop
  * iterating; they stay on the ancestor side of the join. Every round ends
  * in one `localCheckpoint` that cuts lineage; the driver holds plans, never
  * data.
  *
  * Termination: after round r every row of depth < 2^r has settled, so round
  * r settles exactly the depths in [2^(r-1), 2^r). A root-reachable row still
  * live after round r has an ancestor in round r+1's band, so a round that
  * settles nothing leaves only rows that never reach a root. Those are
  * dropped, as the reference's recursive join never reaches them either:
  *   - orphans — a parent id that names no row — drop out of the inner join
  *     the round their pointer dangles, and their descendants follow;
  *   - members of a cycle no root reaches, and rows hanging off one, stay
  *     live until the first round that settles nothing, then are discarded.
  * The loop stops when a round settles no rows or leaves no live rows; both
  * counts are `observe`d on the round's checkpoint job, no extra action.
  *
  * A parent id shared by several rows yields one output row per ancestor
  * chain, as the reference's join does. When such a shared id closes a cycle
  * that a root CAN reach, `WITH RECURSIVE` has no finite answer: paths grow
  * without bound. A path with no repeated row has at most N-1 edges (N = input
  * rows, observed on the first checkpoint), so a row still settling in round
  * ⌈log2 N⌉+1 proves such a cycle, and the traversal throws
  * `IllegalStateException` rather than loop.
  *
  * Output columns: `file_name, target_file_id, parent_id, level, depth, path`
  * (the reference also carries its SQLite rowid `id`; we have no rowid — see
  * SURVEY.md §1.2).
  */
object Hierarchy {

  /** The traversal's rows ordered by path: the view's answer. */
  def apply(df: DataFrame): DataFrame = traverse(df).orderBy("path")

  /** The names and types of [[apply]]'s columns, from analysis alone: no job
    * runs.
    */
  def schema(df: DataFrame): StructType = output(start(df)).schema

  /** The traversal itself: its result rows, in no order, held by one local
    * checkpoint.
    */
  def traverse(df: DataFrame): DataFrame = {
    val initObs = Observation()
    val init = start(df)
      .observe(initObs, count(lit(1)).as("n"), count(col("_ptr")).as("live"))
      .localCheckpoint()
    val n = initObs.get("n").asInstanceOf[Long]
    // ⌈log2 n⌉: the round by which every row of a cycle-free input has settled
    val lastRound = 64 - java.lang.Long.numberOfLeadingZeros(n - 1)
    var settled = init.filter(col("_ptr").isNull)
    var live = init.filter(col("_ptr").isNotNull)
    var liveRows = initObs.get("live").asInstanceOf[Long]
    var settledRows = n - liveRows
    var round = 0
    while (settledRows > 0 && liveRows > 0) {
      round += 1
      val anc = settled.union(live).select(col("target_file_id").as("_aid"),
        col("_ptr").as("_aptr"), col("_seg").as("_aseg"), col("_dep").as("_adep"))
      val obs = Observation()
      val next = live.as("s")
        .join(anc, col("_ptr") === col("_aid"))
        .select(col("s.file_name"), col("s.target_file_id"),
          col(s"s.$parentIdCol"), col(s"s.$levelCol"),
          col("_aptr").as("_ptr"),
          PathOps.breadcrumb(col("_aseg"), col("_seg")).as("_seg"),
          (col("_dep") + col("_adep")).as("_dep"))
        .observe(obs, count(when(col("_ptr").isNull, 1)).as("settled"),
          count(col("_ptr")).as("live"))
        .localCheckpoint()
      settledRows = obs.get("settled").asInstanceOf[Long]
      liveRows = obs.get("live").asInstanceOf[Long]
      if (settledRows > 0 && round > lastRound)
        throw new IllegalStateException(
          s"Hierarchy: rows still settling after $round rounds over $n rows — " +
            "a shared target_file_id closes a cycle that a root reaches")
      settled = settled.union(next.filter(col("_ptr").isNull))
      live = next.filter(col("_ptr").isNotNull)
    }
    // one checkpoint of the N result rows: the round checkpoints (settled
    // and live rows alike) become unreachable here and the context cleaner
    // frees them, so a registered view holds the result, not every round
    output(settled).localCheckpoint()
  }

  /** Every row pointing at its parent, one edge away; a root points nowhere
    * and is settled at depth 0.
    */
  private def start(df: DataFrame): DataFrame = {
    val parent = col(parentIdCol).try_cast("long") // TEXT column, numeric compare (SQLite affinity)
    df.select(
      col("file_name"), col("target_file_id"), parent.as(parentIdCol), col(levelCol),
      parent.as("_ptr"), col("file_name").as("_seg"),
      when(parent.isNull, lit(0)).otherwise(lit(1)).as("_dep"))
  }

  private def output(rows: DataFrame): DataFrame =
    rows.select(col("file_name"), col("target_file_id"), col(parentIdCol),
      col(levelCol), col("_dep").as("depth"), col("_seg").as("path"))
}
