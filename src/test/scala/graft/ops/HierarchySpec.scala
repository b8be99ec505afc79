package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The traversal against a driver-side walk of the reference's recursive
  * query over the collected rows: roots are the rows whose `parent_id` is
  * null, and each step follows every row whose `parent_id` names the
  * current row's `target_file_id`. Rows the walk never reaches (orphans,
  * cycles no root reaches) must be absent; a shared id yields one row per
  * ancestor chain.
  */
class HierarchySpec extends SparkSpec {
  import spark.implicits._

  private def forest(rows: Seq[(String, Long, Option[Long], Int)]) =
    rows.toDF("file_name", "target_file_id", "_p", "level")
      .withColumn("parent_id", col("_p").cast("string")).drop("_p")

  /** (file_name, target_file_id, depth, path), sorted. Loops forever on a
    * cycle a root reaches — that input has no finite answer.
    */
  private def walk(df: DataFrame): Seq[(String, Long, Int, String)] = {
    val rows = df.select("file_name", "target_file_id", "parent_id").collect()
      .map(r => (r.getString(0), r.getLong(1), Option(r.getString(2)).map(_.toLong)))
    val children = rows.filter(_._3.isDefined).groupBy(_._3.get)
    var level = rows.toSeq.filter(_._3.isEmpty).map { case (f, id, _) => (f, id, 0, f) }
    var out = level
    while (level.nonEmpty) {
      level = level.flatMap { case (_, id, d, p) =>
        children.getOrElse(id, Array.empty).toSeq.map { case (f, cid, _) => (f, cid, d + 1, s"$p > $f") }
      }
      out ++= level
    }
    out.sorted
  }

  private def traversed(df: DataFrame): Seq[(String, Long, Int, String)] =
    Hierarchy(df).select("file_name", "target_file_id", "depth", "path")
      .as[(String, Long, Int, String)].collect().toSeq.sorted

  test("walk parity: seeded 400-node random forest") {
    val rnd = new scala.util.Random(7L)
    // each non-root parented onto a strictly earlier node — random shape,
    // depth emerges ~log n
    val df = forest((0L until 400L).map { id =>
      val parent = if (id < 5) None else Some(rnd.nextLong(id))
      (s"n$id", 1000L + id, parent.map(_ + 1000L), 1)
    })
    val expected = walk(df)
    assert(expected.size === 400)
    assert(traversed(df) === expected)
  }

  test("walk parity: orphans and their descendants are dropped") {
    val df = forest(Seq(
      ("root", 1L, None, 1),
      ("kid", 2L, Some(1L), 1),
      ("orphan", 3L, Some(999L), 1),      // parent id resolves to no row
      ("orphan_child", 4L, Some(3L), 1))) // dangles transitively
    assert(walk(df).map(_._1) === Seq("kid", "root"))
    assert(traversed(df) === walk(df))
  }

  test("walk parity: an unreachable 2-cycle and its child are dropped") {
    // cycle members' segments grow every round; the traversal must stop
    // once a round settles nothing, not after a fixed round budget
    val df = forest(Seq(
      ("root", 1L, None, 1),
      ("kid", 2L, Some(1L), 1),
      ("cycA", 5L, Some(6L), 1),
      ("cycB", 6L, Some(5L), 1),
      ("cyc_child", 7L, Some(5L), 1)))
    assert(walk(df).map(_._1) === Seq("kid", "root"))
    assert(traversed(df) === walk(df))
  }

  test("walk parity: a target_file_id shared by two rows yields one row per chain") {
    val df = forest(Seq(
      ("r1", 1L, None, 1),
      ("r2", 2L, None, 1),
      ("a", 10L, Some(1L), 2),
      ("b", 10L, Some(2L), 2), // same id as "a", different parent
      ("c", 11L, Some(10L), 3),
      ("d", 12L, Some(11L), 4)))
    val expected = walk(df)
    assert(expected.map(_._4).filter(_.endsWith("> d")) === Seq("r1 > a > c > d", "r2 > b > c > d"))
    assert(traversed(df) === expected)
  }

  test("a shared id closing a cycle that a root reaches throws IllegalStateException") {
    // root → a(2) → b(3) → a2(2) → b(3) → … : WITH RECURSIVE never ends
    val df = forest(Seq(
      ("root", 1L, None, 1),
      ("a", 2L, Some(1L), 1),
      ("b", 3L, Some(2L), 1),
      ("a2", 2L, Some(3L), 1)))
    intercept[IllegalStateException](Hierarchy(df))
  }

  test("adversarial 500-deep chain resolves in logarithmic rounds, bounded time") {
    val chain = spark.range(500).select(
      concat(lit("c"), col("id")).as("file_name"),
      (col("id") + 10L).as("target_file_id"),
      when(col("id") === 0, lit(null).cast("string"))
        .otherwise((col("id") + 9L).cast("string")).as("parent_id"),
      lit(1).as("level"))
    val t0 = System.nanoTime()
    val r = Hierarchy(chain)
      .agg(count(lit(1)), max(col("depth")), max(length(col("path")))).head()
    val secs = (System.nanoTime() - t0) / 1e9
    assert(r.getLong(0) === 500L)
    assert(r.getInt(1) === 499)
    // full breadcrumb survives the segment concatenation: 500 names + separators
    assert(r.getInt(2) > 500 * 3)
    // ~10 doubling rounds; a per-level loop would be 500 sequential jobs.
    // Generous bound — this fails only if doubling degenerates to linear.
    assert(secs < 120.0, f"deep chain took $secs%.1f s")
  }
}
