package graft.tools

import org.apache.spark.sql.functions._

import graft.ops.Hierarchy

/** Scale probe for the recursive-hierarchy traversal: synthesizes a forest
  * far beyond the test data (default: 10 roots × fanout 10 × depth 6 ≈ 1.1M
  * nodes, generated distributed per level, never on the driver), traverses
  * it and requires the depth histogram to match the closed form
  * 10·fanout^d nodes at depth d; then traverses a 10k-deep chain and requires
  * every node in the output at a max depth of 9999.
  *
  * Usage: `sbt "runMain graft.tools.HierarchyScale [fanout] [depth]"`.
  */
object HierarchyScale {
  def main(args: Array[String]): Unit = {
    val fanout = args.headOption.map(_.toInt).getOrElse(10)
    val depth = args.drop(1).headOption.map(_.toInt).getOrElse(6)
    val spark = graft.LocalSpark()

    // level l has 10 * fanout^(l-1) nodes; node ids are contiguous per level
    def levelOffset(l: Int): Long =
      (1 until l).map(i => 10L * math.pow(fanout, i - 1).toLong).sum
    val levels = (1 to depth).map { l =>
      val n = 10L * math.pow(fanout, l - 1).toLong
      val off = levelOffset(l)
      val parentOff = if (l == 1) 0L else levelOffset(l - 1)
      spark.range(n).select(
        concat(lit(s"L$l/n"), col("id")).as("file_name"),
        (col("id") + off + 1000000L).as("target_file_id"),
        (if (l == 1) lit(null).cast("string")
         else (col("id") / fanout + parentOff + 1000000L).cast("long").cast("string"))
          .as("parent_id"),
        lit(l).as("level"))
    }
    val nodes = levels.reduce(_ union _)
    val total = nodes.count()
    println(s"=== forest: $total nodes, depth $depth, fanout $fanout ===")

    val t0 = System.nanoTime()
    val tree = Hierarchy(nodes)
    val byDepth = tree.groupBy("depth").count().orderBy("depth").collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toSeq
    val secs = (System.nanoTime() - t0) / 1e9
    byDepth.foreach { case (d, c) => println(s"  depth $d: $c nodes") }
    val expected = (0 until depth).map(d => d -> 10L * math.pow(fanout, d).toLong)
    require(byDepth == expected, s"forest depth histogram $byDepth, expected $expected")
    println(f"=== traversal + depth histogram: $secs%.1f s for $total nodes ===")
    val leaf = tree.filter(col("depth") === depth - 1).select("path").head.getString(0)
    println(s"=== sample leaf path: ${leaf.take(120)} ===")

    // adversarial-depth probe: a chain 10k deep breaks any one-job-per-level
    // loop on job overhead alone (measured: 300 levels ≳ 10 min on this
    // box) — the path-doubling form resolves it in O(log depth) rounds
    val chainDepth = args.drop(2).headOption.map(_.toInt).getOrElse(10000)
    val chain = spark.range(chainDepth).select(
      concat(lit("C/n"), col("id")).as("file_name"),
      (col("id") + 5000000L).as("target_file_id"),
      when(col("id") === 0, lit(null).cast("string"))
        .otherwise((col("id") + 5000000L - 1).cast("string")).as("parent_id"),
      lit(1).as("level"))
    val t1 = System.nanoTime()
    val deep = Hierarchy(chain)
    val (n, maxDepthSeen) = {
      val r = deep.agg(count(lit(1)), max(col("depth"))).head()
      (r.getLong(0), r.getInt(1))
    }
    val secs2 = (System.nanoTime() - t1) / 1e9
    require(n == chainDepth && maxDepthSeen == chainDepth - 1,
      s"deep chain wrong: $n nodes, max depth $maxDepthSeen")
    println(f"=== deep chain: depth $chainDepth resolved by doubling in $secs2%.1f s " +
      f"(~${(math.log(chainDepth) / math.log(2)).ceil.toInt} rounds) ===")
    spark.stop()
  }
}
