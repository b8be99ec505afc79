package graft.tools

import org.apache.spark.sql.functions._

import graft.ops.Clusters

/** Scale probe for the connected-components fixpoint: synthesizes a pair
  * graph far beyond the test data (default 1M edges, generated distributed
  * via `spark.range`, never on the driver) in the two shapes that bracket
  * the algorithm's behavior:
  *
  *   - `clique`-ish blocks (the common near-dup shape: many small dense
  *     components) — should converge in ~2 rounds;
  *   - one long `chain` (pathological diameter = n) — pointer jumping must
  *     still converge in ~log₂ n rounds, the property ClustersSpec pins at
  *     small scale.
  *
  * Usage: `sbt "runMain graft.tools.ClusterScale [edges]"`.
  */
object ClusterScale {
  def main(args: Array[String]): Unit = {
    // round down to a multiple of 10 (the block-ring construction assumes
    // complete blocks) and keep the chain leg non-degenerate
    val nEdges = math.max(1000L,
      args.headOption.map(_.toLong).getOrElse(1000000L) / 10 * 10)
    val spark = graft.LocalSpark()

    // blocks of 10 vertices: edge i links vertex i to the next vertex in its
    // block (ring), giving nEdges/10 components of size 10
    val blocks = spark.range(nEdges).select(
      col("id").as("s"),
      (col("id") - (col("id") % 10) + (col("id") + 1) % 10).as("d"))
    val t0 = System.nanoTime()
    val comps = Clusters.connectedComponents(blocks, "s", "d")
    val n = comps.select(countDistinct(col("component"))).head.getLong(0)
    val secs0 = (System.nanoTime() - t0) / 1e9
    println(f"=== $nEdges%d block edges: $n%d components in $secs0%.1f s ===")
    require(n == nEdges / 10, s"expected ${nEdges / 10} components, got $n")

    // one chain of nEdges/100 vertices: worst-case diameter
    val chainLen = nEdges / 100
    val chain = spark.range(chainLen - 1).select(col("id").as("s"), (col("id") + 1).as("d"))
    val t1 = System.nanoTime()
    val c2 = Clusters.connectedComponents(chain, "s", "d")
    val allZero = c2.agg(max(col("component"))).head.getLong(0)
    val secs1 = (System.nanoTime() - t1) / 1e9
    println(f"=== chain of $chainLen%d vertices (diameter ${chainLen - 1}%d): " +
      f"1 component (max label $allZero%d) in $secs1%.1f s ===")
    require(allZero == 0L, s"chain did not converge: max label $allZero")
    spark.stop()
  }
}
