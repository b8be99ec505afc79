package graft.tools

import org.apache.spark.sql.functions._

/** Triangle-family scale probe: a ring of K planted c-cliques (~2M edges
  * at the defaults) where every census number has a CLOSED FORM, so the
  * degree-ordered enumeration ([[graft.ops.Graph.triangleStats]] /
  * [[graft.ops.Graph.localClustering]] over one shared
  * [[graft.ops.Graph.triangleFrame]]) is verified EXACTLY at a scale
  * where a wrong join shape would be minutes, not milliseconds — the
  * GraphScale posture applied to the undirected census family.
  *
  * Planted laws (K cliques of c nodes; node 0 of clique i ring-wired to
  * node 0 of clique i+1 mod K — ring edges close NO triangle for K > 3):
  *   n_nodes = K·c, n_edges = K·C(c,2) + K, n_triangles = K·C(c,3),
  *   n_wedges = K·((c−1)·C(c−1,2) + C(c+1,2)),
  *   every non-ring node: lcc EXACTLY 1 (10¹² picos), K·(c−1) of them,
  *   every ring node: lcc = (c−1)(c−2)/((c+1)c), K of them.
  *
  * Usage: `runMain graft.tools.TriangleScale [cliques] [cliqueSize]`
  * (defaults 20000 × 15 → 2.12M edges, 9.1M triangles).
  */
object TriangleScale {
  def main(args: Array[String]): Unit = {
    val k = args.lift(0).map(_.toLong).getOrElse(20000L)
    val c = args.lift(1).map(_.toInt).getOrElse(15)
    require(k > 3 && c >= 3, s"need cliques > 3 and size >= 3, got $k x $c")
    val spark = graft.LocalSpark()
    import spark.implicits._

    val pairs = (for (i <- 0 until c; j <- (i + 1) until c)
      yield (i.toLong, j.toLong)).toDF("_i", "_j")
    val cliqueEdges = spark.range(k).crossJoin(broadcast(pairs))
      .select((col("id") * c + col("_i")).as("src"),
        (col("id") * c + col("_j")).as("dst"))
    val ringEdges = spark.range(k)
      .select((col("id") * c).as("src"),
        (((col("id") + 1L) % k) * c).as("dst"))
    val edges = cliqueEdges.unionByName(ringEdges)

    def C2(n: Long) = n * (n - 1) / 2
    def C3(n: Long) = n * (n - 1) * (n - 2) / 6
    val t0 = System.nanoTime()
    val ws = graft.ops.Graph.prepareUndirected(edges, "src", "dst")
    val tri = graft.ops.Graph.triangleFrameMaterialized(ws)
    val tPrep = (System.nanoTime() - t0) / 1e9

    val t1 = System.nanoTime()
    val stats = graft.ops.Graph.triangleStats(ws, tri).collect().head
    val tCensus = (System.nanoTime() - t1) / 1e9
    assert(stats.getLong(0) == k * c, s"n_nodes ${stats.getLong(0)}")
    assert(stats.getLong(1) == k * C2(c.toLong) + k,
      s"n_edges ${stats.getLong(1)}")
    assert(stats.getLong(2) ==
      k * ((c - 1) * C2((c - 1).toLong) + C2((c + 1).toLong)),
      s"n_wedges ${stats.getLong(2)}")
    assert(stats.getLong(3) == k * C3(c.toLong),
      s"n_triangles ${stats.getLong(3)}")

    val t2 = System.nanoTime()
    val scored = graft.ops.Graph.localClusteringScored(ws, tri)
    val byPico = scored.groupBy(col("lcc_pico"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val tLcc = (System.nanoTime() - t2) / 1e9
    val ringPico = math.round(
      (c - 1).toDouble * (c - 2) / ((c + 1).toDouble * c) * 1e12)
    assert(byPico == Map(1000000000000L -> k * (c - 1), ringPico -> k),
      s"lcc distribution $byPico != {1.0 -> ${k * (c - 1)}, " +
        s"$ringPico -> $k}")

    ws.release()
    println(f"=== TriangleScale OK: $k%d cliques x $c%d " +
      f"(${stats.getLong(1)}%d edges, ${stats.getLong(3)}%d triangles) " +
      f"prep+enum $tPrep%.1f s, census $tCensus%.1f s, lcc $tLcc%.1f s ===")
    spark.stop()
  }
}
