package graft.tools

import org.apache.spark.sql.functions._

import graft.ops.Graph

/** Scale probe for the integer-law PageRank: synthesizes a link graph far
  * beyond the test data (default 1M directed edges, generated distributed
  * via `spark.range`, never on the driver) with PLANTED structure whose
  * rank ordering the law must reproduce:
  *
  *   - a ring over all n vertices (every vertex has the same baseline
  *     degree, so ring-only vertices must tie EXACTLY — the integer law
  *     admits no float jitter);
  *   - one planted hub that every 100th vertex additionally links to —
  *     after symmetrization the hub's in-mass dwarfs any ring vertex, so
  *     the hub must hold rank 1 by a wide margin;
  *   - the hub's spokes (the vertices that link to it) must outrank the
  *     plain ring vertices (they receive a share of the hub's mass back).
  *
  * Also pins the operational properties that matter at 100 TB: the loop
  * runs exactly `iterations` join+aggregate rounds over checkpointed
  * blocks (wall-clock linear in rounds, lineage O(1)), and total mass
  * stays within the floor-truncation bound of n·initMicro.
  *
  * Usage: `sbt "runMain graft.tools.GraphScale [edges]"`.
  */
object GraphScale {
  def main(args: Array[String]): Unit = {
    val nEdges = math.max(10000L, args.headOption.map(_.toLong).getOrElse(1000000L))
    val n = nEdges // ring contributes one edge per vertex
    val hub = n // hub id sits past the ring ids
    val spark = graft.LocalSpark()

    val ring = spark.range(n).select(col("id").as("src"),
      ((col("id") + 1L) % n).as("dst"))
    val spokes = spark.range(n / 100).select(
      (col("id") * 100L).as("src"), lit(hub).as("dst"))

    // phase split via the shared working set (the multi-law production
    // shape): prepare pays the normalization/degree/materialization once,
    // the rounds then measure pure join+aggregate cost — the per-phase
    // numbers are what the 100 TB projection scales from
    val t0 = System.nanoTime()
    val ws = Graph.prepareWorkingSet(ring.unionByName(spokes), "src", "dst",
      symmetrize = true)
    val tPrep = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    val ranks = Graph.pageRankMicro(ws, 5, 85L, 100L, 1000000L, None, "node", 8)
    val tRounds = (System.nanoTime() - t1) / 1e9
    ws.release()
    val edges = Graph.symmetrized(ring.unionByName(spokes), "src", "dst")
    val top = ranks.orderBy(col("rank_micro").desc, col("node")).limit(3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))

    // plain ring vertices (not spokes, not the hub) must tie exactly
    val plainStats = ranks
      .filter(col("node") =!= hub && col("node") % 100L =!= 0L)
      .agg(countDistinct(col("rank_micro")).as("nd"),
        max(col("rank_micro")).as("mx"),
        count(lit(1)).as("cnt"),
        sum(col("rank_micro")).as("mass"))
      .head
    // ring symmetry puts every plain vertex at distance ≥1 from a spoke;
    // distances to the nearest spoke differ (1..50), so ties hold only
    // per distance class — pin the class count ≤ 50, not exact unity
    val distinctPlain = plainStats.getLong(0)
    val plainMax = plainStats.getLong(1)
    val spokeMin = ranks
      .filter(col("node") % 100L === 0L && col("node") =!= hub)
      .agg(min(col("rank_micro"))).head.getLong(0)
    val total = ranks.agg(sum(col("rank_micro"))).head.getLong(0)
    val nNodes = n + 1L

    println(f"=== GraphScale: ${edges.count()}%d sym edges, $nNodes%d nodes, " +
      f"prepare $tPrep%.1f s + 5 rounds $tRounds%.1f s ===")
    println(s"=== top-3: ${top.toSeq}; plain-vertex classes $distinctPlain; " +
      s"spoke min $spokeMin vs plain max $plainMax ===")

    require(top.head._1 == hub,
      s"planted hub ${hub} must hold rank 1, got ${top.head._1}")
    require(top.head._2 > 5L * plainMax,
      s"hub mass ${top.head._2} not dominant over plain max $plainMax")
    require(spokeMin > plainMax,
      s"spokes must outrank plain ring vertices: $spokeMin <= $plainMax")
    require(distinctPlain <= 50L,
      s"plain ring vertices split into $distinctPlain rank classes (law jitter?)")
    require(total <= nNodes * 1000000L,
      s"mass exceeded the invariant: $total > ${nNodes * 1000000L}")
    require(total > nNodes * 1000000L - 7L * edges.count(),
      s"mass leaked beyond the floor-truncation bound: $total")
    spark.stop()
  }
}
