package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Link-graph importance scoring — the crawl-curation signal a web-scale
  * training pipeline ranks hosts/pages by before sampling (the harmonic-
  * centrality / PageRank prior in Common Crawl-derived corpora; Page et
  * al. 1999). The reference has no graph operator; this extends the engine
  * the same way [[Clusters]] does (SURVEY.md §8).
  *
  * The law is fixed-iteration power iteration in EXACT integer micro-units
  * so every engine replays it bit-for-bit (the [[Importance]] quantization
  * discipline — floats would drift across summation orders):
  *
  *   - ranks live in micro-units (init 1,000,000 per node);
  *   - one round: `r'(v) = baseMicro + Σ_{u→v} (r(u) * dampNum) div
  *     (dampDen * outdeg(u))` — integer floor division, so each term is a
  *     Long and the Σ is order-independent;
  *   - `baseMicro = (initMicro * (dampDen - dampNum)) div dampDen` (the
  *     teleport share of one node's unit mass).
  *
  * Floor division leaks ≤1 micro-unit per edge per round out of the mass
  * balance — irrelevant for RANKING (the law is deterministic, which is
  * what the oracle pins), and bounded: ranks stay in
  * [baseMicro, n·initMicro].
  *
  * Scale shape: the working set is one (node, rank) row per
  * vertex and the edge list with its out-degree riding along — both
  * hash-partitioned on the join key, so each round is one shuffle join
  * edges⋈ranks plus one hash aggregate by destination (partial aggregation
  * applies: the Σ combines map-side). The edge frame is `localCheckpoint`ed
  * ONCE (rounds re-read blocks, not lineage) and each round's rank frame is
  * checkpointed and the previous round's blocks released — the
  * [[Clusters]] owned-RDD discipline, so the driver holds plans, never
  * data, and memory stays O(1) in rounds.
  */
object Graph {

  /** Fixed-iteration integer PageRank over the DIRECTED edge frame
    * `(srcCol, dstCol)`. Self-loops and NULL endpoints are dropped;
    * parallel edges collapse (distinct) so out-degree is neighbor count.
    * Dangling nodes (out-degree 0) contribute nothing and RECEIVE only if
    * some edge points at them — symmetrize upstream (see
    * [[symmetrized]]) when the undirected law is wanted, which also
    * guarantees every node appears in the output.
    *
    * `seeds` (None = classic PageRank) switches to the PERSONALIZED /
    * TrustRank form (Gyöngyi, Garcia-Molina & Pedersen, VLDB'04): the
    * teleport mass lands ONLY on the seed set — init and per-round base
    * are `initMicro`/`baseMicro` for seeds and 0 elsewhere — so rank
    * becomes trust PROPAGATED from a whitelist through links, the
    * crawl-curation prior that separates link-endorsed pages from
    * spam-farm mass which classic PageRank credits equally. A node
    * unreachable from the seeds holds rank exactly 0 (integer law — no
    * epsilon residue).
    *
    * Output: (node, rank_micro) — one row per node that has at least one
    * outgoing edge or received mass, ranks after exactly `iterations`
    * rounds.
    */
  /** Prepared, block-materialized graph working set — the edge-with-
    * degree and node frames every fixed-iteration ranking law reads.
    * Build it ONCE with [[prepareWorkingSet]] when SEVERAL laws run over
    * the same graph (classic + personalized PageRank over one crawl
    * snapshot is the normal production shape): the edge normalization,
    * degree aggregate and the two block materializations are paid once
    * instead of per law. The caller owns the blocks — call [[release]]
    * after the last ranking (rank outputs are themselves checkpointed,
    * so they survive the release).
    */
  final class GraphWorkingSet private[graft] (
      private[graft] val ewd: DataFrame,
      private[graft] val nodes: DataFrame,
      private[graft] val owned: Seq[org.apache.spark.rdd.RDD[_]]) {
    def release(): Unit = Clusters.release(owned)
  }

  /** Normalize + materialize the graph working set: NULL/self-loop edges
    * dropped, parallel edges collapsed (ONE distinct — with `symmetrize`
    * the union of both directions feeds the same single distinct, so the
    * undirected form costs no extra dedup shuffle over
    * [[symmetrized]]-then-rank), out-degree riding on the edge row, and
    * the node set derived from the already-materialized edge blocks
    * (NOT from the raw edge derivation — that would re-run the caller's
    * whole upstream join/scan a second time in the nodes job).
    */
  def prepareWorkingSet(edges: DataFrame, srcCol: String, dstCol: String,
      symmetrize: Boolean = false): GraphWorkingSet = {
    val raw = edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
    val e0 = (if (symmetrize)
        raw.unionByName(raw.select(col("dst").as("src"), col("src").as("dst")))
      else raw).distinct()
    val deg = e0.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    // the edge-with-degree and node frames materialize ONCE to blocks:
    // every round's subtree then starts at a leaf scan (tiny analyzed
    // plans — a fully lazy chain re-analyzes the whole derivation per
    // round and measured ~50% slower end-to-end), while the rounds
    // themselves stay lazy so the ONE edge exchange above the block scan
    // is plan-identical across rounds and AQE reuses it (the mechanism
    // GraphSpec pins standalone)
    val (ewd, ewdOwned) = Clusters.ownedCheckpoint(e0.join(deg, "src"))
    val (nodes, nodesOwned) = Clusters.ownedCheckpoint(
      ewd.select(col("src").as("node"))
        .unionByName(ewd.select(col("dst").as("node"))).distinct())
    new GraphWorkingSet(ewd, nodes, ewdOwned ++ nodesOwned)
  }

  /** Edge-frame convenience form — prepares a private working set,
    * ranks, releases. `symmetrize = true` folds [[symmetrized]] into the
    * working-set build (one distinct instead of two dedup shuffles).
    */
  def pageRankMicro(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int = 5, dampNum: Long = 85L, dampDen: Long = 100L,
      initMicro: Long = 1000000L, seeds: Option[DataFrame] = None,
      seedCol: String = "node", checkpointEvery: Int = 8,
      symmetrize: Boolean = false): DataFrame = {
    val ws = prepareWorkingSet(edges, srcCol, dstCol, symmetrize)
    try pageRankMicro(ws, iterations, dampNum, dampDen, initMicro, seeds,
      seedCol, checkpointEvery)
    finally ws.release()
  }

  /** Rank over a PREPARED working set (see [[GraphWorkingSet]]): only the
    * `iterations` join-aggregate rounds and the final rank checkpoint
    * run — the shareable-working-set form for multiple laws over one
    * graph. The rounds compose LAZILY into one plan: the edge subtree is
    * plan-identical in every round, so Spark's exchange reuse shuffles
    * the TB-scale edge list ONCE and every round reads the reused
    * exchange — strictly better than a per-round checkpoint, which
    * materializes blocks whose partitioning the scan does NOT preserve
    * (measured: a checkpointed repartition re-exchanges under the join,
    * GraphSpec pins the ReusedExchange shape instead). `checkpointEvery`
    * bounds plan depth for LONG iteration counts: every k rounds the
    * rank frame materializes (the Clusters owned-checkpoint discipline)
    * and the next k rounds start from blocks.
    */
  def pageRankMicro(ws: GraphWorkingSet,
      iterations: Int, dampNum: Long, dampDen: Long,
      initMicro: Long, seeds: Option[DataFrame],
      seedCol: String, checkpointEvery: Int): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    require(dampDen > 0 && dampNum >= 0 && dampNum <= dampDen,
      s"damping $dampNum/$dampDen must lie in [0, 1]")
    require(checkpointEvery >= 1,
      s"checkpointEvery must be positive, got $checkpointEvery")
    val ewd = ws.ewd
    val nodes = ws.nodes
    val baseMicro = (initMicro * (dampDen - dampNum)) / dampDen
    // seed flag rides the node frame: classic = every node is a seed
    val nodesWithSeed = seeds match {
      case None => nodes.withColumn("_seed", lit(true))
      case Some(s) =>
        val sf = s.select(col(seedCol).cast("long").as("node")).distinct()
          .withColumn("_s", lit(true))
        nodes.join(sf, Seq("node"), "left")
          .select(col("node"), coalesce(col("_s"), lit(false)).as("_seed"))
    }
    val seedBase = when(col("_seed"), lit(baseMicro)).otherwise(lit(0L))
    var ranks = nodesWithSeed.select(col("node"), col("_seed"),
      when(col("_seed"), lit(initMicro)).otherwise(lit(0L)).as("rank_micro"))
    var owned: Seq[org.apache.spark.rdd.RDD[_]] = Nil
    for (i <- 1 to iterations) {
      val contribs = ewd
        .join(ranks, ewd("src") === ranks("node"))
        .select(col("dst").as("node"),
          expr(s"(rank_micro * ${dampNum}L) div (${dampDen}L * outdeg)")
            .as("_contrib"))
        .groupBy(col("node")).agg(sum(col("_contrib")).as("_in"))
      ranks = ranks.select(col("node"), col("_seed"))
        .join(contribs, Seq("node"), "left")
        .select(col("node"), col("_seed"),
          (seedBase + coalesce(col("_in"), lit(0L))).as("rank_micro"))
      if (i % checkpointEvery == 0 && i < iterations) {
        val (cp, own) = Clusters.ownedCheckpoint(ranks)
        Clusters.release(owned)
        ranks = cp
        owned = own
      }
    }
    // the final ranks materialize eagerly (ONE job spanning the lazy
    // rounds — this is where the exchange reuse pays) so the per-round
    // rank intermediates release NOW, not at RDD GC time (the working
    // set's blocks belong to the caller — the edge-frame overload
    // releases them right after this returns; a long-lived driver
    // sharing one working set across laws releases once at the end).
    // The returned frame owns only its |V|-row blocks.
    val (finalRanks, _) = Clusters.ownedCheckpoint(
      ranks.select(col("node"), col("rank_micro")))
    Clusters.release(owned)
    finalRanks
  }

  /** The undirected form of an edge list: both directions, distinct —
    * every node then has out-degree ≥ 1, so [[pageRankMicro]] covers the
    * whole vertex set and conserves (floor-truncated) mass.
    */
  def symmetrized(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val e = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
    e.unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
  }

  /** Degree distribution of the directed edge frame — the first report
    * anyone runs on a crawl/link graph (the power-law sanity check that
    * says whether ranking/partitioning assumptions hold, and the skew
    * screen that finds the super-node before a join does): one row per
    * (side, degree) with the node count at that degree, for both the out
    * and in side. Parallel edges collapse and NULL/self-loop edges drop
    * (the [[pageRankMicro]] normalization), so "degree" is distinct
    * neighbor count.
    *
    * Exact integer law end to end — two hash aggregates per side
    * (node → degree, degree → node count), no window, no sort beyond the
    * presentation ORDER BY. Output rows are bounded by the number of
    * DISTINCT degree values (≤ max-degree, in practice thousands at web
    * scale), never by |V|.
    *
    * Output: (side 'out'|'in', deg, n_nodes).
    */
  def degreeDistribution(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = {
    val e = edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
      .distinct()
    def side(keyCol: String, as: String) = e
      .groupBy(col(keyCol).as("node")).agg(count(lit(1)).as("deg"))
      .groupBy(col("deg")).agg(count(lit(1)).as("n_nodes"))
      .select(lit(as).as("side"), col("deg"), col("n_nodes"))
    side("src", "out").unionByName(side("dst", "in"))
  }

  /** The canonical undirected simple-graph form shared by
    * [[triangleStats]] and [[assortativity]]: NULL endpoints and
    * self-loops drop, parallel/reverse duplicates collapse onto
    * (u, v) = (least, greatest), so every structural count downstream is
    * over the SIMPLE graph.
    */
  private def canonicalUndirected(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = {
    val e = edges.select(col(srcCol).cast("long").as("_s"),
      col(dstCol).cast("long").as("_d"))
    e.filter(col("_s").isNotNull && col("_d").isNotNull && col("_s") =!= col("_d"))
      .select(least(col("_s"), col("_d")).as("u"),
        greatest(col("_s"), col("_d")).as("v"))
      .distinct()
  }

  /** Undirected-graph degrees of the canonical edge frame: (node, deg). */
  private def undirectedDegrees(canon: DataFrame): DataFrame =
    canon.select(col("u").as("node"))
      .unionByName(canon.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))

  /** Both directed copies of the canonical edge frame: (x, y) with each
    * undirected edge appearing once per direction — the neighbor-join
    * frame the round-based laws (LPA, coreness) and the apex expansions
    * (Adamic–Adar) read. A narrow union, no shuffle: over a
    * block-materialized `canon` it costs two columnar scans.
    */
  private def bothDirections(canon: DataFrame): DataFrame =
    canon.select(col("u").as("x"), col("v").as("y"))
      .unionByName(canon.select(col("v").as("x"), col("u").as("y")))

  /** Prepared, block-materialized UNDIRECTED working set — the canonical
    * simple-graph edge frame and its degree table, shared by every
    * structural law over one graph snapshot ([[triangleStats]],
    * [[assortativity]], [[labelPropagation]], [[adamicAdar]],
    * [[corenessEstimate]]). The [[GraphWorkingSet]] posture applied to
    * the undirected family: the canonicalization distinct and the degree
    * aggregate — one shuffle each — are paid ONCE instead of once per
    * law (six structural queries over one co-purchase graph re-ran both
    * per query before r13). The caller owns the blocks: release() after
    * the last law (law outputs are themselves checkpointed or tiny).
    */
  final class UndirectedWorkingSet private[graft] (
      private[graft] val canon: DataFrame,
      private[graft] val deg: DataFrame,
      private[graft] val owned: Seq[org.apache.spark.rdd.RDD[_]]) {
    def release(): Unit = Clusters.release(owned)
  }

  /** Canonicalize + materialize the undirected working set: one distinct
    * (idempotent over an already-canonical frame), one degree aggregate,
    * two block materializations. Every structural law then starts at a
    * leaf block scan.
    */
  def prepareUndirected(edges: DataFrame, srcCol: String,
      dstCol: String): UndirectedWorkingSet = {
    val (canon, o1) = Clusters.ownedCheckpoint(
      canonicalUndirected(edges, srcCol, dstCol))
    val (deg, o2) = Clusters.ownedCheckpoint(undirectedDegrees(canon))
    new UndirectedWorkingSet(canon, deg, o1 ++ o2)
  }

  /** Exact triangle count + global clustering coefficient of the
    * undirected simple graph (the degree-ordered orientation of
    * Suri & Vassilvitskii, WWW'11 — the MapReduce-era standard that
    * bounds every node's oriented out-degree by O(√m), so the wedge
    * self-join that would explode on a super-node under a naive
    * orientation stays balanced at web scale): each edge orients from
    * the (degree, id)-smaller endpoint to the larger, wedges (a→b, a→c)
    * with b before c in that SAME total order close iff oriented edge
    * (b→c) exists — every triangle counted exactly once.
    *
    * Exact integer law end to end: triangle and wedge counts are plain
    * COUNTs (wedges = Σ deg·(deg−1)/2, an even product, exact integer
    * division); the only double is the one fixed
    * `3·T / W` chain behind `clustering_pico` (NULL when the graph has
    * no wedges).
    *
    * Scale shape: one distinct (canonicalization), two hash aggregates
    * (degrees, wedge sum), two broadcast-or-shuffle hash joins to attach
    * degrees, one equi-join keyed on the wedge apex + one on the closing
    * (b, c) pair. No window, no driver state; the apex join's fan-out is
    * the O(√m) orientation bound, not the raw degree.
    *
    * Output: one row (n_nodes, n_edges, n_wedges, n_triangles,
    * clustering_pico).
    */
  def triangleStats(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = {
    val canon = canonicalUndirected(edges, srcCol, dstCol)
    triangleStatsCore(canon, undirectedDegrees(canon))
  }

  /** [[triangleStats]] over a prepared [[UndirectedWorkingSet]] —
    * canonicalization and degrees come from the shared blocks.
    */
  def triangleStats(g: UndirectedWorkingSet): DataFrame =
    triangleStatsCore(g.canon, g.deg)

  /** One row per triangle (a, b, c) of the undirected simple graph,
    * under the [[triangleStats]] degree-ordered orientation — each
    * triangle exactly once. The shared enumeration behind the global
    * census AND the per-node coefficients: a caller running both should
    * materialize this frame once (the Registry pins it per directory
    * next to the working set) instead of paying the wedge join twice.
    */
  def triangleFrame(g: UndirectedWorkingSet): DataFrame =
    triangleFrameCore(g.canon, g.deg)

  /** [[triangleFrame]] CHECKPOINTED to blocks, for callers pinning it
    * across several consuming laws (the Registry's per-dir cache); the
    * caller owns the blocks (release via the frame's LogicalRDD leaves).
    */
  def triangleFrameMaterialized(g: UndirectedWorkingSet): DataFrame =
    Clusters.ownedCheckpoint(triangleFrameCore(g.canon, g.deg))._1

  private def triangleFrameCore(canon: DataFrame, deg: DataFrame): DataFrame = {
    val du = deg.select(col("node").as("u"), col("deg").as("_du"))
    val dv = deg.select(col("node").as("v"), col("deg").as("_dv"))
    val uFirst = (col("_du") < col("_dv")) ||
      (col("_du") === col("_dv") && col("u") < col("v"))
    val oriented = canon.join(du, "u").join(dv, "v")
      .select(when(uFirst, col("u")).otherwise(col("v")).as("a"),
        when(uFirst, col("v")).otherwise(col("u")).as("b"),
        when(uFirst, col("_dv")).otherwise(col("_du")).as("degb"))
    val e1 = oriented.select(col("a"), col("b").as("_b"), col("degb").as("_degb"))
    val e2 = oriented.select(col("a"), col("b").as("_c"), col("degb").as("_degc"))
    val wedge = e1.join(e2, Seq("a"))
      .filter((col("_degb") < col("_degc")) ||
        (col("_degb") === col("_degc") && col("_b") < col("_c")))
      .select(col("a"), col("_b"), col("_c"))
    val closing = oriented.select(col("a").as("_b"), col("b").as("_c"))
    wedge.join(closing, Seq("_b", "_c"))
      .select(col("a"), col("_b").as("b"), col("_c").as("c"))
  }

  /** [[triangleStats]] over an ALREADY-ENUMERATED triangle frame (from
    * [[triangleFrame]], possibly checkpointed and shared with
    * [[localClustering]]) — only the counts and the wedge Σ run.
    */
  def triangleStats(g: UndirectedWorkingSet, triangles: DataFrame): DataFrame =
    triangleStatsFromTri(g.canon, g.deg, triangles)

  private def triangleStatsCore(canon: DataFrame, deg: DataFrame): DataFrame =
    triangleStatsFromTri(canon, deg, triangleFrameCore(canon, deg))

  private def triangleStatsFromTri(canon: DataFrame, deg: DataFrame,
      triangles: DataFrame): DataFrame = {
    val tri = triangles.agg(count(lit(1)).as("n_triangles"))
    val nodesEdges = canon.agg(count(lit(1)).as("n_edges"))
    // the wedge Σ runs in DECIMAL(38,0) like assortativity's degree-moment
    // sums: a web-scale graph's Σ deg·(deg−1)/2 outgrows BIGINT (one
    // deg-10⁹ hub alone contributes ~5·10¹⁷), and under ANSI mode a
    // BIGINT overflow would throw mid-query — inconsistent with the
    // exact-integer-law contract. The PER-NODE term stays a long
    // (overflows only past deg ≈ 3·10⁹ distinct neighbors, beyond any
    // real vertex); the oracle mirrors with a HUGEINT Σ.
    //
    // The OUTPUT column is cast back to BIGINT: a DECIMAL(38,0) output
    // schema is not hash-portable (parquet decimal renders `N` under a
    // pyarrow read but `N.0` under a DuckDB→float64 read — the r12/r13
    // driver-gate hash mismatches on exactly the two decimal-output
    // rows), and the registry's output law is portable primitive types
    // only (EntrySpec pins it). The cast narrows only past 9.2·10¹⁸
    // total wedges — the Σ stays overflow-safe in DECIMAL until then.
    val nodeStats = deg.agg(count(lit(1)).as("n_nodes"),
      coalesce(sum(expr("cast((deg * (deg - 1)) div 2 as decimal(38,0))")),
        lit(java.math.BigDecimal.ZERO).cast("decimal(38,0)")).as("n_wedges"))
    nodeStats.crossJoin(broadcast(nodesEdges)).crossJoin(broadcast(tri))
      .withColumn("clustering_pico",
        when(col("n_wedges") > 0L,
          round((lit(3.0) * col("n_triangles").cast("double"))
            / col("n_wedges").cast("double") * 1000000000000.0).cast("long")))
      .select(col("n_nodes"), col("n_edges"),
        col("n_wedges").cast("long").as("n_wedges"),
        col("n_triangles"), col("clustering_pico"))
  }

  /** Community labels by synchronous label propagation (Raghavan, Albert
    * & Kumara, Phys. Rev. E '07 — the near-linear community detector a
    * crawl pipeline runs where connected components is too coarse: a
    * single bridge edge merges two components but NOT two LPA
    * communities) over the undirected simple graph, made DETERMINISTIC
    * by two standard choices: the node's own label joins the vote
    * (self-inclusion — kills the 2-cycle oscillation synchronous LPA
    * exhibits on bipartite subgraphs) and ties break to the SMALLEST
    * label. Labels init to the node id; exactly `rounds` rounds run.
    *
    * Exact law: one round is vote-count (exact integers) then per-node
    * argmax by (count desc, label asc) — no floats anywhere, so any
    * engine replays the labels bit-for-bit.
    *
    * Scale shape: per round ONE shuffle join (neighbor labels; round 1
    * skips it — the identity label map makes the votes the edge frame
    * itself) + ONE hash aggregate pair (vote count, argmax-as-max-of-
    * struct — no window, which would funnel a super-node's votes into
    * one task before reducing). The directed edge frame materializes
    * once to blocks; label frames checkpoint every `checkpointEvery`
    * rounds (the [[Clusters]] owned-RDD discipline). Default cadence 1:
    * the label frame is |V| rows and referenced TWICE per round (join +
    * self-inclusion union), so lazy composition doubles the subtree per
    * round — per-round materialization measured 7.7 s → 4.1 s at
    * sf0.1/32t (r17 audit); [[pageRankMicro]]'s linear single-reference
    * chain keeps the lazy posture instead.
    *
    * Output: (node, label) — one row per non-isolated node.
    */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
      rounds: Int = 4, checkpointEvery: Int = 1): DataFrame = {
    val canon = canonicalUndirected(edges, srcCol, dstCol)
    val (dir2, edgeOwned) = Clusters.ownedCheckpoint(bothDirections(canon))
    try lpaCore(dir2, rounds, checkpointEvery)
    finally Clusters.release(edgeOwned)
  }

  /** [[labelPropagation]] over a prepared [[UndirectedWorkingSet]]: the
    * neighbor frame is a narrow union over the shared canonical blocks —
    * no per-law canonicalization distinct and no extra materialization
    * (each round's join re-scans the blocks, which is cheap; the blocks
    * belong to the working set's owner).
    */
  def labelPropagation(g: UndirectedWorkingSet, rounds: Int,
      checkpointEvery: Int): DataFrame =
    lpaCore(bothDirections(g.canon), rounds, checkpointEvery)

  def labelPropagation(g: UndirectedWorkingSet, rounds: Int): DataFrame =
    labelPropagation(g, rounds, checkpointEvery = 1)

  private def lpaCore(dir2: DataFrame, rounds: Int,
      checkpointEvery: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    require(checkpointEvery >= 1,
      s"checkpointEvery must be positive, got $checkpointEvery")
    var labels = dir2.select(col("x").as("node")).distinct()
      .select(col("node"), col("node").as("label"))
    var owned: Seq[org.apache.spark.rdd.RDD[_]] = Nil
    for (i <- 1 to rounds) {
      // round 1 joins against the IDENTITY label map (labels init to the
      // node id), so the votes are the edge frame itself — the join is
      // value-transparent and skipped (r17 constants audit)
      val neighborVotes =
        if (i == 1) dir2.select(col("x").as("node"), col("y").as("label"))
        else dir2
          .join(labels.select(col("node").as("y"), col("label")), "y")
          .select(col("x").as("node"), col("label"))
      // argmax by (count desc, label asc) as ONE max-of-struct aggregate.
      // The label order-reversal is bitwise NOT, not arithmetic negation:
      // ~x = -x-1 reverses the signed-long total order for EVERY value
      // (x < y ⟺ ~x > ~y) with no overflow, whereas -Long.MinValue throws
      // under ANSI — node ids come from a raw cast("long") of caller
      // columns, so the full signed domain must be safe.
      // ONE exchange per round (r20): the votes repartition by the NODE
      // alone — hashpartitioning(node) satisfies the (node, label)
      // count's clustering (a subset key co-locates every finer group)
      // AND the argmax's, so neither aggregate re-exchanges; the old
      // shape paid hashpartitioning(node, label) for the count and then
      // hashpartitioning(node) again for the argmax
      labels = neighborVotes.unionByName(labels)
        .repartition(col("node"))
        .groupBy(col("node"), col("label")).agg(count(lit(1)).as("_c"))
        .groupBy(col("node"))
        .agg(max(struct(col("_c").as("_c"),
          bitwise_not(col("label")).as("_nl"))).as("_m"))
        .select(col("node"), bitwise_not(col("_m._nl")).as("label"))
      if (i % checkpointEvery == 0 && i < rounds) {
        val (cp, own) = Clusters.ownedCheckpoint(labels)
        Clusters.release(owned)
        labels = cp
        owned = own
      }
    }
    val (finalLabels, _) = Clusters.ownedCheckpoint(labels)
    Clusters.release(owned)
    finalLabels
  }

  /** Adamic–Adar link prediction (Adamic & Adar, Social Networks '03 —
    * THE classic common-neighbor score, weighting each shared neighbor z
    * by 1/ln(deg z) so rare bridges count more than hubs) over the
    * undirected simple graph: top-`k` NON-adjacent pairs by score.
    *
    * Exact law: every per-apex term `1/ln(deg z)` quantizes to picos
    * BEFORE the integer Σ (the KL/RBO discipline; deg z ≥ 2 for any
    * wedge apex, so ln > 0), the Σ runs in DECIMAL(38,0) (a pair under
    * millions of shared neighbors outgrows BIGINT at web scale), and
    * the boundary orders by (aa_pico desc, u, v) — deterministic.
    *
    * `maxApexDegree` is the skew guard: a super-hub apex contributes
    * C(deg, 2) pair rows for a term worth only 1/ln(deg) — the standard
    * practice (and this engine's capBuckets posture) is to DROP apexes
    * above the cap rather than let one node quadratically dominate the
    * shuffle. The cap is part of the law (deterministic, replayed by the
    * oracle), not sampling.
    *
    * Scale shape: degree aggregate + one hash join to attach apex
    * degrees + one self-join keyed on the apex (fan-out bounded by the
    * cap) + one hash aggregate + one anti-join against the edge set +
    * top-k (TakeOrdered, no global sort materialization).
    *
    * Output: (u, v, common_neighbors, aa_pico) — top `k`.
    */
  def adamicAdar(edges: DataFrame, srcCol: String, dstCol: String,
      k: Int = 25, maxApexDegree: Long = 256L): DataFrame = {
    val canon = canonicalUndirected(edges, srcCol, dstCol)
    adamicAdarCore(canon, undirectedDegrees(canon), k, maxApexDegree)
  }

  /** [[adamicAdar]] over a prepared [[UndirectedWorkingSet]]. */
  def adamicAdar(g: UndirectedWorkingSet, k: Int,
      maxApexDegree: Long): DataFrame =
    adamicAdarCore(g.canon, g.deg, k, maxApexDegree)

  private def adamicAdarCore(canon: DataFrame, deg: DataFrame, k: Int,
      maxApexDegree: Long): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxApexDegree >= 2L,
      s"maxApexDegree must be >= 2, got $maxApexDegree")
    val dir2 = canon.select(col("u").as("z"), col("v").as("n"))
      .unionByName(canon.select(col("v").as("z"), col("u").as("n")))
    val apex = dir2.join(
      deg.filter(col("deg") <= maxApexDegree)
        .select(col("node").as("z"), col("deg")), "z")
    val a1 = apex.select(col("z"), col("n").as("_u"), col("deg"))
    val a2 = apex.select(col("z"), col("n").as("_v"))
    val pairs = a1.join(a2, Seq("z")).filter(col("_u") < col("_v"))
      .withColumn("_t",
        round(lit(1.0e12) / log(col("deg").cast("double"))).cast("long"))
    val scored = pairs.groupBy(col("_u"), col("_v"))
      .agg(count(lit(1)).as("common_neighbors"),
        sum(col("_t").cast("decimal(38,0)")).as("aa_pico"))
    // output cast BIGINT: the Σ runs in DECIMAL(38,0) (overflow-safe),
    // but a decimal OUTPUT column is not hash-portable across parquet
    // readers (pyarrow `N` vs DuckDB-float `N.0` — the r12/r13 driver
    // hash mismatches); BIGINT holds any pair under ~6.4M common
    // neighbors (max term 1/ln 2 ≈ 1.443·10¹² picos)
    scored.join(canon,
        scored("_u") === canon("u") && scored("_v") === canon("v"), "left_anti")
      .select(col("_u").as("u"), col("_v").as("v"),
        col("common_neighbors"), col("aa_pico").cast("long").as("aa_pico"))
      .orderBy(col("aa_pico").desc, col("u"), col("v"))
      .limit(k)
  }

  /** Per-node local clustering coefficients, top-`k` (Watts & Strogatz,
    * Nature '98: lcc(v) = triangles through v / C(deg v, 2) — the
    * per-node companion of [[triangleStats]]'s global census; the nodes
    * whose neighborhoods are near-cliques are the tight communities /
    * coordinated rings a global coefficient averages away).
    *
    * Law: triangles enumerate ONCE under the same degree-ordered
    * orientation as [[triangleStats]] (each exactly once), then every
    * triangle credits its three corners (one explode); per-node counts
    * are exact integers, and `lcc_pico = round(2·t / (deg·(deg−1)) ·
    * 10¹²)` is ONE fixed double chain. Nodes with deg < 2 have no wedge
    * and are excluded from the ranking (an undefined lcc, not a 0).
    * Top-k orders by (lcc_pico desc, node) — total and deterministic;
    * small cliques all score exactly 10¹², so the k-boundary commonly
    * sits inside a 1.0-plateau (the tie-plateau probe covers this row).
    *
    * Scale shape: the [[triangleStatsCore]] joins (wedge fan-out bounded
    * by the O(√m) orientation), one explode, one (node) hash aggregate,
    * one join to attach degrees, TakeOrdered top-k. The per-node
    * deg·(deg−1) product stays a long (overflows only past ~3·10⁹
    * distinct neighbors).
    *
    * Output: (node, deg, n_triangles, lcc_pico) — top `k`.
    */
  def localClustering(g: UndirectedWorkingSet, k: Int): DataFrame =
    localClustering(g, triangleFrameCore(g.canon, g.deg), k)

  /** [[localClustering]] over a shared [[triangleFrame]]. */
  def localClustering(g: UndirectedWorkingSet, triangles: DataFrame,
      k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    localClusteringScored(g, triangles)
      .orderBy(col("lcc_pico").desc, col("node"))
      .limit(k)
  }

  def localClusteringScored(g: UndirectedWorkingSet): DataFrame =
    localClusteringScored(g, triangleFrameCore(g.canon, g.deg))

  /** The UN-limited scored frame behind [[localClustering]] — every
    * deg ≥ 2 node with its coefficient, no top-k: the tie-plateau
    * audit's probe surface (1.0-plateaus are the norm — every small
    * clique's members score exactly 10¹²).
    */
  def localClusteringScored(g: UndirectedWorkingSet,
      triangles: DataFrame): DataFrame = {
    val deg = g.deg
    val perNode = triangles
      .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("_t"))
    deg.filter(col("deg") >= 2L)
      .join(perNode, Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("_t"), lit(0L)).as("n_triangles"),
        round(lit(2.0) * coalesce(col("_t"), lit(0L)).cast("double")
          / (col("deg") * (col("deg") - 1L)).cast("double")
          * 1000000000000.0).cast("long").as("lcc_pico"))
  }

  /** Per-edge triangle support — the peeling quantity of k-truss
    * decomposition (Cohen, NSA TR '08: the k-truss is the subgraph where
    * every edge closes ≥ k−2 triangles; support is the number it closes)
    * over the shared [[triangleFrame]]: the EDGE-level density screen
    * beside [[localClustering]]'s node view — a bridge between dense
    * communities has high-degree endpoints but support ≈ 0, while a
    * within-clique edge supports |clique|−2 triangles.
    *
    * Exact integer law: each enumerated triangle (a,b,c) charges its
    * three edges once; edges are canonicalized (u < v — the triangle
    * frame is DEGREE-ordered, not id-ordered); edges closing no triangle
    * carry support 0 via a left join from the canonical edge set.
    * Ordering (support desc, u, v) is total.
    *
    * Scale shape: one 3-way explode of the (already-enumerated,
    * checkpointed) triangle frame, one (u,v) hash aggregate, one
    * left join onto the canonical edges, TakeOrdered top-k — no new
    * wedge join (the whole point of the shared frame).
    *
    * Output: (u, v, support) — top `k`.
    */
  def edgeTriangleSupport(g: UndirectedWorkingSet, triangles: DataFrame,
      k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val sides = triangles.select(least(col("a"), col("b")).as("u"),
        greatest(col("a"), col("b")).as("v"))
      .unionByName(triangles.select(least(col("a"), col("c")).as("u"),
        greatest(col("a"), col("c")).as("v")))
      .unionByName(triangles.select(least(col("b"), col("c")).as("u"),
        greatest(col("b"), col("c")).as("v")))
    val sup = sides.groupBy(col("u"), col("v")).agg(count(lit(1)).as("_s"))
    g.canon.join(sup, Seq("u", "v"), "left")
      .select(col("u"), col("v"), coalesce(col("_s"), lit(0L)).as("support"))
      .orderBy(col("support").desc, col("u"), col("v"))
      .limit(k)
  }

  /** Modularity of a NODE-ATTRIBUTE partition of the undirected simple
    * graph (Newman & Girvan, Phys. Rev. E '04): per community c,
    *
    *   Q_c = e_c/m − (d_c/(2m))²
    *
    * with e_c = edges inside c, d_c = summed degree of c's nodes, m =
    * total edges — "does this attribute explain the graph's wiring?"
    * (Q ≈ 0 ⇒ the attribute is wiring-independent; the label-propagation
    * communities are the discovered twin of this declared partition).
    *
    * Law: labels join onto both endpoints; an edge counts toward e_c only
    * when BOTH endpoints carry label c; unlabeled (NULL-label) nodes
    * contribute to m and to nothing else (the standard treatment).
    * `q_pico = round(Q_c·10¹²)` is one double chain per community row;
    * the `__total` row carries the EXACT integer Σ of the per-community
    * picos (replayable, no re-rounding).
    *
    * Scale shape: two broadcast-sized label joins onto the canonical edge
    * frame (the label table is |nodes of interest|, here a dimension),
    * hash aggregates over the bounded community table, a 1-row total.
    *
    * Output: (label, n_nodes, e_in, d_sum, q_pico) — one row per
    * community plus a `__total` row with the sums, ordered by label
    * (total ordering; `__total`'s position follows ASCII label case).
    */
  def partitionModularity(g: UndirectedWorkingSet,
      labels: DataFrame, nodeCol: String, labelCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val lab = labels.filter(col(nodeCol).isNotNull && col(labelCol).isNotNull)
      .select(col(nodeCol).cast("long").as("_n"), col(labelCol).as("_l"))
      .groupBy(col("_n")).agg(min(col("_l")).as("_l")) // one label per node
    val m = g.canon.agg(count(lit(1)).as("_m"))
    val eIn = g.canon
      .join(lab.select(col("_n").as("u"), col("_l").as("_lu")), Seq("u"))
      .join(lab.select(col("_n").as("v"), col("_l").as("_lv")), Seq("v"))
      .filter(col("_lu") === col("_lv"))
      .groupBy(col("_lu").as("label")).agg(count(lit(1)).as("e_in"))
    val dSum = g.deg.join(lab.select(col("_n").as("node"), col("_l")), "node")
      .groupBy(col("_l").as("label"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("deg")).as("d_sum"))
    val per = dSum.join(eIn, Seq("label"), "left")
      .crossJoin(broadcast(m))
      .select(col("label"), col("n_nodes"),
        coalesce(col("e_in"), lit(0L)).as("e_in"), col("d_sum"),
        round((coalesce(col("e_in"), lit(0L)).cast("double")
            / col("_m").cast("double")
          - (col("d_sum").cast("double") / (lit(2.0) * col("_m").cast("double")))
            * (col("d_sum").cast("double") / (lit(2.0) * col("_m").cast("double"))))
          * 1000000000000.0).cast("long").as("q_pico"))
    val total = per.agg(sum(col("n_nodes")).as("n_nodes"),
        sum(col("e_in")).as("e_in"), sum(col("d_sum")).as("d_sum"),
        sum(col("q_pico").cast(dec)).cast("long").as("q_pico"))
      .filter(col("n_nodes").isNotNull)
      .select(lit("__total").as("label"), col("n_nodes"), col("e_in"),
        col("d_sum"), col("q_pico"))
    per.unionByName(total).orderBy(col("label"))
  }

  /** The three classic common-neighbor link-prediction laws BESIDE
    * Adamic–Adar, in one pass over the shared pair expansion — the
    * side-by-side scorecard a link-prediction evaluation reads (Liben-
    * Nowell & Kleinberg CIKM'03 is the canonical survey of exactly this
    * trio vs AA):
    *
    *   - Resource Allocation (Zhou, Lü & Zhang, Eur. Phys. J. B '09):
    *     Σ over shared neighbors z of 1/deg(z) — AA's sharper sibling
    *     (penalizes hubs linearly, not logarithmically). PURE integer
    *     law: each term is `10¹² div deg(z)` (exact integral division,
    *     no transcendental anywhere), Σ in DECIMAL(38,0).
    *   - Jaccard over neighborhoods: |Γu ∩ Γv| / |Γu ∪ Γv|, as
    *     `(cn·10¹²) div (deg u + deg v − cn)` — exact integral division
    *     in DECIMAL(38,0), output long.
    *   - Preferential attachment: deg(u)·deg(v) — plain BIGINT product
    *     (overflows only past ~3·10⁹ × 3·10⁹ degrees).
    *
    * Same scaffold and skew posture as [[adamicAdar]]: apexes above
    * `maxApexDegree` DROP before the pair self-join (the cap is part of
    * the law — it bounds `common_neighbors` and the RA Σ, which the
    * oracle replays; deg(u)/deg(v) in the Jaccard/PA terms stay the FULL
    * degrees from the degree table), scored pairs anti-join the edge set
    * so only NON-adjacent pairs emerge.
    *
    * Output: (u, v, common_neighbors, ra_pico, jaccard_pico, pa_score) —
    * every scored non-adjacent pair; callers order/limit.
    */
  def linkPredictionScored(g: UndirectedWorkingSet,
      maxApexDegree: Long): DataFrame = {
    require(maxApexDegree >= 2L,
      s"maxApexDegree must be >= 2, got $maxApexDegree")
    val canon = g.canon
    val deg = g.deg
    val dir2 = canon.select(col("u").as("z"), col("v").as("n"))
      .unionByName(canon.select(col("v").as("z"), col("u").as("n")))
    val apex = dir2.join(
      deg.filter(col("deg") <= maxApexDegree)
        .select(col("node").as("z"), col("deg")), "z")
    val a1 = apex.select(col("z"), col("n").as("_u"), col("deg"))
    val a2 = apex.select(col("z"), col("n").as("_v"))
    val scored = a1.join(a2, Seq("z")).filter(col("_u") < col("_v"))
      .withColumn("_ra", expr("cast(1000000000000 as bigint) div deg"))
      .groupBy(col("_u"), col("_v"))
      .agg(count(lit(1)).as("common_neighbors"),
        sum(col("_ra").cast("decimal(38,0)")).as("_ras"))
    val nonAdj = scored.join(canon,
      scored("_u") === canon("u") && scored("_v") === canon("v"), "left_anti")
    nonAdj
      .join(deg.select(col("node").as("_u"), col("deg").as("_du")), "_u")
      .join(deg.select(col("node").as("_v"), col("deg").as("_dv")), "_v")
      .select(col("_u").as("u"), col("_v").as("v"), col("common_neighbors"),
        col("_ras").cast("long").as("ra_pico"),
        expr("cast((cast(common_neighbors as decimal(38,0)) * 1000000000000)" +
          " div (_du + _dv - common_neighbors) as bigint)").as("jaccard_pico"),
        (col("_du") * col("_dv")).as("pa_score"))
  }

  /** Coreness (k-core number) estimate by iterated neighborhood H-index
    * (Lü, Zhou, Zhang & Stanley, Nature Comms '16: h⁰ = degree,
    * hⁿ⁺¹(v) = H-index of v's neighbors' hⁿ, and the sequence converges
    * EXACTLY to coreness) over the undirected simple graph — the
    * degeneracy screen that finds the dense engagement core / link-farm
    * nucleus that plain degree can't see (a super-node of pendant spam
    * has huge degree and coreness 1). Fixed `rounds` rounds — an
    * ANYTIME upper bound that is exact once the graph's convergence
    * depth is reached (small for real graphs; the spec pins exact
    * convergence on planted cores).
    *
    * Exact integer law end to end: the per-node H-index is
    * `max over distinct neighbor-values v of min(v, #neighbors ≥ v)` —
    * counts and mins only, no floats anywhere, bit-replayable.
    *
    * Scale shape: per round one shuffle join (neighbor values) + one
    * (node, value) hash aggregate + a cumulative window over the
    * per-node DISTINCT-value table (bounded by O(√m) distinct coreness
    * values, never by a super-node's raw degree) + one hash aggregate.
    * Edge frame materializes once; value frames checkpoint every
    * `checkpointEvery` rounds — default cadence 1 (the LPA rationale:
    * the |V|-row value frame feeds both the per-round join and the
    * window chain; measured 5.7 s → 3.9 s at sf0.1/32t, r17 audit).
    *
    * Output: (node, coreness) — one row per non-isolated node.
    */
  def corenessEstimate(edges: DataFrame, srcCol: String, dstCol: String,
      rounds: Int = 4, checkpointEvery: Int = 1): DataFrame = {
    val canon = canonicalUndirected(edges, srcCol, dstCol)
    val (dir2, edgeOwned) = Clusters.ownedCheckpoint(bothDirections(canon))
    val init = dir2.groupBy(col("x").as("node")).agg(count(lit(1)).as("c"))
    try corenessCore(dir2, init, rounds, checkpointEvery)
    finally Clusters.release(edgeOwned)
  }

  /** [[corenessEstimate]] over a prepared [[UndirectedWorkingSet]]: the
    * neighbor frame unions over the shared canonical blocks and h⁰ (the
    * degree) comes straight from the shared degree table — no per-law
    * canonicalization distinct, no init aggregate.
    */
  def corenessEstimate(g: UndirectedWorkingSet, rounds: Int,
      checkpointEvery: Int): DataFrame =
    corenessCore(bothDirections(g.canon),
      g.deg.select(col("node"), col("deg").as("c")), rounds, checkpointEvery)

  def corenessEstimate(g: UndirectedWorkingSet, rounds: Int): DataFrame =
    corenessEstimate(g, rounds, checkpointEvery = 1)

  private def corenessCore(dir2: DataFrame, init: DataFrame, rounds: Int,
      checkpointEvery: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    require(checkpointEvery >= 1,
      s"checkpointEvery must be positive, got $checkpointEvery")
    import org.apache.spark.sql.expressions.Window
    var cur = init
    var owned: Seq[org.apache.spark.rdd.RDD[_]] = Nil
    val w = Window.partitionBy(col("node")).orderBy(col("c").desc)
    for (i <- 1 to rounds) {
      val nv = dir2.join(cur.select(col("node").as("y"), col("c")), "y")
        .select(col("x").as("node"), col("c"))
      // ONE exchange per round (r20, the lpaCore discipline): the
      // neighbor values repartition by the NODE alone, which satisfies
      // the (node, c) count's clustering, the per-node window's AND the
      // final argmax's — the old shape re-exchanged at each step
      // (hashpartitioning(node, c) for the count, hashpartitioning(node)
      // for the window)
      cur = nv.repartition(col("node"))
        .groupBy(col("node"), col("c")).agg(count(lit(1)).as("_k"))
        .withColumn("_cge", sum(col("_k")).over(w))
        .groupBy(col("node"))
        .agg(max(least(col("c"), col("_cge"))).as("c"))
      if (i % checkpointEvery == 0 && i < rounds) {
        val (cp, own) = Clusters.ownedCheckpoint(cur)
        Clusters.release(owned)
        cur = cp
        owned = own
      }
    }
    val (finalCore, _) = Clusters.ownedCheckpoint(
      cur.select(col("node"), col("c").as("coreness")))
    Clusters.release(owned)
    finalCore
  }

  /** Fixed-iteration integer HITS (Kleinberg, JACM'99 — hubs &
    * authorities, THE ranking law for bipartite endorsement graphs
    * where PageRank's single score conflates the two roles) over the
    * DIRECTED simple edge frame: `rounds` rounds of
    * `auth'(v) = Σ_{u→v} hub(u)` then `hub'(u) = Σ_{u→v} auth'(v)`
    * (the standard auth-first update), each side max-normalized to
    * micro-units.
    *
    * Exact law: the Σs are exact integer sums of micro scores; the only
    * double per side per round is the ONE fixed normalization chain
    * `round(raw / max_raw · 1e6)` — scale-invariant for RANKING, and
    * bit-replayable by any engine. A side whose raw mass is all zero
    * (e.g. hubs of a sink-only node set) holds exactly 0.
    *
    * Scale shape (r17 constants audit): auth and hub iterate as
    * SEPARATE SPARSE frames — a node absent from a side's raw sum
    * contributes exactly 0 to the next round's Σ, so the per-round
    * |V|-row densifying left joins and the per-round auth⋈hub zip the
    * original form carried are VALUE-TRANSPARENT and run only once, at
    * the end (two left joins against the node frame). Per round that
    * leaves exactly: two edge⋈score joins (AQE broadcasts the score
    * side while it fits) + two hash aggregates, each side's maximum
    * riding its raw frame's checkpoint job as an observe() metric (r20;
    * was a 1-row broadcast subquery per side — an extra serialized
    * driver action and a duplicated raw subtree). Edge and node frames
    * materialize once to blocks; each side's raw sums materialize per
    * round (the r17 audit's measured-best cadence: 5.6 s vs 7.8 / 9.3
    * at cadence 2 / 3, sf0.1/32t) and normalization is a narrow
    * driver-literal projection over those blocks.
    *
    * Output: (node, auth_micro, hub_micro) — one row per node.
    */
  def hitsMicro(edges: DataFrame, srcCol: String, dstCol: String,
      rounds: Int = 5, checkpointEvery: Int = 1): DataFrame = {
    val e0 = edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
      .distinct()
    val (ed, edOwned) = Clusters.ownedCheckpoint(e0)
    val (nodes, nodesOwned) = Clusters.ownedCheckpoint(
      ed.select(col("src").as("node"))
        .unionByName(ed.select(col("dst").as("node"))).distinct())
    try hitsMicroPrepared(ed, nodes, rounds, checkpointEvery)
    finally Clusters.release(edOwned ++ nodesOwned)
  }

  /** [[hitsMicro]] over PREPARED frames: `ed(src, dst)` must be the
    * NULL-free, self-loop-free, DISTINCT directed edge frame and
    * `nodes(node)` its node set, both already block-materialized (the
    * shareable-working-set form — a per-dir cache pays the edge
    * normalization once across bench passes, the [[pageRankMicro]]
    * working-set posture).
    */
  def hitsMicroPrepared(ed: DataFrame, nodes: DataFrame,
      rounds: Int = 5, checkpointEvery: Int = 1): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    require(checkpointEvery >= 1,
      s"checkpointEvery must be positive, got $checkpointEvery")
    // sparse rounds: rows absent from a side's raw sum hold an implicit 0
    // — identical sums and maxima to the dense form (zeros never move a Σ
    // of positives nor a max over them); densified only at the end.
    //
    // ONE driver action per side per round: the raw integer-sum frame
    // eagerly checkpoints with its maximum riding the SAME materialization
    // job as an observe() metric (the connectedComponents convergence-fold
    // posture), and the micro normalization is then a narrow projection
    // over the checkpointed blocks with the max as a driver literal.
    // Bit-identical arithmetic to the former crossJoin(broadcast(agg(max)))
    // form — round(raw_double / max_double * 1e6) over the same doubles —
    // but the per-side broadcast subquery (an extra serialized driver
    // action) and the duplicated raw subtree under it are gone. The
    // checkpointEvery cadence is subsumed: the fold materializes each
    // side every round, the cadence the r17 audit measured best anyway
    // (5.6 s vs 7.8 / 9.3 at cadence 2 / 3).
    def roundStep(scores: DataFrame, scoreCol: String, joinKey: String,
        groupKey: String, outCol: String, tag: String)
        : (DataFrame, Seq[org.apache.spark.rdd.RDD[_]]) = {
      val raw = ed
        .join(scores.select(col("node").as(joinKey), col(scoreCol)), joinKey)
        .groupBy(col(groupKey).as("node")).agg(sum(col(scoreCol)).as("_raw"))
      val obs = org.apache.spark.sql.Observation(s"hits_$tag")
      val (cp, own) = Clusters.ownedCheckpoint(
        raw.observe(obs, max(col("_raw")).as("_mx")))
      // empty side (no edges matched) observes a NULL max — all-zero law
      val mx = Option(obs.get("_mx")).map(_.asInstanceOf[Long]).getOrElse(0L)
      val norm =
        if (mx > 0L)
          cp.select(col("node"),
            round(col("_raw").cast("double") / lit(mx.toDouble) * 1000000.0)
              .cast("long").as(outCol))
        else cp.select(col("node"), lit(0L).as(outCol))
      (norm, own)
    }
    var auth = nodes.select(col("node"), lit(1000000L).as("auth_micro"))
    var hub = nodes.select(col("node"), lit(1000000L).as("hub_micro"))
    var ownedA: Seq[org.apache.spark.rdd.RDD[_]] = Nil
    var ownedH: Seq[org.apache.spark.rdd.RDD[_]] = Nil
    for (i <- 1 to rounds) {
      // auth first (the standard update), hub from the NEW auth; each
      // step's blocks replace the previous round's for that side — the
      // old side frame has no consumer left once the step materialized
      val (a2, ownA) = roundStep(hub, "hub_micro", "src", "dst",
        "auth_micro", s"a$i")
      Clusters.release(ownedA); auth = a2; ownedA = ownA
      val (h2, ownH) = roundStep(auth, "auth_micro", "dst", "src",
        "hub_micro", s"h$i")
      Clusters.release(ownedH); hub = h2; ownedH = ownH
    }
    // densify once: every node reports, absent side scores read 0
    val (finalScores, _) = Clusters.ownedCheckpoint(
      nodes.join(auth, Seq("node"), "left").join(hub, Seq("node"), "left")
        .select(col("node"),
          coalesce(col("auth_micro"), lit(0L)).as("auth_micro"),
          coalesce(col("hub_micro"), lit(0L)).as("hub_micro")))
    Clusters.release(ownedA)
    Clusters.release(ownedH)
    finalScores
  }

  /** Degree assortativity of the undirected simple graph (Newman, PRL'02
    * — the one-number "do hubs link to hubs?" report; positive for
    * social graphs, negative for web/biological ones, and the early
    * warning that a crawl graph's super-nodes chain together into a
    * skew-hostile core): the Pearson correlation of endpoint degrees
    * over DIRECTED edge copies (each undirected edge counted both ways —
    * Newman's symmetric estimator).
    *
    * Exact integer law: with M directed copies and endpoint degrees
    * (j, k) per copy, the moments Σj, Σjk, Σj² are exact integers
    * (products in DECIMAL(38,0) — a degree² sum over a large edge set
    * outgrows BIGINT); the correlation is then ONE fixed double chain
    * `(Σjk/M − (Σj/M)²) / (Σj²/M − (Σj/M)²)`, NULL for a
    * degree-regular graph (denominator 0), quantized to picos.
    *
    * Scale shape: canonicalization + degree aggregate + two hash joins
    * to attach endpoint degrees + one 1-row aggregate. No window, no
    * driver state.
    *
    * Output: one row (m_directed, sum_deg, assort_pico).
    */
  def assortativity(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = {
    val canon = canonicalUndirected(edges, srcCol, dstCol)
    assortativityCore(canon, undirectedDegrees(canon))
  }

  /** [[assortativity]] over a prepared [[UndirectedWorkingSet]]. */
  def assortativity(g: UndirectedWorkingSet): DataFrame =
    assortativityCore(g.canon, g.deg)

  private def assortativityCore(canon: DataFrame, deg: DataFrame): DataFrame = {
    val withDegs = bothDirections(canon)
      .join(deg.select(col("node").as("x"), col("deg").as("j")), "x")
      .join(deg.select(col("node").as("y"), col("deg").as("k")), "y")
    val sums = withDegs.agg(
      count(lit(1)).as("m_directed"),
      coalesce(sum(col("j")), lit(0L)).as("sum_deg"),
      sum((col("j") * col("k")).cast("decimal(38,0)")).as("_sjk"),
      sum((col("j") * col("j")).cast("decimal(38,0)")).as("_sjj"))
    val mD = col("m_directed").cast("double")
    val mean = col("sum_deg").cast("double") / mD
    val num = col("_sjk").cast("double") / mD - mean * mean
    val den = col("_sjj").cast("double") / mD - mean * mean
    // nested when: ANSI division throws on a 0 divisor even for doubles,
    // so den must never evaluate when m_directed = 0 (empty graph)
    sums.withColumn("assort_pico",
        when(col("m_directed") > 0L,
          when(den =!= 0.0, round(num / den * 1000000000000.0).cast("long"))))
      .select(col("m_directed"), col("sum_deg"), col("assort_pico"))
  }

  /** Rich-club profile (Zhou & Mondragón '04; Colizza et al. '06 form):
    * φ(k) = 2·E_{>k} / (N_{>k}·(N_{>k}−1)) — among nodes of degree
    * above k, what fraction of the possible edges exist? A rising φ(k)
    * says the hubs wire to EACH OTHER (the "rich club" every crawl/link
    * graph shows; its absence in a supposedly organic graph is a
    * synthetic-data tell). Evaluated at doubling thresholds
    * k = 1, 2, 4, … ≤ max degree — ≤ 63 rows by construction (the
    * Heaps-cutoff posture).
    *
    * Exact law at HISTOGRAM cost, never a per-threshold corpus pass:
    * one degree histogram (bounded by distinct degree values) and one
    * edge min-endpoint-degree histogram (an edge survives threshold k
    * iff min(deg_u, deg_v) > k) each cross the ≤63-row threshold table;
    * counts are exact integers and φ is one double chain. N_{>k} < 2 →
    * NULL φ.
    *
    * Output: (k, n_nodes, n_edges, phi), one row per threshold,
    * ordered by k.
    */
  def richClub(g: UndirectedWorkingSet): DataFrame =
    richClubCore(g.canon, g.deg)

  /** Edge-frame convenience form of [[richClub]] — like
    * [[assortativity]]'s, it derives canon/degrees WITHOUT the working
    * set's checkpoints (the returned frame stays lazy; releasing blocks
    * under it would fail at collect time).
    */
  def richClub(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val canon = canonicalUndirected(edges, srcCol, dstCol)
    richClubCore(canon, undirectedDegrees(canon))
  }

  private def richClubCore(canon: DataFrame, deg: DataFrame): DataFrame = {
    val dhist = deg.groupBy(col("deg")).agg(count(lit(1)).as("_nd"))
    val ehist = canon
      .join(deg.select(col("node").as("u"), col("deg").as("_du")), "u")
      .join(deg.select(col("node").as("v"), col("deg").as("_dv")), "v")
      .select(least(col("_du"), col("_dv")).as("_mind"))
      .groupBy(col("_mind")).agg(count(lit(1)).as("_ne"))
    val ks = deg.agg(max(col("deg")).as("_md"))
      .select(explode(sequence(lit(0), lit(62))).as("_i"), col("_md"))
      .select(pow(lit(2.0), col("_i")).cast("long").as("k"), col("_md"))
      .filter(col("k") <= col("_md"))
      .select(col("k"))
    val nk = dhist.crossJoin(broadcast(ks))
      .filter(col("deg") > col("k"))
      .groupBy(col("k")).agg(sum(col("_nd")).as("n_nodes"))
    val ek = ehist.crossJoin(broadcast(ks))
      .filter(col("_mind") > col("k"))
      .groupBy(col("k")).agg(sum(col("_ne")).as("n_edges"))
    broadcast(ks).join(nk, Seq("k"), "left").join(ek, Seq("k"), "left")
      .select(col("k"), coalesce(col("n_nodes"), lit(0L)).as("n_nodes"),
        coalesce(col("n_edges"), lit(0L)).as("n_edges"))
      .withColumn("phi",
        when(col("n_nodes") >= 2L,
          col("n_edges").cast("double") * 2.0
            / (col("n_nodes").cast("double")
              * (col("n_nodes").cast("double") - 1.0))))
      .orderBy(col("k"))
  }

  /** Directed-graph reciprocity (Garlaschelli & Loffredo '04's r): the
    * fraction of directed edges whose REVERSE also exists — the
    * "is this interaction mutual or broadcast" one-number (citation
    * graphs ~0, social follow graphs ~0.6; a crawl graph's r shifting
    * is a link-spam tell). Exact law: distinct directed edges, self
    * loops dropped; mutual count via ONE hash semi-join against the
    * reversed frame; `reciprocity` is one double division, NULL on an
    * empty edge set.
    *
    * Output (1 row): (n_edges, n_mutual, reciprocity).
    */
  def reciprocity(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = {
    // LAZY localCheckpoint (r19 optimization round): the distinct edge
    // frame feeds the total, the semi-join probe AND its reversed build
    // side — one distinct instead of three recomputations of the
    // upstream join
    val e = edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
      .distinct()
      .localCheckpoint(false)
    // ONE aggregate pass (r20; was a semi-join count + a separate total
    // count + a crossJoin broadcast): the reversed frame joins LEFT with
    // a mutual flag — e is distinct, so the reverse side matches at most
    // one row and the left join preserves exactly |e| rows. count(*)
    // is the old n_edges, count(_m) the old semi-join's n_mutual.
    e.join(
        e.select(col("dst").as("src"), col("src").as("dst"),
          lit(1).as("_m")),
        Seq("src", "dst"), "left")
      .agg(count(lit(1)).as("n_edges"), count(col("_m")).as("n_mutual"))
      .select(col("n_edges"), col("n_mutual"),
        when(col("n_edges") > 0L,
          col("n_mutual").cast("double") / col("n_edges").cast("double"))
          .as("reciprocity"))
  }
}
