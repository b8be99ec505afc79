package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.ExcelSerial
import graft.model.PathOps
import graft.ops.{Hierarchy, Parents, Upsert}

/** Graph-structure family over the co-purchase graph: ranks (PageRank/TrustRank/HITS/LPA), triangles, coreness, components, link prediction.
  *
  * Split from the monolithic `Registry` object (round 15): members are
  * unchanged; `Registry` mixes every family trait in, so the public
  * surface (`Registry.queries` / `Registry.oracle` / each q* member) is
  * identical. Cross-family helpers are `private[queries]`; vals are lazy
  * so trait-linearization order can never null-init a shared fragment.
  */
trait GraphQueries { self: RegistryAll =>

  // graph / fusion / robust-stats / corpus-comparison operators (round 10)

  /** Integer-law PageRank ([[graft.ops.Graph.pageRankMicro]]) over the
    * supplier↔customer trade graph (lineitem⋈orders), symmetrized, 5
    * rounds — the crawl-importance prior, replayed by the oracle as 5
    * chained CTEs in the same exact integer arithmetic (floor-division
    * contributions, micro-unit ranks), so every rank matches
    * bit-for-bit. Node encoding: supplier = 2k, customer = 2k+1.
    */
  def qPagerank(spark: SparkSession, dir: String): DataFrame = {
    // the working set (normalize/degree/blocks) comes from the shared
    // per-dir pin — paid once across the classic + personalized legs —
    // while the rank ROUNDS always compute fresh (this bench row
    // measures the law, not a cache) and REFRESH the per-dir rank cache
    // the stored leg reuses (see qPagerankStore — the r10 amortization)
    val ranks = graft.ops.Graph.pageRankMicro(tradeWorkingSet(spark, dir),
      iterations = 5, dampNum = 85L, dampDen = 100L, initMicro = 1000000L,
      seeds = None, seedCol = "node", checkpointEvery = 8)
    Option(cachedRanks.put((dir, "pagerank"), ranks))
      .filter(_ ne ranks).foreach(releaseBlocks)
    rankTop25(ranks)
  }

  /** The supplier↔customer trade edge frame (directed, supplier = 2k,
    * customer = 2k+1) — shared derivation of the three graph queries.
    */
  private[queries] def tradeEdges(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
    val o = t(spark, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .select((col("l_suppkey").cast("long") * 2L).as("src"),
        (col("o_custkey").cast("long") * 2L + 1L).as("dst"))
  }

  /** Degree distribution of the trade graph
    * ([[graft.ops.Graph.degreeDistribution]]): one (side, degree,
    * node-count) row per distinct degree value, both directions — the
    * power-law sanity report and super-node skew screen. Exact integer
    * law, fully hash-oracled.
    */
  def qDegreeDist(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Graph.degreeDistribution(tradeEdges(spark, dir), "src", "dst")
      .orderBy("side", "deg")

  lazy val qDegreeDistSql: String =
    """WITH e AS (SELECT DISTINCT CAST(l_suppkey AS BIGINT) * 2 AS src,
      |   CAST(o_custkey AS BIGINT) * 2 + 1 AS dst
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      | outd AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM e GROUP BY 1),
      | ind AS (SELECT dst, CAST(COUNT(*) AS BIGINT) AS deg FROM e GROUP BY 1),
      | h AS (SELECT 'out' AS side, deg, CAST(COUNT(*) AS BIGINT) AS n_nodes
      |  FROM outd GROUP BY 2
      |  UNION ALL
      |  SELECT 'in' AS side, deg, CAST(COUNT(*) AS BIGINT) AS n_nodes
      |  FROM ind GROUP BY 2)
      | SELECT side, deg, n_nodes FROM h ORDER BY side, deg"""
      .stripMargin.replace("\n", " ")

  /** Co-purchase part graph: parts are linked when some order contains
    * both (the classic items-bought-together projection — unlike the
    * bipartite [[tradeEdges]] it has odd cycles, so triangle/assortativity
    * structure exists). Per-order fan-out is C(items, 2) with TPC-H's
    * ≤ 7 items per order — a bounded expansion, never a corpus join.
    *
    * SHARED per-dir (the tradeWorkingSet posture, session-validated):
    * FIVE structural queries (triangles, assortativity, communities,
    * link prediction, coreness) read this graph through ONE prepared
    * [[graft.ops.Graph.UndirectedWorkingSet]] — the order-pair
    * self-join, the canonical distinct AND the degree aggregate are all
    * paid by whichever query runs first; every later consumer starts at
    * the checkpointed (u, v) / (node, deg) block scans (before r13 each
    * consumer re-ran its own canonicalization distinct + degree
    * aggregate over the shared edge blocks — six redundant shuffles per
    * bench sweep of the same already-canonical frame). Single-maintainer
    * contract: see [[cachedRanks]].
    */
  private[queries] lazy val cachedCoPart = new java.util.concurrent.ConcurrentHashMap[
    String, graft.ops.Graph.UndirectedWorkingSet]()

  private[queries] def coPartGraph(spark: SparkSession,
      dir: String): graft.ops.Graph.UndirectedWorkingSet =
    cachedCoPart.compute(dir, (_, old) =>
      if (old != null && (old.canon.sparkSession eq spark)) old
      else {
        if (old != null)
          try old.release()
          catch { case scala.util.control.NonFatal(_) => () }
        val li = t(spark, dir, "lineitem")
          .select(col("l_orderkey").as("_ok"),
            col("l_partkey").cast("long").as("_pk"))
          .distinct()
        val a = li.select(col("_ok"), col("_pk").as("_pa"))
        val b = li.select(col("_ok"), col("_pk").as("_pb"))
        // pairs feed prepareUndirected UN-deduped: its canonical distinct
        // is the one dedup shuffle (the _pa < _pb orientation already
        // matches the (least, greatest) law)
        graft.ops.Graph.prepareUndirected(
          a.join(b, Seq("_ok")).filter(col("_pa") < col("_pb"))
            .select(col("_pa").as("src"), col("_pb").as("dst")),
          "src", "dst")
      })

  /** Per-dir pin of the CHECKPOINTED co-purchase triangle frame
    * ([[graft.ops.Graph.triangleFrame]]) — the [[cachedCoPart]] posture
    * applied to the triangle enumeration: q_triangle_count and
    * q_local_clustering both read it, so the wedge self-join (the
    * dominant cost of both, ~6.4–6.7 s each at sf0.1) runs once per
    * (session, dir) instead of once per query. Same single-maintainer
    * contract as [[cachedRanks]].
    */
  private[queries] lazy val cachedCoTri =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  private[queries] def coPartTriangles(spark: SparkSession, dir: String): DataFrame =
    cachedCoTri.compute(dir, (_, old) =>
      if (old != null && (old.sparkSession eq spark)) old
      else {
        if (old != null) releaseBlocks(old)
        graft.ops.Graph.triangleFrameMaterialized(coPartGraph(spark, dir))
      })

  private[queries] lazy val coPartEdgesSql: String =
    """SELECT a.pk AS s, b.pk AS d
      | FROM (SELECT DISTINCT l_orderkey AS ok, CAST(l_partkey AS BIGINT) AS pk
      |   FROM lineitem) a
      | JOIN (SELECT DISTINCT l_orderkey AS ok, CAST(l_partkey AS BIGINT) AS pk
      |   FROM lineitem) b ON b.ok = a.ok AND a.pk < b.pk""".stripMargin

  /** Exact triangle census + global clustering of the co-purchase part
    * graph ([[graft.ops.Graph.triangleStats]], Suri & Vassilvitskii
    * WWW'11 degree-ordered orientation): the structural report behind
    * community/cohesion screens, with every count an exact integer and
    * the clustering coefficient one fixed 3T/W chain.
    */
  def qTriangleCount(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Graph.triangleStats(coPartGraph(spark, dir),
      coPartTriangles(spark, dir))

  lazy val qTriangleCountSql: String =
    s"""WITH raw AS ($coPartEdgesSql),
      | canon AS (SELECT DISTINCT LEAST(s, d) AS u, GREATEST(s, d) AS v FROM raw),
      | deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM
      |   (SELECT u AS node FROM canon UNION ALL SELECT v AS node FROM canon)
      |  GROUP BY 1),
      | o AS (SELECT
      |   CASE WHEN (du.deg < dv.deg) OR (du.deg = dv.deg AND u < v)
      |    THEN u ELSE v END AS a,
      |   CASE WHEN (du.deg < dv.deg) OR (du.deg = dv.deg AND u < v)
      |    THEN v ELSE u END AS b,
      |   CASE WHEN (du.deg < dv.deg) OR (du.deg = dv.deg AND u < v)
      |    THEN dv.deg ELSE du.deg END AS degb
      |  FROM canon JOIN deg du ON du.node = u JOIN deg dv ON dv.node = v),
      | tri AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
      |  FROM o e1 JOIN o e2 ON e2.a = e1.a
      |    AND ((e1.degb < e2.degb) OR (e1.degb = e2.degb AND e1.b < e2.b))
      |  JOIN o e3 ON e3.a = e1.b AND e3.b = e2.b),
      | ne AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM canon),
      | ns AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
      |   CAST(SUM((deg * (deg - 1)) // 2) AS HUGEINT) AS n_wedges FROM deg)
      | SELECT n_nodes, n_edges, CAST(n_wedges AS BIGINT) AS n_wedges, n_triangles,
      |  CASE WHEN n_wedges > 0 THEN
      |   CAST(round((3.0 * CAST(n_triangles AS DOUBLE))
      |     / CAST(n_wedges AS DOUBLE) * 1000000000000.0) AS BIGINT)
      |  END AS clustering_pico
      | FROM ns CROSS JOIN ne CROSS JOIN tri""".stripMargin.replace("\n", " ")

  /** Top-25 local clustering coefficients on the co-purchase part graph
    * ([[graft.ops.Graph.localClustering]], Watts & Strogatz '98): the
    * per-node companion of q_triangle_count — near-clique neighborhoods
    * the global coefficient averages away. Triangles enumerate once
    * under the shared degree-ordered orientation, each credits its
    * three corners, ONE fixed double chain to picos; deg < 2 nodes are
    * unrankable and excluded.
    */
  def qLocalClustering(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Graph.localClustering(coPartGraph(spark, dir),
      coPartTriangles(spark, dir), k = 25)

  lazy val qLocalClusteringSql: String =
    s"""WITH raw AS ($coPartEdgesSql),
      | canon AS (SELECT DISTINCT LEAST(s, d) AS u, GREATEST(s, d) AS v FROM raw),
      | deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM
      |   (SELECT u AS node FROM canon UNION ALL SELECT v AS node FROM canon)
      |  GROUP BY 1),
      | o AS (SELECT
      |   CASE WHEN (du.deg < dv.deg) OR (du.deg = dv.deg AND u < v)
      |    THEN u ELSE v END AS a,
      |   CASE WHEN (du.deg < dv.deg) OR (du.deg = dv.deg AND u < v)
      |    THEN v ELSE u END AS b,
      |   CASE WHEN (du.deg < dv.deg) OR (du.deg = dv.deg AND u < v)
      |    THEN dv.deg ELSE du.deg END AS degb
      |  FROM canon JOIN deg du ON du.node = u JOIN deg dv ON dv.node = v),
      | tri3 AS (SELECT e1.a AS a, e1.b AS b, e2.b AS c
      |  FROM o e1 JOIN o e2 ON e2.a = e1.a
      |    AND ((e1.degb < e2.degb) OR (e1.degb = e2.degb AND e1.b < e2.b))
      |  JOIN o e3 ON e3.a = e1.b AND e3.b = e2.b),
      | corners AS (SELECT a AS node FROM tri3
      |  UNION ALL SELECT b FROM tri3 UNION ALL SELECT c FROM tri3),
      | pn AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS t FROM corners GROUP BY 1)
      | SELECT d.node, d.deg, COALESCE(pn.t, 0) AS n_triangles,
      |  CAST(round(2.0 * CAST(COALESCE(pn.t, 0) AS DOUBLE)
      |    / CAST(d.deg * (d.deg - 1) AS DOUBLE) * 1000000000000.0) AS BIGINT)
      |   AS lcc_pico
      | FROM deg d LEFT JOIN pn ON pn.node = d.node WHERE d.deg >= 2
      | ORDER BY lcc_pico DESC, d.node LIMIT 25""".stripMargin.replace("\n", " ")

  /** Degree assortativity of the co-purchase part graph
    * ([[graft.ops.Graph.assortativity]], Newman PRL'02): exact integer
    * degree moments in DECIMAL(38,0), one fixed Pearson chain, NULL on a
    * degree-regular graph.
    */
  def qAssortativity(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Graph.assortativity(coPartGraph(spark, dir))

  lazy val qAssortativitySql: String =
    s"""WITH raw AS ($coPartEdgesSql),
      | canon AS (SELECT DISTINCT LEAST(s, d) AS u, GREATEST(s, d) AS v FROM raw),
      | deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM
      |   (SELECT u AS node FROM canon UNION ALL SELECT v AS node FROM canon)
      |  GROUP BY 1),
      | dir2 AS (SELECT u AS x, v AS y FROM canon
      |  UNION ALL SELECT v AS x, u AS y FROM canon),
      | wd AS (SELECT dj.deg AS j, dk.deg AS k FROM dir2
      |  JOIN deg dj ON dj.node = x JOIN deg dk ON dk.node = y),
      | s AS (SELECT CAST(COUNT(*) AS BIGINT) AS m_directed,
      |   CAST(SUM(j) AS BIGINT) AS sum_deg,
      |   CAST(SUM(CAST(j AS HUGEINT) * k) AS HUGEINT) AS sjk,
      |   CAST(SUM(CAST(j AS HUGEINT) * j) AS HUGEINT) AS sjj FROM wd)
      | SELECT m_directed, sum_deg,
      |  CASE WHEN m_directed > 0 AND
      |    (CAST(sjj AS DOUBLE) / CAST(m_directed AS DOUBLE)
      |     - (CAST(sum_deg AS DOUBLE) / CAST(m_directed AS DOUBLE))
      |       * (CAST(sum_deg AS DOUBLE) / CAST(m_directed AS DOUBLE))) <> 0.0
      |   THEN CAST(round(
      |    (CAST(sjk AS DOUBLE) / CAST(m_directed AS DOUBLE)
      |     - (CAST(sum_deg AS DOUBLE) / CAST(m_directed AS DOUBLE))
      |       * (CAST(sum_deg AS DOUBLE) / CAST(m_directed AS DOUBLE)))
      |    / (CAST(sjj AS DOUBLE) / CAST(m_directed AS DOUBLE)
      |     - (CAST(sum_deg AS DOUBLE) / CAST(m_directed AS DOUBLE))
      |       * (CAST(sum_deg AS DOUBLE) / CAST(m_directed AS DOUBLE)))
      |    * 1000000000000.0) AS BIGINT)
      |  END AS assort_pico
      | FROM s""".stripMargin.replace("\n", " ")

  /** Rich-club profile of the co-purchase part graph
    * ([[graft.ops.Graph.richClub]], Zhou & Mondragón '04): among parts
    * of degree above each doubling threshold, the realized fraction of
    * possible co-purchase ties — do the hub parts wire to each other?
    * Histogram-cost exact law over the SHARED undirected working set;
    * φ is one double chain per ≤63 threshold rows.
    */
  def qRichClub(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Graph.richClub(coPartGraph(spark, dir))

  lazy val qRichClubSql: String =
    s"""WITH raw AS ($coPartEdgesSql),
      | canon AS (SELECT DISTINCT LEAST(s, d) AS u, GREATEST(s, d) AS v FROM raw),
      | deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM
      |   (SELECT u AS node FROM canon UNION ALL SELECT v AS node FROM canon)
      |  GROUP BY 1),
      | dh AS (SELECT deg, CAST(COUNT(*) AS BIGINT) AS nd FROM deg GROUP BY 1),
      | eh AS (SELECT LEAST(du.deg, dv.deg) AS mind,
      |   CAST(COUNT(*) AS BIGINT) AS ne
      |  FROM canon JOIN deg du ON du.node = u JOIN deg dv ON dv.node = v
      |  GROUP BY 1),
      | mdt AS (SELECT MAX(deg) AS maxd FROM deg),
      | ks AS (SELECT CAST(2**i AS BIGINT) AS k
      |  FROM (SELECT unnest(range(0, 63)) AS i) CROSS JOIN mdt
      |  WHERE CAST(2**i AS BIGINT) <= maxd),
      | nk AS (SELECT k, CAST(SUM(nd) AS BIGINT) AS n_nodes
      |  FROM dh CROSS JOIN ks WHERE deg > k GROUP BY 1),
      | ek AS (SELECT k, CAST(SUM(ne) AS BIGINT) AS n_edges
      |  FROM eh CROSS JOIN ks WHERE mind > k GROUP BY 1)
      | SELECT ks.k, COALESCE(nk.n_nodes, 0) AS n_nodes,
      |  COALESCE(ek.n_edges, 0) AS n_edges,
      |  CASE WHEN COALESCE(nk.n_nodes, 0) >= 2 THEN
      |   CAST(COALESCE(ek.n_edges, 0) AS DOUBLE) * 2.0
      |    / (CAST(nk.n_nodes AS DOUBLE) * (CAST(nk.n_nodes AS DOUBLE) - 1.0))
      |  END AS phi
      | FROM ks LEFT JOIN nk USING (k) LEFT JOIN ek USING (k)
      | ORDER BY k""".stripMargin.replace("\n", " ")

  /** Reciprocity of the directed trade-interaction graph
    * ([[graft.ops.Graph.reciprocity]], Garlaschelli & Loffredo '04):
    * customer→supplier edges for even order keys, supplier→customer for
    * odd — what fraction of interactions are mutual? One distinct, one
    * hash semi-join against the reversed frame, one division.
    */
  def qReciprocity(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"))
    val o = t(spark, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
    val j = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey").cast("long") * 2L).as("_c"),
        (col("l_suppkey").cast("long") * 2L + 1L).as("_s"),
        (col("l_orderkey") % 2 === 0).as("_fwd"))
    val e = j.select(
      when(col("_fwd"), col("_c")).otherwise(col("_s")).as("src"),
      when(col("_fwd"), col("_s")).otherwise(col("_c")).as("dst"))
    graft.ops.Graph.reciprocity(e, "src", "dst")
  }

  lazy val qReciprocitySql: String =
    """WITH j AS (SELECT CAST(o_custkey AS BIGINT) * 2 AS c,
      |   CAST(l_suppkey AS BIGINT) * 2 + 1 AS s,
      |   (l_orderkey % 2 = 0) AS fwd
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      | e AS (SELECT DISTINCT CASE WHEN fwd THEN c ELSE s END AS src,
      |   CASE WHEN fwd THEN s ELSE c END AS dst FROM j),
      | m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_mutual FROM e a
      |  WHERE EXISTS (SELECT 1 FROM e b
      |   WHERE b.src = a.dst AND b.dst = a.src)),
      | tt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM e)
      | SELECT n_edges, n_mutual,
      |  CASE WHEN n_edges > 0 THEN
      |   CAST(n_mutual AS DOUBLE) / CAST(n_edges AS DOUBLE)
      |  END AS reciprocity
      | FROM tt CROSS JOIN m""".stripMargin.replace("\n", " ")

  /** Label-propagation communities of the co-purchase part graph
    * ([[graft.ops.Graph.labelPropagation]], Raghavan et al. '07; 4
    * synchronous self-inclusive min-tie-break rounds — the community
    * screen that separates what connected components merges: a single
    * bridge edge joins components but not LPA communities), reported as
    * the community-SIZE distribution so output is bounded by distinct
    * sizes, never |V|. Every label decision is an exact integer argmax
    * the oracle replays round by round.
    */
  def qLabelProp(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Graph.labelPropagation(coPartGraph(spark, dir), rounds = 4)
      .groupBy(col("label")).agg(count(lit(1)).as("_n"))
      .groupBy(col("_n").as("community_size"))
      .agg(count(lit(1)).as("n_communities"))
      .orderBy("community_size")

  lazy val qLabelPropSql: String = {
    def rnd(prev: String, v: String, c: String, l: String) =
      s"""$v AS (SELECT d.x AS node, p.label FROM dir2 d JOIN $prev p ON p.node = d.y
        |  UNION ALL SELECT node, label FROM $prev),
        | $c AS (SELECT node, label, CAST(COUNT(*) AS BIGINT) AS c FROM $v GROUP BY 1, 2),
        | $l AS (SELECT node, label FROM (SELECT node, label,
        |   row_number() OVER (PARTITION BY node ORDER BY c DESC, label ASC) AS rn
        |  FROM $c) WHERE rn = 1)""".stripMargin.replace("\n", " ")
    s"""WITH raw AS ($coPartEdgesSql),
      | canon AS (SELECT DISTINCT LEAST(s, d) AS u, GREATEST(s, d) AS v FROM raw),
      | dir2 AS (SELECT u AS x, v AS y FROM canon
      |  UNION ALL SELECT v AS x, u AS y FROM canon),
      | l0 AS (SELECT DISTINCT x AS node, x AS label FROM dir2),
      | ${rnd("l0", "v1", "c1", "l1")}, ${rnd("l1", "v2", "c2", "l2")},
      | ${rnd("l2", "v3", "c3", "l3")}, ${rnd("l3", "v4", "c4", "l4")},
      | sizes AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n FROM l4 GROUP BY 1)
      | SELECT n AS community_size, CAST(COUNT(*) AS BIGINT) AS n_communities
      | FROM sizes GROUP BY 1 ORDER BY 1""".stripMargin.replace("\n", " ")
  }

  /** Adamic–Adar link prediction on the co-purchase part graph
    * ([[graft.ops.Graph.adamicAdar]], Adamic & Adar '03): top-25
    * non-adjacent pairs by Σ 1/ln(deg z) over shared neighbors, apexes
    * capped at degree 64, every term pico-quantized before the
    * DECIMAL(38,0) Σ. The cap is the aggressive-hub-exclusion
    * configuration, chosen for the DENSE co-purchase projection: pair
    * volume is Σ C(min(deg,cap),2) per apex — the sf1 sweep measured
    * cap 256 at a ~650M-row pair shuffle (203 s at 4 threads) vs ~16×
    * less volume at 64, and a hub that ubiquitous carries a near-zero
    * 1/ln(deg) term anyway.
    */
  def qAdamicAdar(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Graph.adamicAdar(coPartGraph(spark, dir), k = 25,
      maxApexDegree = 64L)

  lazy val qAdamicAdarSql: String =
    s"""WITH raw AS ($coPartEdgesSql),
      | canon AS (SELECT DISTINCT LEAST(s, d) AS u, GREATEST(s, d) AS v FROM raw),
      | deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM
      |   (SELECT u AS node FROM canon UNION ALL SELECT v AS node FROM canon)
      |  GROUP BY 1),
      | dir2 AS (SELECT u AS z, v AS n FROM canon
      |  UNION ALL SELECT v AS z, u AS n FROM canon),
      | apex AS (SELECT d.z, d.n, g.deg FROM dir2 d
      |  JOIN deg g ON g.node = d.z WHERE g.deg <= 64),
      | pr AS (SELECT a1.n AS u, a2.n AS v, a1.deg
      |  FROM apex a1 JOIN apex a2 ON a2.z = a1.z AND a1.n < a2.n),
      | tm AS (SELECT u, v, CAST(round(1000000000000.0
      |    / ln(CAST(deg AS DOUBLE))) AS BIGINT) AS term FROM pr),
      | sc AS (SELECT u, v, CAST(COUNT(*) AS BIGINT) AS common_neighbors,
      |   CAST(SUM(term) AS HUGEINT) AS aa_pico FROM tm GROUP BY 1, 2),
      | ne AS (SELECT sc.u, sc.v, sc.common_neighbors, sc.aa_pico FROM sc
      |  LEFT JOIN canon c ON c.u = sc.u AND c.v = sc.v WHERE c.u IS NULL)
      | SELECT u, v, common_neighbors, CAST(aa_pico AS BIGINT) AS aa_pico FROM ne
      | ORDER BY aa_pico DESC, u, v LIMIT 25""".stripMargin.replace("\n", " ")

  /** The Resource-Allocation / neighborhood-Jaccard / preferential-
    * attachment link-prediction scorecard on the co-purchase part graph
    * ([[graft.ops.Graph.linkPredictionScored]]; Liben-Nowell & Kleinberg
    * CIKM'03's classic trio beside q_adamic_adar): top-25 non-adjacent
    * pairs by RA. Same apex cap 64 and shared working set as AA; RA and
    * Jaccard are PURE integral-division pico laws (no transcendental),
    * PA a plain BIGINT degree product.
    */
  def qLinkPredict(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Graph.linkPredictionScored(coPartGraph(spark, dir), 64L)
      .orderBy(col("ra_pico").desc, col("u"), col("v"))
      .limit(25)

  lazy val qLinkPredictSql: String =
    s"""WITH raw AS ($coPartEdgesSql),
      | canon AS (SELECT DISTINCT LEAST(s, d) AS u, GREATEST(s, d) AS v FROM raw),
      | deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM
      |   (SELECT u AS node FROM canon UNION ALL SELECT v AS node FROM canon)
      |  GROUP BY 1),
      | dir2 AS (SELECT u AS z, v AS n FROM canon
      |  UNION ALL SELECT v AS z, u AS n FROM canon),
      | apex AS (SELECT d.z, d.n, g.deg FROM dir2 d
      |  JOIN deg g ON g.node = d.z WHERE g.deg <= 64),
      | sc AS (SELECT a1.n AS u, a2.n AS v,
      |   CAST(COUNT(*) AS BIGINT) AS cn,
      |   CAST(SUM(1000000000000 // a1.deg) AS HUGEINT) AS ra
      |  FROM apex a1 JOIN apex a2 ON a2.z = a1.z AND a1.n < a2.n GROUP BY 1, 2),
      | ne AS (SELECT sc.u, sc.v, sc.cn, sc.ra FROM sc
      |  LEFT JOIN canon c ON c.u = sc.u AND c.v = sc.v WHERE c.u IS NULL),
      | j AS (SELECT ne.u, ne.v, ne.cn, ne.ra, du.deg AS du, dv.deg AS dv
      |  FROM ne JOIN deg du ON du.node = ne.u JOIN deg dv ON dv.node = ne.v)
      | SELECT u, v, cn AS common_neighbors, CAST(ra AS BIGINT) AS ra_pico,
      |  CAST((CAST(cn AS HUGEINT) * 1000000000000) // (du + dv - cn) AS BIGINT)
      |   AS jaccard_pico,
      |  CAST(du * dv AS BIGINT) AS pa_score
      | FROM j ORDER BY ra_pico DESC, u, v LIMIT 25""".stripMargin.replace("\n", " ")

  /** Fixed-iteration integer HITS over the directed supplier→customer
    * trade graph ([[graft.ops.Graph.hitsMicro]], Kleinberg JACM'99; 5
    * auth-first rounds, max-normalized micro-units): on this bipartite
    * endorsement graph hubs are exactly the suppliers and authorities
    * the customers — the two-role ranking PageRank's single score
    * conflates. Integer Σs, one fixed normalization chain per side per
    * round; top 25 by authority.
    */
  def qHits(spark: SparkSession, dir: String): DataFrame =
    hitsDecoded(spark, dir)
      .orderBy(col("auth_micro").desc, col("node_kind"), col("node_key"))
      .limit(25)

  /** Per-dir pin of the DIRECTED trade edge blocks for HITS (the
    * cachedCoPart posture): the bipartite node encoding makes the
    * directed frame a narrow FILTER of the shared symmetric working
    * set's edge blocks — suppliers are even, so `src % 2 = 0` keeps
    * exactly the distinct supplier→customer edges [[tradeEdges]] yields
    * (the symmetrization only added the mirrored odd-src copies) — and
    * the node set is the same. One filtered materialization per dir
    * instead of a join+distinct+checkpoint per bench pass.
    */
  private[queries] lazy val cachedHitsEdges = new java.util.concurrent.ConcurrentHashMap[
    String, (DataFrame, Seq[org.apache.spark.rdd.RDD[_]])]()

  private[queries] def hitsEdges(spark: SparkSession, dir: String): DataFrame =
    cachedHitsEdges.compute(dir, (_, old) =>
      if (old != null && (old._1.sparkSession eq spark)) old
      else {
        if (old != null)
          try graft.ops.Clusters.release(old._2)
          catch { case scala.util.control.NonFatal(_) => () }
        val ws = tradeWorkingSet(spark, dir)
        graft.ops.Clusters.ownedCheckpoint(
          ws.ewd.filter(col("src") % 2L === 0L)
            .select(col("src"), col("dst")))
      })._1

  /** Full decoded HITS score table behind [[qHits]] — also the plateau
    * probe's surface.
    */
  private[queries] def hitsDecoded(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Graph.hitsMicroPrepared(hitsEdges(spark, dir),
        tradeWorkingSet(spark, dir).nodes, rounds = 5)
      .select(
        when(col("node") % 2L === 0L, lit("supplier")).otherwise(lit("customer"))
          .as("node_kind"),
        expr("node div 2L").as("node_key"),
        col("auth_micro"), col("hub_micro"))

  lazy val qHitsSql: String = {
    // every per-round CTE is MATERIALIZED: a plain (inlined) CTE chain
    // would re-expand the whole upstream tree at each of its ~3
    // references per round — exponential in rounds, and DuckDB actually
    // runs out of file handles re-scanning the base parquet ~3^10 times
    def rnd(prevH: String, i: Int) =
      s"""ra$i AS MATERIALIZED (SELECT e.dst AS node,
        |   CAST(SUM(p.hub) AS BIGINT) AS r
        |  FROM e JOIN $prevH p ON p.node = e.src GROUP BY 1),
        | ma$i AS (SELECT MAX(r) AS m FROM ra$i),
        | a$i AS MATERIALIZED (SELECT n.node, CASE WHEN ma.m > 0
        |   THEN CAST(round(CAST(COALESCE(x.r, 0) AS DOUBLE)
        |     / CAST(ma.m AS DOUBLE) * 1000000.0) AS BIGINT)
        |   ELSE 0 END AS auth
        |  FROM nodes n CROSS JOIN ma$i ma LEFT JOIN ra$i x ON x.node = n.node),
        | rh$i AS MATERIALIZED (SELECT e.src AS node,
        |   CAST(SUM(a.auth) AS BIGINT) AS r
        |  FROM e JOIN a$i a ON a.node = e.dst GROUP BY 1),
        | mh$i AS (SELECT MAX(r) AS m FROM rh$i),
        | h$i AS MATERIALIZED (SELECT n.node, CASE WHEN mh.m > 0
        |   THEN CAST(round(CAST(COALESCE(x.r, 0) AS DOUBLE)
        |     / CAST(mh.m AS DOUBLE) * 1000000.0) AS BIGINT)
        |   ELSE 0 END AS hub
        |  FROM nodes n CROSS JOIN mh$i mh LEFT JOIN rh$i x ON x.node = n.node)"""
        .stripMargin.replace("\n", " ")
    s"""WITH e AS MATERIALIZED (SELECT DISTINCT CAST(l_suppkey AS BIGINT) * 2 AS src,
      |   CAST(o_custkey AS BIGINT) * 2 + 1 AS dst
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      | nodes AS MATERIALIZED (SELECT src AS node FROM e UNION SELECT dst FROM e),
      | h0 AS (SELECT node, CAST(1000000 AS BIGINT) AS hub FROM nodes),
      | ${rnd("h0", 1)}, ${rnd("h1", 2)}, ${rnd("h2", 3)},
      | ${rnd("h3", 4)}, ${rnd("h4", 5)}
      | SELECT CASE WHEN a5.node % 2 = 0 THEN 'supplier' ELSE 'customer' END AS node_kind,
      |  a5.node // 2 AS node_key, a5.auth AS auth_micro, h5.hub AS hub_micro
      | FROM a5 JOIN h5 ON h5.node = a5.node
      | ORDER BY auth_micro DESC, node_kind, node_key LIMIT 25"""
      .stripMargin.replace("\n", " ")
  }

  /** Shared presentation of a rank frame: kind/key decode (no top-k —
    * the plateau probes read this full form).
    */
  private[queries] def rankDecoded(ranks: DataFrame): DataFrame =
    ranks.select(
      when(col("node") % 2L === 0L, lit("supplier")).otherwise(lit("customer"))
        .as("node_kind"),
      expr("node div 2L").as("node_key"),
      col("rank_micro"))

  /** Shared presentation of a rank frame: kind/key decode, top 25. */
  private[queries] def rankTop25(ranks: DataFrame): DataFrame =
    rankDecoded(ranks)
      .orderBy(col("rank_micro").desc, col("node_kind"), col("node_key"))
      .limit(25)

  /** Per-JVM rank-result cache (the stored graph leg's reuse — the
    * [[storeOnce]] posture applied to the rank computation; see
    * qPagerankStore's scaladoc for why the reuse is sound). Entries are
    * SESSION-validated on every access: a cached frame's checkpointed
    * blocks belong to the session that built it, so a hit from a
    * different (possibly-stopped) session recomputes instead of reading
    * dead blocks, and the replaced entry's blocks release eagerly
    * rather than lingering to RDD GC on a long-lived driver.
    *
    * SINGLE-MAINTAINER CONTRACT (this applies to every per-dir cache in
    * this object — [[cachedRanks]], [[cachedWorkingSets]],
    * [[cachedCoPart]]): the eager release assumes one registry consumer
    * at a time per (dir, kind) — the Verify/Bench shape. localCheckpoint
    * TRUNCATES lineage, so a concurrent consumer still reading a
    * replaced entry's blocks (e.g. a second thread mid-collect on the
    * old rank frame) would fail unrecoverably when its blocks release;
    * Spark jobs also run inside the ConcurrentHashMap compute-bin lock
    * here, serializing same-key builds. A concurrent-driver deployment
    * must either disable the eager release (let RDD GC reclaim) or defer
    * it one generation (release the entry replaced two passes ago).
    */
  private[queries] lazy val cachedRanks =
    new java.util.concurrent.ConcurrentHashMap[(String, String), DataFrame]()

  /** Best-effort eager release of a replaced cache entry's checkpoint
    * blocks (the [[graft.ops.Clusters]] owned-RDD discipline applied to
    * the JVM-lifetime caches). NonFatal-guarded: the owning session may
    * already be stopped, in which case the blocks are gone anyway.
    */
  private[queries] def releaseBlocks(df: DataFrame): Unit =
    try df.queryExecution.analyzed.collectLeaves().foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(false); ()
      case _ => ()
    } catch { case scala.util.control.NonFatal(_) => () }

  /** Session-validated get-or-compute on [[cachedRanks]]. */
  private[queries] def rankCached(spark: SparkSession, dir: String, kind: String)(
      compute: => DataFrame): DataFrame =
    cachedRanks.compute((dir, kind), (_, old) =>
      if (old != null && (old.sparkSession eq spark)) old
      else { if (old != null) releaseBlocks(old); compute })

  /** Per-dir prepared trade-graph working set SHARED by the classic and
    * personalized ranking legs ([[graft.ops.Graph.prepareWorkingSet]]'s
    * own documented production shape — several laws over one crawl
    * snapshot): edge normalization, the degree aggregate and the two
    * block materializations are paid by whichever of
    * q_pagerank/q_trustrank runs first; the other starts straight at
    * the rank rounds. Session-validated like [[cachedRanks]]; the cache
    * owns the blocks for the JVM lifetime (replaced entries release).
    */
  private[queries] lazy val cachedWorkingSets = new java.util.concurrent.ConcurrentHashMap[
    String, graft.ops.Graph.GraphWorkingSet]()

  private[queries] def tradeWorkingSet(spark: SparkSession,
      dir: String): graft.ops.Graph.GraphWorkingSet =
    cachedWorkingSets.compute(dir, (_, old) =>
      if (old != null && (old.ewd.sparkSession eq spark)) old
      else {
        if (old != null)
          try old.release()
          catch { case scala.util.control.NonFatal(_) => () }
        graft.ops.Graph.prepareWorkingSet(
          tradeEdges(spark, dir), "src", "dst", symmetrize = true)
      })

  /** Per-dir digest of the LIVE trade edge set (see qPagerankStore). */
  private[queries] lazy val cachedEdgeDigests =
    new java.util.concurrent.ConcurrentHashMap[String, (java.math.BigDecimal, Long)]()

  lazy val qPagerankSql: String = {
    // one power-iteration round as a CTE: every node of the symmetric
    // graph receives mass, so the plain join-aggregate covers the node set
    def round(prev: String, name: String) =
      s"""$name AS (SELECT e.dst AS node,
        | CAST(150000 + SUM((p.r * 85) // (100 * d.outdeg)) AS BIGINT) AS r
        | FROM e JOIN deg d ON d.src = e.src JOIN $prev p ON p.node = e.src
        | GROUP BY e.dst)""".stripMargin.replace("\n", " ")
    s"""WITH e0 AS (SELECT DISTINCT CAST(l_suppkey AS BIGINT) * 2 AS src,
      |   CAST(o_custkey AS BIGINT) * 2 + 1 AS dst
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      | e AS (SELECT src, dst FROM e0 UNION SELECT dst AS src, src AS dst FROM e0),
      | deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg FROM e GROUP BY src),
      | r0 AS (SELECT DISTINCT src AS node, CAST(1000000 AS BIGINT) AS r FROM e),
      | ${round("r0", "r1")}, ${round("r1", "r2")}, ${round("r2", "r3")},
      | ${round("r3", "r4")}, ${round("r4", "r5")}
      | SELECT CASE WHEN node % 2 = 0 THEN 'supplier' ELSE 'customer' END AS node_kind,
      |  node // 2 AS node_key, r AS rank_micro
      | FROM r5 ORDER BY rank_micro DESC, node_kind, node_key LIMIT 25"""
      .stripMargin.replace("\n", " ")
  }

  /** Coreness distribution of the co-purchase part graph
    * ([[graft.ops.Graph.corenessEstimate]], Lü et al. Nature Comms '16
    * iterated H-index, 4 rounds): the degeneracy screen — how deep the
    * densest nested core goes, which degree alone can't see (a pendant-
    * spam super-node has huge degree and coreness 1). All-integer law;
    * output bounded by distinct coreness values.
    */
  def qCoreness(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Graph.corenessEstimate(coPartGraph(spark, dir), rounds = 4)
      .groupBy(col("coreness")).agg(count(lit(1)).as("n_nodes"))
      .orderBy("coreness")

  lazy val qCorenessSql: String = {
    def rnd(prev: String, i: Int) =
      s"""n$i AS (SELECT d.x AS node, p.c FROM dir2 d JOIN $prev p ON p.node = d.y),
        | k$i AS (SELECT node, c, CAST(COUNT(*) AS BIGINT) AS k FROM n$i GROUP BY 1, 2),
        | g$i AS (SELECT node, c, SUM(k) OVER (PARTITION BY node ORDER BY c DESC) AS cge
        |  FROM k$i),
        | c$i AS (SELECT node, CAST(MAX(LEAST(c, cge)) AS BIGINT) AS c
        |  FROM g$i GROUP BY 1)""".stripMargin.replace("\n", " ")
    s"""WITH raw AS ($coPartEdgesSql),
      | canon AS (SELECT DISTINCT LEAST(s, d) AS u, GREATEST(s, d) AS v FROM raw),
      | dir2 AS MATERIALIZED (SELECT u AS x, v AS y FROM canon
      |  UNION ALL SELECT v AS x, u AS y FROM canon),
      | c0 AS (SELECT x AS node, CAST(COUNT(*) AS BIGINT) AS c FROM dir2 GROUP BY 1),
      | ${rnd("c0", 1)}, ${rnd("c1", 2)}, ${rnd("c2", 3)}, ${rnd("c3", 4)}
      | SELECT c AS coreness, CAST(COUNT(*) AS BIGINT) AS n_nodes
      | FROM c4 GROUP BY 1 ORDER BY 1""".stripMargin.replace("\n", " ")
  }

  /** Top principal component of the embedding corpus by integer-law
    * power iteration ([[graft.ops.Spectral.topComponentMicro]], 12
    * rounds): micro-quantized components, exact n²-scaled covariance in
    * DECIMAL(38,0)/HUGEINT, hitsMicro-style max-abs normalization per
    * round, Rayleigh explained-variance share — the embedding-collapse /
    * whitening diagnostic. The oracle replays all 12 rounds as
    * materialized CTEs over the same exact integers.
    */
  def qTopComponent(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Spectral.topComponentMicro(
        t(spark, dir, "embeddings"), "vec_id", "embedding", rounds = 12)
      .orderBy("dim")

  lazy val qTopComponentSql: String = {
    def rnd(prev: String, i: Int) =
      s"""w$i AS MATERIALIZED (SELECT c.j AS dim,
        |   CAST(SUM(c.c * p.v) AS HUGEINT) AS w
        |  FROM cm c JOIN $prev p ON p.dim = c.i GROUP BY 1),
        | m$i AS (SELECT MAX(ABS(w)) AS mx FROM w$i),
        | v$i AS MATERIALIZED (SELECT dim, CASE WHEN mx > 0
        |   THEN CAST(round(CAST(w AS DOUBLE) / CAST(mx AS DOUBLE)
        |     * 1000000.0) AS BIGINT)
        |   ELSE 0 END AS v FROM w$i CROSS JOIN m$i)"""
        .stripMargin.replace("\n", " ")
    val rounds = (1 to 12).map(i => rnd(s"v${i - 1}", i)).mkString(", ")
    s"""WITH clean AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
      |  WHERE embedding IS NOT NULL
      |   AND len(list_filter(embedding::DOUBLE[], x -> isnan(x))) = 0),
      | ex AS (SELECT vec_id AS doc, i - 1 AS i,
      |   CAST(round(e[i] * 1000000.0) AS BIGINT) AS q
      |  FROM (SELECT vec_id, e, unnest(generate_series(1, len(e))) AS i
      |    FROM clean)),
      | mm AS (SELECT a.i, b.i AS j,
      |   CAST(SUM(CAST(a.q AS HUGEINT) * b.q) AS HUGEINT) AS m
      |  FROM ex a JOIN ex b ON b.doc = a.doc GROUP BY 1, 2),
      | mn AS (SELECT i, CAST(SUM(q) AS HUGEINT) AS mi FROM ex GROUP BY 1),
      | nn AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n FROM clean),
      | cm AS MATERIALIZED (SELECT mm.i, mm.j, nn.n * mm.m - mi.mi * mj.mi AS c
      |  FROM mm CROSS JOIN nn
      |  JOIN mn mi ON mi.i = mm.i JOIN mn mj ON mj.i = mm.j),
      | v0 AS (SELECT DISTINCT i AS dim,
      |   CASE WHEN i = 0 THEN 1000000 ELSE 0 END AS v FROM ex),
      | $rounds,
      | sd AS (SELECT MIN(CASE WHEN v <> 0 THEN dim END) AS sd FROM v12),
      | sg AS (SELECT CASE WHEN v < 0 THEN -1 ELSE 1 END AS sg
      |  FROM v12 CROSS JOIN sd WHERE dim = sd),
      | sv AS (SELECT dim, CAST(v * sg AS BIGINT) AS loading_micro
      |  FROM v12 CROSS JOIN sg),
      | qd AS (SELECT CAST(SUM(c.c * a.loading_micro * b.loading_micro)
      |    AS HUGEINT) AS num
      |  FROM cm c JOIN sv a ON a.dim = c.i JOIN sv b ON b.dim = c.j),
      | dv AS (SELECT CAST(SUM(CAST(loading_micro AS HUGEINT) * loading_micro)
      |    AS HUGEINT) AS den FROM sv),
      | tr AS (SELECT CAST(SUM(c) AS HUGEINT) AS tr FROM cm WHERE i = j)
      | SELECT sv.dim, sv.loading_micro,
      |  CASE WHEN tr.tr > 0 AND dv.den > 0
      |   THEN CAST(round(CAST(qd.num AS DOUBLE) / CAST(dv.den AS DOUBLE)
      |     / CAST(tr.tr AS DOUBLE) * 1000000000000.0) AS BIGINT)
      |  END AS eigen_share_pico
      | FROM sv CROSS JOIN qd CROSS JOIN dv CROSS JOIN tr
      | ORDER BY dim""".stripMargin.replace("\n", " ")
  }

  /** TrustRank ([[graft.ops.Graph.pageRankMicro]] with a seed set,
    * Gyöngyi et al. VLDB'04): teleport mass lands only on the whitelist
    * (suppliers 0..9) — rank becomes propagated trust. Same integer law,
    * same 5-CTE oracle with a seeded base.
    */
  def qTrustrank(spark: SparkSession, dir: String): DataFrame = {
    val seeds = t(spark, dir, "supplier")
      .filter(col("s_suppkey") < 10)
      .select((col("s_suppkey").cast("long") * 2L).as("node"))
    // same shared working set as q_pagerank (one snapshot, two laws) —
    // only the seeded rank rounds are this query's own work
    rankTop25(graft.ops.Graph.pageRankMicro(tradeWorkingSet(spark, dir),
      iterations = 5, dampNum = 85L, dampDen = 100L, initMicro = 1000000L,
      seeds = Some(seeds), seedCol = "node", checkpointEvery = 8))
  }

  lazy val qTrustrankSql: String = {
    val seedBase = "CASE WHEN e.dst % 2 = 0 AND e.dst // 2 < 10 THEN 150000 ELSE 0 END"
    def round(prev: String, name: String) =
      s"""$name AS (SELECT e.dst AS node,
        | CAST($seedBase + COALESCE(SUM((p.r * 85) // (100 * d.outdeg)), 0) AS BIGINT) AS r
        | FROM e JOIN deg d ON d.src = e.src JOIN $prev p ON p.node = e.src
        | GROUP BY e.dst)""".stripMargin.replace("\n", " ")
    s"""WITH e0 AS (SELECT DISTINCT CAST(l_suppkey AS BIGINT) * 2 AS src,
      |   CAST(o_custkey AS BIGINT) * 2 + 1 AS dst
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      | e AS (SELECT src, dst FROM e0 UNION SELECT dst AS src, src AS dst FROM e0),
      | deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg FROM e GROUP BY src),
      | r0 AS (SELECT DISTINCT src AS node,
      |   CAST(CASE WHEN src % 2 = 0 AND src // 2 < 10 THEN 1000000 ELSE 0 END AS BIGINT) AS r
      |  FROM e),
      | ${round("r0", "r1")}, ${round("r1", "r2")}, ${round("r2", "r3")},
      | ${round("r3", "r4")}, ${round("r4", "r5")}
      | SELECT CASE WHEN node % 2 = 0 THEN 'supplier' ELSE 'customer' END AS node_kind,
      |  node // 2 AS node_key, r AS rank_micro
      | FROM r5 ORDER BY rank_micro DESC, node_kind, node_key LIMIT 25"""
      .stripMargin.replace("\n", " ")
  }

  /** PERSISTED link graph ([[graft.ops.RefStore.writeEdges]] +
    * loadEdges): the trade graph commits its edge list in two batches;
    * the ranks over the LOADED union must hash-match the live q_pagerank
    * law bit-for-bit (batching is invisible because edges re-distinct).
    *
    * AMORTIZED rank reuse (the r10 verdict's task 4): what this query
    * must PROVE beyond q_pagerank is the STORE lifecycle — commit, merge
    * absorption of re-discovered edges, lossless load. So it (a) loads
    * the stored edge set and ASSERTS it equals the live edge set with an
    * order-independent digest (count + Σ xxhash64(src,dst) over the
    * distinct directed edges — two narrow aggregates, no 5-round rank),
    * then (b) reuses the per-dir cached rank frame when the live leg
    * already computed it (the [[storeOnce]] posture applied to ranks):
    * given loaded ≡ live — asserted, not assumed — the deterministic
    * integer law forces identical ranks, and the driver's hash gate
    * still checks the OUTPUT against the full 5-CTE oracle. Cold (store
    * leg first, e.g. in Verify), it ranks over the loaded edges itself
    * and seeds the cache. This keeps the bench trio's cost the two live
    * laws + one cheap lifecycle probe instead of three full rank runs,
    * without blurring which row measures what.
    */
  def qPagerankStore(spark: SparkSession, dir: String): DataFrame = {
    val edges = tradeEdges(spark, dir)
    val store = storeOnce(dir, "edgestore") { s =>
      graft.ops.RefStore.writeEdges(
        edges.filter(col("src") % 4L === 0L), "src", "dst", s)
      // second commit OVERLAPS the first on purpose: the distinct law
      // must absorb re-discovered edges (the crawl-batch reality)
      graft.ops.RefStore.mergeEdges(edges, "src", "dst", s)
    }
    val loaded = graft.ops.RefStore.loadEdges(spark, store)
    def digest(e: DataFrame): (java.math.BigDecimal, Long) = {
      // Σ of 64-bit hashes overflows a Long under ANSI — the exact sum
      // lives in DECIMAL(38,0) (order-independent, collision-safe enough
      // for an internal consistency assert; the OUTPUT is hash-gated by
      // the driver's oracle regardless)
      val r = e.select(
        coalesce(sum(xxhash64(col("src"), col("dst")).cast("decimal(38,0)")),
          lit(0).cast("decimal(38,0)")).as("h"),
        count(lit(1)).as("n")).head()
      (r.getDecimal(0), r.getLong(1))
    }
    val (lh, ln) = digest(loaded)
    // the LIVE side's digest is a pure function of the immutable input
    // tables — computed once per dir (caching it does not weaken the
    // assert; the timed stored-path probe then digests only the LOADED
    // side it exists to check)
    val (eh, en) = cachedEdgeDigests.computeIfAbsent(dir,
      _ => digest(edges.distinct()))
    require(lh.compareTo(eh) == 0 && ln == en,
      s"stored edge set (n=$ln) diverged from the live edge set (n=$en) — " +
        "the store lost/garbled an edge; rank reuse would be unsound")
    rankTop25(rankCached(spark, dir, "pagerank") {
      graft.ops.Graph.pageRankMicro(loaded, "src", "dst",
        iterations = 5, symmetrize = true)
    })
  }

  /** Same law as q_pagerank: edge batching is invisible to the distinct
    * edge set.
    */
  lazy val qPagerankStoreSql: String = qPagerankSql

  /** Per-edge triangle support over the shared co-purchase triangle
    * frame ([[graft.ops.Graph.edgeTriangleSupport]], the k-truss peeling
    * quantity — Cohen '08): the EDGE-density screen beside
    * q_local_clustering's node view; reads the per-dir checkpointed
    * [[coPartTriangles]] pin, so no new wedge join.
    */
  def qEdgeSupport(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Graph.edgeTriangleSupport(coPartGraph(spark, dir),
      coPartTriangles(spark, dir), k = 25)

  lazy val qEdgeSupportSql: String =
    s"""WITH raw AS ($coPartEdgesSql),
      | canon AS (SELECT DISTINCT LEAST(s, d) AS u, GREATEST(s, d) AS v FROM raw),
      | tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
      |  FROM canon e1 JOIN canon e2 ON e2.u = e1.v
      |  JOIN canon e3 ON e3.u = e1.u AND e3.v = e2.v),
      | sides AS (SELECT a AS u, b AS v FROM tri
      |  UNION ALL SELECT b, c FROM tri UNION ALL SELECT a, c FROM tri),
      | sup AS (SELECT u, v, CAST(count(*) AS BIGINT) AS s FROM sides
      |  GROUP BY 1, 2)
      | SELECT c.u, c.v, CAST(COALESCE(sup.s, 0) AS BIGINT) AS support
      | FROM canon c LEFT JOIN sup ON sup.u = c.u AND sup.v = c.v
      | ORDER BY support DESC, c.u, c.v LIMIT 25""".stripMargin.replace("\n", " ")

  /** Modularity of the brand partition of the co-purchase graph
    * ([[graft.ops.Graph.partitionModularity]], Newman–Girvan '04):
    * does p_brand explain the wiring? Per-brand Q terms in picos plus
    * the exact-integer `__total` Σ.
    */
  def qModularity(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Graph.partitionModularity(coPartGraph(spark, dir),
      t(spark, dir, "part"), "p_partkey", "p_brand")

  lazy val qModularitySql: String =
    s"""WITH raw AS ($coPartEdgesSql),
      | canon AS (SELECT DISTINCT LEAST(s, d) AS u, GREATEST(s, d) AS v FROM raw),
      | deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM
      |   (SELECT u AS node FROM canon UNION ALL SELECT v AS node FROM canon)
      |  GROUP BY 1),
      | lab AS (SELECT CAST(p_partkey AS BIGINT) AS n, MIN(p_brand) AS l
      |  FROM part WHERE p_partkey IS NOT NULL AND p_brand IS NOT NULL
      |  GROUP BY 1),
      | m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM canon),
      | ein AS (SELECT la.l AS label, CAST(count(*) AS BIGINT) AS e_in
      |  FROM canon c JOIN lab la ON la.n = c.u JOIN lab lb ON lb.n = c.v
      |  WHERE la.l = lb.l GROUP BY 1),
      | ds AS (SELECT lab.l AS label, CAST(count(*) AS BIGINT) AS n_nodes,
      |   CAST(SUM(deg) AS BIGINT) AS d_sum
      |  FROM deg JOIN lab ON lab.n = deg.node GROUP BY 1),
      | per AS (SELECT ds.label, ds.n_nodes,
      |   CAST(COALESCE(ein.e_in, 0) AS BIGINT) AS e_in, ds.d_sum,
      |   CAST(round((CAST(COALESCE(ein.e_in, 0) AS DOUBLE) / CAST(m.m AS DOUBLE)
      |     - (CAST(ds.d_sum AS DOUBLE) / (2.0 * CAST(m.m AS DOUBLE)))
      |       * (CAST(ds.d_sum AS DOUBLE) / (2.0 * CAST(m.m AS DOUBLE))))
      |    * 1000000000000.0) AS BIGINT) AS q_pico
      |  FROM ds LEFT JOIN ein ON ein.label = ds.label CROSS JOIN m),
      | tot AS (SELECT '__total' AS label, CAST(SUM(n_nodes) AS BIGINT),
      |   CAST(SUM(e_in) AS BIGINT), CAST(SUM(d_sum) AS BIGINT),
      |   CAST(SUM(CAST(q_pico AS HUGEINT)) AS BIGINT) FROM per)
      | SELECT * FROM (SELECT * FROM per UNION ALL SELECT * FROM tot)
      | ORDER BY label""".stripMargin.replace("\n", " ")
}
