package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.ExcelSerial
import graft.model.PathOps
import graft.ops.{Hierarchy, Parents, Upsert}
import graft.views.Analytic

/** Embedding similarity: ANN (brute/LSH/IVF/PQ + stores), MMR, k-means/centroids, embedding QA and drift.
  *
  * Split from the monolithic `Registry` object (round 15): members are
  * unchanged; `Registry` mixes every family trait in, so the public
  * surface (`Registry.queries` / `Registry.oracle` / each q* member) is
  * identical. Cross-family helpers are `private[queries]`; vals are lazy
  * so trait-linearization order can never null-init a shared fragment.
  */
trait SimilarityQueries { self: RegistryAll =>

  /** Brute-force cosine top-10 for query vectors vec_id < 5. */
  def qAnnCosine(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "embeddings")
    graft.ops.Similarity.bruteForceTopK(
      e, e.filter(col("vec_id") < 5), "vec_id", "embedding", k = 10)
      .withColumnRenamed("rank", "rk")
      .orderBy("query_id", "rk")
  }

  lazy val qAnnCosineSql: String =
    """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5),
      | c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
      | s AS (SELECT query_id, neighbor_id,
      |   list_dot_product(qv, cv)/(sqrt(list_dot_product(qv, qv))*sqrt(list_dot_product(cv, cv))) AS sim
      |  FROM c, q WHERE neighbor_id <> query_id),
      | r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rk FROM s)
      | SELECT query_id, neighbor_id, sim, rk FROM r WHERE rk <= 10
      | ORDER BY query_id, rk""".stripMargin.replace("\n", " ")

  /** MMR diverse top-8 ([[graft.ops.Similarity.mmrTopK]]): greedy
    * maximal-marginal-relevance selection over the 20 most-similar
    * candidates per query, λ=0.5 — the context/batch diversification
    * selector. Fully hash-oracled: the DuckDB side replays the greedy
    * loop with a recursive CTE (one selected row per query per
    * iteration, window-ranked argmax, selected vectors carried in a
    * list), and every cosine/score is the same double arithmetic in the
    * same order on both engines, so selection, order, AND scores match
    * bit-for-bit.
    */
  def qMmrSelect(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "embeddings")
    graft.ops.Similarity.mmrTopK(
        e, e.filter(col("vec_id") < 5), "vec_id", "embedding",
        nCandidates = 20, k = 8, lambda = 0.5)
      .orderBy("query_id", "rk")
  }

  lazy val qMmrSelectSql: String =
    """WITH RECURSIVE
      | q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5),
      | c AS (SELECT vec_id AS cand_id, embedding::DOUBLE[] AS cv FROM embeddings),
      | sim AS (SELECT query_id, cand_id, cv,
      |   list_dot_product(qv, cv)/(sqrt(list_dot_product(qv, qv))*sqrt(list_dot_product(cv, cv))) AS rel
      |  FROM q, c WHERE cand_id <> query_id),
      | cand AS (SELECT query_id, cand_id, cv, rel FROM (
      |   SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY rel DESC, cand_id) rn FROM sim) WHERE rn <= 20),
      | mmr AS (
      |  SELECT query_id, 1 AS rk, cand_id, rel AS score, [cand_id] AS sel_ids, [cv] AS sel_vecs
      |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY rel DESC, cand_id) rn1 FROM cand) WHERE rn1 = 1
      |  UNION ALL
      |  SELECT query_id, rk, cand_id, score, list_append(sel_ids, cand_id), list_append(sel_vecs, cv)
      |  FROM (
      |   SELECT m.query_id, m.rk + 1 AS rk, x.cand_id, x.cv,
      |    0.5 * x.rel - 0.5 * list_max(list_transform(m.sel_vecs,
      |      v -> list_dot_product(v, x.cv)/(sqrt(list_dot_product(v, v))*sqrt(list_dot_product(x.cv, x.cv))))) AS score,
      |    m.sel_ids, m.sel_vecs,
      |    row_number() OVER (PARTITION BY m.query_id ORDER BY
      |     0.5 * x.rel - 0.5 * list_max(list_transform(m.sel_vecs,
      |       v -> list_dot_product(v, x.cv)/(sqrt(list_dot_product(v, v))*sqrt(list_dot_product(x.cv, x.cv))))) DESC,
      |     x.cand_id) AS rn2
      |   FROM mmr m JOIN cand x ON x.query_id = m.query_id AND NOT list_contains(m.sel_ids, x.cand_id)
      |   WHERE m.rk < 8
      |  ) WHERE rn2 = 1
      | )
      | SELECT query_id, rk, cand_id AS neighbor_id, score FROM mmr
      | ORDER BY query_id, rk""".stripMargin.replace("\n", " ")

  /** Int8 embedding quantization ([[graft.ops.Similarity.int8QuantizeFrame]]):
    * the max-abs symmetric scheme, exploded to scalar rows for the gate.
    * FLOOR(x/scale + 0.5) rounding keeps the law engine-exact (`round`'s
    * half convention differs across engines); the scale is one double
    * division off an exact max fold.
    */
  def qEmbedQuant(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Similarity.int8QuantizeFrame(
        t(spark, dir, "embeddings"), "vec_id", "embedding")
      .orderBy("vec_id", "dim")

  lazy val qEmbedQuantSql: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      | s AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale FROM e),
      | x AS (SELECT vec_id, scale, unnest(list_transform(range(1, len(v)+1), i ->
      |    struct_pack(dim := i, code := CASE WHEN scale = 0.0 THEN 0
      |      ELSE least(127, greatest(-127, CAST(floor(v[i]/scale + 0.5) AS BIGINT))) END))) AS u
      |  FROM s)
      | SELECT vec_id, CAST(u.dim AS BIGINT) AS dim, CAST(u.code AS BIGINT) AS code, scale
      | FROM x ORDER BY vec_id, dim""".stripMargin.replace("\n", " ")

  /** Signed random projection to 8 components
    * ([[graft.ops.Similarity.randomProjectFrame]], Achlioptas'03 ±1 JL):
    * micro-quantize each input component, flip the md5 coin per (j, i),
    * sum exactly in BIGINT. The exploded (vec_id, j, comp) frame
    * hash-matches because nothing in the law is a float accumulation.
    */
  def qRandomProjection(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Similarity.randomProjectFrame(
        t(spark, dir, "embeddings"), "vec_id", "embedding", outDim = 8)
      .orderBy("vec_id", "j")

  lazy val qRandomProjectionSql: String =
    """WITH e AS (SELECT vec_id, embedding FROM embeddings),
      | q AS (SELECT vec_id, list_transform(embedding, x ->
      |    CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS qv
      |   FROM e WHERE embedding IS NOT NULL AND len(embedding) > 0),
      | ji AS (SELECT vec_id, qv, j, unnest(range(1, len(qv) + 1)) AS i
      |   FROM (SELECT vec_id, qv, unnest(range(0, 8)) AS j FROM q)),
      | pr AS (SELECT vec_id, j, CAST(SUM(CASE WHEN
      |     substr(md5('graft:' || CAST(j AS VARCHAR) || ':' || CAST(i - 1 AS VARCHAR)), 1, 1)
      |     BETWEEN '0' AND '7' THEN qv[i] ELSE -qv[i] END) AS BIGINT) AS comp
      |   FROM ji GROUP BY vec_id, j)
      | SELECT e.vec_id, pr.j, pr.comp
      | FROM e LEFT JOIN pr USING (vec_id)
      | ORDER BY vec_id, j""".stripMargin.replace("\n", " ")

  /** Embedding batch QA ([[graft.ops.Similarity.embeddingDimStats]]): per
    * dimension, exact BIGINT moments (micro-quantized sums and sums of
    * squares), integer min/max, and bad-component counts (NaN/Inf/NULL/
    * out-of-quantization-range) — everything on the wire integer,
    * hash-matched bit-for-bit. Degenerate (NULL/empty) vectors appear as
    * the dim = -1 row, mirroring the single-pass posexplode_outer law.
    */
  def qEmbedStats(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Similarity.embeddingDimStats(t(spark, dir, "embeddings"), "embedding")
      .orderBy("dim")

  lazy val qEmbedStatsSql: String =
    """WITH e AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) > 0),
      | x AS (SELECT CAST(u.i - 1 AS BIGINT) AS dim, v[u.i] AS x
      |  FROM e, unnest(range(1, len(v) + 1)) u(i)
      |  UNION ALL
      |  SELECT CAST(-1 AS BIGINT) AS dim, CAST(NULL AS DOUBLE) AS x
      |  FROM embeddings WHERE embedding IS NULL OR len(embedding) = 0),
      | q AS (SELECT dim,
      |   (x IS NULL OR isnan(x) OR abs(x) > 3.0e3) AS bad,
      |   CASE WHEN NOT (x IS NULL OR isnan(x) OR abs(x) > 3.0e3)
      |    THEN CAST(round(x * 1000000.0) AS BIGINT) END AS qv FROM x)
      | SELECT dim, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CASE WHEN bad THEN 1 ELSE 0 END) AS BIGINT) AS n_bad,
      |  CAST(SUM(qv) AS BIGINT) AS sum_micro,
      |  CAST(SUM(qv * qv) AS DOUBLE) AS sumsq_micro2,
      |  CAST(MIN(qv) AS BIGINT) AS min_micro,
      |  CAST(MAX(qv) AS BIGINT) AS max_micro
      | FROM q GROUP BY dim ORDER BY dim""".stripMargin.replace("\n", " ")

  /** Hard-negative mining ([[graft.ops.Similarity.hardNegatives]]): per
    * query, the 10 most-similar corpus vectors with a DISTINCT label —
    * contrastive-training data prep. Bit-exact oracle: the cosine law is
    * q_ann_cosine's, the label law is null-safe IS DISTINCT FROM.
    */
  def qHardNegatives(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "embeddings")
    graft.ops.Similarity.hardNegatives(
        e, e.filter(col("vec_id") < 5), "vec_id", "embedding", "label", k = 10)
      .withColumnRenamed("rank", "rk")
      .orderBy("query_id", "rk")
  }

  lazy val qHardNegativesSql: String =
    """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv, label AS ql
      |   FROM embeddings WHERE vec_id < 5),
      | c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv, label AS cl FROM embeddings),
      | s AS (SELECT query_id, neighbor_id,
      |   list_dot_product(qv, cv)/(sqrt(list_dot_product(qv, qv))*sqrt(list_dot_product(cv, cv))) AS sim
      |  FROM c, q WHERE neighbor_id <> query_id AND cl IS DISTINCT FROM ql),
      | r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rk FROM s)
      | SELECT query_id, neighbor_id, sim, rk FROM r WHERE rk <= 10
      | ORDER BY query_id, rk""".stripMargin.replace("\n", " ")

  /** Blocked exact embedding near-dup pairs: candidates share a `label`
    * block, verified by the native cosine expression — exact on both sides,
    * so unlike the LSH variant this one is fully hash-oracled. Threshold
    * 0.4 because the synthetic embeddings plant no true near-duplicates
    * (max pairwise cosine ≈ 0.51); the pair semantics, blocking join, and
    * bit-exact sim arithmetic are what's under test.
    */
  def qEmbedNeardup(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Similarity.blockedNearDupPairs(
      t(spark, dir, "embeddings"), "vec_id", "embedding", "label", threshold = 0.4)
      .orderBy("id_a", "id_b")

  lazy val qEmbedNeardupSql: String =
    """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
      | s AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |   list_dot_product(a.v, b.v)/(sqrt(list_dot_product(a.v, a.v))*sqrt(list_dot_product(b.v, b.v))) AS sim
      |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id)
      | SELECT id_a, id_b, sim FROM s WHERE sim >= 0.4
      | ORDER BY id_a, id_b""".stripMargin.replace("\n", " ")

  /** SemDeDup-style semantic clustering: embedding near-dup pairs
    * ([[qEmbedNeardup]]'s exact blocked form) → connected components →
    * per-cluster size and member span. The embedding-space sibling of
    * [[qDedupClusters]] (text n-gram space): semantically-redundant groups
    * a curation pipeline would collapse to one representative
    * (cluster_id = min member id, the survivor law). Fully oracled — pair
    * sims are bit-exact and the closure is replayed by `WITH RECURSIVE`.
    */
  def qSemanticClusters(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Clusters.dedupClusters(
      graft.ops.Similarity.blockedNearDupPairs(
        t(spark, dir, "embeddings"), "vec_id", "embedding", "label", threshold = 0.4))
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_members"), max(col("doc_id")).as("max_member"))
      .orderBy("cluster_id")

  lazy val qSemanticClustersSql: String =
    """WITH RECURSIVE e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
      | p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |   list_dot_product(a.v, b.v)/(sqrt(list_dot_product(a.v, a.v))*sqrt(list_dot_product(b.v, b.v))) AS sim
      |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id),
      | verified AS (SELECT id_a, id_b FROM p WHERE sim >= 0.4),
      | edges AS (SELECT id_a AS s, id_b AS d FROM verified
      |  UNION SELECT id_b, id_a FROM verified),
      | reach(s, d) AS (SELECT s, d FROM edges
      |  UNION SELECT r.s, e2.d FROM reach r JOIN edges e2 ON r.d = e2.s),
      | comp AS (SELECT s AS vid, least(s, min(d)) AS cluster_id FROM reach GROUP BY s)
      | SELECT cluster_id, COUNT(*) AS n_members, max(vid) AS max_member
      | FROM comp GROUP BY 1 ORDER BY cluster_id""".stripMargin.replace("\n", " ")

  /** Semantic-cluster centroid accumulators
    * ([[graft.ops.Similarity.clusterCentroidSums]] over the same cluster
    * assignment as q_semantic_clusters): exact BIGINT micro-unit component
    * sums + member counts per (cluster, dim). Per-component quantization
    * BEFORE summing makes the accumulator order-independent, so the oracle
    * (WITH RECURSIVE closure + the identical quantization over unnested
    * components) hash-matches bit-exactly — no float-summation-order trap.
    */
  def qClusterCentroids(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "embeddings")
    val assign = graft.ops.Clusters.dedupClusters(
      graft.ops.Similarity.blockedNearDupPairs(
        e, "vec_id", "embedding", "label", threshold = 0.4))
    graft.ops.Similarity.clusterCentroidSums(e, assign, "vec_id", "embedding")
      .orderBy("cluster_id", "dim")
  }

  lazy val qClusterCentroidsSql: String =
    """WITH RECURSIVE e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
      | p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |   list_dot_product(a.v, b.v)/(sqrt(list_dot_product(a.v, a.v))*sqrt(list_dot_product(b.v, b.v))) AS sim
      |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id),
      | verified AS (SELECT id_a, id_b FROM p WHERE sim >= 0.4),
      | edges AS (SELECT id_a AS s, id_b AS d FROM verified
      |  UNION SELECT id_b, id_a FROM verified),
      | reach(s, d) AS (SELECT s, d FROM edges
      |  UNION SELECT r.s, e2.d FROM reach r JOIN edges e2 ON r.d = e2.s),
      | comp AS (SELECT s AS vid, least(s, min(d)) AS cluster_id FROM reach GROUP BY s),
      | q AS (SELECT c.cluster_id, CAST(u.i - 1 AS BIGINT) AS dim,
      |   CAST(round(e.v[u.i] * 1000000.0) AS BIGINT) AS qv
      |  FROM comp c JOIN e ON e.vec_id = c.vid, unnest(range(1, len(e.v) + 1)) u(i))
      | SELECT cluster_id, dim, CAST(SUM(qv) AS BIGINT) AS sum_micro,
      |  COUNT(*) AS n_members
      | FROM q GROUP BY 1, 2 ORDER BY cluster_id, dim""".stripMargin.replace("\n", " ")

  /** PERSISTED centroid accumulators, full lifecycle oracled
    * ([[graft.ops.RefStore.writeCentroids]]/mergeCentroids/loadCentroidSums):
    * the corpus's cluster accumulators commit in TWO batches (even then odd
    * vec_ids, same assignment space) as appended PARTIAL integer sums; the
    * load re-aggregates. Because the accumulators are exact BIGINTs, the
    * merged store must be BIT-IDENTICAL to computing the sums over the
    * whole corpus at once — so the oracle is exactly the q_cluster_centroids
    * law, and a store that drops a partial row, double-counts a merge, or
    * mis-aggregates on load hash-mismatches here. This is the persisted
    * codebook the incremental assignNearestCentroid path loads per batch.
    */
  def qCentroidStore(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "embeddings")
    val store = storeOnce(dir, "centroids") { s =>
      // cache the assignment: the write and the merge are two separate
      // actions, and without the cache each would re-run the quadratic
      // blocked pair join + components fixpoint
      val assign = graft.ops.Clusters.dedupClusters(
        graft.ops.Similarity.blockedNearDupPairs(
          e, "vec_id", "embedding", "label", threshold = 0.4)).cache()
      try {
        graft.ops.RefStore.writeCentroids(
          graft.ops.Similarity.clusterCentroidSums(
            e.filter(col("vec_id") % 2 === 0), assign, "vec_id", "embedding"), s)
        graft.ops.RefStore.mergeCentroids(
          graft.ops.Similarity.clusterCentroidSums(
            e.filter(col("vec_id") % 2 === 1), assign, "vec_id", "embedding"),
          s, batchId = "b1")
      } finally { assign.unpersist(false); () }
    }
    graft.ops.RefStore.loadCentroidSums(spark, store)
      .orderBy("cluster_id", "dim")
  }

  /** Same law as q_cluster_centroids: batching is invisible to exact
    * integer accumulators, which is precisely the property under test.
    */
  lazy val qCentroidStoreSql: String = qClusterCentroidsSql

  /** Distributed Lloyd refinement ([[graft.ops.Similarity.kmeansRefineSums]]):
    * 2 rounds of assign+update from the 4 lowest-id seeds, every comparison
    * integer (quantized unit vectors → exact BIGINT dot-product argmax) and
    * every accumulator an exact micro-unit sum — so the WHOLE iterative
    * algorithm unrolls into CTEs and hash-matches bit-for-bit. The one
    * float-boundary law: both engines unit-normalize in double and round
    * half-away-from-zero to 1e6 units before ANY comparison, which keeps
    * ulp-level summation differences from ever reaching the argmax.
    */
  def qKmeansRefine(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "embeddings")
    graft.ops.Similarity.kmeansRefineSums(e, "vec_id", "embedding", k = 4, iters = 2)
      .orderBy("cluster_id", "dim")
  }

  lazy val qKmeansRefineSql: String = {
    // one Lloyd round as a CTE pair (centroids from sums `S`, new sums from
    // assignment), textually instantiated twice — the unrolled twin of the
    // Scala loop
    def round(s: String, cent: String, asg: String, out: String): String =
      s"""$cent AS (
         |  SELECT cluster_id,
         |   list_transform(cv, x -> CAST(round(x / cnrm * 1000000.0) AS BIGINT)) AS qc
         |  FROM (SELECT cluster_id, cv, sqrt(list_dot_product(cv, cv)) AS cnrm
         |        FROM (SELECT cluster_id,
         |               list(sum_micro / 1000000.0 / n_members ORDER BY dim) AS cv
         |              FROM $s GROUP BY cluster_id))
         |  WHERE cnrm > 0),
         | $asg AS (
         |  SELECT vec_id, cluster_id FROM (
         |   SELECT d.vec_id, d.cluster_id,
         |    row_number() OVER (PARTITION BY d.vec_id
         |                       ORDER BY d.dot DESC, d.cluster_id) AS rn
         |   FROM (SELECT p.vec_id, c.cluster_id,
         |          SUM(p.qv[u.i] * c.qc[u.i]) AS dot
         |         FROM pq p, $cent c, unnest(range(1, len(p.qv) + 1)) u(i)
         |         GROUP BY p.vec_id, c.cluster_id) d)
         |  WHERE rn = 1),
         | $out AS (
         |  SELECT a.cluster_id, CAST(u.i - 1 AS BIGINT) AS dim,
         |   CAST(SUM(CAST(round(e.v[u.i] * 1000000.0) AS BIGINT)) AS BIGINT) AS sum_micro,
         |   COUNT(*) AS n_members
         |  FROM $asg a JOIN e ON e.vec_id = a.vec_id,
         |   unnest(range(1, len(e.v) + 1)) u(i)
         |  GROUP BY 1, 2)""".stripMargin
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       | pq AS (
       |  SELECT vec_id,
       |   list_transform(v, x -> CAST(round(x / nrm * 1000000.0) AS BIGINT)) AS qv
       |  FROM (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e)
       |  WHERE nrm > 0),
       | s0 AS (
       |  SELECT s.vec_id AS cluster_id, CAST(u.i - 1 AS BIGINT) AS dim,
       |   CAST(round(s.v[u.i] * 1000000.0) AS BIGINT) AS sum_micro,
       |   CAST(1 AS BIGINT) AS n_members
       |  FROM (SELECT * FROM e ORDER BY vec_id LIMIT 4) s,
       |   unnest(range(1, len(s.v) + 1)) u(i)),
       | ${round("s0", "c1", "a1", "s1")},
       | ${round("s1", "c2", "a2", "s2")}
       | SELECT cluster_id, dim, sum_micro, n_members
       | FROM s2 ORDER BY cluster_id, dim""".stripMargin.replace("\n", " ")
  }

  /** LSH-bucketed ANN (the scale path), FULLY hash-oracled since the
    * hyperplanes moved to the md5 sign law (r10 verdict task 1): the
    * oracle regenerates every ±1 hyperplane component from
    * md5("graftplane:p:i"), replays all 48 projections per vector with
    * the same ascending double dot product (list_dot_product — the
    * q_ann_cosine fixed-IEEE-chain discipline), rebuilds every bucket id
    * sign-bit by sign-bit, applies the 2-probe multi-probe law (flip the
    * two smallest-|margin| planes per table, stable tie on plane index),
    * and re-scores the exact candidate set — so bucketing, probing,
    * candidate generation AND the final cosine top-k all match
    * bit-for-bit. [[graft.Verify]]'s recall floor stays as the
    * approximate-path ratchet.
    */
  def qAnnLsh(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "embeddings")
    graft.ops.Similarity.lshTopK(
      e, e.filter(col("vec_id") < 5), "vec_id", "embedding", k = 10)
      .withColumnRenamed("rank", "rk")
      .orderBy("query_id", "rk")
  }

  lazy val qAnnLshSql: String = {
    // ±1 hyperplane component: +1 iff the first md5 hex nibble is 0-7
    // (top bit of the first digest byte is 0) — Similarity.planeComponent
    val signSql = "CASE WHEN substr(md5('graftplane:' || CAST(pp.p AS VARCHAR) " +
      "|| ':' || CAST(ii.i AS VARCHAR)), 1, 1) BETWEEN '0' AND '7' " +
      "THEN 1.0 ELSE -1.0 END"
    """WITH dims AS (SELECT CAST(max(len(embedding)) AS BIGINT) AS dim FROM embeddings),
      | pl AS (SELECT pp.p, ii.i, """.stripMargin + signSql + """ AS s
      |  FROM (SELECT unnest(generate_series(0, 47)) AS p) pp
      |  CROSS JOIN (SELECT unnest(generate_series(0,
      |    (SELECT dim FROM dims) - 1)) AS i) ii),
      | plv AS (SELECT p, list(s ORDER BY i) AS pv FROM pl GROUP BY p),
      | c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      | proj AS (SELECT c.vec_id, plv.p // 6 AS tbl, plv.p % 6 AS pp,
      |   list_dot_product(c.v, plv.pv) AS s
      |  FROM c CROSS JOIN plv),
      | cb AS (SELECT vec_id, tbl,
      |   CAST(SUM(CASE WHEN s >= 0
      |     THEN (CAST(1 AS BIGINT) << CAST(pp AS INTEGER)) ELSE 0 END) AS BIGINT) AS bucket
      |  FROM proj GROUP BY 1, 2),
      | qb AS (SELECT vec_id, tbl, bucket FROM cb WHERE vec_id < 5),
      | qm AS (SELECT vec_id, tbl, pp,
      |   row_number() OVER (PARTITION BY vec_id, tbl ORDER BY abs(s), pp) AS mr
      |  FROM proj WHERE vec_id < 5),
      | qprobe AS (SELECT q.vec_id, q.tbl,
      |   xor(q.bucket, (CAST(1 AS BIGINT) << CAST(m.pp AS INTEGER))) AS bucket
      |  FROM qb q JOIN qm m ON m.vec_id = q.vec_id AND m.tbl = q.tbl AND m.mr <= 2),
      | qall AS (SELECT vec_id, tbl, bucket FROM qb
      |  UNION ALL SELECT vec_id, tbl, bucket FROM qprobe),
      | cand AS (SELECT DISTINCT q.vec_id AS query_id, cc.vec_id AS neighbor_id
      |  FROM qall q JOIN cb cc ON cc.tbl = q.tbl AND cc.bucket = q.bucket
      |   AND cc.vec_id <> q.vec_id),
      | sc AS (SELECT cand.query_id, cand.neighbor_id,
      |   list_dot_product(qv.v, cv.v)
      |     / (sqrt(list_dot_product(qv.v, qv.v)) * sqrt(list_dot_product(cv.v, cv.v))) AS sim
      |  FROM cand JOIN c qv ON qv.vec_id = cand.query_id
      |   JOIN c cv ON cv.vec_id = cand.neighbor_id),
      | r AS (SELECT *, row_number() OVER (PARTITION BY query_id
      |   ORDER BY sim DESC, neighbor_id) AS rk FROM sc)
      | SELECT query_id, neighbor_id, sim, CAST(rk AS INTEGER) AS rk
      | FROM r WHERE rk <= 10 ORDER BY query_id, rk""".stripMargin.replace("\n", " ")
  }

  /** IVF (k-means coarse quantization) ANN — no SQL oracle (trained
    * centroids); twin recall + brute-force sim agreement are unit-tested,
    * and [[graft.Verify]] gates recall ≥ 0.5 at the verify sf.
    */
  def qAnnIvf(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "embeddings")
    graft.ops.Similarity.ivfTopK(
      e, e.filter(col("vec_id") < 5), "vec_id", "embedding", k = 10)
      .withColumnRenamed("rank", "rk")
      .orderBy("query_id", "rk")
  }

  /** PQ (product-quantization) ANN, fully SQL-oracled via the exact-rerank
    * contract: `rerank = true` re-scores the ADC shortlist with the native
    * cosine, so whenever the shortlist covers the true top-k the output is
    * bit-identical to [[qAnnCosine]] — same pairs, same sims, same
    * tie-broken ranks. `shortlistFactor = 16` (160 of the sf0.01 corpus's
    * 500 vectors) makes coverage a measured certainty at the gate's scale
    * (recall@10 = 1.000 at sf0.01 even at the default factor 8),
    * so the brute-force SQL adjudicates the whole
    * encode→ADC-scan→shortlist→rerank pipeline: a codebook/ADC regression
    * that drops a true neighbor out of the shortlist fails the hash gate.
    * Recall floors at larger sf are additionally enforced by
    * [[graft.Verify]].
    */
  def qAnnPq(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "embeddings")
    graft.ops.Similarity.pqTopK(
      e, e.filter(col("vec_id") < 5), "vec_id", "embedding", k = 10,
      shortlistFactor = 16)
      .withColumnRenamed("rank", "rk")
      .orderBy("query_id", "rk")
  }

  /** PERSISTED IVF index ([[graft.ops.RefStore.writeIvf]]/mergeIvf +
    * [[graft.ops.Similarity.ivfTopKStored]]): the index builds on half the
    * corpus (training + whole-side cell assignment happen at COMMIT time),
    * the other half merges into the fixed coarse cells, and the query
    * batch probes the loaded index — no per-query-batch training or
    * corpus assignment pass. No SQL oracle (trained centroids); gated by
    * [[graft.Verify]]'s recall floor like q_ann_ivf.
    */
  def qAnnIvfStore(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "embeddings")
    val store = storeOnce(dir, "ivfstore") { s =>
      graft.ops.RefStore.writeIvf(
        e.filter(col("vec_id") % 2 === 0), "vec_id", "embedding", s)
      graft.ops.RefStore.mergeIvf(
        e.filter(col("vec_id") % 2 === 1), "vec_id", "embedding", s,
        batchId = "b1")
    }
    // stored-path default nprobe=8: the index trains on HALF the corpus by
    // design here; measured recall 0.79-0.81 vs the 0.5 floor
    graft.ops.Similarity.ivfTopKStored(
        e.filter(col("vec_id") < 5), store, "vec_id", "embedding", k = 10)
      .withColumnRenamed("rank", "rk")
      .orderBy("query_id", "rk")
  }

  /** PERSISTED PQ index ([[graft.ops.RefStore.writePq]]/mergePq +
    * [[graft.ops.Similarity.pqTopKStored]]): codebooks train and half the
    * corpus encodes at COMMIT; the other half merges into the fixed
    * codebooks; the query batch runs only the compressed-domain ADC scan
    * over the stored codes + exact rerank. Fully SQL-oracled via the
    * SAME exact-rerank contract as [[qAnnPq]]: `shortlistFactor = 16`
    * (160 of the sf0.01 corpus's 500 vectors) makes shortlist coverage
    * of the true top-k a measured certainty through the STORED path too
    * (recall@10 = 1.000 at sf0.01 even at the default factor 8 — the
    * r10 Verify artifact), and the rerank re-scores with the same native
    * cosine and tie law as brute force — so the brute-force SQL
    * adjudicates the whole commit→load→ADC-scan→shortlist→rerank
    * pipeline: a store that garbles a code row or codebook fails the
    * hash gate. Verify's recall floor stays as the larger-sf ratchet.
    */
  def qAnnPqStore(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "embeddings")
    val store = storeOnce(dir, "pqstore") { s =>
      graft.ops.RefStore.writePq(
        e.filter(col("vec_id") % 2 === 0), "vec_id", "embedding", s,
        m = 16, nbits = 6)
      graft.ops.RefStore.mergePq(
        e.filter(col("vec_id") % 2 === 1), "vec_id", "embedding", s,
        batchId = "b1")
    }
    graft.ops.Similarity.pqTopKStored(
        e.filter(col("vec_id") < 5), store, "vec_id", "embedding", k = 10,
        shortlistFactor = 16)
      .withColumnRenamed("rank", "rk")
      .orderBy("query_id", "rk")
  }

  /** Semantic decontamination ([[graft.ops.Similarity.embedAgainst]]):
    * incoming embeddings (vec_id % 4 ≠ 0) dropped when they cosine ≥ 0.35
    * against ANY reference row (vec_id % 4 = 0) in the same `label` block.
    * Blocked equi-join + bit-exact native cosine, so the oracle replays the
    * whole law including the threshold boundary.
    */
  def qEmbedAgainst(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "embeddings")
    graft.ops.Similarity.embedAgainst(
        e.filter(col("vec_id") % 4 =!= 0),
        e.filter(col("vec_id") % 4 === 0),
        "vec_id", "embedding", "label", threshold = 0.35)
      .select(col("vec_id"), col("label"))
      .orderBy("vec_id")
  }

  lazy val qEmbedAgainstSql: String =
    """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
      | flagged AS (SELECT DISTINCT i.vec_id FROM e i JOIN e r
      |  ON i.label = r.label AND i.vec_id % 4 <> 0 AND r.vec_id % 4 = 0
      |  AND list_dot_product(i.v, r.v)/(sqrt(list_dot_product(i.v, i.v))*sqrt(list_dot_product(r.v, r.v))) >= 0.35)
      | SELECT vec_id, label FROM e d
      | WHERE vec_id % 4 <> 0
      |  AND NOT EXISTS (SELECT 1 FROM flagged f WHERE f.vec_id = d.vec_id)
      | ORDER BY vec_id""".stripMargin.replace("\n", " ")

  /** Effective rank (participation ratio) of the embedding covariance
    * ([[graft.ops.Spectral.effectiveRankMicro]]): tr(C)²/tr(C²) — the
    * one-number embedding-collapse metric (d when isotropic, →1 when one
    * direction swallows the variance), with each covariance cell's
    * dimensionless square pico-quantized before the Σ so no fixed
    * decimal ever has to hold C². No eigendecomposition, no iteration.
    */
  def qEffectiveRank(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Spectral.effectiveRankMicro(
      t(spark, dir, "embeddings"), "vec_id", "embedding")

  lazy val qEffectiveRankSql: String =
    """WITH clean AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
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
      | cm AS (SELECT mm.i, mm.j, nn.n * mm.m - mi.mi * mj.mi AS c
      |  FROM mm CROSS JOIN nn
      |  JOIN mn mi ON mi.i = mm.i JOIN mn mj ON mj.i = mm.j),
      | tr AS (SELECT CAST(SUM(c) AS HUGEINT) AS tr FROM cm WHERE i = j),
      | tm AS (SELECT i, CASE WHEN tr.tr > 0 THEN CAST(round(
      |    ((CAST(c AS DOUBLE) / CAST(tr.tr AS DOUBLE))
      |     * (CAST(c AS DOUBLE) / CAST(tr.tr AS DOUBLE)))
      |    * 1000000000000.0) AS BIGINT) END AS t
      |  FROM cm CROSS JOIN tr),
      | ag AS (SELECT CAST(COUNT(DISTINCT i) AS BIGINT) AS n_dims,
      |   CAST(SUM(t) AS BIGINT) AS s FROM tm)
      | SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM clean) AS n_rows,
      |  n_dims,
      |  CASE WHEN s > 0 THEN CAST(round(1.0e18 / CAST(s AS DOUBLE)) AS BIGINT)
      |  END AS pr_micro
      | FROM ag""".stripMargin.replace("\n", " ")

  /** Top-25 embedding outliers by diagonal-Mahalanobis z-square sum
    * ([[graft.ops.Spectral.zOutliersMicro]]): the corrupted-embedding /
    * wrong-model / adversarial-insert screen. Exact-integer z² ratios
    * (deviation²·n² over variance·n²), per-dim micro quantization before
    * the Σ, zero-variance dims contribute exactly 0.
    */
  def qEmbedOutliers(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Spectral.zOutliersMicro(
      t(spark, dir, "embeddings"), "vec_id", "embedding", k = 25)

  lazy val qEmbedOutliersSql: String =
    """WITH clean AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
      |  WHERE embedding IS NOT NULL
      |   AND len(list_filter(embedding::DOUBLE[], x -> isnan(x))) = 0),
      | ex AS (SELECT vec_id AS doc, i - 1 AS i,
      |   CAST(round(e[i] * 1000000.0) AS BIGINT) AS q
      |  FROM (SELECT vec_id, e, unnest(generate_series(1, len(e))) AS i
      |    FROM clean)),
      | st AS (SELECT i, CAST(COUNT(*) AS HUGEINT) AS n,
      |   CAST(SUM(q) AS HUGEINT) AS m,
      |   CAST(SUM(CAST(q AS HUGEINT) * q) AS HUGEINT) AS s2 FROM ex GROUP BY 1),
      | tm AS (SELECT ex.doc,
      |   CASE WHEN (st.n * st.s2 - st.m * st.m) > 0
      |    THEN CAST(round(
      |      CAST((st.n * ex.q - st.m) * (st.n * ex.q - st.m) AS DOUBLE)
      |      / CAST(st.n * st.s2 - st.m * st.m AS DOUBLE)
      |      * 1000000.0) AS BIGINT)
      |    ELSE 0 END AS t
      |  FROM ex JOIN st ON st.i = ex.i)
      | SELECT doc AS vec_id, CAST(SUM(t) AS BIGINT) AS outlier_micro
      | FROM tm GROUP BY 1
      | ORDER BY outlier_micro DESC, vec_id LIMIT 25"""
      .stripMargin.replace("\n", " ")

  /** Embedding-centroid drift per label
    * ([[graft.ops.Drift.embedCentroidDrift]]): cosine of each group's
    * exact micro-summed centroid against the corpus centroid — the
    * semantic drift screen, three HUGEINT dot products + one float chain.
    */
  def qEmbedDrift(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Drift.embedCentroidDrift(
        t(spark, dir, "embeddings"), "label", "embedding")
      .select(col("grp").cast("long").as("grp"), col("n_vecs"),
        col("centroid_cos"))
      .orderBy("grp")

  lazy val qEmbedDriftSql: String =
    """WITH e AS (SELECT label AS grp, embedding::DOUBLE[] AS v FROM embeddings
      |  WHERE label IS NOT NULL AND embedding IS NOT NULL AND len(embedding) > 0),
      | comp AS (SELECT grp, CAST(u.i - 1 AS BIGINT) AS dim,
      |   CAST(round(v[u.i] * 1000000.0) AS BIGINT) AS m
      |  FROM e, unnest(range(1, len(v) + 1)) u(i)),
      | gsum AS (SELECT grp, dim, CAST(SUM(m) AS BIGINT) AS gs
      |  FROM comp GROUP BY 1, 2),
      | tsum AS (SELECT dim, CAST(SUM(gs) AS BIGINT) AS ts FROM gsum GROUP BY 1),
      | ng AS (SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_vecs FROM e GROUP BY 1),
      | dots AS (SELECT grp,
      |   SUM(CAST(gs AS HUGEINT) * CAST(ts AS HUGEINT)) AS ab,
      |   SUM(CAST(gs AS HUGEINT) * CAST(gs AS HUGEINT)) AS aa,
      |   SUM(CAST(ts AS HUGEINT) * CAST(ts AS HUGEINT)) AS bb
      |  FROM gsum JOIN tsum USING (dim) GROUP BY grp)
      | SELECT CAST(ng.grp AS BIGINT) AS grp, ng.n_vecs,
      |  CAST(ab AS DOUBLE) / (sqrt(CAST(aa AS DOUBLE)) * sqrt(CAST(bb AS DOUBLE)))
      |   AS centroid_cos
      | FROM ng JOIN dots USING (grp) ORDER BY grp""".stripMargin.replace("\n", " ")

  /** Embedding-space isotropy screen
    * ([[graft.ops.Similarity.cosineHistogram]], the Ethayarajh EMNLP'19
    * surface): cosine histogram of the deterministic (v, v+1009) pair
    * sample — a collapsed encoder pushes the whole histogram toward 1,
    * invisible to per-vector stats. The shared `graft_cosine` kernel is
    * bit-stable against DuckDB's `list_dot_product` chain (the
    * q_ann_cosine law), so the HISTOGRAM hash-oracles exactly.
    */
  def qCosHistogram(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Similarity.cosineHistogram(t(spark, dir, "embeddings"),
      "vec_id", "embedding", shift = 1009L, halfBins = 10)

  lazy val qCosHistogramSql: String =
    """WITH e AS (SELECT CAST(vec_id AS BIGINT) AS id,
      |   embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id IS NOT NULL),
      | p AS (SELECT a.v AS va, b.v AS vb FROM e a
      |  JOIN e b ON b.id = a.id + 1009),
      | c AS (SELECT list_dot_product(va, vb)
      |   / (sqrt(list_dot_product(va, va)) * sqrt(list_dot_product(vb, vb)))
      |   AS cs FROM p),
      | bn AS (SELECT CAST(LEAST(GREATEST(floor(cs * 10), -10), 9) AS BIGINT)
      |   AS bin FROM c WHERE cs IS NOT NULL AND NOT isnan(cs)),
      | g AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_pairs
      |  FROM bn GROUP BY 1),
      | t AS (SELECT CAST(SUM(n_pairs) AS BIGINT) AS t FROM g)
      | SELECT bin, n_pairs,
      |  CAST(round(CAST(n_pairs AS DOUBLE) / CAST(t.t AS DOUBLE) * 1e6)
      |   AS BIGINT) AS share_micro
      | FROM g CROSS JOIN t ORDER BY bin""".stripMargin.replace("\n", " ")
}
