package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed spectral structure of an embedding corpus — the principal
  * direction a curation pipeline whitens against, monitors for collapse
  * (one dominant component ⇒ the embedder is degenerating), and uses to
  * explain centroid drift. The reference has no analog; this extends the
  * engine the same way [[Similarity]] does (SURVEY.md §8).
  *
  * Everything follows the engine's exact-integer discipline: components
  * micro-quantize BEFORE any Σ (the [[Similarity.embeddingDimStats]]
  * law), the covariance multiplies through by n² so every matrix cell is
  * an exact integer, and the power iteration is the [[Graph.hitsMicro]]
  * round shape — exact integer matrix-vector products with ONE fixed
  * max-abs normalization chain per round — so any engine replays the
  * loadings bit-for-bit.
  */
object Spectral {

  /** Effective rank (participation ratio) of the embedding covariance —
    * the one-number collapse metric `(Σλ)² / Σλ² = tr(C)² / tr(C²)`
    * (Gao et al., "participation ratio"; equals d for isotropic
    * embeddings, →1 as a single direction swallows the variance) —
    * computed WITHOUT any eigendecomposition: `tr(C²) = Σ_ij C_ij²`,
    * so the whole metric is one more aggregate over the exact covariance
    * cells of [[topComponentMicro]]'s law.
    *
    * Exact law: C_ij as in [[topComponentMicro]] (exact integers). The
    * square sum would outgrow ANY fixed decimal (C² ~ 10⁶⁰ at modest
    * corpora), so each cell first becomes the dimensionless ratio
    * `round((C_ij/tr C)² · 1e12)` — ONE fixed double chain per cell,
    * quantized BEFORE the Σ (the KL/RBO discipline; the Σ of d² pico
    * terms fits a long) — and `pr_micro = round(1e18 / Σ)`.
    *
    * Scale shape: the same configuration-bounded Gram expansion + one
    * d²-row aggregate; no iteration, no window, no driver state.
    *
    * Output: one row (n_rows, n_dims, pr_micro) — NULL pr for a
    * degenerate (zero-trace) corpus.
    */
  def effectiveRankMicro(df: DataFrame, idCol: String,
      vecCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val (cMat, n) = covarianceCells(df, idCol, vecCol)
    val tr = cMat.filter(col("i") === col("j")).agg(sum(col("c")).as("_tr"))
    // the square is an explicit self-multiply, NOT pow(x, 2): libm pow
    // is a cross-engine last-ulp trap; an IEEE multiply is not
    val ratio = col("c").cast("double") / col("_tr").cast("double")
    val terms = cMat.crossJoin(broadcast(tr))
      .select(col("i"),
        when(col("_tr") > lit(java.math.BigDecimal.ZERO).cast(dec),
          round((ratio * ratio) * 1000000000000.0).cast("long")).as("_t"))
    terms.agg(
        countDistinct(col("i")).as("n_dims"),
        sum(col("_t")).as("_s"))
      .crossJoin(broadcast(n))
      .select(col("n_rows"), col("n_dims"),
        when(col("_s") > 0L,
          round(lit(1.0e18) / col("_s").cast("double")).cast("long"))
          .as("pr_micro"))
  }

  /** Per-document embedding outlier score: the diagonal-Mahalanobis
    * Σ_d z²_d over micro-quantized components — the screen that surfaces
    * corrupted embeddings, wrong-model rows and adversarial inserts
    * before they poison centroids or ANN training. Top `k` documents by
    * score.
    *
    * Exact law: with per-dim integer moments (n, m_d = Σq, S2_d = Σq²),
    * the z-square is the exact-integer ratio
    * `z²_d = (n·q_d − m_d)² / (n·S2_d − m_d²)` (both sides DECIMAL(38,0)
    * — variance·n² and deviation²·n² — so no mean ever divides early);
    * each dim's ratio quantizes to micros in ONE fixed double chain
    * BEFORE the Σ over dims (the KL/RBO discipline; d terms, fits a
    * long). A zero-variance dim contributes exactly 0 (no signal, not a
    * NaN). Boundary orders by (outlier_micro desc, id) — deterministic.
    *
    * Scale shape: ONE corpus pass for the moments (d-row result,
    * broadcast back), one narrow per-row rescan for the scores, top-k
    * via TakeOrdered. No corpus-sized join or window.
    *
    * Output: (idCol, outlier_micro) — top `k`.
    */
  def zOutliersMicro(df: DataFrame, idCol: String, vecCol: String,
      k: Int = 25): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    zOutlierScores(df, idCol, vecCol)
      .orderBy(col("outlier_micro").desc, col(idCol))
      .limit(k)
  }

  /** The UN-limited per-document score frame behind [[zOutliersMicro]] —
    * the tie-plateau audit's probe surface.
    */
  def zOutlierScores(df: DataFrame, idCol: String,
      vecCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val clean = df
      .filter(col(vecCol).isNotNull &&
        !exists(col(vecCol), x => isnan(x.cast("double"))))
      .select(col(idCol).as("_doc"), col(vecCol).as("_v"))
    val ex = clean.select(col("_doc"), posexplode(col("_v")))
      .select(col("_doc"), col("pos").cast("long").as("i"),
        round(col("col").cast("double") * 1000000.0).cast("long").as("q"))
    val stats = ex.groupBy(col("i"))
      .agg(count(lit(1)).as("_n"), sum(col("q")).as("_m"),
        sum((col("q") * col("q")).cast(dec)).as("_s2"))
      .select(col("i"), col("_n"), col("_m"),
        (col("_n").cast(dec) * col("_s2") -
          col("_m").cast(dec) * col("_m").cast(dec)).as("_den"))
    val devN = col("_n").cast(dec) * col("q").cast(dec) - col("_m").cast(dec)
    val term = when(col("_den") > lit(java.math.BigDecimal.ZERO).cast(dec),
      round((devN * devN).cast("double") / col("_den").cast("double")
        * 1000000.0).cast("long")).otherwise(lit(0L))
    ex.join(broadcast(stats), "i")
      .select(col("_doc"), term.as("_t"))
      .groupBy(col("_doc").as(idCol))
      .agg(sum(col("_t")).as("outlier_micro"))
  }

  /** Shared exact covariance cells: (d²-row frame (i, j, c), 1-row
    * (n_rows)) — the [[topComponentMicro]] law's first half, reused by
    * [[effectiveRankMicro]]. NOT checkpointed — single-pass callers
    * compose it lazily; the iterating caller checkpoints itself.
    */
  private def covarianceCells(df: DataFrame, idCol: String,
      vecCol: String): (DataFrame, DataFrame) = {
    val dec = "decimal(38,0)"
    val clean = df
      .filter(col(vecCol).isNotNull &&
        !exists(col(vecCol), x => isnan(x.cast("double"))))
      .select(col(idCol).as("_doc"), col(vecCol).as("_v"))
    val ex = clean.select(col("_doc"), posexplode(col("_v")))
      .select(col("_doc"), col("pos").cast("long").as("i"),
        round(col("col").cast("double") * 1000000.0).cast("long").as("q"))
    val moments = ex
      .join(ex.select(col("_doc"), col("i").as("j"), col("q").as("r")),
        Seq("_doc"))
      .groupBy(col("i"), col("j"))
      .agg(sum((col("q") * col("r")).cast(dec)).as("_m"))
    val nFrame = clean.agg(count(lit(1)).as("n_rows"))
    val meansN = ex.groupBy(col("i"))
      .agg(sum(col("q")).as("_mi"))
      .crossJoin(broadcast(nFrame.select(col("n_rows").as("_n"))))
    val cMat = moments
      .join(meansN.select(col("i"), col("_mi"), col("_n")), "i")
      .join(meansN.select(col("i").as("j"), col("_mi").as("_mj")), "j")
      .select(col("i"), col("j"),
        (col("_n").cast(dec) * col("_m") -
          col("_mi").cast(dec) * col("_mj").cast(dec)).as("c"))
    (cMat, nFrame)
  }

  /** Top principal component of the vector column by `rounds` of power
    * iteration over the exact n²-scaled covariance matrix, plus the
    * Rayleigh explained-variance share.
    *
    * Law, step by step (all replayable in SQL):
    *   - rows with a NULL vector or any non-finite component drop (they
    *     assert no direction);
    *   - components quantize to micro-units `q = round(x·1e6)` (long);
    *   - second moments `M_ij = Σ_docs q_i·q_j` and means `m_i = Σ q_i`
    *     aggregate exactly (DECIMAL(38,0)); the n²-scaled covariance is
    *     the exact integer `C_ij = n·M_ij − m_i·m_j`;
    *   - `v⁰ = e₀` (1e6 at dim 0); one round is the exact integer
    *     matrix-vector product `w_j = Σ_i C_ij·v_i` followed by max-abs
    *     micro normalization `v'_j = round(w_j / max|w| · 1e6)` — the
    *     hitsMicro chain (0 when the product is all zero);
    *   - sign convention: if the loading at the smallest dim with a
    *     nonzero loading is negative, all loadings flip (eigenvectors
    *     are sign-ambiguous; the law pins one);
    *   - `eigen_share_pico = round(vᵀCv / (vᵀv · trace C) · 1e12)` — the
    *     Rayleigh quotient's share of total variance, one fixed double
    *     chain over three exact integers (NULL for a zero trace).
    *
    * Scale shape: the per-row d² pair expansion (the standard Gram-matrix
    * shuffle, bounded by CONFIGURATION — d², not data) feeds one hash
    * aggregate into a d²-row matrix frame, collected ONCE to the driver
    * (d² cells — the bounded-collect posture of the DSIR threshold
    * tables); the power rounds then run driver-side in exact BigInt/
    * HALF_UP arithmetic, bit-identical to the in-plan law they replace.
    * The corpus is read ONCE; the iteration is O(d²·rounds) driver
    * FLOPs. Before the r17 constants audit each round was a distributed
    * d²⋈d join + d-row aggregate + 1-row broadcast — 12 jobs of pure
    * launch overhead on a 16-row frame (~6 s of the old 7.8 s at
    * sf0.1, flat at ANY corpus size since only d bounds the frame).
    *
    * Output: (dim, loading_micro, eigen_share_pico) — one row per vector
    * dimension.
    *
    * Domain bound (explicit, the pqScan posture): with micro-quantized
    * unit-scale components, the Rayleigh quad form peaks at
    * ~n²·q⁴·d² ≈ 10³⁶ around n = 3·10⁸ rows — the DECIMAL(38,0) edge.
    * The spectral probe is a DIAGNOSTIC: past that, run it over a
    * deterministic sample (q_fixed_sample / hash-mod), which is how PCA
    * probes run on large corpora anyway; the law itself never needs the
    * full corpus to be meaningful.
    */
  /** The [[covarianceCells]] law collected to the driver, computed from
    * an UPPER-TRIANGLE array outer product: per row the d(d+1)/2
    * products come straight out of the vector (no self-join shuffle,
    * half the multiplies), the second moments and per-dim mean sums
    * aggregate exactly, and C_ij = n·M_ij − m_i·m_j assembles in BigInt
    * driver-side with the lower triangle mirrored (C is symmetric BY
    * LAW). Bit-identical cells to the joined form — same micro
    * quantization, same exact-integer sums.
    */
  private def covarianceLocal(df: DataFrame, idCol: String,
      vecCol: String): Array[(Long, Long, BigInt)] = {
    val dec = "decimal(38,0)"
    val clean = df
      .filter(col(vecCol).isNotNull &&
        !exists(col(vecCol), x => isnan(x.cast("double"))))
      .select(col(idCol).as("_doc"), col(vecCol).as("_v"))
    // the pair expansion below fans each row out d(d+1)/2-fold, so its
    // parallelism must NOT be the SCAN's: the embeddings table is one
    // sub-128MB parquet split, and the whole multi-million-struct
    // expansion + partial aggregation ran in ONE task (measured as
    // q_top_component's single dominant 2.2-2.6 s job at sf0.1 — r20
    // optimization round). A tiny hash exchange of the narrow clean
    // rows first spreads the heavy generate+aggregate stage across the
    // cluster; values are untouched. The partition count is EXPLICIT
    // (the session's shuffle parallelism — configuration, not a local
    // constant): with it implicit, AQE coalesced the kilobyte-sized
    // exchange straight back to one partition, re-serializing the
    // d²-fold expansion it exists to spread.
    val nSpread = df.sparkSession.sessionState.conf.numShufflePartitions
    val q = clean.repartition(nSpread, col("_doc")).select(expr(
      "transform(_v, x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0) " +
        "AS BIGINT))").as("_q"))
    val upper = q.select(explode(expr(
      "flatten(transform(sequence(0, size(_q) - 1), i -> " +
        "transform(sequence(i, size(_q) - 1), j -> " +
        "struct(CAST(i AS BIGINT) AS pi, CAST(j AS BIGINT) AS pj, " +
        "_q[i] * _q[j] AS pp))))")).as("s"))
      .select(col("s.pi").as("i"), col("s.pj").as("j"), col("s.pp").as("p"))
      .groupBy(col("i"), col("j")).agg(sum(col("p").cast(dec)).as("_m"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        BigInt(r.getDecimal(2).toBigIntegerExact)))
    val mn = q.select(posexplode(col("_q")))
      .groupBy(col("pos").cast("long").as("i"))
      .agg(count(lit(1)).as("_n"), sum(col("col")).as("_mi"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    // n is the CLEAN-FRAME row count — the covarianceCells n_rows law.
    // Per-position counts (mn's _n) equal it only for uniform-width
    // vectors; ragged rows would make a headOption pick nondeterministic
    // and diverge from the distributed form, so count the frame itself.
    val n = BigInt(q.count())
    upper.flatMap { case (i, j, m) =>
      val c = n * m - BigInt(mn(i)._2) * BigInt(mn(j)._2)
      if (i == j) Seq((i, j, c)) else Seq((i, j, c), (j, i, c))
    }
  }

  def topComponentMicro(df: DataFrame, idCol: String, vecCol: String,
      rounds: Int = 12): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    import scala.jdk.CollectionConverters._
    val spark = df.sparkSession
    // C_ij = n·M_ij − m_i·m_j — exact integers, bounded by the vector
    // width (d² cells — the bounded-collect posture of the DSIR
    // threshold tables), from the upper-triangle one-pass form
    val cells = covarianceLocal(df, idCol, vecCol)
    val dims = cells.map(_._1).distinct.sorted.toSeq
    // Spark's round() on a double goes through BigDecimal.valueOf
    // (shortest-decimal) HALF_UP — replay that path exactly, not
    // new BigDecimal(d) (exact-binary), which differs on display ties
    def roundSpark(x: Double): Long =
      java.math.BigDecimal.valueOf(x)
        .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue.toLong
    // v⁰ = e₀; each round is the exact BigInt matvec + the identical
    // max-abs micro normalization chain (decimal→double of the same
    // exact integers → the same nearest doubles → the same HALF_UP)
    var v: Map[Long, Long] =
      dims.map(d => d -> (if (d == 0L) 1000000L else 0L)).toMap
    for (_ <- 1 to rounds) {
      val w = scala.collection.mutable.Map[Long, BigInt](
        dims.map(_ -> BigInt(0)): _*)
      cells.foreach { case (i, j, c) => w(j) += c * v(i) }
      val mx = if (w.isEmpty) BigInt(0) else w.values.map(_.abs).max
      v = if (mx <= 0) dims.map(_ -> 0L).toMap
      else dims.map(d =>
        d -> roundSpark(w(d).toDouble / mx.toDouble * 1000000.0)).toMap
    }
    val schema = StructType(Seq(
      StructField("dim", LongType, nullable = false),
      StructField("loading_micro", LongType, nullable = false),
      StructField("eigen_share_pico", LongType, nullable = true)))
    // sign convention: flip so the smallest nonzero-loading dim is
    // positive; an all-zero iterate has no sign reference and yields the
    // empty frame (the in-plan law's filter-against-NULL behavior)
    val nonzero = dims.filter(d => v(d) != 0L)
    if (dims.isEmpty || nonzero.isEmpty)
      return spark.createDataFrame(
        new java.util.ArrayList[Row](), schema)
    val sg = if (v(nonzero.min) < 0L) -1L else 1L
    val load = dims.map(d => d -> v(d) * sg).toMap
    // Rayleigh share: vᵀCv / (vᵀv · trace C), all three exact integers,
    // one double chain in the in-plan operand order
    val num = cells.map { case (i, j, c) => c * load(i) * load(j) }.sum
    val den = dims.map(d => BigInt(load(d)) * BigInt(load(d))).sum
    val tr = cells.collect { case (i, j, c) if i == j => c }
      .foldLeft(BigInt(0))(_ + _)
    val share: java.lang.Long =
      if (tr > 0 && den > 0)
        java.lang.Long.valueOf(roundSpark(
          num.toDouble / den.toDouble / tr.toDouble * 1000000000000.0))
      else null
    spark.createDataFrame(
      dims.map(d => Row(d, load(d), share)).asJava, schema)
  }
}
