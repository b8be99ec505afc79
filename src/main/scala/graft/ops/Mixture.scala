package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Training-mixture rebalancing by epoch upsampling.
  *
  * [[Sampling.temperatureSample]] flattens a skewed mixture by DOWN-sampling
  * dominant strata; the complementary lever — when tail data is too precious
  * to drop — is UP-sampling: small sources are repeated for multiple epochs
  * within one training pass. The law here targets the head stratum:
  *
  *   epochs_g = min(maxEpochs, ceil(n_max / n_g))
  *
  * so the largest source runs once and a source 1/3 its size runs 3 times,
  * capped (repeating a tiny source dozens of times burns compute and
  * overfits it — the cap is the standard guard).
  *
  * Every step is cross-engine exact: integer counts, one IEEE double
  * division + ceil, an integer `sequence` explode — so the exact multiset of
  * (doc, epoch) rows is oracle-checkable.
  *
  * Scale shape: the counts frame is |sources| rows broadcast onto the
  * corpus; the explode is narrow (each row expands in place, no shuffle).
  * Output size is bounded by maxEpochs × |corpus|.
  */
object Mixture {

  /** Per-stratum epoch counts: (stratum, epochs). */
  def epochCounts(df: DataFrame, stratumCol: String, maxEpochs: Int = 4): DataFrame = {
    require(maxEpochs >= 1, "maxEpochs must be at least 1")
    val counts = df.groupBy(col(stratumCol).as("_stratum"))
      .agg(count(lit(1)).as("_n"))
    counts
      .crossJoin(broadcast(counts.agg(max(col("_n")).as("_nmax"))))
      .select(col("_stratum"),
        least(lit(maxEpochs.toLong),
          ceil(col("_nmax").cast("double") / col("_n").cast("double")).cast("long"))
          .as("epochs"))
  }

  /** One output row per (input row, epoch), epoch in 1..epochs_stratum.
    *
    * NULL-stratum contract (shared with [[Sampling.temperatureSample]] and
    * [[Quantiles.topFractionByStratum]]): rows whose stratum is NULL are
    * EXCLUDED — the keyed join never matches them. Coalesce a sentinel
    * stratum upstream (e.g. `'und'` for unknown language) if NULL rows must
    * participate in the mixture.
    */
  def upsampleEpochs(df: DataFrame, stratumCol: String, maxEpochs: Int = 4): DataFrame =
    df.join(broadcast(epochCounts(df, stratumCol, maxEpochs)),
        col(stratumCol) === col("_stratum"))
      .withColumn("epoch", explode(sequence(lit(1L), col("epochs"))))
      .drop("_stratum", "epochs")

  /** Temperature-scaled MIXING PROBABILITIES over per-stratum token mass —
    * the standard multilingual/multi-source sampling law (Raffel et al.
    * JMLR'20 §3.4.2 mC4 mixing; Conneau & Lample NeurIPS'19 §3.1):
    * `p_s ∝ c_s^α` with temperature `α ∈ (0, 1]` flattening the head so
    * low-resource sources are not starved (α = 1 is proportional, α → 0
    * is uniform). This is the REPORT half of the lever —
    * [[Sampling.temperatureSample]] applies the fixed α = 1/2 form to
    * rows; training loaders consume THESE probabilities to draw batches.
    *
    * Law (cross-engine exact): `c_s` = Σ token count per stratum (exact
    * BIGINT, the shared token law); `w_micro = round(exp(α·ln c_s)·1e6)`
    * — ln/exp are the documented cross-engine-stable pair (the
    * [[Importance]]/q_source_kl precedent) and the MICRO quantization
    * happens BEFORE the normalizing sum, so the total is an exact
    * integer (headroom: a 1e12-token source at α = 0.7 is ~2.5e14
    * micro-units — no overflow at any realistic corpus);
    * `p_ppb = round((w_micro / Σw_micro)·1e9)`, one double division of
    * two exact integers. Zero-token and NULL strata: w 0 / excluded.
    *
    * Scale shape: one narrow tokenize pass → one |strata|-row hash
    * aggregate; the normalizing total is a 1-row broadcast. Output:
    * (stratum, n_tokens, w_micro, p_ppb).
    */
  def temperatureWeights(df: DataFrame, stratumCol: String, textCol: String,
      alpha: Double = 0.7): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0, 1], got $alpha")
    val c = df.filter(col(stratumCol).isNotNull)
      .groupBy(col(stratumCol).as("stratum"))
      .agg(sum(graft.functions.TextFns.tokenCount(col(textCol))).as("n_tokens"))
    val w = c.withColumn("w_micro",
      when(col("n_tokens") > 0L,
        round(exp(lit(alpha) * log(col("n_tokens").cast("double"))) * 1000000.0)
          .cast("long"))
        .otherwise(lit(0L)))
    w.crossJoin(broadcast(w.agg(sum(col("w_micro")).as("_tw"))))
      .withColumn("p_ppb",
        when(col("_tw") > 0L,
          round((col("w_micro").cast("double") / col("_tw").cast("double"))
            * 1000000000.0).cast("long"))
          .otherwise(lit(0L)))
      .select(col("stratum"), col("n_tokens"), col("w_micro"), col("p_ppb"))
  }

  /** Token-budget waterfilling: given per-domain AVAILABLE token counts and
    * target mixture weights, allocate a total `budget` proportionally to
    * the weights, capping each domain at its availability and
    * redistributing the overflow to the uncapped domains — the standard
    * "fill to the water line" mixture solver a large pretraining run uses
    * to turn (weights, budget) into per-domain sampling quotas.
    *
    * The algorithm sorts domains by saturation ratio `avail/weight`
    * ascending, finds the first domain the rising water line does NOT
    * cap, and splits: capped domains contribute `avail`, uncapped get
    * `floor((budget - Σ capped avail) · w_d / Σ uncapped w)`.
    *
    * ENGINE-EXACT by construction: weights are integer micro-units,
    * saturation tests compare cross-multiplied products — carried in
    * DECIMAL(38,0) on the Spark side and HUGEINT in DuckDB, because
    * budget·weight products overflow BIGINT right at the documented
    * scale (2.5e13 tokens × 1e6 micro-weights ≈ 2.5e19 > 2^63) — and
    * allocations are integer floor divisions (`DIV`/`//`, never `/`:
    * Spark's Divide on integral types routes through DOUBLE, exact only
    * to 2^53). The ONLY double is the sort ratio, a single IEEE division
    * identical in every engine. Σ alloc ≤ budget with a sub-|domains|
    * token shortfall from the floors (documented, standard).
    *
    * Non-positive weights (w ≤ 0 = "domain present but excluded") take no
    * part in the waterline: they allocate 0 unsaturated, and cannot
    * divide-by-zero the solve.
    *
    * Input: one row per domain (a BOUNDED stats frame — the per-domain
    * aggregate upstream is where the data-sized work happened); the
    * windows here run over |domains| rows, the quantile-threshold
    * posture, and the bound is ENFORCED in-plan (`maxDomains`, default
    * 10⁶, via [[Guards.boundedDomain]]) — see the note at the window
    * below. Output: (domain, available, weight_micro, alloc_tokens,
    * saturated).
    */
  def waterfillAllocations(stats: DataFrame, domainCol: String,
      availCol: String, weightMicroCol: String, budget: Long,
      maxDomains: Long = 1000000L): DataFrame = {
    require(budget >= 0, s"budget must be non-negative, got $budget")
    import org.apache.spark.sql.expressions.Window
    val dec = "decimal(38,0)"
    // water-filling needs ONE totally ordered pass over the domain table
    // (the waterline is a global property of the saturation-sorted
    // sequence — prefix sums alone can't place it without the order), and
    // "domain" is a data-growing key: a web-scale corpus has 10⁶–10⁸
    // registrable domains. The in-plan bound (Guards.boundedDomain, the
    // retired KS-guard posture) makes the contract ENFORCED: a stats
    // frame past `maxDomains` fails with an aggregate-upstream message
    // before the single-task sort runs — group the long tail into a
    // catch-all stratum upstream (allocation to a catch-all is the
    // standard mixture practice) or raise the bound deliberately.
    val base = Guards.boundedDomain(
      stats.select(col(domainCol).as("domain"),
        col(availCol).cast("long").as("available"),
        col(weightMicroCol).cast("long").as("weight_micro")),
      maxDomains, "waterfillAllocations",
      "aggregate tail domains into a catch-all stratum upstream or raise " +
        "maxDomains deliberately")
    val solve = base.filter(col("weight_micro") > 0)
    val excluded = base.filter(!(col("weight_micro") > 0))
      .select(col("domain"), col("available"), col("weight_micro"),
        lit(0L).as("alloc_tokens"), lit(false).as("saturated"))
    val w = Window.orderBy(
      (col("available").cast("double") / col("weight_micro").cast("double")).asc,
      col("domain"))
    val wAll = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val ranked = solve
      .withColumn("_rn", row_number().over(w))
      .withColumn("_pref_a", coalesce(
        sum(col("available")).over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("_w_rem",
        sum(col("weight_micro")).over(w.rowsBetween(Window.currentRow, Window.unboundedFollowing)))
      // unsaturated ⟺ the water line stays below this domain's cap:
      // λ·w ≤ a ⟺ (B - prefA)·w ≤ a·W_rem, exact in decimal128
      .withColumn("_unsat",
        (lit(budget) - col("_pref_a")).cast(dec) * col("weight_micro").cast(dec) <=
          col("available").cast(dec) * col("_w_rem").cast(dec))
    val marked = ranked
      .withColumn("_u", min(when(col("_unsat"), col("_rn"))).over(wAll))
      .withColumn("_b_star", max(when(col("_rn") === col("_u"),
        lit(budget) - col("_pref_a"))).over(wAll))
      .withColumn("_w_star", max(when(col("_rn") === col("_u"),
        col("_w_rem"))).over(wAll))
    // the least/greatest guards keep the law total even on adversarial
    // stats where the saturation flag's single-crossing might not hold
    val solved = marked.select(col("domain"), col("available"), col("weight_micro"),
      when(col("_u").isNull || col("_rn") < col("_u"), col("available"))
        .otherwise(least(col("available"), greatest(lit(0L),
          expr(s"(CAST(_b_star AS $dec) * CAST(weight_micro AS $dec)) DIV _w_star"))))
        .cast("long").as("alloc_tokens"),
      (col("_u").isNull || col("_rn") < col("_u")).as("saturated"))
    solved.unionByName(excluded)
  }

  /** Class-imbalance report with effective-number-of-samples reweights
    * (Cui et al., CVPR '19 — the class-balanced-loss weighting: marginal
    * samples of a big class overlap, so its EFFECTIVE count is
    * `EN = (1 − β^n)/(1 − β)`, saturating at 1/(1−β); weighting by 1/EN
    * beats 1/n, which over-inflates rare classes). The label-balance
    * screen a fine-tuning mix runs before training.
    *
    * Exact law: n is an exact integer; `β^n = exp(n·ln β)` and the EN
    * chain quantize per label (micro) — the decay/DSIR ln/exp
    * discipline; the inverse quantizes to picos FROM the quantized EN
    * (`round(1e18/en_micro)`, both engines dividing the same exact
    * integers); weights normalize by the exact integer Σ of inverses in
    * one final fixed division.
    *
    * Scale shape: one hash aggregate (map-side combine) to the
    * |labels|-row table, a 1-row Σ broadcast back — no window, no
    * corpus-sized join. NULL labels drop (they assert no class).
    *
    * Output: (label, n, en_micro, weight_pico) — weights sum to ~1e12.
    */
  def classBalance(df: DataFrame, labelCol: String,
      beta: Double = 0.999): DataFrame = {
    require(beta > 0.0 && beta < 1.0, s"beta must lie in (0,1), got $beta")
    val counts = df.filter(col(labelCol).isNotNull)
      .groupBy(col(labelCol).as("label"))
      .agg(count(lit(1)).as("n"))
    val en = counts.withColumn("en_micro",
        round((lit(1.0) - exp(col("n").cast("double") * math.log(beta)))
          / lit(1.0 - beta) * 1000000.0).cast("long"))
      .withColumn("_inv",
        round(lit(1.0e18) / col("en_micro").cast("double")).cast("long"))
    en.crossJoin(broadcast(en.agg(sum(col("_inv")).as("_tot"))))
      .select(col("label"), col("n"), col("en_micro"),
        round(col("_inv").cast("double") / col("_tot").cast("double")
          * 1000000000000.0).cast("long").as("weight_pico"))
  }
}
