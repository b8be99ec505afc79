package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Quantile-based selection at corpus scale.
  *
  * The exact form of "keep the top decile per language"
  * (Registry.qQualityDecile) ranks each stratum with `percent_rank`, which
  * sorts each stratum in ONE task — fine for correctness checking, wrong at
  * scale where a single language is most of the corpus. The scale shape is
  * the two-pass sketch form:
  *
  *   1. one aggregation computes a per-stratum threshold with
  *      `approx_percentile` (a Greenwald-Khanna sketch: partial-aggregatable
  *      and mergeable, so the pass is map-side-combined like any count), and
  *   2. the tiny (stratum, threshold) frame broadcasts back onto the corpus
  *      as a per-row filter — no data shuffle at all.
  *
  * Selection near the boundary is approximate exactly where the sketch is
  * (rank error ≤ 1/accuracy · n per stratum); everything clearly above the
  * cut is kept deterministically. For small strata the sketch degenerates to
  * exact (it holds all values until compression kicks in).
  */
object Quantiles {

  /** Per-stratum value threshold at quantile `q` (0..1): one mergeable
    * sketch aggregation → |strata| rows.
    */
  def stratumThresholds(df: DataFrame, valueCol: String, stratumCol: String,
      q: Double, accuracy: Int = 10000): DataFrame = {
    require(q >= 0.0 && q <= 1.0, s"quantile $q outside [0,1]")
    df.groupBy(col(stratumCol).as("_stratum"))
      .agg(percentile_approx(col(valueCol), lit(q), lit(accuracy)).as("_thr"))
  }

  /** Keep rows in the top `fraction` of `valueCol` within their stratum:
    * threshold at (1 - fraction), broadcast, filter `value >= threshold`.
    * Rows tying the threshold value are kept (inclusive boundary).
    * NULL-stratum rows are EXCLUDED (see [[Mixture.upsampleEpochs]] for the
    * shared contract); coalesce a sentinel upstream to include them.
    */
  def topFractionByStratum(df: DataFrame, valueCol: String, stratumCol: String,
      fraction: Double, accuracy: Int = 10000): DataFrame = {
    require(fraction > 0.0 && fraction <= 1.0, s"fraction $fraction outside (0,1]")
    val thr = stratumThresholds(df, valueCol, stratumCol, 1.0 - fraction, accuracy)
    df.join(broadcast(thr), col(stratumCol) === col("_stratum"))
      .filter(col(valueCol) >= col("_thr"))
      .drop("_stratum", "_thr")
  }

  /** Winsorization at corpus scale: clamp `valueCol` into its per-stratum
    * [loQ, hiQ] percentile band. The thresholds come from ONE mergeable
    * `approx_percentile` sketch aggregation (map-side combinable — the same
    * two-pass shape as [[topFractionByStratum]]) and broadcast back onto the
    * stream as a row-local clip, so the corpus itself never shuffles. This
    * is the scale form of the exact-percentile winsorize
    * (Registry.qWinsorize), which sorts each stratum in one task.
    *
    * The sketch returns an ACTUAL data value (a discrete percentile — the
    * smallest value with cumulative frequency ≥ q; DuckDB `quantile_disc`),
    * not the interpolated `quantile_cont`, so the two forms agree except on
    * rows between an interpolated threshold and its nearest data value.
    *
    * NULL law (pinned, unlike a bare least/greatest which silently clamps
    * NULL to the low band): a NULL value stays NULL in `winsorized` and
    * contributes nothing to the band. NULL strata follow the family
    * contract (excluded by the equi-join).
    *
    * Output: all input columns + `band_lo`, `band_hi`, `winsorized`.
    */
  def winsorizeApprox(df: DataFrame, valueCol: String, stratumCol: String,
      loQ: Double = 0.05, hiQ: Double = 0.95, accuracy: Int = 10000): DataFrame = {
    require(loQ >= 0.0 && loQ <= hiQ && hiQ <= 1.0,
      s"need 0 <= loQ <= hiQ <= 1, got [$loQ, $hiQ]")
    val bands = df.groupBy(col(stratumCol).as("_stratum"))
      .agg(percentile_approx(col(valueCol), lit(loQ), lit(accuracy)).as("band_lo"),
        percentile_approx(col(valueCol), lit(hiQ), lit(accuracy)).as("band_hi"))
    df.join(broadcast(bands), col(stratumCol) === col("_stratum"))
      .withColumn("winsorized", when(col(valueCol).isNotNull,
        least(greatest(col(valueCol), col("band_lo")), col("band_hi"))))
      .drop("_stratum")
  }

  /** The EXACT discrete lower median per stratum: the value at ascending
    * position `(n+1) div 2` — an actual data value, engine-independent
    * (no interpolation, no sketch), the law both [[madOutliers]] passes
    * share. One window sort per call (shuffle by stratum; per-stratum
    * sort — the exact-median price; use [[stratumThresholds]] when sketch
    * accuracy suffices at corpus scale).
    */
  private def lowerMedians(df: DataFrame, valueCol: String,
      stratumCol: String, as: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(stratumCol)).orderBy(col(valueCol).asc)
    df.filter(col(valueCol).isNotNull && col(stratumCol).isNotNull)
      .select(col(stratumCol), col(valueCol),
        row_number().over(w).as("_rn"),
        count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col(stratumCol)))
          .as("_n"))
      .filter(col("_rn") === expr("(_n + 1L) div 2L"))
      .select(col(stratumCol), col(valueCol).as(as))
  }

  /** Robust per-stratum outlier report: median / MAD (median absolute
    * deviation) flagging — the heavy-tail-safe alternative to z-scores for
    * corpus metric QA (a handful of giant documents move a mean + stddev
    * arbitrarily; they move the median/MAD not at all). The law is fully
    * exact-integer: both medians are the DISCRETE lower median (value at
    * ascending position `(n+1) div 2`), deviations are `abs(v - med)`
    * BIGINTs, and a row is an outlier iff `dev > k · mad` — so any engine
    * replays the report bit-for-bit, unlike sketch quantiles.
    *
    * Scale shape: two window sorts by stratum (one for each median) + one
    * final hash aggregate — 3 shuffles of (stratum, value) pairs only. The
    * medians are |strata|-row frames and broadcast back onto the corpus.
    * A stratum whose values all equal the median has mad = 0: `dev > 0`
    * then flags ANY deviation — the conventional razor (MAD breaks down,
    * consistent in both engines).
    *
    * Output per stratum: (stratum, n, med, mad, n_outliers, outlier_frac).
    */
  def madOutliers(df: DataFrame, valueCol: String, stratumCol: String,
      k: Long = 3L): DataFrame = {
    require(k >= 0L, s"k must be >= 0, got $k")
    val v = df.filter(col(valueCol).isNotNull && col(stratumCol).isNotNull)
      .select(col(stratumCol).as("stratum"), col(valueCol).cast("long").as("_v"))
    val med = lowerMedians(v, "_v", "stratum", "med")
    val withDev = v.join(broadcast(med), "stratum")
      .withColumn("_dev", abs(col("_v") - col("med")))
    val mad = lowerMedians(withDev, "_dev", "stratum", "mad")
    withDev.join(broadcast(mad), "stratum")
      .groupBy(col("stratum"))
      .agg(count(lit(1)).as("n"),
        first(col("med")).as("med"),
        first(col("mad")).as("mad"),
        sum(when(col("_dev") > lit(k) * col("mad"), 1L).otherwise(0L))
          .as("n_outliers"))
      .withColumn("outlier_frac",
        col("n_outliers").cast("double") / col("n").cast("double"))
  }

  /** Per-stratum percent-rank calibration: map a raw per-source score onto
    * its WITHIN-SOURCE quantile scale, then bucket into deciles — the
    * standard fix for mixing corpora whose quality scorers are not
    * comparable across sources (a 0.6 from a clean source ≠ a 0.6 from a
    * noisy one; the within-source rank IS comparable). `percent_rank` is
    * rank-based ((rank-1)/(n-1), ties share), identical across engines;
    * the decile is `least(floor(pr · 10), 9)` so pr = 1.0 lands in the top
    * bucket.
    *
    * Output: one row per (stratum, decile) cell — n rows, min/max raw
    * value — the calibration table a mixing job joins back against.
    * Scale: one window sort by stratum + one hash aggregate.
    */
  def percentRankDeciles(df: DataFrame, valueCol: String,
      stratumCol: String): DataFrame = {
    df.filter(col(valueCol).isNotNull && col(stratumCol).isNotNull)
      .select(col(stratumCol).as("stratum"), col(valueCol).cast("long").as("_v"))
      .withColumn("_pr", percent_rank().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("stratum")).orderBy(col("_v").asc)))
      .withColumn("decile",
        least(floor(col("_pr") * 10.0), lit(9.0)).cast("long"))
      .groupBy(col("stratum"), col("decile"))
      .agg(count(lit(1)).as("n"),
        min(col("_v")).as("min_v"),
        max(col("_v")).as("max_v"))
  }

  /** Lorenz concentration deciles of a non-negative metric (Lorenz '05,
    * the curve behind the Gini the engine already reports): rank the
    * rows ascending by value, cut into 10 equal-count deciles, and
    * report each decile's exact metric mass and cumulative share — "the
    * top 10% of documents carry X% of the bytes", the corpus-skew
    * picture one number can't draw.
    *
    * Scale-safe law — NEVER a global row sort/ntile (a corpus-sized
    * single-partition window): ranks come from the VALUE-FREQUENCY
    * table (v, c_v) with cumulative counts over distinct values (the
    * rankEffect posture), decile boundaries are the exact integers
    * b_d = ⌊d·N/10⌋, and a value straddling a boundary splits by rank
    * overlap `max(0, min(hi_v, b_d) − max(lo_v, b_{d−1}))` — ties
    * share a value's rank range, so the cut inside a tie run is
    * deterministic BY CONSTRUCTION (no id tiebreak needed: which
    * specific tied rows land each side is unobservable in sums).
    * Masses are exact integer Σs in DECIMAL(38,0);
    * `cum_share_micro = round(cum/total·10⁶)` is one double division
    * per decile row. NULL and negative values drop (a Lorenz curve is
    * defined over a non-negative mass).
    *
    * Scale shape: one corpus hash aggregate to the value table, a
    * DISTRIBUTED two-pass prefix sum over it ([[PrefixSum.inclusive]] —
    * never a single-task sort even when the distinct set grows with the
    * corpus) + a 10-row broadcast crossJoin, a ≤10-row final frame.
    * Output: (decile, n_rows, mass, cum_mass,
    * cum_share_micro) — 10 rows (empty deciles drop when N < 10; none
    * on an empty input).
    */
  /** Distribution-free quantile confidence interval (the binomial
    * order-statistic interval, Thompson 1936 / Hollander–Wolfe §3.4,
    * large-sample ranks) — a quantile POINT ESTIMATE is cheap; this
    * says how sure you are: [x_(l), x_(u)] covers the true q-quantile
    * with ~95% confidence REGARDLESS of the distribution, via
    *
    *   l = max(1, ⌊Nq − z·√(Nq(1−q))⌋),  u = min(N, ⌊Nq + z·√(Nq(1−q))⌋ + 1),
    *
    * z = 1.959963984540054. The point estimate is the type-1 quantile
    * x_(⌈Nq⌉). EXACT selection: all three order statistics read off
    * ONE [[graft.ops.PrefixSum.inclusiveAll]] pass over the value
    * table (min value whose cumulative reaches the rank — the rank
    * chain is the one documented double computation, replayable
    * verbatim). NULL row values when N = 0.
    *
    * Scale shape: one value-table aggregate, one prefix-sum pass, a
    * 1-row fold. INTEGRAL-VALUE CONTRACT as the sibling laws here.
    *
    * Output (1 row): (n_rows, k_lo, k_hi, point_value, ci_lo, ci_hi).
    */
  def quantileCi(df: DataFrame, valueCol: String,
      q: Double = 0.5): DataFrame = {
    require(q > 0.0 && q < 1.0, s"q must be in (0,1), got $q")
    val freq = df.filter(col(valueCol).isNotNull)
      .select(col(valueCol).cast("long").as("_v"))
      .groupBy(col("_v")).agg(count(lit(1)).as("_m"))
    val cum = graft.ops.PrefixSum.inclusiveAll(freq, "_v",
      Seq(col("_m") -> "_cum"), withTotals = true)
    val n = col("_cum_total")
    val nD = n.cast("double")
    val h = lit(1.959963984540054) *
      sqrt(nD * lit(q) * (lit(1.0) - lit(q)))
    val rp = ceil(nD * lit(q)).cast("long")
    val kLo = greatest(floor(nD * lit(q) - h).cast("long"), lit(1L))
    val kHi = least(floor(nD * lit(q) + h).cast("long") + lit(1L), n)
    val agg = cum.agg(
      coalesce(max(n), lit(0L)).as("n_rows"),
      max(kLo).as("k_lo"), max(kHi).as("k_hi"),
      min(when(col("_cum") >= rp, col("_v"))).as("point_value"),
      min(when(col("_cum") >= kLo, col("_v"))).as("ci_lo"),
      min(when(col("_cum") >= kHi, col("_v"))).as("ci_hi"))
    agg
  }

  def lorenzDeciles(df: DataFrame, valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dec = "decimal(38,0)"
    val spark = df.sparkSession
    val freq = df
      .filter(col(valueCol).isNotNull && col(valueCol) >= 0L)
      .select(col(valueCol).cast("long").as("_v"))
      .groupBy(col("_v")).agg(count(lit(1)).as("_c"))
    // cumulative counts via a DISTRIBUTED prefix sum over the value table
    // (never a single-task sort); N is a 1-row broadcast total
    val tot = freq.agg(coalesce(sum(col("_c")), lit(0L)).as("_n"))
    val ranked = PrefixSum.inclusive(freq, "_v", col("_c"), "_hi")
      .crossJoin(broadcast(tot))
      .withColumn("_lo", col("_hi") - col("_c"))
    val deciles = spark.range(1, 11).select(col("id").as("decile"))
    val cells = ranked.crossJoin(broadcast(deciles))
      .withColumn("_bd", expr("(decile * _n) div 10"))
      .withColumn("_bp", expr("((decile - 1) * _n) div 10"))
      .withColumn("_k",
        greatest(lit(0L), least(col("_hi"), col("_bd"))
          - greatest(col("_lo"), col("_bp"))))
      .filter(col("_k") > 0L)
    val perDecile = cells.groupBy(col("decile"))
      .agg(sum(col("_k")).as("n_rows"),
        sum((col("_k") * col("_v")).cast(dec)).as("mass"))
    val wCum = Window.orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wTot = Window.orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    perDecile
      .withColumn("_cum", sum(col("mass")).over(wCum))
      .withColumn("_tot", sum(col("mass")).over(wTot))
      .select(col("decile"), col("n_rows"),
        col("mass").cast("long").as("mass"),
        col("_cum").cast("long").as("cum_mass"),
        when(col("_tot") > lit(java.math.BigDecimal.ZERO).cast(dec),
          round(col("_cum").cast("double") / col("_tot").cast("double")
            * 1000000.0).cast("long")).as("cum_share_micro"))
      .orderBy(col("decile"))
  }

  /** Gini coefficient of a non-negative metric (Gini '12) — the single
    * number summarizing [[lorenzDeciles]]'s curve: 0 when every row
    * carries equal mass, →1 when a vanishing fraction carries it all.
    * The corpus-skew headline ("how unequal are document sizes") that
    * the decile curve draws in full.
    *
    * Exact law: value-frequency table (one corpus hash aggregate);
    * ranks 1..n ascending by value via the DISTRIBUTED prefix sum
    * ([[PrefixSum.inclusive]] — never a single-task sort). A tied block
    * at value v with count c occupies ranks lo+1..hi, whose doubled
    * rank sum is hi(hi+1) − lo(lo+1) regardless of internal order
    * (permutation-safe, no division); 2R = Σ_v v·(hi(hi+1) − lo(lo+1))
    * accumulates in DECIMAL(38,0). Then the standard rank form
    *
    *   G = (2·Σᵢ rank_i·x_i − (n+1)·Σx) / (n·Σx) = (2R − (n+1)S)/(nS)
    *
    * is ONE double division, pico-rounded. NULL gini when n = 0 or
    * S = 0 (the curve is undefined over zero mass). NULL and negative
    * values drop (the Lorenz/Gini law is over a non-negative mass).
    *
    * Scale shape: corpus hash aggregate → value table (grows with
    * DISTINCT values — the lorenz posture) → one distributed prefix-sum
    * pass → 1 row. Doubled rank mass is BIGINT in the output: defined
    * while 2R < 2⁶³ (n·max_rank·v — document-length corpora sit far
    * inside; the internal sum stays DECIMAL regardless).
    *
    * Output (1 row): (n_rows, sum_value, two_rank_mass, gini_pico).
    */
  def gini(df: DataFrame, valueCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val freq = df
      .filter(col(valueCol).isNotNull && col(valueCol) >= 0L)
      .select(col(valueCol).cast("long").as("_v"))
      .groupBy(col("_v")).agg(count(lit(1)).as("_c"))
    val ranked = PrefixSum.inclusive(freq, "_v", col("_c"), "_hi")
      .withColumn("_lo", col("_hi") - col("_c"))
    val twoRank = col("_v").cast(dec) *
      (col("_hi").cast(dec) * (col("_hi") + lit(1L)).cast(dec)
        - col("_lo").cast(dec) * (col("_lo") + lit(1L)).cast(dec))
    val zero = lit(java.math.BigDecimal.ZERO).cast(dec)
    ranked
      .agg(coalesce(sum(col("_c")), lit(0L)).as("n_rows"),
        coalesce(sum(col("_v").cast(dec) * col("_c").cast(dec)), zero).as("_s"),
        coalesce(sum(twoRank), zero).as("_r2"))
      .select(col("n_rows"),
        col("_s").cast("long").as("sum_value"),
        col("_r2").cast("long").as("two_rank_mass"),
        // greatest(·, 1): identity whenever the when() fires (n ≥ 1 and
        // S ≥ 1 there) — keeps a CSE-hoisted division off 0/0 → NaN →
        // ANSI long-cast failure
        when(col("n_rows") > 0L && col("_s") > zero,
          round((col("_r2") - (col("n_rows") + lit(1L)).cast(dec) * col("_s"))
            .cast("double")
            / greatest(col("n_rows").cast(dec) * col("_s"),
              lit(java.math.BigDecimal.ONE).cast(dec)).cast("double")
            * lit(1.0e12)).cast("long")).as("gini_pico"))
  }

  /** Hill tail-index estimator (Hill, Ann. Stat. '75) over a positive
    * metric's upper order statistics — the heavy-tail exponent a corpus
    * sizing decision reads (α ≈ 1 means a few giant documents dominate
    * total bytes; α > 2 means the mean is stable): with the top k+1
    * values x₁ ≥ … ≥ x_{k+1} (ties broken by `idCol` — a TOTAL order,
    * so the boundary inside a value plateau is deterministic),
    *
    *   1/α̂ = (1/k)·Σ_{i≤k} ln(x_i / x_{k+1})
    *
    * Law: per-term `round(ln(x_i/x_{k+1})·10¹²)` quantizes BEFORE the
    * integer Σ (the KL discipline); the mean and the final inversion
    * `alpha_milli = round(k·10¹⁵ / Σ)` are each one double step. NULL
    * alpha when the top k+1 values are all equal (Σ = 0 — no tail
    * information, visible NULL) — and no rows when fewer than k+1
    * positive values exist (the estimator is undefined, not zero).
    * Non-positive and NULL values drop (ln needs x > 0).
    *
    * Scale shape: one TakeOrdered (k+1) — never a global sort — then a
    * (k+1)-row local aggregate.
    *
    * Output: ONE row (k, x_tail, sum_ln_excess_pico, alpha_milli).
    */
  def hillTailIndex(df: DataFrame, valueCol: String, idCol: String,
      k: Int = 100): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    val top = df
      .filter(col(valueCol).isNotNull && col(valueCol) > 0L &&
        col(idCol).isNotNull)
      .select(col(valueCol).cast("long").as("_x"), col(idCol).as("_id"))
      .orderBy(col("_x").desc, col("_id"))
      .limit(k + 1)
    import org.apache.spark.sql.expressions.Window
    val ord = Window.orderBy(col("_x").desc, col("_id"))
    val all = ord.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val withTail = top
      .withColumn("_xt", min(col("_x")).over(all))
      .withColumn("_m", count(lit(1)).over(all))
      .withColumn("_rn", row_number().over(ord))
    withTail
      // k EXCESS terms over x_{k+1} require k+1 values to exist — with
      // only k the tail row would join its own excess set (a 0 term and
      // a silently-biased estimate) instead of being the reference
      .filter(col("_m") === (k + 1).toLong && col("_rn") <= k)
      .select(col("_xt"),
        round(log(col("_x").cast("double") / col("_xt").cast("double"))
          * 1.0e12).cast("long").as("_t"))
      .agg(count(lit(1)).as("_n"), max(col("_xt")).as("x_tail"),
        sum(col("_t")).as("sum_ln_excess_pico"))
      .filter(col("_n") === k.toLong)
      .select(lit(k.toLong).as("k"), col("x_tail"),
        col("sum_ln_excess_pico"),
        when(col("sum_ln_excess_pico") > 0L,
          round(lit(k.toDouble) * 1.0e15
            / col("sum_ln_excess_pico").cast("double")).cast("long"))
          .as("alpha_milli"))
  }

  /** Theil T inequality index with its between/within decomposition
    * (Theil '67 — the ADDITIVELY DECOMPOSABLE inequality measure the
    * Gini can't give): T = Σᵢ (xᵢ/X)·ln(xᵢ/μ) over a positive mass
    * column, and per stratum g the exact split
    *
    *   T = T_between + Σ_g (X_g/X)·T_g,
    *   T_between = Σ_g (X_g/X)·ln((X_g/X)/(n_g/n))
    *
    * — "how much of the corpus's byte concentration is BETWEEN sources
    * vs inside them", the report that tells a mixture-reweighting pass
    * whether balancing sources even helps (Lorenz/Gini draw the curve;
    * Theil names the culprit).
    *
    * Exact law (the Lorenz/rankEffect value-table posture): per-stratum
    * value-frequency tables (v, c) — never a corpus sort; each present
    * value's term quantizes ln BEFORE the integer Σ,
    * `Σ_v c·v·round(ln(v·n_g/X_g)·10¹²)` in DECIMAL(38,0), and
    * `theil_pico = round(Σ / X_g)` is ONE double division. Per-stratum
    * rows carry scope = the stratum; three summary rows carry scopes
    * `__all` (the pooled corpus law), `__between` (the between-strata
    * law over the |strata|-row totals table), and `__within`
    * (Σ_g (X_g/X)·T_g over the same quantized per-stratum picos — so
    * between + within reproduces __all up to quantization, which the
    * spec pins). Zero/negative/NULL masses and NULL strata drop (ln
    * needs x > 0).
    *
    * Scale shape: ONE corpus hash aggregate to (stratum, value) cells,
    * hash aggregates over the bounded cell/stratum tables, a ≤3-row
    * union of 1-row aggregates. No windows, no joins beyond broadcast
    * 1-row totals.
    *
    * Output: (scope, n_rows, mass, theil_pico), strata first
    * (alphabetical), then __all/__between/__within.
    */
  def theilIndex(df: DataFrame, valueCol: String,
      stratumCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val cells = df
      .filter(col(stratumCol).isNotNull && col(valueCol).isNotNull &&
        col(valueCol) > 0L)
      .select(col(stratumCol).as("scope"), col(valueCol).cast("long").as("_v"))
      .groupBy(col("scope"), col("_v")).agg(count(lit(1)).as("_c"))
    val strata = cells.groupBy(col("scope"))
      .agg(sum(col("_c")).as("_n"), sum(col("_c").cast(dec) * col("_v")).as("_x"))
    // per-stratum T_g: Σ_v c·v·Q(ln(v·n_g/X_g)), one division by X_g
    val perCell = cells.join(strata, "scope")
      .select(col("scope"), col("_n"), col("_x"),
        (col("_c").cast(dec) * col("_v") *
          round(log(col("_v").cast("double") * col("_n").cast("double")
            / col("_x").cast("double")) * 1.0e12).cast("long").cast(dec))
          .as("_t"))
    val perStratum = perCell.groupBy(col("scope"))
      .agg(max(col("_n")).as("n_rows"), max(col("_x")).as("_mass"),
        sum(col("_t")).as("_ts"))
      .select(col("scope"), col("n_rows"), col("_mass"),
        round(col("_ts").cast("double") / col("_mass").cast("double"))
          .cast("long").as("theil_pico"))
    // pooled __all: same law over the stratum-free value table
    val allCells = cells.groupBy(col("_v")).agg(sum(col("_c")).as("_c"))
    val allTot = allCells.agg(sum(col("_c")).as("_n"),
      sum(col("_c").cast(dec) * col("_v")).as("_x"))
    val allRow = allCells.crossJoin(broadcast(allTot))
      .select(col("_n"), col("_x"),
        (col("_c").cast(dec) * col("_v") *
          round(log(col("_v").cast("double") * col("_n").cast("double")
            / col("_x").cast("double")) * 1.0e12).cast("long").cast(dec))
          .as("_t"))
      .groupBy(col("_n"), col("_x")).agg(sum(col("_t")).as("_ts"))
      .select(lit("__all").as("scope"), col("_n").as("n_rows"),
        col("_x").as("_mass"),
        round(col("_ts").cast("double") / col("_x").cast("double"))
          .cast("long").as("theil_pico"))
    // __between over the |strata|-row totals: Σ_g X_g·Q(ln(X_g·n/(X·n_g)))/X
    val between = strata.crossJoin(broadcast(allTot
        .select(col("_n").as("_na"), col("_x").as("_xa"))))
      .select(col("_na"), col("_xa"),
        (col("_x") * round(log(col("_x").cast("double")
            * col("_na").cast("double")
            / (col("_xa").cast("double") * col("_n").cast("double")))
          * 1.0e12).cast("long").cast(dec)).as("_t"))
      .groupBy(col("_na"), col("_xa")).agg(sum(col("_t")).as("_ts"))
      .select(lit("__between").as("scope"), col("_na").as("n_rows"),
        col("_xa").as("_mass"),
        round(col("_ts").cast("double") / col("_xa").cast("double"))
          .cast("long").as("theil_pico"))
    // __within: Σ_g X_g·T_g_pico / X over the quantized per-stratum picos
    val within = perStratum.crossJoin(broadcast(allTot
        .select(col("_n").as("_na"), col("_x").as("_xa"))))
      .select(col("_na"), col("_xa"),
        (col("_mass") * col("theil_pico").cast(dec)).as("_t"))
      .groupBy(col("_na"), col("_xa")).agg(sum(col("_t")).as("_ts"))
      .select(lit("__within").as("scope"), col("_na").as("n_rows"),
        col("_xa").as("_mass"),
        round(col("_ts").cast("double") / col("_xa").cast("double"))
          .cast("long").as("theil_pico"))
    perStratum.unionByName(allRow).unionByName(between).unionByName(within)
      .select(col("scope"), col("n_rows"), col("_mass").cast("long").as("mass"),
        col("theil_pico"))
      .orderBy(col("scope"))
  }

  /** Decile QQ table between two slices of one metric — the
    * distribution-comparison DIAGNOSTIC behind the drift statistics: a
    * KS/CvM/AD number says the slices differ; the QQ gaps say WHERE
    * (a positive gap at q90 but not q50 = the A side is longer-tailed,
    * not shifted). One row per inner decile with both exact
    * interpolated quantiles (the `percentile`/`quantile_cont` parity
    * the percentile rows pin) and their gap.
    *
    * Scale shape: ONE aggregate computes both sides' 9-point quantile
    * arrays (conditional inputs, NULLs ignored by `percentile`), then a
    * 9-row explode — no window, no join.
    *
    * Output: (q_centi, v_a, v_b, gap = v_a − v_b), ordered by q_centi;
    * a side with no rows yields NULL quantiles (and NULL gaps).
    */
  def qqTable(df: DataFrame, valueCol: String, isACol: String): DataFrame = {
    val arr = (1 to 9).map(i => s"${i / 10.0}").mkString("array(", ", ", ")")
    val base = df.filter(col(valueCol).isNotNull && col(isACol).isNotNull)
    base.agg(
        expr(s"percentile(CASE WHEN $isACol THEN $valueCol END, $arr)")
          .as("_qa"),
        expr(s"percentile(CASE WHEN NOT $isACol THEN $valueCol END, $arr)")
          .as("_qb"))
      .select(explode(sequence(lit(1), lit(9))).as("_i"),
        col("_qa"), col("_qb"))
      .select((col("_i") * 10L).cast("long").as("q_centi"),
        element_at(col("_qa"), col("_i")).as("v_a"),
        element_at(col("_qb"), col("_i")).as("v_b"))
      .withColumn("gap", col("v_a") - col("v_b"))
      .orderBy(col("q_centi"))
  }
}
