package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFns

/** Corpus-drift monitoring: how far each stratum's unigram distribution
  * sits from the pooled corpus distribution, as an EXACT total-variation
  * distance — the pipeline-operability signal for "this source/snapshot no
  * longer looks like the corpus" (mixture shift, a scraper gone wrong, a
  * domain flooding the crawl).
  *
  * TV is chosen over KL/Jensen-Shannon deliberately, the
  * [[graft.functions.TextFns.simpsonScala]] precedent: TV(P,Q) =
  * ½·Σ_t |p_t − q_t| needs NO libm — with integer token counts the
  * numerator is the exact integer Σ_t |c_st·N − c_t·N_s|, so both engines
  * compute the same BIGINT-exact sum and ONE double division renders the
  * statistic. KL would demand per-term ln() quantization (the DSIR
  * discipline) for a metric that is unbounded and asymmetric anyway; TV is
  * symmetric, bounded in [0,1], and admits the exact law.
  *
  * Union-of-vocabulary handling without a stratum×vocab blow-up: split the
  * sum at stratum membership. For tokens present in the stratum the term is
  * |c_st·N − c_t·N_s|; tokens absent from the stratum (c_st = 0) contribute
  * Σ_{t∉s} c_t·N_s = N_s·(N − Σ_{t∈s} c_t) — a per-stratum rearrangement of
  * already-aggregated numbers, so the computed frame stays exactly one row
  * per (stratum, token) OBSERVED pair.
  *
  * Scale shape: one narrow tokenize+explode, one hash aggregate on
  * (stratum, token), one re-aggregation to token totals (no corpus rescan),
  * one hash equi-join keyed on the token, and broadcasts of the bounded
  * per-stratum count frame (|strata| rows) and the 1-row corpus total.
  * Nothing is quadratic; no driver state. Products are computed in
  * DECIMAL(38,0) (HUGEINT on the oracle side): at scale, c_t·N_s can pass
  * 2^63 (c_t ≤ N ≈ 10^13 ⇒ products ≤ 10^26), which int64 cannot hold but
  * 38 digits can.
  */
object Drift {

  /** Per-stratum exact TV distance to the pooled corpus unigram
    * distribution. Output: (stratumCol, n_tokens, vocab_s, tv_drift) for
    * every stratum with at least one token ([[TextFns.tokens]] law:
    * NULL/blank text yields no tokens, so token-free strata are absent by
    * the same rule on both engines). `vocab_s` is the stratum's distinct
    * token count; `tv_drift` ∈ [0,1] is rendered by one double division of
    * exact integers (2.0·N_s·N evaluated left-to-right on both engines).
    */
  def tvDrift(df: DataFrame, stratumCol: String, textCol: String): DataFrame = {
    val cst = stratumTokenCounts(df, stratumCol, textCol)
    // token totals re-aggregate the (stratum, token) counts — no second
    // pass over the corpus text
    val ct = cst.groupBy("_t").agg(sum(col("c_st")).as("c_t"))
    tvAgainstCounts(cst, ct, stratumCol)
  }

  /** [[tvDrift]] against a PERSISTED reference distribution
    * ([[RefStore.writeTokenCounts]] / mergeTokenCounts) — the monitoring
    * form: the baseline corpus tokenizes once per store commit; each
    * ingest batch tokenizes only ITSELF and scores its strata against the
    * loaded counts. Tokens absent from the reference contribute their full
    * stratum mass (the left-join-coalesce leg of the shared core), so a
    * batch from a genuinely foreign distribution reads near 1.0 — exactly
    * the alarm the operator wants.
    */
  def tvDriftStored(df: DataFrame, stratumCol: String, textCol: String,
      storeDir: String): DataFrame = {
    val ct = RefStore.loadTokenCounts(df.sparkSession, storeDir)
      .select(col("_t"), col("c_t"))
    tvAgainstCounts(stratumTokenCounts(df, stratumCol, textCol), ct, stratumCol)
  }

  /** One batch's (_t, _c) token counts — the count-family commit unit
    * ([[RefStore.mergeTokenCounts]]); partial counts re-SUM exactly.
    */
  private[ops] def tokenCounts(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(TextFns.tokens(col(textCol))).as("_t"))
      .groupBy("_t").agg(count(lit(1)).as("_c"))

  private def stratumTokenCounts(df: DataFrame, stratumCol: String,
      textCol: String): DataFrame =
    df.select(col(stratumCol).cast("string").as("_s"),
        explode(TextFns.tokens(col(textCol))).as("_t"))
      .groupBy("_s", "_t").agg(count(lit(1)).as("c_st"))

  /** The shared scoring core of the pooled and stored forms: per-stratum
    * exact TV between the stratum distribution (from `cst`) and the
    * reference distribution (`ct`, whose total defines N). The token join
    * is LEFT with a 0-coalesce: a stratum token absent from the reference
    * still contributes its full |c_st·N − 0| term (in the pooled form the
    * left join is vacuously inner — every stratum token is in the corpus).
    */
  private def tvAgainstCounts(cst: DataFrame, ct: DataFrame,
      stratumCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val ns = cst.groupBy("_s").agg(sum(col("c_st")).as("n_s"))
    val nTot = ct.agg(sum(col("c_t")).as("n_tot"))
    val agg = cst
      .join(ct, Seq("_t"), "left")
      .join(broadcast(ns), "_s")
      .crossJoin(broadcast(nTot))
      .groupBy(col("_s"), col("n_s"), col("n_tot"))
      .agg(
        sum(abs(col("c_st").cast(dec) * col("n_tot").cast(dec)
          - coalesce(col("c_t"), lit(0L)).cast(dec) * col("n_s").cast(dec)))
          .as("_pnum"),
        sum(coalesce(col("c_t"), lit(0L)).cast(dec)).as("_ctp"),
        count(lit(1)).as("vocab_s"))
    agg.select(
      col("_s").as(stratumCol),
      col("n_s").as("n_tokens"),
      col("vocab_s"),
      ((col("_pnum") + col("n_s").cast(dec) *
        (col("n_tot").cast(dec) - col("_ctp"))).cast("double") /
        (lit(2.0) * col("n_s").cast("double") * col("n_tot").cast("double")))
        .as("tv_drift"))
  }

  /** Per-stratum entropy + KL divergence to the REST of the corpus — the
    * libm-bearing complement to [[tvDrift]] (whose scaladoc argues TV for
    * the no-libm screen; KL is still what mixture design reads when the
    * QUESTION is information-theoretic: "how many extra nats does encoding
    * source s with the rest-of-corpus model cost?"). Made engine-exact by
    * the DSIR discipline the tvDrift note anticipates: every per-token
    * term is ONE fixed IEEE chain quantized to pico-units
    * (`round(term · 1e12)` BIGINT), so the Σ is an exact integer sum —
    * order-independent, hash-comparable.
    *
    * Law (lowercased-token law, the LM/vocab family): with c_st the
    * stratum's count of token t, c_t the corpus count, N_s / N the totals
    * and V the corpus vocabulary, add-one smoothing over the CORPUS
    * vocabulary support gives p_t = (c_st+1)/(N_s+V) and rest-side
    * q_t = ((c_t−c_st)+1)/((N−N_s)+V); then
    * `entropy_pico = Σ round((−p·ln p)·1e12)` and
    * `kl_pico = Σ round((p·(ln p − ln q))·1e12)`.
    *
    * Scale shape: one tokenize pass → one (stratum, token) hash aggregate;
    * the smoothing support is strata × corpus-VOCABULARY (never the
    * corpus) — a broadcast-nested-loop of the |strata|-row frame against
    * the token count table, then one hash aggregate back to |strata| rows.
    *
    * Output: (stratum, n_toks, v, entropy_pico, kl_pico).
    */
  def sourceKlReport(df: DataFrame, stratumCol: String,
      textCol: String): DataFrame = {
    val toks = df.filter(col(stratumCol).isNotNull)
      .select(col(stratumCol).as("stratum"),
        explode(TextFns.tokens(lower(col(textCol).cast("string")))).as("_t"))
    val cst = toks.groupBy(col("stratum"), col("_t"))
      .agg(count(lit(1)).as("_c"))
    val ct = cst.groupBy(col("_t")).agg(sum(col("_c")).as("_ct"))
    val ns = cst.groupBy(col("stratum")).agg(sum(col("_c")).as("_ns"))
    val glob = ct.agg(sum(col("_ct")).as("_n"), count(lit(1)).as("_v"))
    val p = (col("_c") + 1L).cast("double") /
      (col("_ns") + col("_v")).cast("double")
    val q = ((col("_ct") - col("_c")) + 1L).cast("double") /
      ((col("_n") - col("_ns")) + col("_v")).cast("double")
    broadcast(ns).crossJoin(ct)
      .join(cst, Seq("stratum", "_t"), "left")
      .na.fill(0L, Seq("_c"))
      .crossJoin(broadcast(glob))
      .withColumn("_ent", round(((-p) * log(p)) * 1000000000000.0).cast("long"))
      .withColumn("_kl", round((p * (log(p) - log(q))) * 1000000000000.0).cast("long"))
      .groupBy(col("stratum"))
      .agg(first(col("_ns")).as("n_toks"), first(col("_v")).as("v"),
        sum(col("_ent")).as("entropy_pico"), sum(col("_kl")).as("kl_pico"))
  }

  /** Exact two-sample Kolmogorov–Smirnov distance per stratum vs the rest
    * of the corpus, over an integer metric column — the NUMERIC
    * distribution-shift screen beside [[tvDrift]]'s lexical one (a source
    * whose document-length distribution walks away from the corpus is
    * drifting even when its vocabulary has not). KS needs no libm: the
    * sup of |F_s − F_r| over a step function is attained at observed
    * values, each |·| term is the exact integer cross-multiplication
    * `|cum_s·n_r − cum_r·n_s|` (DECIMAL(38,0)/HUGEINT — counts past 2^31
    * make the product pass 2^63, the [[tvDrift]] overflow note), and ONE
    * double division renders the statistic.
    *
    * Scale shape: one hash aggregate to (stratum, value) counts — the
    * support is strata × DISTINCT metric values, never the corpus. The
    * global-per-value cumulative runs on [[PrefixSum.inclusive]]
    * (range-repartition → pid-partitioned window → ≤shuffle.partitions-
    * row offsets broadcast), so an arbitrarily wide value domain
    * distributes instead of funneling one task — the r15 guard
    * (`maxDistinctValues` + in-plan assert) is RETIRED; quantizing a
    * continuous metric upstream remains a sound cost lever (KS of the
    * rounded distributions is still exact) but is no longer a
    * correctness ceiling. The remaining per-stratum cumulative window
    * partitions by stratum: each stratum's support sorts in its own
    * task, parallel across strata (the [[wasserstein1]] posture).
    *
    * Output: (stratum, n, n_rest, ks) — strata with an empty rest side
    * (single-stratum corpus) report NULL ks (undefined, not 0).
    */
  def ksDrift(df: DataFrame, stratumCol: String,
      valueCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val cnt = df.filter(col(stratumCol).isNotNull && col(valueCol).isNotNull)
      .groupBy(col(stratumCol).as("stratum"),
        col(valueCol).cast("long").as("_v"))
      .agg(count(lit(1)).as("_c"))
    val ns = cnt.groupBy(col("stratum")).agg(sum(col("_c")).as("_ns"))
    val vals = cnt.groupBy(col("_v")).agg(sum(col("_c")).as("_cv"))
    val valsCum = PrefixSum.inclusive(vals, "_v", col("_cv"), "_cumAll")
      .select(col("_v"), col("_cumAll"))
    val wS = org.apache.spark.sql.expressions.Window
      .partitionBy(col("stratum")).orderBy(col("_v"))
    val support = broadcast(ns).crossJoin(valsCum)
      .join(cnt, Seq("stratum", "_v"), "left")
      .na.fill(0L, Seq("_c"))
      .withColumn("_cumS", sum(col("_c")).over(wS))
    val totals = ns.agg(sum(col("_ns")).as("_n"))
    support.crossJoin(broadcast(totals))
      .withColumn("_cumR", col("_cumAll") - col("_cumS"))
      .withColumn("_nr", col("_n") - col("_ns"))
      .withColumn("_term",
        abs(col("_cumS").cast(dec) * col("_nr").cast(dec) -
          col("_cumR").cast(dec) * col("_ns").cast(dec)))
      .groupBy(col("stratum"))
      .agg(first(col("_ns")).as("n"), first(col("_nr")).as("n_rest"),
        max(col("_term")).as("_num"))
      .withColumn("ks",
        when(col("n_rest") > 0L,
          col("_num").cast("double") /
            (col("n").cast(dec) * col("n_rest").cast(dec)).cast("double")))
      .select(col("stratum"), col("n"), col("n_rest"), col("ks"))
  }

  /** Exact two-sample Kuiper statistic per stratum vs the rest (Kuiper
    * '60) — [[ksDrift]]'s tail-sensitive sibling: KS reads sup|F_s−F_r|,
    * Kuiper reads V = sup(F_s−F_r) + sup(F_r−F_s), so a stratum whose
    * distribution is SHIFTED IN SPREAD (one tail above, the other
    * below — the median-preserving drift KS half-sees) scores both
    * excursions. Same support, same scaffold, same exact integers: the
    * signed term cum_s·n_r − cum_r·n_s maxes twice (once negated — both
    * sups are ≥ 0 since the term ends at 0), and V divides once by
    * n_s·n_r. NULL when the rest is empty.
    *
    * Scale shape: identical to [[ksDrift]] — one (stratum, value) hash
    * aggregate, the pooled cumulative on the distributed prefix sum,
    * per-stratum windows over each stratum's observed values, one
    * |strata|-row output.
    *
    * Output: (stratum, n, n_rest, d_plus, d_minus, kuiper) — d_plus /
    * d_minus are the exact integer numerators (×n_s·n_r).
    *
    * BOUNDED-STRATA LAW (enforced, not assumed): the support crossJoin
    * replicates the pooled value table once per stratum, so the plan is
    * bounded only if the stratum axis is. A TakeOrdered(maxStrata+1)
    * probe makes an unbounded axis fail the require before the
    * crossJoin ever runs — the [[graft.ops.Eval]] classCumulants
    * discipline.
    */
  def kuiperDrift(df: DataFrame, stratumCol: String,
      valueCol: String, maxStrata: Int = 64): DataFrame = {
    val dec = "decimal(38,0)"
    val cnt = df.filter(col(stratumCol).isNotNull && col(valueCol).isNotNull)
      .groupBy(col(stratumCol).as("stratum"),
        col(valueCol).cast("long").as("_v"))
      .agg(count(lit(1)).as("_c"))
    val ns = cnt.groupBy(col("stratum")).agg(sum(col("_c")).as("_ns"))
    val probe = ns.select(col("stratum"))
      .orderBy(col("stratum")).limit(maxStrata + 1).collect()
    require(probe.length <= maxStrata,
      s"kuiperDrift: stratum column exceeds $maxStrata distinct values — " +
        "the per-stratum support crossJoin needs a bounded stratum axis; " +
        "bin the column or raise maxStrata")
    val vals = cnt.groupBy(col("_v")).agg(sum(col("_c")).as("_cv"))
    val valsCum = PrefixSum.inclusive(vals, "_v", col("_cv"), "_cumAll")
      .select(col("_v"), col("_cumAll"))
    val wS = org.apache.spark.sql.expressions.Window
      .partitionBy(col("stratum")).orderBy(col("_v"))
    val support = broadcast(ns).crossJoin(valsCum)
      .join(cnt, Seq("stratum", "_v"), "left")
      .na.fill(0L, Seq("_c"))
      .withColumn("_cumS", sum(col("_c")).over(wS))
    val totals = ns.agg(sum(col("_ns")).as("_n"))
    support.crossJoin(broadcast(totals))
      .withColumn("_cumR", col("_cumAll") - col("_cumS"))
      .withColumn("_nr", col("_n") - col("_ns"))
      .withColumn("_term",
        col("_cumS").cast(dec) * col("_nr").cast(dec) -
          col("_cumR").cast(dec) * col("_ns").cast(dec))
      .groupBy(col("stratum"))
      .agg(first(col("_ns")).as("n"), first(col("_nr")).as("n_rest"),
        max(col("_term")).as("_dp"), max(negate(col("_term"))).as("_dm"))
      .select(col("stratum"), col("n"), col("n_rest"),
        col("_dp").cast("long").as("d_plus"),
        col("_dm").cast("long").as("d_minus"),
        when(col("n_rest") > 0L,
          (col("_dp") + col("_dm")).cast("double") /
            (col("n").cast(dec) * col("n_rest").cast(dec)).cast("double"))
          .as("kuiper"))
  }

  /** Exact two-sample Cramér–von Mises statistic per stratum vs the rest
    * (Anderson '62 two-sample form) — the WHOLE-CURVE companion of
    * [[ksDrift]]'s sup law: KS reads only the worst point of
    * |F_s − F_r|; CvM integrates the squared gap over the pooled
    * sample, so a distribution that deviates a little EVERYWHERE (the
    * slow-drift failure mode a sup misses) scores. Same support, same
    * scaffold, same quantize-upstream cost lever:
    *
    *   T = Σ_v c_v·(cum_s·n_r − cum_r·n_s)² / (n_s·n_r·N²)
    *
    * with c_v the pooled count at distinct value v — the classic
    * ω² = (n·m/N²)·Σ(F−G)² with the tie-weighted sum over the pooled
    * points, cleared of fractions: every factor is an exact
    * DECIMAL(38,0) integer and ONE double division renders T.
    *
    * Scale shape: identical to [[ksDrift]] — one (stratum, value) hash
    * aggregate, the global cumulative on [[PrefixSum.inclusive]], one
    * per-stratum partitioned window, bounded by strata × distinct
    * values. Output: (stratum, n, n_rest, cvm); single-stratum corpora
    * report NULL.
    */
  def cvmDrift(df: DataFrame, stratumCol: String,
      valueCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val cnt = df.filter(col(stratumCol).isNotNull && col(valueCol).isNotNull)
      .groupBy(col(stratumCol).as("stratum"),
        col(valueCol).cast("long").as("_v"))
      .agg(count(lit(1)).as("_c"))
    val ns = cnt.groupBy(col("stratum")).agg(sum(col("_c")).as("_ns"))
    val vals = cnt.groupBy(col("_v")).agg(sum(col("_c")).as("_cv"))
    val valsCum = PrefixSum.inclusive(vals, "_v", col("_cv"), "_cumAll")
      .select(col("_v"), col("_cv"), col("_cumAll"))
    val wS = org.apache.spark.sql.expressions.Window
      .partitionBy(col("stratum")).orderBy(col("_v"))
    val support = broadcast(ns).crossJoin(valsCum)
      .join(cnt, Seq("stratum", "_v"), "left")
      .na.fill(0L, Seq("_c"))
      .withColumn("_cumS", sum(col("_c")).over(wS))
    val totals = ns.agg(sum(col("_ns")).as("_n"))
    val d = (col("_cumS").cast(dec) * col("_nr").cast(dec) -
      col("_cumR").cast(dec) * col("_ns").cast(dec))
    support.crossJoin(broadcast(totals))
      .withColumn("_cumR", col("_cumAll") - col("_cumS"))
      .withColumn("_nr", col("_n") - col("_ns"))
      .withColumn("_t", col("_cv").cast(dec) * d * d)
      .groupBy(col("stratum"))
      .agg(first(col("_ns")).as("n"), first(col("_nr")).as("n_rest"),
        first(col("_n")).as("_nt"), sum(col("_t")).as("_num"))
      .withColumn("cvm",
        when(col("n_rest") > 0L,
          col("_num").cast("double") /
            (col("n").cast(dec) * col("n_rest").cast(dec)
              * col("_nt").cast(dec) * col("_nt").cast(dec)).cast("double")))
      .select(col("stratum"), col("n"), col("n_rest"), col("cvm"))
  }

  /** Two-sample Anderson–Darling statistic per stratum vs the rest
    * (Pettitt, Biometrika '76) — the TAIL-weighted member of the
    * [[ksDrift]]/[[cvmDrift]] family: each pooled point's squared CDF
    * gap is weighted by 1/(F_pool·(1−F_pool)), so divergence in the
    * distribution's TAILS (where F(1−F) → 0) scores hardest — the
    * screen for a source whose extremes drift while its bulk holds
    * (truncation, clipping, outlier injection).
    *
    * Law over distinct values (ties weighted by pooled count c_v; the
    * last pooled value drops — F(1−F) = 0 there, per the classic
    * N−1-term sum):
    *
    *   A² = (1/(n_s·n_r)) Σ_{v: cum(v)<N} c_v·D_v² / (cum(v)·(N−cum(v)))
    *
    * with D_v = cum_s·n_r − cum_r·n_s (the shared integer
    * cross-multiplication). Per-value terms are ONE pinned double chain
    * micro-quantized BEFORE the exact DECIMAL Σ (unlike [[cvmDrift]]
    * the per-value denominators can't clear to a common integer), so
    * `ad_micro` is an exact BIGINT both engines replay. Same scaffold:
    * one (stratum, value) aggregate, [[PrefixSum.inclusive]] cumulative,
    * per-stratum partitioned window. Single-stratum corpora → NULL.
    *
    * Output: (stratum, n, n_rest, ad_micro).
    */
  def adDrift(df: DataFrame, stratumCol: String,
      valueCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val cnt = df.filter(col(stratumCol).isNotNull && col(valueCol).isNotNull)
      .groupBy(col(stratumCol).as("stratum"),
        col(valueCol).cast("long").as("_v"))
      .agg(count(lit(1)).as("_c"))
    val ns = cnt.groupBy(col("stratum")).agg(sum(col("_c")).as("_ns"))
    val vals = cnt.groupBy(col("_v")).agg(sum(col("_c")).as("_cv"))
    val valsCum = PrefixSum.inclusive(vals, "_v", col("_cv"), "_cumAll")
      .select(col("_v"), col("_cv"), col("_cumAll"))
    val wS = org.apache.spark.sql.expressions.Window
      .partitionBy(col("stratum")).orderBy(col("_v"))
    val support = broadcast(ns).crossJoin(valsCum)
      .join(cnt, Seq("stratum", "_v"), "left")
      .na.fill(0L, Seq("_c"))
      .withColumn("_cumS", sum(col("_c")).over(wS))
    val totals = ns.agg(sum(col("_ns")).as("_n"))
    val d = (col("_cumS").cast(dec) * col("_nr").cast(dec) -
      col("_cumR").cast(dec) * col("_ns").cast(dec))
    val nD = col("_n").cast("double")
    // greatest(·, 1) clamps: at the excluded last value (and for an
    // empty rest side) the raw denominators are 0 and ANSI's hoisted
    // division would throw before the when() guard; in the kept regime
    // (cumAll < N, nr > 0) both clamps are the identity, so the pinned
    // chain — and the oracle, which guards with a lazy CASE — match.
    val termMicro = round(
      col("_cv").cast("double") * col("_d").cast("double")
        * col("_d").cast("double")
        / greatest(col("_cumAll").cast("double")
          * (nD - col("_cumAll").cast("double")), lit(1.0))
        / greatest(col("_ns").cast("double") * col("_nr").cast("double"),
          lit(1.0))
        * lit(1.0e6)).cast("long")
    support.crossJoin(broadcast(totals))
      .withColumn("_cumR", col("_cumAll") - col("_cumS"))
      .withColumn("_nr", col("_n") - col("_ns"))
      .withColumn("_d", d)
      .withColumn("_t",
        when(col("_cumAll") < col("_n") && col("_nr") > 0L,
          termMicro).otherwise(lit(0L)))
      .groupBy(col("stratum"))
      .agg(first(col("_ns")).as("n"), first(col("_nr")).as("n_rest"),
        sum(col("_t").cast(dec)).as("_sum"))
      .select(col("stratum"), col("n"), col("n_rest"),
        when(col("n_rest") > 0L, col("_sum").cast("long")).as("ad_micro"))
  }

  /** Population Stability Index per stratum vs the rest of the corpus,
    * over an integer metric binned by `binWidth` — THE industry-standard
    * numeric drift screen beside [[ksDrift]]'s sup-law (PSI weights the
    * whole distribution, KS only the worst point; monitoring stacks
    * conventionally alarm at PSI > 0.1/0.25). Engine-exact by the
    * [[sourceKlReport]] discipline: bins are explicit FLOOR division
    * (`(v − pmod(v, w)) div w`, exact for negative metrics too — the
    * cohort-week law), counts are exact integers, add-one smoothing over
    * the OBSERVED bin support B gives p_b = (c_sb+1)/(N_s+B) and
    * rest-side q_b = ((c_b−c_sb)+1)/((N−N_s)+B), and each term
    * `round(((p−q)·(ln p − ln q))·1e12)` quantizes to picos BEFORE the
    * sum — so `psi_pico` is an exact BIGINT both engines replay
    * bit-for-bit. Terms are ≥ 0 (sign(p−q) == sign(ln p − ln q)), so the
    * statistic is a true divergence; binning upstream of the law keeps
    * the support bounded the same way [[ksDrift]]'s quantize-upstream
    * contract does — B is observed bins, never the corpus.
    *
    * Scale shape: one narrow binning pass → one (stratum, bin) hash
    * aggregate; the smoothing support is strata × observed bins (a
    * broadcast-nested-loop of the |strata|-row frame against the bin
    * count table), then one hash aggregate back to |strata| rows.
    *
    * Output: (stratum, n, n_rest, n_bins, psi_pico), one row per
    * stratum with at least one non-NULL metric value.
    */
  def psiDrift(df: DataFrame, stratumCol: String, valueCol: String,
      binWidth: Long = 100L): DataFrame = {
    require(binWidth > 0, s"binWidth must be positive, got $binWidth")
    val vb = df.filter(col(stratumCol).isNotNull && col(valueCol).isNotNull)
      .select(col(stratumCol).as("stratum"),
        expr(s"(CAST($valueCol AS BIGINT) - pmod(CAST($valueCol AS BIGINT), " +
          s"${binWidth}L)) div ${binWidth}L").as("_b"))
    val csb = vb.groupBy(col("stratum"), col("_b")).agg(count(lit(1)).as("_c"))
    val cb = csb.groupBy(col("_b")).agg(sum(col("_c")).as("_cb"))
    val ns = csb.groupBy(col("stratum")).agg(sum(col("_c")).as("_ns"))
    val glob = cb.agg(sum(col("_cb")).as("_n"), count(lit(1)).as("_nb"))
    val p = (col("_c") + 1L).cast("double") /
      (col("_ns") + col("_nb")).cast("double")
    val q = ((col("_cb") - col("_c")) + 1L).cast("double") /
      ((col("_n") - col("_ns")) + col("_nb")).cast("double")
    broadcast(ns).crossJoin(cb)
      .join(csb, Seq("stratum", "_b"), "left")
      .na.fill(0L, Seq("_c"))
      .crossJoin(broadcast(glob))
      .withColumn("_term",
        round(((p - q) * (log(p) - log(q))) * 1000000000000.0).cast("long"))
      .groupBy(col("stratum"))
      .agg(first(col("_ns")).as("n"),
        first(col("_n") - col("_ns")).as("n_rest"),
        first(col("_nb")).as("n_bins"),
        // a single-stratum corpus has NO rest distribution to drift
        // from: the smoothed q collapses to uniform-over-bins and the
        // score would look valid while measuring nothing — report NULL
        // (with n_rest = 0 kept), the ksDrift empty-rest convention
        when(first(col("_n") - col("_ns")) > 0L, sum(col("_term")))
          .as("psi_pico"))
  }

  /** Bhattacharyya coefficient + Hellinger distance per stratum vs the
    * rest (Bhattacharyya '43; Hellinger H = √(1 − BC)) over the binned
    * metric — the OVERLAP view of the [[psiDrift]]/[[jsDrift]] family:
    * BC = Σ√(p_b·q_b) reads how much of the two distributions' mass
    * coincides (1 = identical, → 0 = disjoint), and H is a true
    * bounded METRIC on distributions — the form threshold policies and
    * triangle-inequality arguments want.
    *
    * Same engine-exact scaffold as [[psiDrift]]: floor-division bins,
    * add-one smoothing over the observed support B, per-bin term
    * `round(√(p·q)·10¹²)` quantized to picos BEFORE the integer Σ;
    * `hellinger_pico` is one further pinned chain
    * `round(√(max(1 − BC, 0))·10¹²)` off the summed coefficient. NULL
    * on an empty rest side (the family convention).
    *
    * Output: (stratum, n, n_rest, n_bins, bc_pico, hellinger_pico).
    */
  def bhattacharyyaDrift(df: DataFrame, stratumCol: String,
      valueCol: String, binWidth: Long = 100L): DataFrame = {
    require(binWidth > 0, s"binWidth must be positive, got $binWidth")
    val vb = df.filter(col(stratumCol).isNotNull && col(valueCol).isNotNull)
      .select(col(stratumCol).as("stratum"),
        expr(s"(CAST($valueCol AS BIGINT) - pmod(CAST($valueCol AS BIGINT), " +
          s"${binWidth}L)) div ${binWidth}L").as("_b"))
    val csb = vb.groupBy(col("stratum"), col("_b")).agg(count(lit(1)).as("_c"))
    val cb = csb.groupBy(col("_b")).agg(sum(col("_c")).as("_cb"))
    val ns = csb.groupBy(col("stratum")).agg(sum(col("_c")).as("_ns"))
    val glob = cb.agg(sum(col("_cb")).as("_n"), count(lit(1)).as("_nb"))
    val p = (col("_c") + 1L).cast("double") /
      (col("_ns") + col("_nb")).cast("double")
    val q = ((col("_cb") - col("_c")) + 1L).cast("double") /
      ((col("_n") - col("_ns")) + col("_nb")).cast("double")
    broadcast(ns).crossJoin(cb)
      .join(csb, Seq("stratum", "_b"), "left")
      .na.fill(0L, Seq("_c"))
      .crossJoin(broadcast(glob))
      .withColumn("_term", round(sqrt(p * q) * 1000000000000.0).cast("long"))
      .groupBy(col("stratum"))
      .agg(first(col("_ns")).as("n"),
        first(col("_n") - col("_ns")).as("n_rest"),
        first(col("_nb")).as("n_bins"),
        when(first(col("_n") - col("_ns")) > 0L, sum(col("_term")))
          .as("bc_pico"))
      .withColumn("hellinger_pico",
        when(col("bc_pico").isNotNull,
          round(sqrt(greatest(lit(1.0)
            - col("bc_pico").cast("double") / lit(1.0e12), lit(0.0)))
            * lit(1.0e12)).cast("long")))
  }

  /** Jensen-Shannon divergence per stratum vs the rest of the corpus over
    * a binned integer metric — the SYMMETRIC, bounded companion of
    * [[psiDrift]] (Lin, IEEE-IT '91): `JSD(p‖q) = ½KL(p‖m) + ½KL(q‖m)`
    * with `m = (p+q)/2`, always in `[0, ln 2]`, finite even where one
    * side has zero mass — the divergence monitoring stacks report when
    * PSI's unbounded tail makes thresholds awkward (√JSD is a metric).
    *
    * Same engine-exact scaffold as [[psiDrift]]: floor-division bins,
    * add-one smoothing over the OBSERVED support B, per-bin term
    * `round((½·p·(ln(2p) − ln(p+q)) + ½·q·(ln(2q) − ln(p+q)))·1e12)`
    * quantized to picos BEFORE the integer Σ — `jsd_pico` replays
    * bit-for-bit in any engine. NULL on an empty rest side (the
    * [[ksDrift]]/[[psiDrift]] convention).
    *
    * Scale shape: identical to [[psiDrift]] — one narrow binning pass,
    * one (stratum, bin) hash aggregate, a |strata|×B broadcast-nested
    * loop, one aggregate back to |strata| rows.
    *
    * Output: (stratum, n, n_rest, n_bins, jsd_pico).
    */
  def jsDrift(df: DataFrame, stratumCol: String, valueCol: String,
      binWidth: Long = 100L): DataFrame = {
    require(binWidth > 0, s"binWidth must be positive, got $binWidth")
    val vb = df.filter(col(stratumCol).isNotNull && col(valueCol).isNotNull)
      .select(col(stratumCol).as("stratum"),
        expr(s"(CAST($valueCol AS BIGINT) - pmod(CAST($valueCol AS BIGINT), " +
          s"${binWidth}L)) div ${binWidth}L").as("_b"))
    val csb = vb.groupBy(col("stratum"), col("_b")).agg(count(lit(1)).as("_c"))
    val cb = csb.groupBy(col("_b")).agg(sum(col("_c")).as("_cb"))
    val ns = csb.groupBy(col("stratum")).agg(sum(col("_c")).as("_ns"))
    val glob = cb.agg(sum(col("_cb")).as("_n"), count(lit(1)).as("_nb"))
    val p = (col("_c") + 1L).cast("double") /
      (col("_ns") + col("_nb")).cast("double")
    val q = ((col("_cb") - col("_c")) + 1L).cast("double") /
      ((col("_n") - col("_ns")) + col("_nb")).cast("double")
    broadcast(ns).crossJoin(cb)
      .join(csb, Seq("stratum", "_b"), "left")
      .na.fill(0L, Seq("_c"))
      .crossJoin(broadcast(glob))
      .withColumn("_term",
        round((lit(0.5) * (p * (log(lit(2.0) * p) - log(p + q))) +
          lit(0.5) * (q * (log(lit(2.0) * q) - log(p + q))))
          * 1000000000000.0).cast("long"))
      .groupBy(col("stratum"))
      .agg(first(col("_ns")).as("n"),
        first(col("_n") - col("_ns")).as("n_rest"),
        first(col("_nb")).as("n_bins"),
        when(first(col("_n") - col("_ns")) > 0L, sum(col("_term")))
          .as("jsd_pico"))
  }

  /** 1-Wasserstein (earth-mover) distance per stratum vs the rest of the
    * corpus over a binned integer metric — the drift statistic that
    * knows HOW FAR mass moved, not just that it moved (Ramdas, García
    * Trillos & Cuturi, Entropy '17 survey: for 1-D distributions
    * `W₁ = ∫|F_p − F_q|`): PSI/JS score a one-bin shift and a
    * ten-bin shift identically; W₁ reports the shift in VALUE units,
    * which is what a "mean length drifted by ~300 chars" alarm wants.
    *
    * Exact law (no smoothing — W₁ is finite on disjoint supports): with
    * per-bin cumulative counts `S_b` (stratum, total n_s) and `R_b`
    * (rest, total n_r), the CDF difference at bin b is
    * `|S_b·n_r − R_b·n_s| / (n_s·n_r)` — an exact integer numerator —
    * and between consecutive OBSERVED bins the CDFs are constant, so
    * `W₁·n_s·n_r = Σ_b gap(b)·binWidth·|S_b·n_r − R_b·n_s|` is one
    * exact DECIMAL(38,0) integer; the statistic is then a single
    * `round(raw / (n_s·n_r) · 1e6)` double chain (micro VALUE units).
    * NULL on an empty rest side (the [[ksDrift]] convention).
    *
    * Scale shape: one narrow binning pass → one (stratum, bin) hash
    * aggregate; the cumulative window runs over the |strata| × observed-
    * bins grid (PARTITION BY stratum — bounded by B, never corpus rows,
    * the same support contract as [[psiDrift]]).
    *
    * Output: (stratum, n, n_rest, n_bins, w1_micro).
    */
  def wasserstein1(df: DataFrame, stratumCol: String, valueCol: String,
      binWidth: Long = 100L): DataFrame = {
    require(binWidth > 0, s"binWidth must be positive, got $binWidth")
    import org.apache.spark.sql.expressions.Window
    val dec = "decimal(38,0)"
    val vb = df.filter(col(stratumCol).isNotNull && col(valueCol).isNotNull)
      .select(col(stratumCol).as("stratum"),
        expr(s"(CAST($valueCol AS BIGINT) - pmod(CAST($valueCol AS BIGINT), " +
          s"${binWidth}L)) div ${binWidth}L").as("_b"))
    val csb = vb.groupBy(col("stratum"), col("_b")).agg(count(lit(1)).as("_c"))
    val cb = csb.groupBy(col("_b")).agg(sum(col("_c")).as("_cb"))
    val ns = csb.groupBy(col("stratum")).agg(sum(col("_c")).as("_ns"))
    val glob = cb.agg(sum(col("_cb")).as("_n"), count(lit(1)).as("_nb"))
    val w = Window.partitionBy(col("stratum")).orderBy(col("_b"))
    val grid = broadcast(ns).crossJoin(cb)
      .join(csb, Seq("stratum", "_b"), "left")
      .na.fill(0L, Seq("_c"))
      .crossJoin(broadcast(glob))
      .withColumn("_cum_s", sum(col("_c")).over(w))
      .withColumn("_cum_r", sum(col("_cb") - col("_c")).over(w))
      .withColumn("_next_b", lead(col("_b"), 1).over(w))
    val nRest = col("_n") - col("_ns")
    val term = when(col("_next_b").isNotNull,
      abs(col("_cum_s").cast(dec) * nRest.cast(dec)
          - col("_cum_r").cast(dec) * col("_ns").cast(dec))
        * (col("_next_b") - col("_b")).cast(dec) * lit(binWidth).cast(dec))
      .otherwise(lit(0L).cast(dec))
    grid.withColumn("_term", term)
      .groupBy(col("stratum"))
      .agg(first(col("_ns")).as("n"),
        first(col("_n") - col("_ns")).as("n_rest"),
        first(col("_nb")).as("n_bins"),
        // n_s·n_r as a double PRODUCT (not a long multiply — it
        // overflows BIGINT at corpus-scale row counts under ANSI)
        when(first(col("_n") - col("_ns")) > 0L,
          round(sum(col("_term")).cast("double")
            / (first(col("_ns")).cast("double")
              * first(col("_n") - col("_ns")).cast("double"))
            * 1000000.0).cast("long"))
          .as("w1_micro"))
  }

  /** Two-sample PSI between two (value, count) histograms, binned by
    * `binWidth` — the [[psiDrift]] law with an EXPLICIT reference side
    * (there: stratum vs rest within one frame; here: batch vs a separate
    * corpus, e.g. a persisted baseline via [[psiAgainstStored]]). Same
    * exact discipline: floor-division bins, add-one smoothing over the
    * UNION of observed bins, per-term pico quantization before the
    * integer Σ. Returns ONE row (n_batch, n_ref, n_bins, psi_pico).
    */
  def psiAgainstCounts(batchCounts: DataFrame, refCounts: DataFrame,
      binWidth: Long = 100L): DataFrame = {
    require(binWidth > 0, s"binWidth must be positive, got $binWidth")
    def binned(c: DataFrame, as: String) =
      c.select(expr(s"(_v - pmod(_v, ${binWidth}L)) div ${binWidth}L").as("_b"),
          col("_c"))
        .groupBy(col("_b")).agg(sum(col("_c")).as(as))
    val merged = binned(batchCounts, "_ca")
      .join(binned(refCounts, "_cb"), Seq("_b"), "full_outer")
      .na.fill(0L, Seq("_ca", "_cb"))
    val tot = merged.agg(sum(col("_ca")).as("_na"), sum(col("_cb")).as("_nb"),
      count(lit(1)).as("_nbins"))
    val p = (col("_ca") + 1L).cast("double") /
      (col("_na") + col("_nbins")).cast("double")
    val q = (col("_cb") + 1L).cast("double") /
      (col("_nb") + col("_nbins")).cast("double")
    merged.crossJoin(broadcast(tot))
      .withColumn("_term",
        round(((p - q) * (log(p) - log(q))) * 1000000000000.0).cast("long"))
      .agg(coalesce(min(col("_na")), lit(0L)).as("n_batch"),
        coalesce(min(col("_nb")), lit(0L)).as("n_ref"),
        coalesce(min(col("_nbins")), lit(0L)).as("n_bins"),
        coalesce(sum(col("_term")), lit(0L)).as("psi_pico"))
  }

  /** [[psiAgainstCounts]] of an ingest batch against the PERSISTED corpus
    * histogram ([[RefStore.loadValueCounts]] — the SAME commit family the
    * KS baseline uses, so one stored histogram feeds both alarms): the
    * baseline commits once and grows by merges; each batch is
    * histogrammed and scored without rescanning the corpus.
    */
  def psiAgainstStored(batch: DataFrame, valueCol: String,
      storeDir: String, binWidth: Long = 100L): DataFrame =
    psiAgainstCounts(valueCounts(batch, valueCol),
      RefStore.loadValueCounts(batch.sparkSession, storeDir), binWidth)

  // The r15 `guardValueDomain` in-plan assert (quantize-upstream failure
  // at >10⁶ distinct values) lived here until round 16: it protected the
  // KS family's UNPARTITIONED cumulative windows from silently funneling
  // a wide value domain through one task. Both windows now run on
  // [[PrefixSum.inclusive]] (distributed, bounded by configuration), so
  // the ceiling — and the guard — are gone. The reusable posture survives
  // as [[Guards.boundedDomain]] for ops whose global order is inherent
  // (e.g. [[Mixture.waterfillAllocations]]'s waterline sort).

  /** The (value, count) histogram of an integer metric — the commit unit
    * of the [[RefStore.writeValueCounts]] family and the two-sample input
    * of [[ksAgainstCounts]]. NULL values carry no distribution mass.
    */
  private[ops] def valueCounts(df: DataFrame, valueCol: String): DataFrame =
    df.filter(col(valueCol).isNotNull)
      .groupBy(col(valueCol).cast("long").as("_v"))
      .agg(count(lit(1)).as("_c"))

  /** Exact two-sample KS between two (value, count) histograms — the
    * generic core [[ksDrift]] specializes (there: stratum vs rest within
    * one frame) and [[ksAgainstStored]] feeds from a persisted baseline.
    * Same integer law: cumulative counts over the UNION of observed
    * values, each term `|cumA·n_b − cumB·n_a|` cross-multiplied in
    * DECIMAL(38,0), one double division. Returns ONE row
    * (n_batch, n_ref, ks); an empty side yields NULL ks.
    *
    * Scale shape: BOTH cumulatives and BOTH grand totals ride one
    * [[PrefixSum.inclusiveAll]] pass (single range shuffle; totals come
    * off the bounded per-partition-totals table, so the histogram
    * lineage — a corpus aggregate in [[ksAgainstStored]] — is derived
    * exactly once). The r15 value-domain guard is retired ([[ksDrift]]
    * note): a wide merged support distributes instead of failing.
    */
  def ksAgainstCounts(batchCounts: DataFrame,
      refCounts: DataFrame): DataFrame = {
    val dec = "decimal(38,0)"
    val a = batchCounts.select(col("_v"), col("_c").as("_ca"))
    val b = refCounts.select(col("_v"), col("_c").as("_cb"))
    val merged = a.join(b, Seq("_v"), "full_outer")
      .na.fill(0L, Seq("_ca", "_cb"))
    PrefixSum.inclusiveAll(merged, "_v",
        Seq(col("_ca") -> "_cumA", col("_cb") -> "_cumB"), withTotals = true)
      .withColumnRenamed("_cumA_total", "_na")
      .withColumnRenamed("_cumB_total", "_nb")
      .withColumn("_term",
        abs(col("_cumA").cast(dec) * col("_nb").cast(dec) -
          col("_cumB").cast(dec) * col("_na").cast(dec)))
      .agg(coalesce(min(col("_na")), lit(0L)).as("n_batch"),
        coalesce(min(col("_nb")), lit(0L)).as("n_ref"),
        max(col("_term")).as("_num"))
      .withColumn("ks",
        when(col("n_batch") > 0L && col("n_ref") > 0L,
          col("_num").cast("double") /
            (col("n_batch").cast(dec) * col("n_ref").cast(dec)).cast("double")))
      .select(col("n_batch"), col("n_ref"), col("ks"))
  }

  /** [[ksAgainstCounts]] of an ingest batch against the PERSISTED corpus
    * histogram ([[RefStore.loadValueCounts]]) — incremental numeric drift
    * monitoring: the baseline commits once and grows by merges; each
    * batch is histogrammed and scored without rescanning the corpus.
    */
  def ksAgainstStored(batch: DataFrame, valueCol: String,
      storeDir: String): DataFrame =
    ksAgainstCounts(valueCounts(batch, valueCol),
      RefStore.loadValueCounts(batch.sparkSession, storeDir))

  /** Embedding-space centroid drift per group: the cosine between each
    * group's mean embedding and the corpus mean — the SEMANTIC twin of
    * [[tvDrift]]'s lexical screen (a source can keep its vocabulary while
    * its content drifts; the centroid moves first). Engine-exact by the
    * centroid-store discipline: components quantize to micro-units
    * (`round(x·1e6)` BIGINT) and sum exactly per (group, dim); cosine is
    * scale-invariant, so the SUM vectors stand in for the means and the
    * statistic is one fixed float chain over three exact DECIMAL(38,0)
    * dot products (products would pass 2^63 at corpus scale — the
    * [[tvDrift]] overflow note).
    *
    * Note the corpus mean includes the group itself (the stable reference
    * a dashboard wants — all groups compare against ONE vector; a
    * leave-one-out variant is a different law).
    *
    * Scale shape: ONE posexplode pass → (group, dim) exact sums (|groups|·
    * dim rows); the global per-dim vector is a window over that bounded
    * frame and the vector count rides the dim-0 rows, so the corpus is
    * scanned exactly once and nothing joins. One final |groups|-row
    * aggregate. Output: (grp, n_vecs, centroid_cos).
    */
  def embedCentroidDrift(df: DataFrame, groupCol: String,
      vecCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val comp = df
      .filter(col(groupCol).isNotNull && col(vecCol).isNotNull &&
        size(col(vecCol)) > 0)
      .select(col(groupCol).as("grp"),
        posexplode(col(vecCol)).as(Seq("dim", "_x")))
      .select(col("grp"), col("dim"),
        round(col("_x").cast("double") * 1000000.0).cast("long").as("_m"))
    // ONE derivation feeds everything downstream: the global per-dim sum
    // comes from a window over the already-aggregated (grp, dim) frame
    // (a groupBy twin would re-derive the whole lineage — a second corpus
    // scan for one vector), and the vector count rides along as the dim-0
    // row count (every kept vector has a dim 0)
    val gsum = comp.groupBy(col("grp"), col("dim"))
      .agg(sum(col("_m")).as("_gs"), count(lit(1)).as("_nd"))
    val wDim = org.apache.spark.sql.expressions.Window.partitionBy(col("dim"))
    gsum
      .withColumn("_ts", sum(col("_gs")).over(wDim))
      .groupBy(col("grp"))
      .agg(max(when(col("dim") === 0, col("_nd"))).as("n_vecs"),
        sum(col("_gs").cast(dec) * col("_ts").cast(dec)).as("_ab"),
        sum(col("_gs").cast(dec) * col("_gs").cast(dec)).as("_aa"),
        sum(col("_ts").cast(dec) * col("_ts").cast(dec)).as("_bb"))
      .withColumn("centroid_cos",
        col("_ab").cast("double") /
          (sqrt(col("_aa").cast("double")) * sqrt(col("_bb").cast("double"))))
      .select(col("grp"), col("n_vecs"), col("centroid_cos"))
  }

  /** Benford first-significant-digit screen (Newcomb 1881 / Benford '38:
    * naturally-grown magnitudes have P(d) = log₁₀(1 + 1/d)) over a
    * positive numeric column — the fabricated-data / synthetic-artifact
    * detector an ingest pipeline runs on amounts and counts (uniform
    * generators, truncation bugs, and copy-paste rows all bend the
    * first-digit curve).
    *
    * Engine-portable law: the value FLOORS to an integer first
    * (`floor` — never a raw double→int cast: Spark truncates where
    * DuckDB rounds), values < 1 drop, and the first digit reads from the
    * integer's decimal STRING (both engines render integers
    * identically — no log10-at-a-power-boundary hazard).
    * `share_pico = round(n_d/N·10¹²)` and
    * `benford_pico = round(log₁₀(1+1/d)·10¹²)` are one double chain
    * each; `dev_pico` is their exact integer difference.
    *
    * Scale shape: one narrow projection + one 9-row hash aggregate
    * (map-side combined); a 1-row total broadcasts back.
    *
    * Output: (digit, n_values, share_pico, benford_pico, dev_pico) —
    * ≤ 9 rows ordered by digit.
    */
  def benfordDigits(df: DataFrame, valueCol: String): DataFrame = {
    val d = df.filter(col(valueCol).isNotNull && col(valueCol) >= 1.0)
      .select(substring(floor(col(valueCol)).cast("long").cast("string"), 1, 1)
        .cast("long").as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n_values"))
    val tot = d.agg(sum(col("n_values")).as("_n"))
    d.crossJoin(broadcast(tot))
      .select(col("digit"), col("n_values"),
        round(col("n_values").cast("double") / col("_n").cast("double")
          * 1.0e12).cast("long").as("share_pico"),
        round(log10(lit(1.0) + lit(1.0) / col("digit").cast("double"))
          * 1.0e12).cast("long").as("benford_pico"))
      .withColumn("dev_pico", col("share_pico") - col("benford_pico"))
      .orderBy(col("digit"))
  }

  /** Pairwise Jensen–Shannon divergence MATRIX between strata over a
    * binned integer metric — the all-pairs companion of [[jsDrift]]'s
    * stratum-vs-rest screen: "which sources look like each other"
    * feeds mixture design and near-duplicate SOURCE detection, where
    * the pooled-rest form only says "this one is odd".
    *
    * Law (the [[jsDrift]] add-one smoothing, support = the CORPUS
    * observed-bin set so every pair shares one support): per pair
    * (a, b) and bin, p = (c_a+1)/(n_a+B), q = (c_b+1)/(n_b+B), and the
    * per-bin JS term quantizes to picos before the integer Σ. Pairs
    * order (src_a < src_b), output ordering total.
    *
    * Scale shape: ONE corpus binning pass + (stratum, bin) hash
    * aggregate; everything after runs on the bounded |strata|²·B cell
    * grid (strata and bins both bounded — the [[psiDrift]] support
    * contract), built by a broadcast cross of the two bounded tables.
    *
    * Output: (src_a, src_b, n_a, n_b, n_bins, jsd_pico) — one row per
    * unordered stratum pair.
    */
  def jsMatrix(df: DataFrame, stratumCol: String, valueCol: String,
      binWidth: Long = 100L): DataFrame = {
    require(binWidth > 0, s"binWidth must be positive, got $binWidth")
    val vb = df.filter(col(stratumCol).isNotNull && col(valueCol).isNotNull)
      .select(col(stratumCol).as("_s"),
        expr(s"(CAST($valueCol AS BIGINT) - pmod(CAST($valueCol AS BIGINT), " +
          s"${binWidth}L)) div ${binWidth}L").as("_b"))
    val csb = vb.groupBy(col("_s"), col("_b")).agg(count(lit(1)).as("_c"))
    val bins = csb.select(col("_b")).distinct()
    val nb = bins.agg(count(lit(1)).as("_nb"))
    val ns = csb.groupBy(col("_s")).agg(sum(col("_c")).as("_n"))
    val pairs = ns.select(col("_s").as("src_a"), col("_n").as("n_a"))
      .crossJoin(ns.select(col("_s").as("src_b"), col("_n").as("n_b")))
      .filter(col("src_a") < col("src_b"))
    val cells = pairs.crossJoin(broadcast(bins))
      .join(csb.select(col("_s").as("src_a"), col("_b"), col("_c").as("_ca")),
        Seq("src_a", "_b"), "left")
      .join(csb.select(col("_s").as("src_b"), col("_b"), col("_c").as("_cb")),
        Seq("src_b", "_b"), "left")
      .na.fill(0L, Seq("_ca", "_cb"))
      .crossJoin(broadcast(nb))
    val p = (col("_ca") + 1L).cast("double") /
      (col("n_a") + col("_nb")).cast("double")
    val q = (col("_cb") + 1L).cast("double") /
      (col("n_b") + col("_nb")).cast("double")
    cells
      .withColumn("_term",
        round((lit(0.5) * (p * (log(lit(2.0) * p) - log(p + q))) +
          lit(0.5) * (q * (log(lit(2.0) * q) - log(p + q))))
          * 1000000000000.0).cast("long"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(first(col("n_a")).as("n_a"), first(col("n_b")).as("n_b"),
        first(col("_nb")).as("n_bins"), sum(col("_term")).as("jsd_pico"))
      .orderBy(col("src_a"), col("src_b"))
  }
}
