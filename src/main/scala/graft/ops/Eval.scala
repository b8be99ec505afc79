package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Model-evaluation metrics for curation pipelines: a quality/toxicity
  * filter is a scoring model, and before its threshold gates a large
  * corpus you measure how well the score separates labeled positives from
  * negatives. AUC here is the exact Mann-Whitney rank statistic
  * (probability a random positive outscores a random negative, ties at
  * half credit) — not a trapezoid approximation over binned thresholds —
  * so the oracle can replay it bit-for-bit with window functions.
  *
  * Scale shape: one rank window per group (the same partitioned-sort any
  * percentile query pays) + one aggregate; no join, no collect. Scores
  * with NULL value or NULL label are excluded (they carry no ordering /
  * no truth); groups with no positives or no negatives return NULL AUC
  * (undefined — better a visible NULL than a fake 0.5).
  */
object Eval {

  /** Per-group AUC of `scoreCol` against boolean `labelCol`:
    * (groupCol, n_pos, n_neg, auc). Average ranks for ties:
    * avg_rank = min_rank + (tie_count - 1)/2, the standard Mann-Whitney
    * tie correction.
    */
  def aucByGroup(df: DataFrame, scoreCol: String, labelCol: String,
      groupCol: String): DataFrame = {
    // filter on the CASTED label: a non-NULL value that casts to NULL
    // (e.g. the string "unknown") must not occupy a rank — it would be
    // excluded from n_pos/n_neg yet shift every higher-scored row's rank
    val base = df
      .select(col(groupCol).as("_g"), col(scoreCol).as("_s"),
        col(labelCol).cast("boolean").as("_y"))
      .filter(col("_s").isNotNull && col("_y").isNotNull)
    val wRank = Window.partitionBy("_g").orderBy("_s")
    val wTies = Window.partitionBy("_g", "_s")
    val ranked = base
      .withColumn("_avg_rank",
        rank().over(wRank) + (count(lit(1)).over(wTies) - 1) / 2.0)
    ranked.groupBy(col("_g").as(groupCol))
      .agg(
        count(when(col("_y"), 1)).as("n_pos"),
        count(when(!col("_y"), 1)).as("n_neg"),
        sum(when(col("_y"), col("_avg_rank"))).as("_rpos"))
      .withColumn("auc",
        when(col("n_pos") > 0 && col("n_neg") > 0,
          (col("_rpos") - col("n_pos") * (col("n_pos") + 1) / 2.0) /
            (col("n_pos") * col("n_neg"))))
      .drop("_rpos")
  }

  /** Whole-frame AUC as a single row (group = a constant). */
  def auc(df: DataFrame, scoreCol: String, labelCol: String): DataFrame =
    aucByGroup(df.withColumn("_all", lit(1)), scoreCol, labelCol, "_all")
      .drop("_all")

  /** The NDCG@k discount table in integer micro-units:
    * `disc(r) = round(1e6 / log2(r+1))`, computed ONCE in the JVM and
    * embedded as a literal on both engine sides. This is the trick that
    * makes graded-ranking eval bit-exact: `log2` is not guaranteed
    * correctly-rounded and differs across libm implementations, so the law
    * quantizes the k discounts up front instead of letting each engine
    * take its own logarithm.
    */
  def ndcgDiscountsMicro(k: Int): Seq[Long] = {
    require(k >= 1, s"k must be >= 1, got $k")
    (1 to k).map(r => math.round(1000000.0 / (math.log(r + 1.0) / math.log(2.0))))
  }

  /** Per-group ranking evaluation at cutoff `k` — the retrieval-eval twin
    * of [[aucByGroup]] for scored candidate lists (query → candidates with
    * a model score and a relevance gain):
    * (group, dcg_micro, idcg_micro, ndcg, rel_total, rel_at_k, recall_at_k,
    * first_rel_rank).
    *
    *  - model order: score DESC, id ASC; ideal order: gain DESC, id ASC.
    *  - DCG/IDCG are exact BIGINT sums of `round(gain · disc_micro(rank))`
    *    over the top k of each order ([[ndcgDiscountsMicro]]); `ndcg` is
    *    one double division of the two exact integers — engine-stable.
    *  - `recall_at_k` = relevant in model top-k / total relevant;
    *    `first_rel_rank` = model rank of the best relevant hit (NULL when
    *    the group has no relevant candidates, as are ndcg/recall — a
    *    visible NULL beats a fake 0, the [[aucByGroup]] posture).
    * NULL and NON-FINITE scores/gains are excluded before ranking (no
    * ordering / no truth to contribute): a NaN gain would otherwise pass
    * `_rel > 0` (NaN compares greatest in Spark AND DuckDB) and then throw
    * on the ANSI `round(NaN·disc)` cast, crashing the whole eval instead
    * of being dropped like NULL. Gains are gated with `abs(_rel) ≤ 9e12`
    * (catches NaN, ±Inf, and values whose `gain·disc_micro` product would
    * leave BIGINT — identical semantics in both engines since NaN fails
    * any ≤); NaN scores are dropped via `isnan` when the score column is
    * floating-point (non-floating scores can't be NaN and are left to
    * their native ordering).
    *
    * Scale shape: two row_number windows over the same group partitioning
    * + one hash aggregate; no join, no collect — group cardinality (number
    * of queries × candidates) is the only driver of cost.
    */
  def ndcgAtK(df: DataFrame, groupCol: String, idCol: String, scoreCol: String,
      gainCol: String, k: Int): DataFrame = {
    val disc = array(ndcgDiscountsMicro(k).map(lit): _*)
    val scoreFinite = df.schema(scoreCol).dataType match {
      case org.apache.spark.sql.types.DoubleType |
           org.apache.spark.sql.types.FloatType => !isnan(col("_s"))
      case _ => lit(true)
    }
    val base = df
      .select(col(groupCol).as("_g"), col(idCol).as("_id"),
        col(scoreCol).as("_s"), col(gainCol).cast("double").as("_rel"))
      .filter(col("_s").isNotNull && col("_rel").isNotNull &&
        abs(col("_rel")) <= 9.0e12 && scoreFinite)
    val wModel = Window.partitionBy("_g").orderBy(col("_s").desc, col("_id"))
    val wIdeal = Window.partitionBy("_g").orderBy(col("_rel").desc, col("_id"))
    base
      .withColumn("_rm", row_number().over(wModel))
      .withColumn("_ri", row_number().over(wIdeal))
      .groupBy(col("_g").as(groupCol))
      .agg(
        sum(when(col("_rm") <= k,
          round(col("_rel") * element_at(disc, col("_rm"))).cast("long"))
          .otherwise(0L)).as("dcg_micro"),
        sum(when(col("_ri") <= k,
          round(col("_rel") * element_at(disc, col("_ri"))).cast("long"))
          .otherwise(0L)).as("idcg_micro"),
        count(when(col("_rel") > 0, 1)).as("rel_total"),
        count(when(col("_rel") > 0 && col("_rm") <= k, 1)).as("rel_at_k"),
        min(when(col("_rel") > 0, col("_rm"))).cast("bigint").as("first_rel_rank"))
      .withColumn("ndcg",
        when(col("idcg_micro") > 0,
          col("dcg_micro").cast("double") / col("idcg_micro").cast("double")))
      .withColumn("recall_at_k",
        when(col("rel_total") > 0,
          col("rel_at_k").cast("double") / col("rel_total").cast("double")))
  }

  /** Calibration reliability bins (the per-bin decomposition of expected
    * calibration error): scores in [0,1] bucket into `nBins` equal-width
    * confidence bins; each bin reports its count, positive count,
    * accuracy, and mean confidence. A well-calibrated scorer has
    * accuracy ≈ confidence per bin — the gap, weighted by bin mass, IS
    * ECE; the bins are emitted rather than the scalar because a Σ of
    * per-bin doubles would be summation-order-dependent across engines,
    * while every per-bin value here is exact (integer counts,
    * micro-quantized confidence sums, one double division each).
    *
    * Laws, SQL-mirrorable verbatim: bin = clamp(⌊score·nBins⌋, 0,
    * nBins−1) (score 1.0 lands in the top bin); confidence sums
    * micro-quantized scores (⌊s·1e6 + 0.5⌋ — exact integers, so the sum
    * is partition-order-independent); NULL and non-finite scores and
    * NULL labels are excluded (no truth, no mass — a NaN would bin to 0
    * and an infinity would clamp to the edge bin with a Long.MaxValue
    * micro-sum here, while the SQL oracle's BIGINT cast errors on both,
    * so the exclusion is also what keeps the law engine-exact). One hash
    * aggregate over nBins groups — no window, no join.
    */
  def calibrationBins(df: DataFrame, scoreCol: String, labelCol: String,
      nBins: Int = 10): DataFrame = {
    require(nBins >= 1, s"nBins must be positive, got $nBins")
    val base = df
      .select(col(scoreCol).cast("double").as("_s"),
        col(labelCol).cast("boolean").as("_y"))
      .filter(col("_s").isNotNull && !isnan(col("_s")) &&
        abs(col("_s")) < lit(Double.PositiveInfinity) && col("_y").isNotNull)
    base
      .withColumn("bin",
        least(lit(nBins.toLong - 1), greatest(lit(0L),
          floor(col("_s") * nBins).cast("long"))))
      .withColumn("_m", floor(col("_s") * 1000000.0 + 0.5).cast("long"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"),
        count(when(col("_y"), 1)).as("n_pos"),
        sum(col("_m")).as("conf_micro_sum"))
      .withColumn("accuracy",
        col("n_pos").cast("double") / col("n").cast("double"))
      .withColumn("confidence",
        col("conf_micro_sum").cast("double") / col("n").cast("double") / 1000000.0)
  }

  /** Cohen's kappa (Cohen 1960): chance-corrected agreement between two
    * categorical labelings of the same rows — the honest form of "my
    * cheap classifier agrees with the reference labels 87% of the time"
    * (raw agreement is inflated by class imbalance; kappa subtracts the
    * agreement two INDEPENDENT raters with these marginals would reach by
    * luck). The standard acceptance gate before a heuristic labeler (a
    * lang-ID rule, a quality screen) replaces an expensive one at corpus
    * scale.
    *
    * Law, exact to the last integer so engines agree bit-for-bit:
    * `n` and `n_agree` are BIGINT; `pe_num = Σ_k rowMarg_k · colMarg_k`
    * accumulates in DECIMAL(38,0)/HUGEINT (marginal products reach n² —
    * past 2^63 at corpus scale, the ksDrift overflow note) and renders as
    * DOUBLE; the only other floating arithmetic is the final fixed chain
    * `kappa = (po - pe) / (1 - pe)` with `po = n_agree/n`,
    * `pe = pe_num/(n·n)` — identical parenthesization in the oracle.
    * Rows where either label is NULL are excluded (no judgment). A
    * degenerate table (`pe = 1`: both raters constant and equal) returns
    * NULL kappa — undefined, not 0.
    *
    * Scale shape: one hash aggregate to the contingency table (≤ |A|·|B|
    * rows — label vocabularies, not corpus), then driver-sized joins of
    * its marginals; the corpus is read once.
    */
  def cohenKappa(df: DataFrame, labelACol: String, labelBCol: String): DataFrame = {
    val cells = df
      .filter(col(labelACol).isNotNull && col(labelBCol).isNotNull)
      .select(col(labelACol).cast("string").as("_a"),
        col(labelBCol).cast("string").as("_b"))
      .groupBy(col("_a"), col("_b")).agg(count(lit(1)).as("_c"))
    val rowM = cells.groupBy(col("_a")).agg(sum(col("_c")).as("_ra"))
    val colM = cells.groupBy(col("_b")).agg(sum(col("_c")).as("_cb"))
    val totals = cells.agg(
      sum(col("_c")).as("n"),
      sum(when(col("_a") === col("_b"), col("_c")).otherwise(0L)).as("n_agree"))
    val dec = "decimal(38,0)"
    val peNum = rowM.join(colM, col("_a") === col("_b"))
      .agg(coalesce(
        sum(col("_ra").cast(dec) * col("_cb").cast(dec)).cast("double"),
        lit(0.0)).as("pe_num"))
    totals.crossJoin(peNum)
      .withColumn("po", col("n_agree").cast("double") / col("n").cast("double"))
      .withColumn("pe", col("pe_num").cast("double") /
        (col("n").cast("double") * col("n").cast("double")))
      .withColumn("kappa",
        when(col("pe") === 1.0, lit(null).cast("double"))
          .otherwise((col("po") - col("pe")) / (lit(1.0) - col("pe"))))
      .select(col("n"), col("n_agree"), col("pe_num"), col("po"), col("pe"),
        col("kappa"))
  }

  /** ROUGE-N recall per row (Lin, 2004) — the summarization/compression
    * eval staple: clipped n-gram overlap between a candidate text and
    * its reference, `Σ_g min(count_cand(g), count_ref(g)) / Σ_g
    * count_ref(g)`. Exact law: both gram multisets count as exact
    * integers under the shared token law ([[graft.functions.TextFns
    * .tokens]]; grams joined with single spaces), the clip is an integer
    * `least`, and ONE double division renders the recall — so the whole
    * statistic replays in SQL bit-for-bit. A reference with fewer than n
    * tokens has no grams and reports NULL recall (undefined, not 0);
    * candidate grams never seen in the reference contribute nothing (the
    * LEFT join from the reference side IS the clip's zero branch).
    *
    * Scale shape: two narrow gram explosions → two (id, gram) hash
    * aggregates → one hash join keyed on (id, gram) → one hash aggregate
    * back to |rows|. No window, no driver state; gram support is per-row
    * text length, never corpus vocabulary.
    *
    * Output: (idCol, n_ref_grams, n_overlap, rougeN_recall).
    */
  def rougeN(df: DataFrame, idCol: String, refCol: String, candCol: String,
      n: Int = 2): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    def grams(c: Column): Column = {
      val toks = graft.functions.TextFns.tokens(c)
      when(size(toks) >= n,
        transform(sequence(lit(1), size(toks) - lit(n - 1)),
          i => concat_ws(" ", slice(toks, i, lit(n)))))
        .otherwise(array().cast("array<string>"))
    }
    def counts(c: Column, as: String) = df
      .select(col(idCol).as("_id"), explode(grams(c)).as("_g"))
      .groupBy(col("_id"), col("_g")).agg(count(lit(1)).as(as))
    val joined = counts(col(refCol), "_cr")
      .join(counts(col(candCol), "_cc"), Seq("_id", "_g"), "left")
      .groupBy(col("_id"))
      .agg(sum(col("_cr")).as("n_ref_grams"),
        sum(least(col("_cr"), coalesce(col("_cc"), lit(0L)))).as("n_overlap"))
    df.select(col(idCol)).distinct()
      .join(joined, col(idCol) === col("_id"), "left")
      .select(col(idCol),
        coalesce(col("n_ref_grams"), lit(0L)).as("n_ref_grams"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"))
      .withColumn(s"rouge${n}_recall",
        when(col("n_ref_grams") > 0L,
          col("n_overlap").cast("double") / col("n_ref_grams").cast("double")))
  }

  /** Rank-Biased Overlap at depth k (Webber, Moffat & Zobel, TOIS'10)
    * between two per-query rankings — the standard "how similar are two
    * retrieval systems" score (top-weighted, handles non-conjoint lists):
    * `RBO@k = (1−p) Σ_{d=1..k} p^(d−1) · |A_d ∩ B_d| / d`, with A_d/B_d
    * the depth-d prefixes and persistence p (default 0.9 ≈ the top-10
    * carrying ~86% of the weight).
    *
    * Engine-exact law: each prefix-overlap |A_d ∩ B_d| is an exact
    * integer (count of items with rank_a ≤ d AND rank_b ≤ d — ranks are
    * ints, no float enters membership); the per-depth weight is the one
    * fixed double chain `(1−p)·exp((d−1)·ln p)` (exp/ln are the
    * cross-engine-stable libm pair the decay/KL oracles already pin),
    * and every term quantizes to picos BEFORE the integer Σ — so
    * `rbo_pico` replays bit-for-bit in SQL.
    *
    * Scale shape: one hash join of the two rank frames on (query, item)
    * — each side ≤ k rows per query by contract — then a
    * matched-pairs × k-depths expansion (≤ k² rows per query, k=20 ⇒
    * ≤400) and two hash aggregates. No window, no corpus pass.
    *
    * Input frames carry (queryCol, itemCol, rankCol) with rank 1-based
    * and ≤ k (filter upstream; larger ranks are ignored here). Queries
    * present in either frame report a row; a query with NO overlapping
    * items scores 0 (disjoint lists — RBO's law, not a NULL).
    *
    * Output: (query_id, n_common, rbo_pico).
    */
  /** chrF character n-gram F-score (Popović, WMT'15) of a candidate
    * against a reference — the tokenizer-free MT/summarization eval that
    * complements [[rougeN]]'s token recall: whitespace is stripped, char
    * n-grams of orders 1..`maxN` are counted with clipping, per-order
    * precision/recall average into one F_β (β = 2 weights recall double,
    * the chrF2 standard).
    *
    * Engine-exact law: per-order clipped matches / totals are exact
    * integers; per-order `P_n = match/cand` and `R_n = match/ref` (0 on
    * an empty denominator — an order with no grams contributes zero, the
    * sacrebleu epsilon-free convention) quantize to picos BEFORE the
    * cross-order integer Σ; the averaged `P = Σp/(maxN·1e12)` and `R`
    * are then one fixed double chain into
    * `F = (1+β²)·P·R / (β²·P + R)` (0 when the denominator is 0),
    * quantized to `chrf_pico` — bit-replayable in SQL.
    *
    * Scale shape: the gram explosion is ≤ maxN rows per char — narrow,
    * no corpus joins; two (id, n, gram) hash aggregates, one (id, n)
    * join, one |docs|-row aggregate. Clipping joins ref-side grams only.
    *
    * Output: (id, sump_pico, sumr_pico, chrf_pico).
    */
  def chrF(df: DataFrame, idCol: String, refCol: String, candCol: String,
      maxN: Int = 6, beta: Double = 2.0): DataFrame = {
    require(maxN >= 1, s"maxN must be >= 1, got $maxN")
    require(beta > 0, s"beta must be positive, got $beta")
    // explicit whitespace class, NOT \s: Java's \s includes U+000B
    // (vertical tab) while DuckDB/RE2's does not — the oracle pins the
    // identical class, so a \x0B in a document strips the same both sides
    def strip(c: Column) =
      regexp_replace(coalesce(c, lit("")), "[ \\t\\n\\x0B\\f\\r]+", "")
    def gramCounts(c: Column, as: String) = df
      .select(col(idCol).as("_id"), strip(c).as("_s"))
      .select(col("_id"), explode(sequence(lit(1), lit(maxN))).as("_n"), col("_s"))
      .filter(length(col("_s")) >= col("_n"))
      .select(col("_id"), col("_n"), explode(
        transform(sequence(lit(1), length(col("_s")) - col("_n") + lit(1)),
          i => col("_s").substr(i, col("_n")))).as("_g"))
      .groupBy(col("_id"), col("_n"), col("_g")).agg(count(lit(1)).as(as))
    val ref = gramCounts(col(refCol), "_cr")
    val cand = gramCounts(col(candCol), "_cc")
    val perOrder = ref.join(cand, Seq("_id", "_n", "_g"), "left")
      .groupBy(col("_id"), col("_n"))
      .agg(sum(col("_cr")).as("_nr"),
        sum(least(col("_cr"), coalesce(col("_cc"), lit(0L)))).as("_m"))
      .join(cand.groupBy(col("_id"), col("_n")).agg(sum(col("_cc")).as("_nc")),
        Seq("_id", "_n"), "full_outer")
      .na.fill(0L, Seq("_nr", "_m", "_nc"))
    val p = when(col("_nc") > 0L,
      col("_m").cast("double") / col("_nc").cast("double")).otherwise(lit(0.0))
    val r = when(col("_nr") > 0L,
      col("_m").cast("double") / col("_nr").cast("double")).otherwise(lit(0.0))
    val sums = perOrder
      .withColumn("_p_pico", round(p * 1000000000000.0).cast("long"))
      .withColumn("_r_pico", round(r * 1000000000000.0).cast("long"))
      .groupBy(col("_id"))
      .agg(sum(col("_p_pico")).as("sump_pico"),
        sum(col("_r_pico")).as("sumr_pico"))
    val denom = maxN * 1000000000000.0
    val b2 = beta * beta
    val pAvg = col("sump_pico").cast("double") / lit(denom)
    val rAvg = col("sumr_pico").cast("double") / lit(denom)
    df.select(col(idCol)).distinct()
      .join(sums, col(idCol) === col("_id"), "left")
      .select(col(idCol),
        coalesce(col("sump_pico"), lit(0L)).as("sump_pico"),
        coalesce(col("sumr_pico"), lit(0L)).as("sumr_pico"))
      .withColumn("chrf_pico",
        when((lit(b2) * pAvg) + rAvg > 0.0,
          round(((lit(1.0 + b2) * (pAvg * rAvg)) / ((lit(b2) * pAvg) + rAvg))
            * 1000000000000.0).cast("long"))
          .otherwise(lit(0L)))
  }

  /** BLEU (Papineni et al., ACL'02) of a candidate against a reference —
    * the clipped token n-gram PRECISION complement to [[rougeN]]'s recall:
    * per-order p_n = clipped matches / candidate grams for n = 1..`maxN`,
    * geometric mean via Σ ln p_n, scaled by the brevity penalty
    * `BP = min(1, exp(1 − r/c))`. Unsmoothed: any order with zero
    * precision (or no candidate grams at all — a < maxN-token candidate)
    * zeroes the score, the original corpus-BLEU convention applied
    * per-segment.
    *
    * Engine-exact law: per-order clipped matches / totals are exact
    * integers; p_n quantizes to picos, then `ln(p_pico/1e12)` quantizes
    * to picos — BOTH per-order, BEFORE the cross-order integer Σ (the KL
    * discipline; ln/exp are the cross-engine-stable libm pair) — and the
    * final `BP · exp(Σ/(maxN·1e12))` is one fixed double chain, so
    * `bleu_pico` replays bit-for-bit in SQL.
    *
    * Scale shape: per-order gram explosion (≤ maxN rows per token) → two
    * (id, n, gram) hash aggregates → one hash join keyed on (id, n, gram)
    * → one (id, n) aggregate → one |docs|-row aggregate. No window, no
    * corpus-wide join; gram support is per-row text length.
    *
    * Output: (idCol, n_ref_tokens, n_cand_tokens, n_pos_orders,
    * sumlog_pico, bleu_pico).
    */
  def bleu(df: DataFrame, idCol: String, refCol: String, candCol: String,
      maxN: Int = 4): DataFrame = {
    require(maxN >= 1, s"maxN must be >= 1, got $maxN")
    import graft.functions.TextFns
    def gramCounts(c: Column, as: String) = df
      .select(col(idCol).as("_id"), TextFns.tokens(c).as("_tk"))
      .select(col("_id"), explode(sequence(lit(1), lit(maxN))).as("_n"), col("_tk"))
      .filter(size(col("_tk")) >= col("_n"))
      .select(col("_id"), col("_n"), explode(
        transform(sequence(lit(1), size(col("_tk")) - col("_n") + lit(1)),
          i => concat_ws(" ", slice(col("_tk"), i, col("_n"))))).as("_g"))
      .groupBy(col("_id"), col("_n"), col("_g")).agg(count(lit(1)).as(as))
    val ref = gramCounts(col(refCol), "_cr")
    val cand = gramCounts(col(candCol), "_cc")
    val pPico = {
      val p = col("_m").cast("double") / col("_nc").cast("double")
      round(p * 1000000000000.0).cast("long")
    }
    val perOrder = cand.join(ref, Seq("_id", "_n", "_g"), "left")
      .groupBy(col("_id"), col("_n"))
      .agg(sum(col("_cc")).as("_nc"),
        sum(least(col("_cc"), coalesce(col("_cr"), lit(0L)))).as("_m"))
      .withColumn("_p_pico", pPico)
      .withColumn("_l_pico",
        when(col("_p_pico") > 0L,
          round(log(col("_p_pico").cast("double") / lit(1000000000000.0))
            * 1000000000000.0).cast("long"))
          .otherwise(lit(0L)))
    val sums = perOrder.groupBy(col("_id"))
      .agg(sum(when(col("_p_pico") > 0L, 1L).otherwise(0L)).as("n_pos_orders"),
        sum(col("_l_pico")).as("sumlog_pico"))
    val lens = df.select(col(idCol),
      TextFns.tokenCount(col(refCol)).as("n_ref_tokens"),
      TextFns.tokenCount(col(candCol)).as("n_cand_tokens"))
    val c = col("n_cand_tokens").cast("double")
    val r = col("n_ref_tokens").cast("double")
    val bp = when(col("n_cand_tokens") >= col("n_ref_tokens"), lit(1.0))
      .otherwise(exp(lit(1.0) - r / c))
    lens.join(sums, col(idCol) === col("_id"), "left")
      .select(col(idCol), col("n_ref_tokens"), col("n_cand_tokens"),
        coalesce(col("n_pos_orders"), lit(0L)).as("n_pos_orders"),
        coalesce(col("sumlog_pico"), lit(0L)).as("sumlog_pico"))
      .withColumn("bleu_pico",
        when(col("n_pos_orders") === lit(maxN.toLong) && col("n_cand_tokens") > 0L,
          round(bp * exp(col("sumlog_pico").cast("double")
              / lit(maxN * 1000000000000.0)) * 1000000000000.0).cast("long"))
          .otherwise(lit(0L)))
  }

  /** Per-group confusion-matrix report at the group's MEAN-score
    * threshold: exact TP/FP/FN/TN counts plus F1 and the Matthews
    * correlation coefficient (Matthews, BBA 1975 — the balance-robust
    * single number reviewers ask for when F1's positive-class bias
    * misleads on skewed data). The classifier-quality screen beside
    * [[aucByGroup]]'s threshold-free ranking view.
    *
    * Exact law: scores sum in DECIMAL(18,2) (a double Σ is summation-
    * order-dependent — the q_rolling_hour discipline), the threshold is
    * ONE `sum/n` double chain, predictions are exact comparisons, and
    * the four cells are exact integer counts. F1 uses the direct
    * integer identity `2·TP / (2·TP + FP + FN)` — one double chain, no
    * chained quantization. MCC's numerator `TP·TN − FP·FN` is exact
    * DECIMAL(38,0) (n² outgrows 2^53 doubles at corpus scale); the
    * denominator is the pinned factored form `√(TP+FP)·√(TP+FN)·
    * √(TN+FP)·√(TN+FN)` (the product of the four sums would overflow
    * where the factored square roots cannot), NULL when any margin is
    * zero (degenerate matrix, MCC undefined).
    *
    * Scale shape: one (group) hash aggregate for thresholds, broadcast
    * back onto the corpus (the domain_sample posture), one (group)
    * hash aggregate for the cells. No window, no driver state.
    *
    * Output: (group, tp, fp, fn, tn, f1_pico, mcc_pico).
    */
  def confusionReport(df: DataFrame, scoreCol: String, labelCol: String,
      groupCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val b = df.filter(col(scoreCol).isNotNull && col(labelCol).isNotNull &&
        col(groupCol).isNotNull)
      .select(col(groupCol).as("_g"),
        col(scoreCol).cast("decimal(18,2)").as("_s"),
        col(labelCol).cast("boolean").as("_y"))
    val m = b.groupBy(col("_g"))
      .agg(sum(col("_s")).cast("decimal(18,2)").as("_ss"),
        count(lit(1)).as("_n"))
    val pred = col("_s").cast("double") >=
      col("_ss").cast("double") / col("_n").cast("double")
    val cells = b.join(broadcast(m), Seq("_g"))
      .select(col("_g"), pred.as("_p"), col("_y"))
      .groupBy(col("_g"))
      .agg(sum(when(col("_p") && col("_y"), 1L).otherwise(0L)).as("tp"),
        sum(when(col("_p") && !col("_y"), 1L).otherwise(0L)).as("fp"),
        sum(when(!col("_p") && col("_y"), 1L).otherwise(0L)).as("fn"),
        sum(when(!col("_p") && !col("_y"), 1L).otherwise(0L)).as("tn"))
    val mccNum = (col("tp").cast(dec) * col("tn").cast(dec)
      - col("fp").cast(dec) * col("fn").cast(dec)).cast("double")
    val mccDen = sqrt((col("tp") + col("fp")).cast("double")) *
      sqrt((col("tp") + col("fn")).cast("double")) *
      sqrt((col("tn") + col("fp")).cast("double")) *
      sqrt((col("tn") + col("fn")).cast("double"))
    cells
      .withColumn("f1_pico",
        when(lit(2L) * col("tp") + col("fp") + col("fn") > 0L,
          round(lit(2.0) * col("tp")
            / (lit(2L) * col("tp") + col("fp") + col("fn")).cast("double")
            * 1000000000000.0).cast("long")))
      .withColumn("mcc_pico",
        when(col("tp") + col("fp") > 0L && col("tp") + col("fn") > 0L &&
            col("tn") + col("fp") > 0L && col("tn") + col("fn") > 0L,
          round(mccNum / mccDen * 1000000000000.0).cast("long")))
      .select(col("_g").as("group"), col("tp"), col("fp"), col("fn"),
        col("tn"), col("f1_pico"), col("mcc_pico"))
  }

  /** Spearman rank correlation between two integer metrics (Spearman
    * 1904; tie-corrected form = Pearson over AVERAGE ranks) — the
    * monotone-association companion to the Pearson panel in
    * q_metric_corr: rank correlation survives the heavy-tailed metric
    * distributions (lengths, counts) that wreck Pearson.
    *
    * Exact law: ranks come from per-VALUE frequency tables — doubled
    * average rank `2·(#smaller) + count + 1` is an exact integer even
    * under ties, and scale-invariance of correlation makes doubling
    * free — so all moments are exact DECIMAL(38,0) sums; ρ is then ONE
    * fixed double chain `cov/(√vx·√vy)` over the mean-centered moments
    * (the assortativity discipline), NULL when either side is constant.
    *
    * Scale shape: NO corpus-wide window — the global sort a naive rank
    * would need is replaced by two hash aggregates to per-value
    * frequency tables (bounded by DISTINCT metric values, not corpus
    * rows), a DISTRIBUTED two-pass prefix sum over each table
    * ([[PrefixSum.inclusive]] — never a single-task sort even when the
    * distinct set grows with the corpus), and two broadcast joins back.
    * One |corpus|-row aggregate for the moments.
    *
    * Output: one row (n, nx_distinct, ny_distinct, rho_pico).
    */
  def spearman(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val d = df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(col(xCol).cast("long").as("_x"), col(yCol).cast("long").as("_y"))
    def rankTable(c: String, as: String) = {
      val f = d.groupBy(col(c).as("_v")).agg(count(lit(1)).as("_cnt"))
      PrefixSum.inclusive(f, "_v", col("_cnt"), "_cumul")
        .select(col("_v"),
          (lit(2L) * (col("_cumul") - col("_cnt")) + col("_cnt") + lit(1L))
            .as(as))
    }
    val rx = rankTable("_x", "_r2x")
    val ry = rankTable("_y", "_r2y")
    val ranked = d
      .join(broadcast(rx), d("_x") === rx("_v")).drop("_v")
      .join(broadcast(ry), d("_y") === ry("_v")).drop("_v")
    val s = ranked.agg(
      count(lit(1)).as("n"),
      sum(col("_r2x").cast(dec)).as("_sx"),
      sum(col("_r2y").cast(dec)).as("_sy"),
      sum(col("_r2x").cast(dec) * col("_r2x").cast(dec)).as("_sxx"),
      sum(col("_r2y").cast(dec) * col("_r2y").cast(dec)).as("_syy"),
      sum(col("_r2x").cast(dec) * col("_r2y").cast(dec)).as("_sxy"))
    val nD = col("n").cast("double")
    val mx = col("_sx").cast("double") / nD
    val my = col("_sy").cast("double") / nD
    val cov = col("_sxy").cast("double") / nD - mx * my
    val vx = col("_sxx").cast("double") / nD - mx * mx
    val vy = col("_syy").cast("double") / nD - my * my
    val ndx = rx.agg(count(lit(1)).as("nx_distinct"))
    val ndy = ry.agg(count(lit(1)).as("ny_distinct"))
    s.crossJoin(broadcast(ndx)).crossJoin(broadcast(ndy))
      .withColumn("rho_pico",
        // nested when: vx/vy must not evaluate on an empty frame (ANSI)
        when(col("n") > 0L,
          when(vx =!= 0.0 && vy =!= 0.0,
            round(cov / (sqrt(vx) * sqrt(vy)) * 1000000000000.0)
              .cast("long"))))
      .select(col("n"), col("nx_distinct"), col("ny_distinct"),
        col("rho_pico"))
  }

  /** Kendall's τ-b between a BOUNDED-domain ordinal column and an
    * arbitrary orderable metric (Kendall '38; the tie-corrected τ-b of
    * Kendall '45) — [[spearman]]'s pair-concordance sibling: ρ reads
    * rank covariance, τ-b reads the exact fraction of pairs that agree
    * in direction, the statistic that survives any monotone transform
    * and heavy ties on the ordinal axis.
    *
    * Exact distributed law — the classic computation is a single-task
    * merge-sort inversion count; this one never materializes a pair:
    *
    *  1. joint value-frequency table grouped by the METRIC (one corpus
    *     hash aggregate) with one count column per ordinal class; the
    *     class set is a driver-side bounded collect ≤ `maxClasses`
    *     (the q_dynamic_status_views posture — the ordinal axis is the
    *     op's bounded-by-contract dimension, enforced with a hard
    *     require);
    *  2. per-class cumulative counts in metric order ride ONE
    *     [[PrefixSum.inclusiveAll]] pass — m weights share a single
    *     range shuffle, grand totals ride the same bounded totals
    *     table (`withTotals`), never a single-task sort;
    *  3. every discordance-relevant pair is counted exactly once at
    *     its HIGHER class j against lower classes j′ < j:
    *       C = Σ_y Σ_j c_j(y) · Σ_{j′<j} (cum_{j′}(y) − c_{j′}(y))
    *       D = Σ_y Σ_j c_j(y) · Σ_{j′<j} (tot_{j′} − cum_{j′}(y))
    *     with all products in DECIMAL(38,0);
    *  4. tie masses are exact integers: 2·n1 = Σ_j tot_j(tot_j−1)
    *     (class ties), 2·n2 = Σ_y m_y(m_y−1) (metric ties),
    *     2·n0 = n(n−1) — each halved by an exact integral division
    *     (consecutive-integer products are even);
    *  5. τ-b = (C−D)/√((n0−n1)(n0−n2)) is ONE pinned double chain over
    *     the output integers, pico-rounded; NULL when either variance
    *     factor is 0 (a constant axis carries no order information).
    *
    * Scale shape: corpus hash aggregate → metric-value table (grows
    * with DISTINCT metric values — the lorenz/rankEffect posture) →
    * one distributed prefix-sum pass → 1 row. Pair masses are BIGINT
    * in the output: defined while n(n−1)/2 < 2⁶³ (n < 4.3·10⁹ rows).
    *
    * Output (1 row): (n_rows, k_classes, tie_x_pairs, tie_y_pairs,
    * concordant, discordant, taub_pico).
    */
  def kendallTauB(df: DataFrame, classCol: String, valueCol: String,
      maxClasses: Int = 64): DataFrame = {
    val (agg, m, _) = classCumulants(df, classCol, valueCol, maxClasses,
      "kendallTauB")
    val staged = agg
      .select(col("_n").as("n_rows"), lit(m).cast("long").as("k_classes"),
        expr("CAST((CAST(_n AS DECIMAL(38,0)) * CAST(_n - 1 AS DECIMAL(38,0)))" +
          " div 2 AS BIGINT)").as("_n0"),
        expr("CAST(_t1x2 div 2 AS BIGINT)").as("tie_x_pairs"),
        expr("CAST(_vt2 div 2 AS BIGINT)").as("tie_y_pairs"),
        col("_cs").cast("long").as("concordant"),
        col("_ds").cast("long").as("discordant"))
    staged.select(col("n_rows"), col("k_classes"), col("tie_x_pairs"),
      col("tie_y_pairs"), col("concordant"), col("discordant"),
      // greatest(·, 1): identity whenever the when() fires — keeps a
      // CSE-hoisted division off 0/0 → NaN → ANSI long-cast failure
      when(col("_n0") - col("tie_x_pairs") > 0L &&
        col("_n0") - col("tie_y_pairs") > 0L,
        round((col("concordant") - col("discordant")).cast("double")
          / sqrt(greatest(col("_n0") - col("tie_x_pairs"), lit(1L))
              .cast("double")
            * greatest(col("_n0") - col("tie_y_pairs"), lit(1L))
              .cast("double"))
          * lit(1.0e12)).cast("long")).as("taub_pico"))
  }

  /** Shared 1-row cumulant frame of the (bounded ordinal class × metric)
    * pair design behind [[kendallTauB]], [[jonckheereTerpstra]] and
    * [[cliffsDelta]] — the joint value-frequency scaffold with one
    * [[PrefixSum.inclusiveAll]] pass (kendallTauB's law steps 1–3),
    * aggregated once to every exact cumulant the three laws read:
    *
    *   _n   total rows;  _cs / _ds  concordant / discordant pair sums;
    *   _vt2 = Σ_y m(m−1), _vt3 = Σ_y m(m−1)(m−2),
    *   _vt25 = Σ_y m(m−1)(2m+5)   — metric tie-run moments;
    *   _ct2 = Σ_cells c(c−1)       — joint (class, metric) tie mass;
    *   _t1x2 = Σ_j tot_j(tot_j−1)  and _tot0.._tot{m−1} per-class totals.
    *
    * Returns (frame, m, classes-in-ascending-order).
    */
  private def classCumulants(df: DataFrame, classCol: String,
      valueCol: String, maxClasses: Int,
      op: String): (DataFrame, Int, Array[Any]) = {
    val dec = "decimal(38,0)"
    val base = df.filter(col(classCol).isNotNull && col(valueCol).isNotNull)
      .select(col(classCol).as("_x"), col(valueCol).as("_y"))
    // bounded driver-side class collect: TakeOrdered(maxClasses+1), so an
    // unbounded class axis fails the require, never floods the driver
    val cls = base.select(col("_x")).distinct()
      .orderBy(col("_x")).limit(maxClasses + 1).collect().map(_.get(0))
    require(cls.nonEmpty, s"$op: no non-null (class, value) rows")
    require(cls.length <= maxClasses,
      s"$op: class column exceeds $maxClasses distinct values — " +
        "the per-class cumulative law needs a bounded ordinal axis; " +
        "bin the column or raise maxClasses")
    val m = cls.length
    val yt = base.groupBy(col("_y")).agg(
      sum(when(col("_x") === lit(cls(0)), 1L).otherwise(0L)).as("_c0"),
      (1 until m).map(j =>
        sum(when(col("_x") === lit(cls(j)), 1L).otherwise(0L)).as(s"_c$j")): _*)
    val ps = PrefixSum.inclusiveAll(yt, "_y",
      (0 until m).map(j => (col(s"_c$j"), s"_cum$j")), withTotals = true)
    val zero = lit(java.math.BigDecimal.ZERO).cast(dec)
    // one fold builds C and D terms plus the running lower-class masses
    // (strictly-below-in-metric and strictly-above-in-metric)
    val (concE, discE, _, _) = (0 until m)
      .foldLeft((zero, zero, zero, zero)) {
        case ((c0, d0, lowLt, lowGt), j) =>
          val cj = col(s"_c$j").cast(dec)
          val cumj = col(s"_cum$j").cast(dec)
          val totj = col(s"_cum${j}_total").cast(dec)
          (c0 + cj * lowLt, d0 + cj * lowGt,
            lowLt + (cumj - cj), lowGt + (totj - cumj))
      }
    val myE = (0 until m).map(j => col(s"_c$j")).reduce(_ + _)
    val cellT2 = (0 until m).map(j =>
      col(s"_c$j").cast(dec) * (col(s"_c$j") - lit(1L)).cast(dec))
      .reduce(_ + _)
    val myD = col("_my").cast(dec)
    val agg = ps
      .select((Seq(concE.as("_conc"), discE.as("_disc"), myE.as("_my"),
        cellT2.as("_cell2")) ++
        (0 until m).map(j => col(s"_cum${j}_total"))): _*)
      .agg(coalesce(sum(col("_my")), lit(0L)).as("_n"),
        (Seq(coalesce(sum(col("_conc")), zero).as("_cs"),
          coalesce(sum(col("_disc")), zero).as("_ds"),
          coalesce(sum(myD * (col("_my") - lit(1L)).cast(dec)), zero)
            .as("_vt2"),
          coalesce(sum(myD * (col("_my") - lit(1L)).cast(dec)
            * (col("_my") - lit(2L)).cast(dec)), zero).as("_vt3"),
          coalesce(sum(myD * (col("_my") - lit(1L)).cast(dec)
            * (lit(2L) * col("_my") + lit(5L)).cast(dec)), zero).as("_vt25"),
          coalesce(sum(col("_cell2")), zero).as("_ct2")) ++
          (0 until m).map(j => max(col(s"_cum${j}_total")).as(s"_tot$j"))): _*)
    val t1x2 = (0 until m).map(j =>
      coalesce(col(s"_tot$j"), lit(0L)).cast(dec)
        * (coalesce(col(s"_tot$j"), lit(0L)) - lit(1L)).cast(dec))
      .reduce(_ + _)
    (agg.withColumn("_t1x2", t1x2), m, cls)
  }

  /** Goodman–Kruskal γ ('54) and both Somers' d asymmetries ('62) — the
    * remaining classical ordinal-association family off the SAME
    * cumulant frame as [[kendallTauB]]: γ = (C−D)/(C+D) ignores ties
    * entirely (the "among pairs that order at all, how many agree"
    * reading); Somers' d conditions on one axis — d_y|x = (C−D)/(n₀−n₁)
    * penalizes ties in the DEPENDENT metric only (the
    * predictor-evaluation form), d_x|y the converse.
    *
    * Exact law: all three are one pico-rounded double chain over the
    * exact integers the scaffold already carries; NULL where the
    * denominator is 0 (no orderable pairs / a constant axis). Scale
    * shape and BIGINT bounds exactly as [[kendallTauB]].
    *
    * Output (1 row): (n_rows, k_classes, concordant, discordant,
    * gamma_pico, somers_dyx_pico, somers_dxy_pico).
    */
  def ordinalAssociation(df: DataFrame, classCol: String, valueCol: String,
      maxClasses: Int = 64): DataFrame = {
    val (agg, m, _) = classCumulants(df, classCol, valueCol, maxClasses,
      "ordinalAssociation")
    val staged = agg
      .select(col("_n").as("n_rows"), lit(m).cast("long").as("k_classes"),
        expr("CAST((CAST(_n AS DECIMAL(38,0)) * CAST(_n - 1 AS DECIMAL(38,0)))" +
          " div 2 AS BIGINT)").as("_n0"),
        expr("CAST(_t1x2 div 2 AS BIGINT)").as("_n1"),
        expr("CAST(_vt2 div 2 AS BIGINT)").as("_n2"),
        col("_cs").cast("long").as("concordant"),
        col("_ds").cast("long").as("discordant"))
    val cd = (col("concordant") - col("discordant")).cast("double")
    // greatest(·, 1): identity whenever the matching when() fires
    def ratio(den: Column): Column =
      round(cd / greatest(den, lit(1L)).cast("double") * lit(1.0e12))
        .cast("long")
    staged.select(col("n_rows"), col("k_classes"), col("concordant"),
      col("discordant"),
      when(col("concordant") + col("discordant") > 0L,
        ratio(col("concordant") + col("discordant"))).as("gamma_pico"),
      when(col("_n0") - col("_n1") > 0L,
        ratio(col("_n0") - col("_n1"))).as("somers_dyx_pico"),
      when(col("_n0") - col("_n2") > 0L,
        ratio(col("_n0") - col("_n2"))).as("somers_dxy_pico"))
  }

  /** Jonckheere–Terpstra ordered-alternative trend test (Terpstra '52 /
    * Jonckheere '54) — [[kendallTauB]]'s hypothesis-test twin: does the
    * metric TREND monotonically across the ordered classes? Reads the
    * SAME cumulant frame: the JT statistic is exactly the concordant
    * pair count (Σ over class pairs of Mann–Whitney counts), with
    * cross-class metric ties worth ½ (the Hollander–Wolfe tie form).
    *
    * Exact law, all integers until one double chain: with strict pairs
    * C, doubled cross-class tie mass TC2 = Σ_y m(m−1) − Σ_cells c(c−1),
    * class totals tot_j and N rows,
    *
    *   4·(J* − E)  =  4C + TC2 − (N² − Σ tot_j²)
    *   72·Var has the standard three tie-corrected components:
    *     A  = N(N−1)(2N+5) − Σ_j tot(tot−1)(2tot+5) − Σ_y t(t−1)(2t+5)
    *     Var = A/72 + (Σ_j tot(tot−1)(tot−2))·(Σ_y t(t−1)(t−2))
    *                    / (36·N(N−1)(N−2))
    *               + (Σ_j tot(tot−1))·(Σ_y t(t−1)) / (8·N(N−1))
    *   z = (J* − E)/√Var — one pinned double chain, pico-rounded;
    *   NULL when N < 3 or Var ≤ 0 (no trend information).
    *
    * Scale shape: identical to [[kendallTauB]] (one corpus aggregate,
    * one distributed prefix-sum pass, 1 row out). BIGINT pair-mass
    * bound as there.
    *
    * Output (1 row): (n_rows, k_classes, strict_pairs, cross_tie_pairs,
    * e4, var_micro, z_pico) — e4 = N² − Σ tot² is 4× the null mean.
    */
  def jonckheereTerpstra(df: DataFrame, classCol: String, valueCol: String,
      maxClasses: Int = 64): DataFrame = {
    val (agg, m, _) = classCumulants(df, classCol, valueCol, maxClasses,
      "jonckheereTerpstra")
    val dec = "decimal(38,0)"
    val s2 = (0 until m).map(j =>
      coalesce(col(s"_tot$j"), lit(0L)).cast(dec)
        * coalesce(col(s"_tot$j"), lit(0L)).cast(dec)).reduce(_ + _)
    val t25 = (0 until m).map { j =>
      val t = coalesce(col(s"_tot$j"), lit(0L))
      t.cast(dec) * (t - lit(1L)).cast(dec) *
        (lit(2L) * t + lit(5L)).cast(dec)
    }.reduce(_ + _)
    val t3 = (0 until m).map { j =>
      val t = coalesce(col(s"_tot$j"), lit(0L))
      t.cast(dec) * (t - lit(1L)).cast(dec) * (t - lit(2L)).cast(dec)
    }.reduce(_ + _)
    val staged = agg.select(
      col("_n").as("n_rows"), lit(m).cast("long").as("k_classes"),
      col("_cs").cast("long").as("strict_pairs"),
      expr("CAST((_vt2 - _ct2) div 2 AS BIGINT)").as("cross_tie_pairs"),
      (col("_n").cast(dec) * col("_n").cast(dec) - s2).cast("long").as("e4"),
      (col("_n").cast(dec) * (col("_n") - lit(1L)).cast(dec)
        * (lit(2L) * col("_n") + lit(5L)).cast(dec) - t25 - col("_vt25"))
        .cast("double").as("_a"),
      t3.cast("double").as("_b1"), col("_vt3").cast("double").as("_b2"),
      col("_t1x2").cast("double").as("_g2"), col("_vt2").cast("double").as("_d2"),
      col("_n").cast("double").as("_nd"))
    // greatest clamps: identity whenever the when() fires (N ≥ 3 there)
    val nd = col("_nd")
    val n1 = greatest(nd - lit(1.0), lit(1.0))
    val n2g = greatest(nd - lit(2.0), lit(1.0))
    val varE = col("_a") / lit(72.0) +
      col("_b1") * col("_b2") / (lit(36.0) * greatest(nd, lit(1.0)) * n1 * n2g) +
      col("_g2") * col("_d2") / (lit(8.0) * greatest(nd, lit(1.0)) * n1)
    val zNum4 = (lit(4L).cast(dec) * col("strict_pairs").cast(dec)
      + lit(2L).cast(dec) * col("cross_tie_pairs").cast(dec)
      - col("e4").cast(dec)).cast("double")
    staged.select(col("n_rows"), col("k_classes"), col("strict_pairs"),
      col("cross_tie_pairs"), col("e4"),
      when(col("n_rows") >= 3L, round(varE * lit(1.0e6)).cast("long"))
        .as("var_micro"),
      when(col("n_rows") >= 3L && varE > 0.0,
        round(zNum4 / lit(4.0) / sqrt(greatest(varE, lit(1.0e-300)))
          * lit(1.0e12)).cast("long")).as("z_pico"))
  }

  /** Cliff's delta (Cliff '93) — the two-group ordinal effect size:
    * δ = (#(a > b) − #(a < b)) / (n_a·n_b) over all cross pairs, the
    * distribution-free companion of [[welchTTest]]'s Cohen's d (reads
    * ONLY order, so it survives skew and outliers that own a mean).
    * Rides the [[kendallTauB]] cumulant scaffold with the boolean group
    * as the two-class ordinal axis: concordant = pairs where the `true`
    * group's value is higher.
    *
    * Exact law: gt/lt/tie pair counts are exact integers off the shared
    * cumulants (ties = (Σ_y m(m−1) − Σ_cells c(c−1))/2, all cross-group
    * by construction at m = 2); δ is ONE pico-rounded double chain.
    * NULL δ when either group is empty. A single-group input reports
    * that group's count with zero pairs.
    *
    * Output (1 row): (n_a, n_b, gt_pairs, lt_pairs, tie_pairs,
    * delta_pico) — a = rows where `isACol` is true.
    */
  def cliffsDelta(df: DataFrame, valueCol: String,
      isACol: String): DataFrame = {
    val (agg, m, cls) = classCumulants(
      df.select(col(isACol).cast("boolean").as("_grp"), col(valueCol)),
      "_grp", valueCol, maxClasses = 2, "cliffsDelta")
    // classes sort ascending: false < true — the concordant count is
    // "higher class (true) holds the higher value", i.e. #(a > b)
    val aIdx = cls.indexOf(true)
    val nA = if (aIdx >= 0) coalesce(col(s"_tot$aIdx"), lit(0L)) else lit(0L)
    val nB = if (cls.indexOf(false) >= 0)
      coalesce(col(s"_tot${cls.indexOf(false)}"), lit(0L)) else lit(0L)
    val gt = if (m == 2) col("_cs").cast("long") else lit(0L)
    val lt = if (m == 2) col("_ds").cast("long") else lit(0L)
    val dec = "decimal(38,0)"
    agg.select(nA.as("n_a"), nB.as("n_b"), gt.as("gt_pairs"), lt.as("lt_pairs"),
      expr("CAST((_vt2 - _ct2) div 2 AS BIGINT)").as("tie_pairs"),
      when(nA > 0L && nB > 0L,
        round((gt - lt).cast("double")
          / greatest(nA.cast(dec) * nB.cast(dec),
            lit(java.math.BigDecimal.ONE).cast(dec)).cast("double")
          * lit(1.0e12)).cast("long")).as("delta_pico"))
  }

  /** Mean-reciprocal-rank components at k (Voorhees, TREC-8 '99 — THE
    * known-item retrieval statistic): for each query, the rank of the
    * FIRST relevant item within the top `k` of a ranked list, and its
    * exact-integer reciprocal `rr_micro = 1000000 div rank` (0 when no
    * relevant item makes the cut — MRR's convention, not a NULL; the
    * mean over queries is then a trivial downstream aggregate of exact
    * integers). Relevance is an explicit (query, item) pair frame — the
    * label-match, clicked-result, or qrels form all reduce to it.
    *
    * Scale shape: the ranked frame filters to rank ≤ k upstream of a
    * hash join with the relevance pairs (both sides bounded by
    * queries×k), then one |queries|-row aggregate. No window, no corpus
    * pass.
    *
    * Output: (query_id, n_rel_at_k, first_rel_rank, rr_micro) — one row
    * per query present in the ranked frame.
    */
  def mrrAtK(ranked: DataFrame, rel: DataFrame, queryCol: String,
      itemCol: String, rankCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val r = ranked.select(col(queryCol).cast("long").as("query_id"),
        col(itemCol).cast("long").as("_item"),
        col(rankCol).cast("long").as("_rk"))
      .filter(col("_rk") <= k)
    val rl = rel.select(col(queryCol).cast("long").as("query_id"),
        col(itemCol).cast("long").as("_item"))
      .distinct().withColumn("_rel", lit(1L))
    r.join(rl, Seq("query_id", "_item"), "left")
      .groupBy(col("query_id"))
      .agg(sum(coalesce(col("_rel"), lit(0L))).as("n_rel_at_k"),
        min(when(col("_rel") === 1L, col("_rk"))).as("first_rel_rank"))
      .withColumn("rr_micro",
        coalesce(expr("1000000L div first_rel_rank"), lit(0L)))
  }

  def rboAtK(a: DataFrame, b: DataFrame, queryCol: String, itemCol: String,
      rankCol: String, k: Int, p: Double = 0.9): DataFrame = {
    def side(df: DataFrame, as: String) = df
      .select(col(queryCol).cast("long").as("query_id"),
        col(itemCol).cast("long").as("_item"),
        col(rankCol).cast("int").as(as))
    rboFromPaired(
      side(a, "_ra").join(side(b, "_rb"), Seq("query_id", "_item"),
        "full_outer"),
      k, p)
  }

  /** [[rboAtK]] over ONE frame carrying BOTH systems' ranks per (query,
    * item) — the [[graft.ops.Similarity.systemRankings]] shape, and the
    * form to prefer when the two rankings come from one computation:
    * the shared upstream appears once per plan consumer instead of once
    * per side (a two-frame split of a common subtree doubles the
    * broadcast/scan frames in the plan). NULL rank = item outside that
    * system's list.
    */
  def rboAtKFromRankings(rankings: DataFrame, queryCol: String,
      itemCol: String, rankACol: String, rankBCol: String, k: Int,
      p: Double = 0.9): DataFrame =
    rboFromPaired(
      rankings.select(col(queryCol).cast("long").as("query_id"),
        col(itemCol).cast("long").as("_item"),
        col(rankACol).cast("int").as("_ra"),
        col(rankBCol).cast("int").as("_rb")),
      k, p)

  /** Shared core over the paired frame (query_id, _item, _ra, _rb). */
  private def rboFromPaired(paired: DataFrame, k: Int, p: Double): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(p > 0.0 && p < 1.0, s"persistence p must lie in (0,1), got $p")
    val spark = paired.sparkSession
    def in(c: Column) = c >= 1 && c <= k
    val matched = paired.filter(in(col("_ra")) && in(col("_rb")))
    val queries = paired.filter(in(col("_ra")) || in(col("_rb")))
      .select(col("query_id")).distinct()
    val depths = spark.range(1, k + 1L).select(col("id").cast("int").as("_d"))
    val ov = queries.crossJoin(broadcast(depths))
      .join(matched, Seq("query_id"), "left")
      .groupBy(col("query_id"), col("_d"))
      .agg(count(when(col("_ra") <= col("_d") && col("_rb") <= col("_d"),
        lit(1))).as("_ov"))
    val weight = (lit(1.0) - lit(p)) *
      exp((col("_d") - 1).cast("double") * log(lit(p)))
    ov.withColumn("_term",
        round((weight * (col("_ov").cast("double") / col("_d").cast("double")))
          * 1000000000000.0).cast("long"))
      .groupBy(col("query_id"))
      // n_common IS the prefix overlap at depth k — no second aggregate
      // or join over the match frame needed
      .agg(max(when(col("_d") === k, col("_ov"))).as("n_common"),
        sum(col("_term")).as("rbo_pico"))
      .select(col("query_id"), col("n_common"), col("rbo_pico"))
  }

  /** Kendall's τ (Kendall, Biometrika '38) between two per-query rankings
    * restricted to their COMMON top-`k` items — the pairwise-concordance
    * complement to [[rboAtKFromRankings]]'s prefix overlap (RBO weights
    * WHERE lists agree; τ asks whether they ORDER the shared items the
    * same way). Items ranked in both systems within top-k enter; pairs
    * (i, j) are concordant when both systems order them alike,
    * discordant otherwise. Ranks are row_numbers (no within-system
    * ties), so plain τ = (C − D) / (n(n−1)/2) applies.
    *
    * Exact law: C, D, n are exact integers; τ is ONE fixed double chain
    * quantized to picos; NULL for queries with fewer than 2 common items
    * (undefined — visible NULL, not a fake 0).
    *
    * Scale shape: the pair expansion is a self-join keyed on the query
    * with fan-out ≤ C(k, 2) per query — bounded by CONFIGURATION, never
    * by corpus size (the per-query-bounded posture of the RBO/NDCG
    * family; a corpus-level τ would be the O(n²) trap). One hash
    * aggregate after.
    *
    * Output: (query_id, n_common, concordant, discordant, tau_pico).
    */
  def kendallTauFromRankings(rankings: DataFrame, queryCol: String,
      itemCol: String, rankACol: String, rankBCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val paired = rankings.select(
        col(queryCol).cast("long").as("query_id"),
        col(itemCol).cast("long").as("_item"),
        col(rankACol).cast("int").as("_ra"),
        col(rankBCol).cast("int").as("_rb"))
      .filter(col("_ra").isNotNull && col("_rb").isNotNull &&
        col("_ra") <= k && col("_rb") <= k)
    val l = paired.select(col("query_id"), col("_item").as("_i"),
      col("_ra").as("_rai"), col("_rb").as("_rbi"))
    val r = paired.select(col("query_id"), col("_item").as("_j"),
      col("_ra").as("_raj"), col("_rb").as("_rbj"))
    // DIAGONAL-INCLUSIVE self-join (i <= j): the i = j rows carry
    // n_common, so ONE aggregate serves all three counters and the
    // shared-rankings subtree has exactly two plan consumers (the
    // rboAtKFromRankings known shape) instead of three — a query with a
    // single common item still reports (n_common 1, 0, 0, NULL τ)
    val pairs = l.join(r, Seq("query_id")).filter(col("_i") <= col("_j"))
      .select(col("query_id"), (col("_i") === col("_j")).as("_diag"),
        (((col("_rai") < col("_raj")) && (col("_rbi") < col("_rbj"))) ||
          ((col("_rai") > col("_raj")) && (col("_rbi") > col("_rbj"))))
          .as("_conc"))
    pairs.groupBy(col("query_id"))
      .agg(sum(when(col("_diag"), 1L).otherwise(0L)).as("n_common"),
        sum(when(!col("_diag") && col("_conc"), 1L).otherwise(0L))
          .as("concordant"),
        sum(when(!col("_diag") && !col("_conc"), 1L).otherwise(0L))
          .as("discordant"))
      .withColumn("tau_pico",
        when(col("n_common") >= 2L,
          round((col("concordant") - col("discordant")).cast("double")
            / ((col("n_common") * (col("n_common") - 1L)).cast("double")
              / lit(2.0)) * 1000000000000.0).cast("long")))
  }

  /** Unbiased pass@k (Chen et al., arXiv 2107.03374 — THE code/agent
    * benchmark estimator: the probability that at least one of k random
    * draws from a task's n attempts succeeds,
    * `1 − C(n−c, k)/C(n, k)`, which is unbiased where the naive
    * "best-of-first-k" is not). Attempts with a NULL success flag are
    * excluded (no truth — the AUC discipline).
    *
    * Exact law: n and c are exact integers; the binomial RATIO evaluates
    * as the k-term product `Π (n−c−i)/(n−i)` — one FIXED left-associated
    * double chain (never the factorials, which overflow anything), so
    * the oracle replays it term for term. Tasks with n < k report NULL
    * (the estimator is undefined — visible NULL, not a fake value);
    * n − c < k short-circuits to exactly 1 (C(n−c,k) = 0).
    *
    * Scale shape: ONE hash aggregate over the attempts (map-side
    * combine), then a narrow projection. No join, no window.
    *
    * Output: (task_id, n_attempts, n_correct, pass_at_k_pico).
    */
  def passAtK(attempts: DataFrame, taskCol: String, successCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val g = attempts.filter(col(successCol).isNotNull)
      .groupBy(col(taskCol).as("task_id"))
      .agg(count(lit(1)).as("n_attempts"),
        sum(when(col(successCol).cast("boolean"), 1L).otherwise(0L))
          .as("n_correct"))
    val nD = col("n_attempts").cast("double")
    val fD = (col("n_attempts") - col("n_correct")).cast("double")
    val prod = (0 until k)
      .map(i => (fD - lit(i.toDouble)) / (nD - lit(i.toDouble)))
      .reduce(_ * _)
    g.withColumn("pass_at_k_pico",
      when(col("n_attempts") >= k.toLong,
        when(col("n_attempts") - col("n_correct") < k.toLong,
          lit(1000000000000L))
          .otherwise(round((lit(1.0) - prod) * 1000000000000.0).cast("long"))))
  }

  /** Character error rate (the ASR/OCR eval staple: Levenshtein edits per
    * reference character) of a candidate against a reference, over
    * ASCII-normalized fixed-length prefixes. Two dialect traps are
    * designed out as part of the LAW: non-ASCII strips BEFORE the
    * distance (Spark's levenshtein counts codepoints, DuckDB's counts
    * BYTES — on pure ASCII they agree exactly), and the comparison runs
    * on `prefixLen`-char prefixes (edit distance is O(len²) per row — a
    * capped prefix keeps per-row cost a CONSTANT at scale, the pqScan
    * boundedness posture applied to a quadratic string kernel).
    *
    * Exact law: the edit count and prefix length are exact integers;
    * `cer_pico = round(edits / ref_chars · 1e12)` is one fixed double
    * chain, NULL when the reference prefix is empty.
    *
    * Scale shape: one narrow projection — no join, no window, no shuffle
    * beyond the caller's. Codegen'd builtins only.
    *
    * Output: (idCol, ref_chars, edit_dist, cer_pico).
    */
  def cerAtPrefix(df: DataFrame, idCol: String, refCol: String,
      candCol: String, prefixLen: Int = 256): DataFrame = {
    require(prefixLen >= 1, s"prefixLen must be >= 1, got $prefixLen")
    def prep(c: Column) = substring(
      regexp_replace(coalesce(c, lit("")), "[^\\x00-\\x7F]", ""),
      1, prefixLen)
    df.select(col(idCol), prep(col(refCol)).as("_r"), prep(col(candCol)).as("_c"))
      .select(col(idCol),
        length(col("_r")).cast("long").as("ref_chars"),
        levenshtein(col("_r"), col("_c")).cast("long").as("edit_dist"))
      .withColumn("cer_pico",
        when(col("ref_chars") > 0L,
          round(col("edit_dist").cast("double")
            / col("ref_chars").cast("double") * 1000000000000.0)
            .cast("long")))
  }

  /** Pearson χ² independence test + Cramér's V between two categorical
    * columns (Pearson 1900 / Cramér '46) — the contingency screen every
    * pipeline dashboard wants ("is the event mix time-of-day
    * dependent?", "is language independent of source?") with effect
    * size, not just a statistic.
    *
    * Exact law: with cell counts n_ij, row totals r_i, column totals
    * c_j and N, each PRESENT cell's term
    * `(N·n_ij − r_i·c_j)² / (N·r_i·c_j)` quantizes to picos before the
    * integer Σ; ABSENT cells (n_ij = 0, term = r_i·c_j/N²·N = r_i·c_j/N)
    * fold in arithmetically — Σ_all r_i·c_j/N = N exactly, so
    *
    *   chi2_pico = Σ_present round(term·10¹²) + N·10¹²
    *               − Σ_present round(r_i·c_j/N · 10¹²)
    *
    * (the t-closeness absent-value discipline: never a dense row×col
    * frame). Cramér's V = √(χ² / (N·(min(R,C)−1))) — IEEE sqrt is
    * correctly rounded, so the one sqrt is engine-stable; NULL when
    * either dimension is single-valued (V undefined). NULL category
    * values assert nothing and drop.
    *
    * Scale shape: one column-pruned corpus hash aggregate to cells,
    * row/column totals as partitioned window sums over the bounded
    * R×C cell table, one 1-row Σ. No joins, no driver state.
    *
    * Output: ONE row (n_rows, n_a, n_b, chi2_pico, cramers_v_pico);
    * no rows on an empty input.
    */
  def chi2Independence(df: DataFrame, aCol: String,
      bCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val cells = df.filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .groupBy(col(aCol).as("_a"), col(bCol).as("_b"))
      .agg(count(lit(1)).as("_n"))
    val wA = Window.partitionBy(col("_a"))
    val wB = Window.partitionBy(col("_b"))
    val wAll = Window.partitionBy()
    val en = cells
      .withColumn("_r", sum(col("_n")).over(wA))
      .withColumn("_c", sum(col("_n")).over(wB))
      .withColumn("_t", sum(col("_n")).over(wAll))
      .withColumn("_na", size(collect_set(col("_a")).over(wAll)).cast("long"))
      .withColumn("_nb", size(collect_set(col("_b")).over(wAll)).cast("long"))
    val dev = col("_t").cast(dec) * col("_n") - col("_r").cast(dec) * col("_c")
    val term = round((dev * dev).cast("double")
      / (col("_t").cast("double") * col("_r").cast("double")
        * col("_c").cast("double")) * 1.0e12).cast("long")
    val absent = round((col("_r").cast("double") * col("_c").cast("double")
      / col("_t").cast("double")) * 1.0e12).cast("long")
    val agg = en
      .select(col("_t"), col("_na"), col("_nb"),
        term.cast(dec).as("_term"), absent.cast(dec).as("_abs"))
      .groupBy(col("_t"), col("_na"), col("_nb"))
      .agg(sum(col("_term")).as("_sp"), sum(col("_abs")).as("_sa"))
      .select(col("_t").as("n_rows"), col("_na").as("n_a"),
        col("_nb").as("n_b"),
        (col("_sp") + col("_t").cast(dec) * lit(1000000000000L).cast(dec)
          - col("_sa")).cast("long").as("chi2_pico"))
    agg.select(col("n_rows"), col("n_a"), col("n_b"), col("chi2_pico"),
      when(least(col("n_a"), col("n_b")) >= 2L,
        round(sqrt(col("chi2_pico").cast("double") / 1.0e12
          / (col("n_rows").cast("double")
            * (least(col("n_a"), col("n_b")) - 1L).cast("double")))
          * 1.0e12).cast("long")).as("cramers_v_pico"))
  }

  /** Mood's median test ('50) — the k-group location test that reads
    * ONLY above-median counts, the maximally outlier-proof (and
    * maximally blunt) member of the location family: where
    * [[kruskalWallis]] ranks everything, Mood asks one question per
    * row — above the pooled median or not — and hands the resulting
    * k×2 table to [[chi2Independence]]. The composition IS the law.
    *
    * Exact law: the pooled LOWER median (the value at rank
    * ⌈n/2⌉ = (n+1) div 2 — exact-integer, no interpolation, so the
    * split replays in any engine) comes from the value-frequency table
    * via the DISTRIBUTED prefix sum ([[PrefixSum.inclusive]] — never a
    * single-task sort) as the smallest value whose cumulative count
    * reaches the rank; rows flag `above = v > median`; the χ² and
    * Cramér's V over (group × above) are [[chi2Independence]]'s exact
    * per-cell law verbatim. Empty input yields the empty frame.
    *
    * Scale shape: one corpus hash aggregate → value table → prefix-sum
    * pass → 1-row median broadcast back onto the corpus → the bounded
    * (groups × 2)-cell χ² aggregate. No window over data, no driver
    * state.
    *
    * INTEGRAL-VALUE CONTRACT (the gini/anovaF discipline): valueCol is
    * cast to long with Spark semantics (truncation toward zero). A
    * non-integral value column would diverge from an oracle whose
    * CAST(... AS BIGINT) rounds to nearest (DuckDB) — callers must
    * pass an integral column (the wired q_mood_median uses n_chars).
    *
    * Output (1 row): (n_rows, n_groups, n_sides, median_value,
    * chi2_pico, cramers_v_pico).
    */
  def moodMedianTest(df: DataFrame, valueCol: String,
      groupCol: String): DataFrame = {
    val d = df.filter(col(valueCol).isNotNull && col(groupCol).isNotNull)
      .select(col(groupCol).as("_g"), col(valueCol).cast("long").as("_v"))
    val freq = d.groupBy(col("_v")).agg(count(lit(1)).as("_c"))
    val tot = freq.agg(coalesce(sum(col("_c")), lit(0L)).as("_n"))
    val med = PrefixSum.inclusive(freq, "_v", col("_c"), "_cum")
      .crossJoin(broadcast(tot))
      .filter(col("_cum") >= expr("(_n + 1) div 2"))
      .agg(min(col("_v")).as("median_value"))
    val flagged = d.crossJoin(broadcast(med))
      .select(col("_g"), (col("_v") > col("median_value")).as("_above"))
    chi2Independence(flagged, "_g", "_above")
      .crossJoin(broadcast(med))
      .select(col("n_rows"), col("n_a").as("n_groups"),
        col("n_b").as("n_sides"), col("median_value"),
        col("chi2_pico"), col("cramers_v_pico"))
  }

  /** Mutual information between two categorical columns (nats, pico
    * precision) — the information-theoretic companion of
    * [[chi2Independence]]: how many nats knowing one column gives about
    * the other (0 = independent; the dependence STRENGTH where χ²
    * gives significance).
    *
    * Exact law: MI = Σ_ij (n_ij/N)·ln(N·n_ij / (r_i·c_j)) over PRESENT
    * cells only (absent cells contribute exactly 0 — no folding
    * needed); each cell's log factor quantizes to picos and multiplies
    * the exact integer n_ij BEFORE the DECIMAL(38,0) Σ (the
    * entropy-rate discipline), and `mi_pico = round(Σ / N)` is one
    * double division. NULL values drop.
    *
    * Scale shape: identical to [[chi2Independence]] — one corpus hash
    * aggregate, partitioned window totals over the bounded cell table,
    * one 1-row Σ.
    *
    * Output: ONE row (n_rows, n_a, n_b, mi_pico); no rows on empty.
    */
  def mutualInformation(df: DataFrame, aCol: String,
      bCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val cells = df.filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .groupBy(col(aCol).as("_a"), col(bCol).as("_b"))
      .agg(count(lit(1)).as("_n"))
    val wA = Window.partitionBy(col("_a"))
    val wB = Window.partitionBy(col("_b"))
    val wAll = Window.partitionBy()
    val en = cells
      .withColumn("_r", sum(col("_n")).over(wA))
      .withColumn("_c", sum(col("_n")).over(wB))
      .withColumn("_t", sum(col("_n")).over(wAll))
      .withColumn("_na", size(collect_set(col("_a")).over(wAll)).cast("long"))
      .withColumn("_nb", size(collect_set(col("_b")).over(wAll)).cast("long"))
    val factor = round(log((col("_t").cast("double") * col("_n").cast("double"))
      / (col("_r").cast("double") * col("_c").cast("double")))
      * 1.0e12).cast("long")
    en
      .select(col("_t"), col("_na"), col("_nb"),
        (col("_n").cast(dec) * factor.cast(dec)).as("_term"))
      .groupBy(col("_t"), col("_na"), col("_nb"))
      .agg(sum(col("_term")).as("_s"))
      .select(col("_t").as("n_rows"), col("_na").as("n_a"),
        col("_nb").as("n_b"),
        round(col("_s").cast("double") / col("_t").cast("double"))
          .cast("long").as("mi_pico"))
  }

  /** Rank-based two-sample effect size — Mann–Whitney U ('47) and
    * Cliff's delta ('93) in one pass: the DISTRIBUTION-FREE "are these
    * two groups drawn alike?" screen (is shard A's length profile the
    * same as shard B's? did the new pipeline shift quality scores?)
    * that t-test-style mean comparisons get wrong on the heavy-tailed,
    * outlier-ridden distributions corpus metrics actually have.
    *
    * Exact law — never the O(n·m) pairwise join: one frequency table
    * per distinct value ((value, n_a, n_b) — ONE corpus hash aggregate),
    * then the greater/less/tie pair counts come from cumulative-B
    * window sums over the VALUE table:
    *
    *   gt = Σ_v n_a(v)·#B(< v),  lt = Σ_v n_a(v)·#B(> v),
    *   ties = Σ_v n_a(v)·n_b(v)
    *
    * all in DECIMAL(38,0); `u2_statistic = 2·gt + ties` is the DOUBLED
    * Mann–Whitney U (kept integral instead of U's ·0.5 tie term);
    * `cliffs_delta_pico = round((gt−lt)/(n_a·n_b)·10¹²)` is ONE double
    * division, NULL when either group is empty. NULL values and NULL
    * group flags assert nothing and drop.
    *
    * Scale shape: one column-pruned corpus aggregate (map-side combine);
    * the cumulative-B sums run as a DISTRIBUTED two-pass prefix sum over
    * the DISTINCT-VALUE table ([[PrefixSum.inclusive]] — range-partition,
    * per-partition partials, broadcast offsets; never a single-task
    * sort), one 1-row aggregate ends it. Outputs stay BIGINT (pair
    * counts overflow only past n_a·n_b ≈ 9.2·10¹⁸ — two 3·10⁹-row
    * groups).
    *
    * Output: ONE row (n_a, n_b, gt_pairs, lt_pairs, tie_pairs,
    * u2_statistic, cliffs_delta_pico).
    */
  /** Theil's uncertainty coefficient — NORMALIZED, asymmetric dependence
    * between two categorical columns (Theil '70: U(a|b) = MI/H(a), the
    * fraction of a's entropy that knowing b removes) — the companion
    * [[mutualInformation]]'s raw nats need for cross-pair comparison,
    * and DIRECTIONAL where Cramér's V is not ("source predicts lang
    * almost fully; lang barely narrows source").
    *
    * Exact law: the cell scaffold of [[mutualInformation]]; marginal
    * entropies from the bounded row/column-total tables with per-value
    * `r·Q(ln(N/r))` pico terms summed in DECIMAL before ONE division
    * (the entropy-rate discipline); `u_ab_micro = round(mi/h_a·10⁶)` is
    * a division of two ALREADY-QUANTIZED longs — engine-trivial. NULL U
    * when the conditioned side is constant (H = 0). NULL values drop.
    *
    * Scale shape: one corpus hash aggregate to cells, two bounded
    * marginal aggregates, 1-row joins. No windows.
    *
    * Output: ONE row (n_rows, n_a, n_b, h_a_pico, h_b_pico, mi_pico,
    * u_ab_micro, u_ba_micro); no rows on empty input.
    */
  def uncertaintyCoefficient(df: DataFrame, aCol: String,
      bCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val cells = df.filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .groupBy(col(aCol).as("_a"), col(bCol).as("_b"))
      .agg(count(lit(1)).as("_n"))
    val rows = cells.groupBy(col("_a")).agg(sum(col("_n")).as("_r"))
    val cols = cells.groupBy(col("_b")).agg(sum(col("_n")).as("_c"))
    val tot = cells.agg(sum(col("_n")).as("_t"))
    def entropyPico(m: DataFrame, cnt: String) = m.crossJoin(broadcast(tot))
      .select(col("_t"),
        (col(cnt).cast(dec) *
          round(log(col("_t").cast("double") / col(cnt).cast("double"))
            * 1.0e12).cast("long").cast(dec)).as("_e"))
      .groupBy(col("_t"))
      .agg(count(lit(1)).as("_k"), sum(col("_e")).as("_es"))
      .select(col("_k"),
        round(col("_es").cast("double") / col("_t").cast("double"))
          .cast("long").as("_h"))
    val ha = entropyPico(rows, "_r")
      .select(col("_k").as("n_a"), col("_h").as("h_a_pico"))
    val hb = entropyPico(cols, "_c")
      .select(col("_k").as("n_b"), col("_h").as("h_b_pico"))
    val mi = cells
      .join(rows, "_a").join(cols, "_b").crossJoin(broadcast(tot))
      .select(col("_t"),
        (col("_n").cast(dec) *
          round(log((col("_t").cast("double") * col("_n").cast("double"))
            / (col("_r").cast("double") * col("_c").cast("double")))
            * 1.0e12).cast("long").cast(dec)).as("_m"))
      .groupBy(col("_t")).agg(sum(col("_m")).as("_ms"))
      .select(col("_t").as("n_rows"),
        round(col("_ms").cast("double") / col("_t").cast("double"))
          .cast("long").as("mi_pico"))
    mi.crossJoin(broadcast(ha)).crossJoin(broadcast(hb))
      .select(col("n_rows"), col("n_a"), col("n_b"),
        col("h_a_pico"), col("h_b_pico"), col("mi_pico"),
        when(col("h_a_pico") > 0L,
          round(col("mi_pico").cast("double") / col("h_a_pico").cast("double")
            * 1.0e6).cast("long")).as("u_ab_micro"),
        when(col("h_b_pico") > 0L,
          round(col("mi_pico").cast("double") / col("h_b_pico").cast("double")
            * 1.0e6).cast("long")).as("u_ba_micro"))
  }

  /** Per-group conversion risk ratio with Wilson 95% bounds (Wilson
    * JASA '27 — the small-sample-safe proportion interval) vs the rest
    * of the corpus: the segment-screen behind "does THIS source/type
    * convert differently?", with uncertainty bars a raw rate can't give.
    *
    * Exact law: counts are exact integers; `rate_micro = round(s/n·10⁶)`;
    * `rr_micro = round((s_g/n_g)/(s_r/n_r)·10⁶)` (NULL when the rest has
    * no successes or either side is empty); the Wilson bounds are one
    * fixed double chain with z = 1.96 and ONE IEEE sqrt (correctly
    * rounded, engine-stable):
    *
    *   center = (p + z²/2n)/(1 + z²/n),
    *   half   = (z/(1 + z²/n))·√(p(1−p)/n + z²/4n²).
    *
    * NULL successCol rows assert nothing and drop.
    *
    * Scale shape: ONE corpus hash aggregate (map-side combined) + a
    * 1-row broadcast total. No windows, no joins.
    *
    * Output: (grp, n, successes, rate_micro, rr_micro, wilson_lo_micro,
    * wilson_hi_micro), one row per group, ordered by grp.
    */
  def riskRatioByGroup(df: DataFrame, groupCol: String,
      successCol: String): DataFrame = {
    val z = 1.96
    val per = df.filter(col(groupCol).isNotNull && col(successCol).isNotNull)
      .groupBy(col(groupCol).as("grp"))
      .agg(count(lit(1)).as("n"),
        sum(when(col(successCol), 1L).otherwise(0L)).as("successes"))
    val tot = per.agg(sum(col("n")).as("_tn"), sum(col("successes")).as("_ts"))
    val nD = col("n").cast("double")
    val p = col("successes").cast("double") / nD
    val z2n = lit(z * z) / nD
    val center = (p + z2n / lit(2.0)) / (lit(1.0) + z2n)
    val half = (lit(z) / (lit(1.0) + z2n)) *
      sqrt(p * (lit(1.0) - p) / nD + lit(z * z) / (lit(4.0) * nD * nD))
    val restN = (col("_tn") - col("n")).cast("double")
    val restS = (col("_ts") - col("successes")).cast("double")
    per.crossJoin(broadcast(tot))
      .select(col("grp"), col("n"), col("successes"),
        round(p * 1.0e6).cast("long").as("rate_micro"),
        when(col("_tn") > col("n") && col("_ts") > col("successes"),
          round((p / (restS / restN)) * 1.0e6).cast("long")).as("rr_micro"),
        round(greatest(lit(0.0), center - half) * 1.0e6).cast("long")
          .as("wilson_lo_micro"),
        round(least(lit(1.0), center + half) * 1.0e6).cast("long")
          .as("wilson_hi_micro"))
      .orderBy(col("grp"))
  }

  def rankEffect(df: DataFrame, valueCol: String,
      isACol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val freq = df
      .filter(col(valueCol).isNotNull && col(isACol).isNotNull)
      .groupBy(col(valueCol).as("_v"))
      .agg(sum(when(col(isACol), 1L).otherwise(0L)).as("_na"),
        sum(when(col(isACol), 0L).otherwise(1L)).as("_nb"))
    val zero = lit(java.math.BigDecimal.ZERO).cast(dec)
    // #B(< v) from ONE distributed inclusive prefix sum; #B(> v) is the
    // 1-row broadcast B total minus the inclusive sum
    val totB = freq.agg(coalesce(sum(col("_nb")), lit(0L)).cast(dec).as("_tb"))
    val w = PrefixSum.inclusive(freq, "_v", col("_nb").cast(dec), "_hi")
      .crossJoin(broadcast(totB))
      .select(col("_na"), col("_nb"),
        (col("_hi") - col("_nb").cast(dec)).cast(dec).as("_bb"),
        (col("_tb") - col("_hi")).cast(dec).as("_ba"))
    w.agg(
        coalesce(sum(col("_na")), lit(0L)).as("n_a"),
        coalesce(sum(col("_nb")), lit(0L)).as("n_b"),
        coalesce(sum(col("_na").cast(dec) * col("_bb")), zero).as("_gt"),
        coalesce(sum(col("_na").cast(dec) * col("_ba")), zero).as("_lt"),
        coalesce(sum(col("_na").cast(dec) * col("_nb").cast(dec)), zero)
          .as("_ties"))
      .select(col("n_a"), col("n_b"),
        col("_gt").cast("long").as("gt_pairs"),
        col("_lt").cast("long").as("lt_pairs"),
        col("_ties").cast("long").as("tie_pairs"),
        (lit(2L).cast(dec) * col("_gt") + col("_ties")).cast("long")
          .as("u2_statistic"),
        when(col("n_a") > 0L && col("n_b") > 0L,
          round((col("_gt") - col("_lt")).cast("double")
            / (col("n_a").cast("double") * col("n_b").cast("double"))
            * 1000000000000.0).cast("long")).as("cliffs_delta_pico"))
  }

  /** Kruskal–Wallis H ('52) — the k-group generalization of
    * [[rankEffect]]'s Mann–Whitney screen: "do these k shards/sources
    * draw their metric from the same distribution?" without the
    * normality assumption a one-way ANOVA needs (corpus metrics are
    * heavy-tailed; rank tests are the honest default).
    *
    * Exact law, never a corpus-order sort: one (value, group) hash
    * aggregate, one value-frequency table, ONE distributed inclusive
    * prefix sum ([[PrefixSum.inclusive]] — the range-repartition →
    * pid-window → bounded-offsets shape) giving every distinct value its
    * DOUBLED midrank `2·cum(v) − n_v + 1` (integral, so ranks stay
    * exact under ties), then a per-group rank-sum aggregate over the ≤
    * k-row group table. With R2_g = Σ_v n_vg·midrank2(v) (so R_g =
    * R2_g/2):
    *
    *   H = 12/(N(N+1)) · Σ_g R_g²/n_g − 3(N+1)
    *     = 3/(N(N+1)) · Σ_g R2_g²/n_g − 3(N+1)
    *
    * quantized the [[chi2Independence]] way: each group's term is ONE
    * pinned double chain rounded to pico, summed exactly in DECIMAL;
    * the −3(N+1) lands as an exact integer pico. Tie correction
    * divides by C = 1 − Σ_v(n_v³−n_v)/(N³−N) (NULL when every value
    * ties — C = 0 leaves H undefined).
    *
    * Output (1 row): (n_rows, k_groups, h_pico, h_tiecorr_pico).
    */
  def kruskalWallis(df: DataFrame, valueCol: String,
      groupCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val vg = df.filter(col(valueCol).isNotNull && col(groupCol).isNotNull)
      .groupBy(col(valueCol).as("_v"), col(groupCol).as("_g"))
      .agg(count(lit(1)).as("_nvg"))
    val fv = vg.groupBy(col("_v")).agg(sum(col("_nvg")).as("_nv"))
    val mr = PrefixSum.inclusive(fv, "_v", col("_nv"), "_cum")
      .select(col("_v"), col("_nv"),
        (lit(2L) * col("_cum") - col("_nv") + lit(1L)).as("_mr2"))
    val gr = vg.join(mr.select(col("_v"), col("_mr2")), "_v")
      .groupBy(col("_g"))
      .agg(sum(col("_nvg").cast(dec) * col("_mr2").cast(dec)).as("_r2"),
        sum(col("_nvg")).as("_ng"))
    // tie mass reads the plain value table, NOT the prefix-sum branch —
    // no reason to pay the range shuffle twice for a scalar
    val ties = fv.agg(coalesce(sum(col("_nv").cast(dec) * col("_nv").cast(dec)
        * col("_nv").cast(dec) - col("_nv").cast(dec)),
      lit(java.math.BigDecimal.ZERO).cast(dec)).as("_tie"))
    val tot = gr.agg(sum(col("_ng")).as("_n"), count(lit(1)).as("_k"))
    val nD = col("_n").cast("double")
    val term = round(
      col("_r2").cast("double") * col("_r2").cast("double") * lit(3.0)
        / (nD * (nD + lit(1.0)) * col("_ng").cast("double"))
        * lit(1.0e12)).cast("long")
    val s = gr.crossJoin(broadcast(tot))
      .select(col("_n"), col("_k"), term.cast(dec).as("_t"))
      .groupBy(col("_n"), col("_k")).agg(sum(col("_t")).as("_st"))
    val hPico = (col("_st") - (lit(3L).cast(dec) * (col("_n").cast(dec)
      + lit(1L).cast(dec)) * lit(1000000000000L).cast(dec))).cast("long")
    val c = lit(1.0) - col("_tie").cast("double") / (nD * nD * nD - nD)
    s.crossJoin(broadcast(ties))
      .select(col("_n").as("n_rows"), col("_k").as("k_groups"),
        hPico.as("h_pico"),
        when(c > 0.0, round(hPico.cast("double") / c).cast("long"))
          .as("h_tiecorr_pico"))
  }

  /** One-way ANOVA F (Fisher '25) — the mean-comparison companion of
    * [[kruskalWallis]]: does the group explain variance in the metric?
    * Reported with eta² (SSB/SST), the share of total variance the
    * grouping explains — the effect size the F alone hides.
    *
    * Exact law: per-group (n_g, Σx, Σx²) in ONE hash aggregate with
    * DECIMAL sums; each group's Σx_g²/n_g is one pinned double chain
    * rounded to MICRO and summed exactly (the [[chi2Independence]]
    * per-cell discipline), the grand term likewise; then
    * SSB = A − S²/N, SSW = Q − A and F = (SSB/(k−1))/(SSW/(N−k)) is one
    * double chain pico-rounded. F is NULL when k < 2, N ≤ k, or
    * SSW = 0; eta² is NULL when k < 2 (SSB is identically 0 with no
    * grouping — 0 would misread as "explains nothing") or SST = 0.
    *
    * Scale shape: one corpus aggregate → ≤ k-row table → 1 row. Values
    * must be integral (the DECIMAL-sum exactness contract).
    */
  /** Jarque–Bera normality test (Jarque & Bera '80) — the
    * distribution-SHAPE screen: are the sample skewness and excess
    * kurtosis jointly consistent with a normal? — the standard
    * pre-check before any of the parametric members ([[anovaF]],
    * [[welchTTest]], [[bartlettTest]]) whose calibration assumes one.
    *
    * One codegen'd whole-stage aggregate: raw power sums S₁..S₄ are
    * exact DECIMALs, and the N-scaled central moments
    *
    *   C₂ = N·S₂ − S₁²,
    *   C₃ = N²·S₃ − 3N·S₁S₂ + 2S₁³,
    *   C₄ = N³·S₄ − 4N²·S₁S₃ + 6N·S₁²S₂ − 3S₁⁴
    *
    * are exact integers in which the N-powers CANCEL: skewness
    * b₁ = C₃/C₂^{3/2} and kurtosis b₂ = C₄/C₂² directly, so
    * JB = N·(b₁²/6 + (b₂−3)²/24) (χ², 2 df) is one pinned double
    * chain over three exact factors — no distributed double sum
    * anywhere, hence bit-stable double OUTPUTS (no pico quantization
    * needed; JB itself grows O(N) and a BIGINT cast would be the
    * ANSI cliff the Quade diagnostics documented). NULL when N < 2 or
    * C₂ = 0 (constant sample). Domain: C₄ ≈ N⁴·x⁴ must fit
    * DECIMAL(38) → N·|x| ≲ 3·10⁹ (e.g. 10⁶ rows at |x| ≤ 3,000) —
    * pre-scale or pre-bin larger magnitudes (the wired query feeds
    * price in THOUSANDS for exactly this reason). INTEGRAL-VALUE
    * CONTRACT as [[moodMedianTest]].
    *
    * Output (1 row): (n_rows, skew_b1, kurt_b2, jb).
    */
  def jarqueBera(df: DataFrame, valueCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val base = df.filter(col(valueCol).isNotNull)
      .select(col(valueCol).cast("long").as("_v"))
    val zero = lit(java.math.BigDecimal.ZERO).cast(dec)
    val v = col("_v").cast(dec)
    val agg = base.agg(
      count(lit(1)).as("n_rows"),
      coalesce(sum(v), zero).as("_s1"),
      coalesce(sum(v * v), zero).as("_s2"),
      coalesce(sum(v * v * v), zero).as("_s3"),
      coalesce(sum(v * v * v * v), zero).as("_s4"))
    val n = col("n_rows").cast(dec)
    val c2 = n * col("_s2") - col("_s1") * col("_s1")
    val c3 = n * n * col("_s3") -
      lit(3L).cast(dec) * n * col("_s1") * col("_s2") +
      lit(2L).cast(dec) * col("_s1") * col("_s1") * col("_s1")
    val c4 = n * n * n * col("_s4") -
      lit(4L).cast(dec) * n * n * col("_s1") * col("_s3") +
      lit(6L).cast(dec) * n * col("_s1") * col("_s1") * col("_s2") -
      lit(3L).cast(dec) * col("_s1") * col("_s1") * col("_s1") *
        col("_s1")
    val c2d = c2.cast("double")
    // greatest clamps: identity whenever the C₂ > 0 when() fires
    val c2c = greatest(c2d, lit(1.0e-300))
    val b1 = c3.cast("double") / (c2c * sqrt(c2c))
    val b2 = c4.cast("double") / (c2c * c2c)
    val jb = col("n_rows").cast("double") *
      (b1 * b1 / lit(6.0) +
        (b2 - lit(3.0)) * (b2 - lit(3.0)) / lit(24.0))
    val ok = col("n_rows") >= 2L && c2d > 0.0
    agg.select(col("n_rows"),
      when(ok, b1).as("skew_b1"),
      when(ok, b2).as("kurt_b2"),
      when(ok, jb).as("jb"))
  }

  /** Grubbs' outlier test (Grubbs '50; the two-sided max-deviation
    * form) — WHICH single point strains the sample most, and by how
    * many standard deviations: G = max|x − x̄| / s. The screening
    * companion of [[jarqueBera]] (one gross outlier is the commonest
    * reason JB fires) and of the robust estimators
    * ([[hodgesLehmannShift]], [[moodMedianTest]]) — this one NAMES the
    * point.
    *
    * One codegen'd aggregate: the N-scaled deviations |N·x − S₁| are
    * exact integers, so MX = max|N·x − S₁| and C₂ = N·S₂ − S₁² are
    * exact DECIMALs and G = (MX/N) / √(C₂/(N(N−1))) is ONE pinned
    * double chain (pico-rounded — G ≤ (N−1)/√N keeps g_pico inside
    * the long well past 10¹² rows). The offending value surfaces as
    * outlier_value (ties → the smallest such value, via a min over a
    * when-guard — deterministic). NULL when N < 2 or C₂ = 0.
    * INTEGRAL-VALUE CONTRACT as [[moodMedianTest]].
    *
    * Output (1 row): (n_rows, outlier_value, g_pico).
    */
  def grubbsTest(df: DataFrame, valueCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val base = df.filter(col(valueCol).isNotNull)
      .select(col(valueCol).cast("long").as("_v"))
    val zero = lit(java.math.BigDecimal.ZERO).cast(dec)
    val v = col("_v").cast(dec)
    val st = base.agg(
      count(lit(1)).as("n_rows"),
      coalesce(sum(v), zero).as("_s1"),
      coalesce(sum(v * v), zero).as("_s2")).collect().head
    val n = st.getAs[Long]("n_rows")
    val s1 = lit(st.getAs[java.math.BigDecimal]("_s1")).cast(dec)
    val dev = abs(lit(n).cast(dec) * v - s1)
    // arg-max with smallest-value tiebreak in ONE pass: struct order
    // compares the deviation first, then the negated value
    val arg = base.agg(max(struct(dev.as("d"),
        (lit(0L) - col("_v")).as("nv"))).as("_m"))
      .select((lit(0L) - col("_m.nv")).as("outlier_value"),
        coalesce(col("_m.d"), zero).as("_mx"))
    val s2 = lit(st.getAs[java.math.BigDecimal]("_s2")).cast(dec)
    val c2 = lit(n).cast(dec) * s2 - s1 * s1
    val nD = lit(math.max(n, 1L)).cast("double")
    val n1D = lit(math.max(n - 1L, 1L)).cast("double")
    val g = col("_mx").cast("double") / nD /
      sqrt(greatest(c2.cast("double") / nD / n1D, lit(1.0e-300)))
    arg.select(lit(n).as("n_rows"), col("outlier_value"),
      when(lit(n) >= 2L && c2.cast("double") > 0.0,
        round(g * lit(1.0e12)).cast("long")).as("g_pico"))
  }

  def anovaF(df: DataFrame, valueCol: String, groupCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val v = col(valueCol).cast("long")
    val per = df.filter(col(valueCol).isNotNull && col(groupCol).isNotNull)
      .groupBy(col(groupCol).as("_g"))
      .agg(count(lit(1)).as("_ng"),
        sum(v.cast(dec)).as("_s"),
        sum(v.cast(dec) * v.cast(dec)).as("_q"))
    val gterm = round(col("_s").cast("double") * col("_s").cast("double")
      / col("_ng").cast("double") * lit(1.0e6)).cast("long")
    val agg = per
      .select(col("_ng"), col("_s"), col("_q"), gterm.cast(dec).as("_t"))
      .agg(sum(col("_ng")).as("_n"), count(lit(1)).as("_k"),
        sum(col("_s")).as("_ss"), sum(col("_q")).as("_qq"),
        sum(col("_t")).as("_a"))
    val grand = round(col("_ss").cast("double") * col("_ss").cast("double")
      / col("_n").cast("double") * lit(1.0e6)).cast("long")
    val w = agg.select(col("_n"), col("_k"),
      (col("_a") - grand.cast(dec)).as("_ssb"),
      (col("_qq") * lit(1000000L).cast(dec) - col("_a")).as("_ssw"))
    val f = (col("_ssb").cast("double") / (col("_k") - lit(1L)).cast("double")
      / (col("_ssw").cast("double") / (col("_n") - col("_k")).cast("double")))
    val eta = (col("_ssb").cast("double")
      / (col("_ssb") + col("_ssw")).cast("double"))
    w.select(col("_n").as("n_rows"), col("_k").as("k_groups"),
      when(col("_k") >= 2L && col("_n") > col("_k") &&
        col("_ssw") > lit(java.math.BigDecimal.ZERO).cast(dec),
        round(f * lit(1.0e12)).cast("long")).as("f_pico"),
      when(col("_k") >= 2L &&
        col("_ssb") + col("_ssw") > lit(java.math.BigDecimal.ZERO).cast(dec),
        round(eta * lit(1.0e12)).cast("long")).as("eta2_pico"))
  }

  /** Ansari–Bradley two-sample scale test ('60) — the rank-DISPERSION
    * member the location family ([[moodMedianTest]], [[welchTTest]],
    * [[cliffsDelta]]) lacks: are group A's values more CONCENTRATED
    * around the pooled centre than the rest's? Scores fold the pooled
    * ranking from both ends — a_r = min(r, N+1−r) — so the centre
    * scores high and both tails low; W_A = Σ_A a is LARGE when A is
    * the tighter group (z > 0 reads "A less dispersed").
    *
    * Exact law on the value-frequency table (never per-row ranks): a
    * tied run occupying pooled ranks b+1..b+m has score sum S =
    * Σ min(r, N+1−r) over that rank interval — a closed piecewise-
    * triangular form in exact integers; the run's per-observation
    * midscore quantizes ONCE as score_micro = (2·S·10⁶ + m) div (2·m)
    * (HALF_UP in pure integer division — replays verbatim in any
    * engine), and W_A, the total score mass, and the squared mass are
    * exact DECIMAL(38,0) sums of those integers. The tie-aware normal
    * moments read the SAME quantized scores (Hollander–Wolfe form):
    * E = n_A·T/N, Var = n_A·n_B·(N·Q − T²)/(N²(N−1)) with T = Σ m·s,
    * Q = Σ m·s²; z = (W_A − E)/√Var is ONE pinned double chain. NULL z
    * when either side is empty, N < 2, or Var ≤ 0.
    *
    * Scale shape: one (value) hash aggregate → one
    * [[PrefixSum.inclusive]] pass (with totals — no second
    * corpus-deriving branch) → a bounded 1-row aggregate. No window
    * over data, no per-row rank materialization. INTEGRAL-VALUE
    * CONTRACT as [[moodMedianTest]]; DECIMAL(38,0) domain holds the Q
    * sum exact through N ≈ 4·10⁸ rows (past that, sample first — the
    * [[graft.ops.Spectral]] posture). The w/e diagnostic columns are
    * DOUBLES (the [[quadeTest]] posture — a BIGINT cast would throw
    * under ANSI past N ≈ 10⁷); z reads the exact DECIMAL internals.
    *
    * Output (1 row): (n_a, n_b, w_a_micro, e_w_micro, z_pico).
    */
  def ansariBradley(df: DataFrame, valueCol: String,
      isACol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val scored = abScored(df, valueCol, isACol)
    val zero = lit(java.math.BigDecimal.ZERO).cast(dec)
    val agg = scored.agg(
      coalesce(sum(col("_fa")), lit(0L)).as("n_a"),
      coalesce(sum(col("_fb")), lit(0L)).as("n_b"),
      coalesce(sum(col("_fa").cast(dec) * col("_sm").cast(dec)), zero)
        .as("_w"),
      coalesce(sum(col("_m").cast(dec) * col("_sm").cast(dec)), zero)
        .as("_t"),
      coalesce(sum(col("_m").cast(dec) * col("_sm").cast(dec)
        * col("_sm").cast(dec)), zero).as("_q"))
    // greatest clamps: identity whenever the matching when() fires
    val nD = greatest(col("n_a") + col("n_b"), lit(1L)).cast("double")
    val eW = col("n_a").cast("double") * col("_t").cast("double") / nD
    val varW = col("n_a").cast("double") * col("n_b").cast("double") *
      (nD * col("_q").cast("double") -
        col("_t").cast("double") * col("_t").cast("double")) /
      (nD * nD * greatest(col("n_a") + col("n_b") - lit(1L), lit(1L))
        .cast("double"))
    // w/e are ≈ n_A·(N/4)·10⁶ — a BIGINT cast would THROW under ANSI
    // past N ≈ 10⁷ pooled rows, 40× below the DECIMAL domain, so the
    // diagnostic columns surface as DOUBLES (the quadeTest posture);
    // the z chain reads the exact DECIMAL internals either way
    agg.select(col("n_a"), col("n_b"),
      col("_w").cast("double").as("w_a_micro"),
      when(col("n_a") + col("n_b") > 0L, round(eW)).as("e_w_micro"),
      when(col("n_a") > 0L && col("n_b") > 0L &&
        col("n_a") + col("n_b") >= 2L && varW > 0.0,
        round((col("_w").cast("double") - eW)
          / sqrt(greatest(varW, lit(1.0e-300))) * lit(1.0e12)).cast("long"))
        .as("z_pico"))
  }

  /** Shared value-table scoring frame of [[ansariBradley]] and
    * [[lepageTest]]: one (value) hash aggregate with both class
    * weights, ONE [[PrefixSum.inclusiveAll]] pass, the folded AB run
    * scores in exact closed triangular form with the per-observation
    * midscore quantized once as (2S·10⁶ + m) div (2m), plus the
    * doubled pooled midranks (_mr2) the Wilcoxon leg reads. Columns:
    * (_fa, _fb, _m, _nn, _sm, _mr2, …).
    */
  private def abScored(df: DataFrame, valueCol: String,
      isACol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val base = df.filter(col(valueCol).isNotNull && col(isACol).isNotNull)
      .select(col(valueCol).cast("long").as("_v"),
        col(isACol).cast("boolean").as("_a"))
    val bt = base.groupBy(col("_v"))
      .agg(sum(when(col("_a"), 1L).otherwise(0L)).as("_fa"),
        sum(when(col("_a"), 0L).otherwise(1L)).as("_fb"))
      .withColumn("_m", col("_fa") + col("_fb"))
    val cum = PrefixSum.inclusiveAll(bt, "_v", Seq(col("_m") -> "_cum"),
      withTotals = true)
    val zero = lit(java.math.BigDecimal.ZERO).cast(dec)
    // the run occupies pooled ranks l..u; scores fold at t = (N+1) div 2:
    // r ≤ t scores r, r > t scores N+1−r — two triangular-number spans
    // (x(x+1) is even, so every `div 2` below is exact)
    val staged = cum.select(col("_fa"), col("_fb"), col("_m"),
      (col("_cum") - col("_m") + lit(1L)).as("_l"), col("_cum").as("_u"),
      expr("(_cum_total + 1) div 2").as("_tf"),
      col("_cum_total").as("_nn"),
      (lit(2L) * col("_cum") - col("_m") + lit(1L)).as("_mr2"))
    staged
      .withColumn("_lou", least(col("_u"), col("_tf")))
      .withColumn("_hil", greatest(col("_l"), col("_tf") + lit(1L)))
      .withColumn("_s",
        when(col("_l") <= col("_lou"), expr(
          s"(CAST(_lou AS $dec) * (_lou + 1)) div 2" +
            s" - (CAST(_l - 1 AS $dec) * _l) div 2").cast(dec))
          .otherwise(zero) +
        when(col("_hil") <= col("_u"), expr(
          s"CAST(CAST(_nn + 1 AS $dec) * (_u - _hil + 1) AS $dec)") -
          expr(s"(CAST(_u AS $dec) * (_u + 1)) div 2" +
            s" - (CAST(_hil - 1 AS $dec) * _hil) div 2").cast(dec))
          .otherwise(zero))
      .withColumn("_sm", expr(
        s"CAST((2 * CAST(_s AS $dec) * 1000000 + _m) div (2 * _m)" +
          " AS BIGINT)"))
  }

  /** Lepage's combined location-scale test (Lepage, Biometrika '71):
    * L = z_W² + z_AB² — the Wilcoxon rank-sum z (location) and the
    * [[ansariBradley]] z (scale) are asymptotically independent under
    * H₀, so their squares sum to a χ² with 2 df: ONE test that fires
    * when the second sample moved OR spread, the standard screen when
    * either alternative matters (a corpus swap can do both at once).
    *
    * Exact law on the shared [[ansariBradley]] scoring frame (ONE
    * value-table prefix-sum pass carries both legs): the Wilcoxon leg
    * reads doubled pooled midranks — W2 = Σ_A fa·mr2, E[W2] =
    * n_A(N+1), and the tie-corrected
    *
    *   Var[W2] = n_A·n_B·((N+1)·N·(N−1) − Σ(m³−m)) / (3·N·(N−1))
    *
    * off exact integer cumulants; the AB leg reads the quantized
    * midscores exactly as [[ansariBradley]] does. Each z is ONE pinned
    * double chain; L = z_W² + z_AB². NULL z_W/z_AB/L when the matching
    * variance is ≤ 0 or a side is empty (L needs BOTH).
    *
    * Scale shape: identical to [[ansariBradley]] — one hash aggregate,
    * one prefix-sum pass, a 1-row fold. INTEGRAL-VALUE CONTRACT as
    * [[moodMedianTest]].
    *
    * Output (1 row): (n_a, n_b, w2_a, zw_pico, zab_pico, l_pico).
    */
  def lepageTest(df: DataFrame, valueCol: String,
      isACol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val scored = abScored(df, valueCol, isACol)
    val zero = lit(java.math.BigDecimal.ZERO).cast(dec)
    val agg = scored.agg(
      coalesce(sum(col("_fa")), lit(0L)).as("n_a"),
      coalesce(sum(col("_fb")), lit(0L)).as("n_b"),
      coalesce(sum(col("_fa").cast(dec) * col("_mr2").cast(dec)), zero)
        .as("_w2"),
      coalesce(sum(col("_m").cast(dec) * col("_m").cast(dec)
        * col("_m").cast(dec) - col("_m").cast(dec)), zero).as("_tie"),
      coalesce(sum(col("_fa").cast(dec) * col("_sm").cast(dec)), zero)
        .as("_w"),
      coalesce(sum(col("_m").cast(dec) * col("_sm").cast(dec)), zero)
        .as("_t"),
      coalesce(sum(col("_m").cast(dec) * col("_sm").cast(dec)
        * col("_sm").cast(dec)), zero).as("_q"))
    // greatest clamps: identity whenever the matching when() fires
    val nD = greatest(col("n_a") + col("n_b"), lit(1L)).cast("double")
    val n1 = greatest(col("n_a") + col("n_b") - lit(1L), lit(1L))
      .cast("double")
    val naD = col("n_a").cast("double")
    val nbD = col("n_b").cast("double")
    val e2w = naD * (nD + lit(1.0))
    val varW = naD * nbD * ((nD + lit(1.0)) * nD * (nD - lit(1.0)) -
      col("_tie").cast("double")) / (lit(3.0) * nD * (nD - lit(1.0)))
    val zw = (col("_w2").cast("double") - e2w) /
      sqrt(greatest(varW, lit(1.0e-300)))
    val eAb = naD * col("_t").cast("double") / nD
    val varAb = naD * nbD *
      (nD * col("_q").cast("double") -
        col("_t").cast("double") * col("_t").cast("double")) /
      (nD * nD * n1)
    val zab = (col("_w").cast("double") - eAb) /
      sqrt(greatest(varAb, lit(1.0e-300)))
    val both = col("n_a") > 0L && col("n_b") > 0L &&
      col("n_a") + col("n_b") >= 2L
    agg.select(col("n_a"), col("n_b"),
      col("_w2").cast("long").as("w2_a"),
      when(both && varW > 0.0, round(zw * lit(1.0e12)).cast("long"))
        .as("zw_pico"),
      when(both && varAb > 0.0, round(zab * lit(1.0e12)).cast("long"))
        .as("zab_pico"),
      when(both && varW > 0.0 && varAb > 0.0,
        round((zw * zw + zab * zab) * lit(1.0e12)).cast("long"))
        .as("l_pico"))
  }

  /** Acklam's rational approximation of the standard normal inverse
    * CDF (P. J. Acklam '03, the widely-reproduced public algorithm;
    * |relative error| < 1.15·10⁻⁹), as a Catalyst expression over
    * p ∈ (0.5, 1) — the regime the midrank normal scores
    * p = ½ + r/(2(N+1)) live in. Pure +,−,×,÷,sqrt,ln arithmetic, so
    * the chain replays verbatim in any engine (the KL-drift ln
    * precedent); callers quantize the result ONCE (micro) before any
    * distributed sum.
    */
  private def probitCol(p: Column): Column = {
    val a = Seq(-3.969683028665376e+01, 2.209460984245205e+02,
      -2.759285104469687e+02, 1.383577518672690e+02,
      -3.066479806614716e+01, 2.506628277459239e+00)
    val b = Seq(-5.447609879822406e+01, 1.615858368580409e+02,
      -1.556989798598866e+02, 6.680131188771972e+01,
      -1.328068155288572e+01)
    val c = Seq(-7.784894002430293e-03, -3.223964580411365e-01,
      -2.400758277161838e+00, -2.549732539343734e+00,
      4.374664141464968e+00, 2.938163982698783e+00)
    val d = Seq(7.784695709041462e-03, 3.224671290700398e-01,
      2.445134137142996e+00, 3.754408661907416e+00)
    def horner(cs: Seq[Double], x: Column): Column =
      cs.tail.foldLeft(lit(cs.head): Column)((acc, ci) => acc * x + lit(ci))
    val q = p - lit(0.5)
    val r = q * q
    val central = horner(a, r) * q / (horner(b, r) * r + lit(1.0))
    val qt = sqrt(lit(-2.0) * log(lit(1.0) - p))
    val tail = -horner(c, qt) / (horner(d, qt) * qt + lit(1.0))
    when(p <= lit(0.97575), central).otherwise(tail)
  }

  /** Fligner–Killeen k-sample scale test (Fligner & Killeen, JASA '76;
    * the median-centered normal-scores form R's fligner.test uses) —
    * the ROBUST member of the scale family: [[ansariBradley]] and
    * [[moodScaleTest]] assume equal centers; this removes each group's
    * own MEDIAN first, so location shifts cannot masquerade as scale
    * differences, and normal scores keep the test calibrated under
    * heavy tails.
    *
    * Law with two one-time quantizations (the [[ansariBradley]]
    * midscore posture — every distributed sum stays EXACT):
    *
    *   1. doubled group medians med2_g = x_(⌈n/2⌉) + x_(⌊n/2⌋+1) read
    *      exactly off the per-group cumulative columns of ONE
    *      [[PrefixSum.inclusiveAll]] pass (the [[cuzickTrend]] bounded
    *      class-column discipline); doubled deviations d = |2x − med2|
    *      are exact integers,
    *   2. pooled midranks of d off a SECOND prefix-sum pass give
    *      normal scores a = Φ⁻¹(½ + mr2/(4(N+1))) via [[probitCol]],
    *      quantized ONCE as a_micro = round(a·10⁶),
    *   3. per-group score means then quantize once more:
    *      dev_j = round(S_j/n_j − SA/N) (micro units), so the
    *      between-group mass Q = Σ_j n_j·dev_j² is an EXACT
    *      order-free integer — no distributed double sum anywhere,
    *
    * and FK = Q/v̂ with v̂ = (SAA − SA²/N)/(N−1) (micro², exact
    * cumulants) is ONE pinned double chain, pico-rounded (χ², k−1 df).
    * NULL when N < 2 or v̂ ≤ 0 (every deviation tied). PICO-LONG
    * DOMAIN as [[durbinTest]].
    *
    * Scale shape: two (value) hash aggregates with bounded per-group
    * count columns (hard require ≤ maxGroups), two prefix-sum passes,
    * one broadcast 1-row median frame, a 1-row fold. INTEGRAL-VALUE
    * CONTRACT as [[moodMedianTest]].
    *
    * Output (1 row): (n_rows, k_groups, q_mass, fk_pico); q_mass is a
    * double diagnostic ([[quadeTest]] posture — micro²·N scale).
    */
  def flignerKilleen(df: DataFrame, valueCol: String, groupCol: String,
      maxGroups: Int = 64): DataFrame = {
    val dec = "decimal(38,0)"
    val base = df.filter(col(valueCol).isNotNull && col(groupCol).isNotNull)
      .select(col(groupCol).as("_g"), col(valueCol).cast("long").as("_v"))
    val cls = base.select(col("_g")).distinct()
      .orderBy(col("_g")).limit(maxGroups + 1).collect().map(_.get(0))
    require(cls.nonEmpty, "flignerKilleen: no non-null (group, value) rows")
    require(cls.length <= maxGroups,
      s"flignerKilleen: group column exceeds $maxGroups distinct values " +
        "— the per-group cumulative law needs a bounded group axis; " +
        "bin the column or raise maxGroups")
    val k = cls.length
    def gCounts(g: Column): Seq[Column] = (0 until k).map(j =>
      sum(when(g === lit(cls(j)), 1L).otherwise(0L)).as(s"_c$j"))
    val vt1 = base.groupBy(col("_v")).agg(gCounts(col("_g")).head,
      gCounts(col("_g")).tail: _*)
    val cum1 = PrefixSum.inclusiveAll(vt1, "_v",
      (0 until k).map(j => col(s"_c$j") -> s"_u$j"), withTotals = true)
    val medCols = (0 until k).flatMap { j =>
      Seq(min(when(col(s"_u$j") >= expr(s"(_u${j}_total + 1) div 2"),
        col("_v"))).as(s"_ml$j"),
        min(when(col(s"_u$j") >= expr(s"(_u${j}_total + 2) div 2"),
          col("_v"))).as(s"_mh$j"))
    }
    val meds = cum1.agg(medCols.head, medCols.tail: _*)
    val med2 = coalesce((0 until k).map(j =>
      when(col("_g") === lit(cls(j)),
        col(s"_ml$j") + col(s"_mh$j"))): _*)
    val d2 = base.crossJoin(broadcast(meds))
      .select(col("_g"), abs(lit(2L) * col("_v") - med2).as("_d"))
    val vt2 = d2.groupBy(col("_d")).agg(gCounts(col("_g")).head,
      gCounts(col("_g")).tail: _*)
      .withColumn("_m", (0 until k).map(j => col(s"_c$j")).reduce(_ + _))
    val cum2 = PrefixSum.inclusiveAll(vt2, "_d", Seq(col("_m") -> "_cum"),
      withTotals = true)
    val scored = cum2
      .withColumn("_mr2", lit(2L) * col("_cum") - col("_m") + lit(1L))
      .withColumn("_p", lit(0.5) + col("_mr2").cast("double") /
        (lit(4.0) * (col("_cum_total") + lit(1L)).cast("double")))
      .withColumn("_am", round(probitCol(col("_p")) * lit(1.0e6))
        .cast("long"))
    val zero = lit(java.math.BigDecimal.ZERO).cast(dec)
    val aggCols = Seq(
      coalesce(max(col("_cum_total")), lit(0L)).as("_n"),
      coalesce(sum(col("_m").cast(dec) * col("_am").cast(dec)), zero)
        .as("_sa"),
      coalesce(sum(col("_m").cast(dec) * col("_am").cast(dec)
        * col("_am").cast(dec)), zero).as("_saa")) ++
      (0 until k).flatMap(j => Seq(
        coalesce(sum(col(s"_c$j")), lit(0L)).as(s"_n$j"),
        coalesce(sum(col(s"_c$j").cast(dec) * col("_am").cast(dec)),
          zero).as(s"_s$j")))
    val agg = scored.agg(aggCols.head, aggCols.tail: _*)
    // greatest clamps: identity whenever the matching when() fires
    val nD = greatest(col("_n"), lit(1L)).cast("double")
    val n1D = greatest(col("_n") - lit(1L), lit(1L)).cast("double")
    val devs = (0 until k).map { j =>
      round(col(s"_s$j").cast("double") /
        greatest(col(s"_n$j"), lit(1L)).cast("double") -
        col("_sa").cast("double") / nD).cast("long")
    }
    val q4 = (0 until k).map { j =>
      col(s"_n$j").cast(dec) * (devs(j).cast(dec) * devs(j).cast(dec))
    }.reduce(_ + _)
    val vhat = (col("_saa").cast("double") -
      col("_sa").cast("double") * col("_sa").cast("double") / nD) / n1D
    agg.select(col("_n").as("n_rows"), lit(k.toLong).as("k_groups"),
      q4.cast("double").as("q_mass"),
      when(col("_n") >= 2L && vhat > 0.0,
        round(q4.cast("double") / greatest(vhat, lit(1.0e-300))
          * lit(1.0e12)).cast("long")).as("fk_pico"))
  }

  /** Conover's squared-ranks k-sample scale test (Conover & Iman '78;
    * Conover, Practical Nonparametric Statistics §5.3) — the fourth
    * member of the scale family: [[bartlettTest]] is parametric,
    * [[brownForsythe]] an ANOVA on deviations, [[flignerKilleen]]
    * normal-scores on median-centered ranks; Conover SQUARES the
    * pooled ranks of MEAN-centered absolute deviations, the classic
    * tie-robust squared-ranks form.
    *
    * Law with ONE quantization ([[flignerKilleen]] posture): group
    * means are exact rationals S_g/n_g off one bounded hash aggregate
    * (broadcast back), deviations quantize ONCE as
    * d = round(|x − S_g/n_g|·10⁶); pooled doubled midranks mr2 of d
    * off ONE [[PrefixSum.inclusiveAll]] pass make every cumulant an
    * exact integer in mr2²-units — S_j = Σ c_j·mr2², SA = Σ m·mr2²,
    * SAA = Σ m·mr2⁴ — and the uniform 4×/16× doubling scale cancels in
    *
    *   T = Σ_j n_j·dev_j² / v̂,  dev_j = round(S_j/n_j − SA/N),
    *   v̂ = (SAA − SA²/N)/(N−1)
    *
    * (χ², k−1 df; per-group quantized dev keeps the cross-group mass
    * an order-free exact integer). NULL when N < 2 or v̂ ≤ 0 (all
    * deviations tied). Domain: the R⁴ cumulant needs 16N⁵ inside
    * DECIMAL(38) → N ≲ 5·10⁷ pooled rows; past that the SAA column
    * must move to a double emission. INTEGRAL-VALUE CONTRACT as
    * [[moodMedianTest]].
    *
    * Scale shape: one bounded per-group aggregate (hard require ≤
    * maxGroups), one broadcast join, one value-table prefix-sum pass,
    * a 1-row fold.
    *
    * Output (1 row): (n_rows, k_groups, q_mass, conover_pico); q_mass
    * is a double diagnostic (mr2⁴-scale — [[quadeTest]] posture).
    */
  def conoverSquaredRanks(df: DataFrame, valueCol: String,
      groupCol: String, maxGroups: Int = 64): DataFrame = {
    val dec = "decimal(38,0)"
    val base = df.filter(col(valueCol).isNotNull && col(groupCol).isNotNull)
      .select(col(groupCol).as("_g"), col(valueCol).cast("long").as("_v"))
    val cls = base.select(col("_g")).distinct()
      .orderBy(col("_g")).limit(maxGroups + 1).collect().map(_.get(0))
    require(cls.nonEmpty,
      "conoverSquaredRanks: no non-null (group, value) rows")
    require(cls.length <= maxGroups,
      s"conoverSquaredRanks: group column exceeds $maxGroups distinct " +
        "values — the per-group cumulant law needs a bounded group " +
        "axis; bin the column or raise maxGroups")
    val k = cls.length
    def gCounts(g: Column): Seq[Column] = (0 until k).map(j =>
      sum(when(g === lit(cls(j)), 1L).otherwise(0L)).as(s"_c$j"))
    val means = base.groupBy(col("_g"))
      .agg(count(lit(1)).as("_ng"), sum(col("_v").cast(dec)).as("_sg"))
    val d2 = base.join(broadcast(means), "_g")
      .select(col("_g"),
        round(abs(col("_v").cast("double") -
          col("_sg").cast("double") / col("_ng").cast("double"))
          * lit(1.0e6)).cast("long").as("_d"))
    val vt = d2.groupBy(col("_d")).agg(gCounts(col("_g")).head,
      gCounts(col("_g")).tail: _*)
      .withColumn("_m", (0 until k).map(j => col(s"_c$j")).reduce(_ + _))
    val cum = PrefixSum.inclusiveAll(vt, "_d", Seq(col("_m") -> "_cum"),
      withTotals = true)
    val scored = cum
      .withColumn("_mr2", lit(2L) * col("_cum") - col("_m") + lit(1L))
      .withColumn("_sq", col("_mr2").cast(dec) * col("_mr2").cast(dec))
    val zero = lit(java.math.BigDecimal.ZERO).cast(dec)
    val aggCols = Seq(
      coalesce(max(col("_cum_total")), lit(0L)).as("_n"),
      coalesce(sum(col("_m").cast(dec) * col("_sq")), zero).as("_sa"),
      coalesce(sum(col("_m").cast(dec) * col("_sq") * col("_sq")), zero)
        .as("_saa")) ++
      (0 until k).flatMap(j => Seq(
        coalesce(sum(col(s"_c$j")), lit(0L)).as(s"_n$j"),
        coalesce(sum(col(s"_c$j").cast(dec) * col("_sq")), zero)
          .as(s"_s$j")))
    val agg = scored.agg(aggCols.head, aggCols.tail: _*)
    // greatest clamps: identity whenever the matching when() fires
    val nD = greatest(col("_n"), lit(1L)).cast("double")
    val n1D = greatest(col("_n") - lit(1L), lit(1L)).cast("double")
    val devs = (0 until k).map { j =>
      round(col(s"_s$j").cast("double") /
        greatest(col(s"_n$j"), lit(1L)).cast("double") -
        col("_sa").cast("double") / nD).cast("long")
    }
    val q4 = (0 until k).map { j =>
      col(s"_n$j").cast(dec) * (devs(j).cast(dec) * devs(j).cast(dec))
    }.reduce(_ + _)
    val vhat = (col("_saa").cast("double") -
      col("_sa").cast("double") * col("_sa").cast("double") / nD) / n1D
    agg.select(col("_n").as("n_rows"), lit(k.toLong).as("k_groups"),
      q4.cast("double").as("q_mass"),
      when(col("_n") >= 2L && vhat > 0.0,
        round(q4.cast("double") / greatest(vhat, lit(1.0e-300))
          * lit(1.0e12)).cast("long")).as("conover_pico"))
  }

  /** Multi-rank k-ary search over a MONOTONE integer count function:
    * resolves min{x : C(x) ≥ r} for SEVERAL ranks r at once, where
    * `batchCount` evaluates C at many probe points in one distributed
    * pass. Each round probes up to 7 interior points per unresolved
    * rank interval (an ~8-way split), so total distributed passes are
    * ~log₈(range) — NOT ranks × log₂(range) — and every memoized point
    * narrows every rank's interval (the searches overlap heavily for
    * nearby ranks). Used by the Hodges–Lehmann estimators, whose count
    * passes dominate their wall time.
    */
  private def rankSearch(ranks: Seq[BigInt], lo0: Long, hi0: Long,
      batchCount: Seq[Long] => Map[Long, BigInt],
      q: Long = 7L): Map[BigInt, Long] = {
    val memo = scala.collection.mutable.Map.empty[Long, BigInt]
    val iv = scala.collection.mutable.Map(
      ranks.distinct.map(r => r -> ((lo0, hi0))): _*)
    var guard = 0
    while (iv.values.exists { case (lo, hi) => lo < hi }) {
      guard += 1
      require(guard <= 64, "rankSearch failed to converge — " +
        "is the count function monotone?")
      val probes = iv.values.toSeq.flatMap { case (lo, hi) =>
        if (lo >= hi) Nil
        else if (hi - lo <= q) lo until hi
        else (1L to q).map(i => lo + (hi - lo) / (q + 1L) * i)
      }.distinct.filterNot(memo.contains)
      if (probes.nonEmpty) memo ++= batchCount(probes)
      iv.mapValuesInPlace { case (r, (lo, hi)) =>
        var l = lo; var h = hi
        // any memoized point inside [l, h): C ≥ r caps the upper end
        // (answer ≤ p), C < r lifts the lower (answer > p)
        memo.foreach { case (p, c) =>
          if (p >= l && p < h) { if (c >= r) h = p else l = p + 1 } }
        (l, h)
      }
    }
    iv.map { case (r, (lo, _)) => r -> lo }.toMap
  }

  /** One [[rankSearch]] probe pass as a BUCKET-FUSED fold (r20
    * optimization round) — the general [[PrefixSum]] shape's per-row
    * cumulative + bounded offsets table + broadcast add-back + 1-row
    * aggregate, collapsed around a single data-sized exchange: rows are
    * tagged with the SHARED uniform bucket id
    * ([[PrefixSum.uniformBucket]]), the per-bucket running cumulative
    * rides one window, and the SAME partitioning feeds a per-bucket
    * aggregate with no re-exchange, leaving a
    * ≤4×`spark.sql.shuffle.partitions`-row table — bounded by
    * CONFIGURATION, never by data — whose exclusive bucket offsets and
    * final Σs fold on the driver in exact BigInt (the [[skillingsMack]]
    * bounded-collect posture). Identical integers to the PrefixSum
    * path, by regrouping an exact DECIMAL(38,0) sum:
    * cum(row) = local(row) + offset(bucket), so
    *
    *   Σ_rows w_q·cum = Σ_buckets [Σ_in-bucket w_q·local]
    *                  + Σ_buckets offset(bucket)·[Σ_in-bucket w_q].
    *
    * Per probe pass this is ~2 Spark jobs instead of the general
    * path's ~7 — and the rank searches run ~log₈(range) passes, so the
    * per-pass fixed cost multiplies into the estimators' wall time.
    *
    * `rows` carries (_k long key, _wa cumulative-side weight ≥ 0, _wb
    * query-side weight, _wd direct-sum weight, _si LONG probe index or
    * -1 for cumulative-side rows); keys must be DISTINCT across rows
    * with _wa ≠ 0 (the usual prefix-sum order contract — zero-_wa rows
    * may tie freely, every cumulative is unaffected). Returns
    * per-probe (Σ _wb·cumA at the row's key, Σ _wd) — the second
    * component carries the pseudomedian's diagonal counts, which the
    * caller materializes as pre-filtered _wd rows riding the same
    * exchange. None when the uniform bucket id would overflow 64 bits —
    * the caller falls back to the general PrefixSum path, exactly as
    * [[PrefixSum.inclusiveAllUniform]] does.
    */
  private def fusedProbeFold(rows: DataFrame, m: Int,
      loK: Long, hiK: Long): Option[IndexedSeq[(BigInt, BigInt)]] = {
    val dec = "decimal(38,0)"
    val nParts = rows.sparkSession.sessionState.conf.numShufflePartitions
    PrefixSum.uniformBucket("_k", loK, hiK, 4L * nParts).map { bucket =>
      val wLocal = org.apache.spark.sql.expressions.Window
        .partitionBy(col("_ps_pid")).orderBy(col("_k"))
        .rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      // _si is a GROUP KEY, not a per-probe when()-column fan-out: the
      // probe count per pass is q × unresolved rank intervals (up to
      // ~45), and 3 aggregate columns per probe measured as the pass
      // cost itself (a ~140-expression DECIMAL aggregate compiles and
      // evaluates per pass; grouped, the aggregate is FOUR columns
      // regardless of the probe count and the output stays bounded at
      // ≤ buckets × (m+1) rows)
      val perBucket = rows.withColumn("_ps_pid", bucket)
        .withColumn("_ca", sum(col("_wa")).over(wLocal))
        .groupBy(col("_ps_pid"), col("_si"))
        .agg(coalesce(sum(col("_wa")), lit(0L)).as("_ta"),
          coalesce(sum(col("_wb").cast(dec) * col("_ca").cast(dec)),
            lit(java.math.BigDecimal.ZERO).cast(dec)).as("_in"),
          coalesce(sum(col("_wb")), lit(0L)).as("_tb"),
          coalesce(sum(col("_wd")), lit(0L)).as("_dg"))
        .collect()
        // fold order: buckets ascending; within a bucket the si = -1
        // group LAST — it advances the running offset (its own bucket's
        // _wa mass), which the bucket's probe groups must NOT yet see
        // (the offset is the sum of strictly LOWER buckets)
        .sortBy(r => (r.getAs[Int]("_ps_pid"),
          if (r.getAs[Long]("_si") < 0L) 1 else 0))
      var off = BigInt(0)
      val o = Array.fill(m)(BigInt(0))
      val d = Array.fill(m)(BigInt(0))
      perBucket.foreach { r =>
        val si = r.getAs[Long]("_si").toInt
        if (si >= 0) {
          o(si) += BigInt(r.getAs[java.math.BigDecimal]("_in")
            .toBigIntegerExact) + off * BigInt(r.getAs[Long]("_tb"))
          d(si) += BigInt(r.getAs[Long]("_dg"))
        } else
          off += BigInt(r.getAs[Long]("_ta"))
      }
      (0 until m).map(i => (o(i), d(i))).toIndexedSeq
    }
  }

  /** Hodges–Lehmann two-sample shift estimator (Hodges & Lehmann,
    * AMS '63) — the POINT ESTIMATE the rank tests ([[brunnerMunzel]],
    * [[lepageTest]]) only test: the median of all n_A·n_B pairwise
    * differences a − b, the robust "how far did the distribution
    * move" number one outlier cannot own.
    *
    * The classic computation materializes O(n²) differences; this is
    * the [[graft.ops.Timeseries.pettittDaily]] discipline applied to a
    * point estimate — NO pair stage: the count function
    *
    *   C(θ) = #{(a,b): a − b ≤ θ} = Σ_b f_B(v)·cumA(v + θ)
    *
    * is ONE [[PrefixSum.inclusive]] pass over the UNION of the A value
    * table (key 2v) and the θ-shifted B table (key 2(v+θ)+1 — A rows
    * sort first at equality, so the cumulative reads ≤), and C is a
    * monotone step function, so order statistics fall to [[rankSearch]]
    * — a K-ARY search whose every round evaluates up to 7 probe points
    * PER RANK in one batched pass (candidate index in the key's low
    * bits, one shared range shuffle), pinning all four ranks (the two
    * middles and the two CI endpoints) in ~log₈(range) distributed
    * passes TOTAL. The value table is localCheckpointed ONCE — every
    * probe pass reuses the same materialized RDD (the PrefixSum
    * soundness posture).
    *
    * Exact law: all counts and θ integers; HL2 = d_lo + d_hi is exact
    * (doubled median), hl = HL2/2 the one double. NULL hl2/hl when
    * either side is empty.
    *
    * The MOSES distribution-free 95% interval (Hollander–Wolfe §4.2)
    * rides the same memoized bisection: two more order statistics
    * d_(C+1), d_(T−C) at C = max(0, ⌊T/2 − z·√(n_A·n_B·(N+1)/12)⌋),
    * z = 1.959963984540054. The RANK is DEFINED by that double chain
    * (multiplications left-to-right, one √, one floor — replayable
    * verbatim in any IEEE engine); the ENDPOINTS the ranks select are
    * exact integers. Past T ≈ 2^53 the rank itself coarsens with
    * double spacing — harmless: adjacent order statistics there are
    * statistically indistinguishable, and the endpoints stay exact
    * order statistics of the true difference multiset.
    *
    * Scale shape: one value-table aggregate materialized once, then
    * ~log₂(value range) rounds of (union → prefix-sum pass → 1-row
    * fold) — rounds bounded by the INTEGER VALUE RANGE (64 worst
    * case), never by rows or pairs. INTEGRAL-VALUE CONTRACT as
    * [[moodMedianTest]].
    *
    * Output (1 row): (n_a, n_b, n_pairs, hl2, hl, ci_k, ci_lo,
    * ci_hi); n_pairs is a double diagnostic (n_A·n_B — the
    * [[quadeTest]] posture), ci_k the selected lower rank C+1.
    */
  def hodgesLehmannShift(df: DataFrame, valueCol: String,
      isACol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val spark = df.sparkSession
    val base = df.filter(col(valueCol).isNotNull && col(isACol).isNotNull)
      .select(col(valueCol).cast("long").as("_v"),
        col(isACol).cast("boolean").as("_a"))
    // LAZY checkpoint (r20): the st collect right below is a full-frame
    // aggregate, so its job materializes the blocks — one pass over the
    // upstream instead of an eager checkpoint job plus the collect
    val bt = base.groupBy(col("_v"))
      .agg(sum(when(col("_a"), 1L).otherwise(0L)).as("_fa"),
        sum(when(col("_a"), 0L).otherwise(1L)).as("_fb"))
      .localCheckpoint(false)
    val st = bt.agg(
      count(lit(1)).as("_nv"),
      coalesce(sum(col("_fa")), lit(0L)).as("na"),
      coalesce(sum(col("_fb")), lit(0L)).as("nb"),
      min(when(col("_fa") > 0L, col("_v"))).as("minA"),
      max(when(col("_fa") > 0L, col("_v"))).as("maxA"),
      min(when(col("_fb") > 0L, col("_v"))).as("minB"),
      max(when(col("_fb") > 0L, col("_v"))).as("maxB")).collect().head
    val (na, nb) = (st.getAs[Long]("na"), st.getAs[Long]("nb"))
    val t = BigInt(na) * BigInt(nb)
    val zero = lit(java.math.BigDecimal.ZERO).cast(dec)
    // C(θ) at MANY probe points in ONE pass: the candidate index rides
    // the key's low bits (keys scaled by m+1 stay order-consistent and
    // DISTINCT — the PrefixSum contract), so every probe shares the
    // single range shuffle and the per-candidate counts split back out
    // in one 1-row fold
    def batchCount(thetas: Seq[Long]): Map[Long, BigInt] = {
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types.{LongType, StructField, StructType}
      import scala.jdk.CollectionConverters._
      val m = thetas.length
      val mp = lit(m.toLong + 1L)
      // the probe set rides a broadcast LOCAL RELATION, not a literal
      // array-of-structs explode (r20): a ~45-struct literal tree per
      // pass is real analyzer/optimizer work and fresh codegen source
      // every pass; as data, the plan shape is probe-count-independent
      val candsDf = bt.sparkSession.createDataFrame(
        thetas.zipWithIndex.map { case (th, i) =>
          Row(th, i.toLong) }.asJava,
        StructType(Seq(StructField("_th", LongType, nullable = false),
          StructField("_csi", LongType, nullable = false))))
      val aRows = bt.filter(col("_fa") > 0L)
        .select((col("_v") * lit(2L) * mp).as("_k"),
          col("_fa").as("_wa"), lit(0L).as("_wb"), lit(0L).as("_wd"),
          lit(-1L).as("_si"))
      val bRows = bt.filter(col("_fb") > 0L)
        .crossJoin(broadcast(candsDf))
        .select((((col("_v") + col("_th")) * lit(2L) + lit(1L)) * mp +
          col("_csi")).as("_k"),
          lit(0L).as("_wa"), col("_fb").as("_wb"), lit(0L).as("_wd"),
          col("_csi").as("_si"))
      // uniform-bucket fast path (r19 optimization round): the key
      // bounds are exact functions of the already-collected value range
      // and the probe set — bt is checkpointed once above and every
      // probe pass re-scans its blocks. r20: the pass runs as the
      // bucket-FUSED fold (one exchange, per-(bucket, probe) aggregate,
      // bounded driver fold — see [[fusedProbeFold]]); the general
      // PrefixSum path below stays as the overflow fallback.
      val mL = m.toLong + 1L
      val loK = math.min(2L * st.getAs[Long]("minA"),
        2L * (st.getAs[Long]("minB") + thetas.min) + 1L) * mL
      val hiK = math.max(2L * st.getAs[Long]("maxA"),
        2L * (st.getAs[Long]("maxB") + thetas.max) + 1L) * mL + m.toLong
      fusedProbeFold(aRows.unionAll(bRows), m, loK, hiK) match {
        case Some(res) =>
          thetas.zipWithIndex.map { case (th, i) => th -> res(i)._1 }.toMap
        case None =>
          val cum = PrefixSum.inclusiveUniform(aRows.unionAll(bRows), "_k",
            col("_wa"), "_ca", loK, hiK)
          val aggs = thetas.indices.map(i =>
            coalesce(sum(when(col("_si") === i.toLong,
              col("_wb").cast(dec) * col("_ca").cast(dec))), zero).as(s"_c$i"))
          val row = cum.agg(aggs.head, aggs.tail: _*).collect().head
          thetas.zipWithIndex.map { case (th, i) =>
            th -> BigInt(row.getAs[java.math.BigDecimal](s"_c$i")
              .toBigIntegerExact)
          }.toMap
      }
    }
    val hlOpt: Option[(Long, Long, Long, Long, Long)] =
      if (t == 0) None
      else {
        val lo0 = st.getAs[Long]("minA") - st.getAs[Long]("maxB")
        val hi0 = st.getAs[Long]("maxA") - st.getAs[Long]("minB")
        // Moses rank: the documented double chain, left-to-right
        val cRank = math.max(0L, math.floor(t.toDouble / 2.0 -
          1.959963984540054 * math.sqrt(na.toDouble * nb.toDouble *
            (na + nb + 1).toDouble / 12.0)).toLong)
        val rLo = (t + 1) / 2
        val rHi = (t + 2) / 2
        val kLo = BigInt(cRank + 1L)
        val kHi = t - cRank
        // probe arity ADAPTS to the value-table size (r20 sweep: 7/15/
        // 31/63-ary measured 3.3/1.7/1.3/1.3 s here — per-pass fixed
        // cost dominates while the probe frame is small, so widen; but
        // total row work grows ~q/log q, so a corpus-scale value table
        // keeps the narrow arity)
        val qAr = if (st.getAs[Long]("_nv") <= 100000L) 31L else 7L
        val sel = rankSearch(Seq(rLo, rHi, kLo, kHi), lo0, hi0,
          batchCount, q = qAr)
        Some((sel(rLo), sel(rHi), cRank + 1L, sel(kLo), sel(kHi)))
      }
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
    import scala.jdk.CollectionConverters._
    val out = Seq(Row(na, nb, t.toDouble,
      hlOpt.map(p => java.lang.Long.valueOf(p._1 + p._2)).orNull,
      hlOpt.map(p => java.lang.Double.valueOf((p._1 + p._2).toDouble / 2.0))
        .orNull,
      hlOpt.map(p => java.lang.Long.valueOf(p._3)).orNull,
      hlOpt.map(p => java.lang.Long.valueOf(p._4)).orNull,
      hlOpt.map(p => java.lang.Long.valueOf(p._5)).orNull))
    spark.createDataFrame(out.asJava, StructType(Seq(
      StructField("n_a", LongType, nullable = false),
      StructField("n_b", LongType, nullable = false),
      StructField("n_pairs", DoubleType, nullable = false),
      StructField("hl2", LongType, nullable = true),
      StructField("hl", DoubleType, nullable = true),
      StructField("ci_k", LongType, nullable = true),
      StructField("ci_lo", LongType, nullable = true),
      StructField("ci_hi", LongType, nullable = true))))
  }

  /** One-sample Hodges–Lehmann PSEUDOMEDIAN (Hodges & Lehmann '63;
    * Hollander–Wolfe §3.2) — [[signedRankTest]]'s point estimate: the
    * median of all n(n+1)/2 Walsh averages (x_i + x_j)/2, i ≤ j — the
    * location estimate the signed-rank test implicitly inverts, robust
    * where the mean is not and more efficient than the raw median
    * under near-symmetry.
    *
    * Same NO-PAIR-STAGE discipline as [[hodgesLehmannShift]], on the
    * DOUBLED Walsh axis s = x_i + x_j (integer): the ordered-pair
    * count O(s) = Σ_v f(v)·F(s−v) is ONE [[PrefixSum.inclusive]] pass
    * over the union of the value table (key 2v, cumulative side) and
    * its s-reflection (key 2(s−v)+1, query side); the diagonal
    * D(s) = F(⌊s/2⌋) folds into the SAME aggregate (a filtered sum
    * over the cumulative side's keys), and the Walsh count is exactly
    * C(s) = (O(s) + D(s)) / 2 — O double-counts unordered i≠j pairs
    * and counts the diagonal once, so the sum is always even. All four
    * Walsh order statistics (the two middles and the two Tukey CI
    * endpoints) resolve together via [[rankSearch]]'s batched k-ary
    * probes in ~log₈(range) distributed passes TOTAL; the value table
    * is localCheckpointed ONCE.
    *
    * Exact law: all counts and s integers; HL4 = s_lo + s_hi is exact
    * (each s is a DOUBLED Walsh average, so their sum is 4× the
    * pseudomedian), hl = HL4/4 the one double. NULL when the input is
    * empty.
    *
    * The TUKEY distribution-free 95% interval (Hollander–Wolfe §3.3)
    * — the one-sample twin of [[hodgesLehmannShift]]'s Moses interval
    * — rides the same memoized bisection: Walsh order statistics
    * W_(C+1), W_(T−C) at C = max(0, ⌊T/2 − z·√(n(n+1)(2n+1)/24)⌋),
    * z = 1.959963984540054, rank chain and its replay caveat exactly
    * as documented there. Endpoints surface exact on the doubled axis
    * (ci_lo2/ci_hi2) and halved as the one double each.
    *
    * Scale shape / INTEGRAL-VALUE CONTRACT as [[hodgesLehmannShift]].
    *
    * Output (1 row): (n_rows, n_walsh, hl4, hl, ci_k, ci_lo2, ci_hi2,
    * ci_lo, ci_hi); n_walsh is a double diagnostic (n(n+1)/2 — the
    * [[quadeTest]] posture), ci_k the selected lower rank C+1.
    */
  def hlPseudomedian(df: DataFrame, valueCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val spark = df.sparkSession
    val base = df.filter(col(valueCol).isNotNull)
      .select(col(valueCol).cast("long").as("_v"))
    val bt = base.groupBy(col("_v")).agg(count(lit(1)).as("_f"))
      .localCheckpoint()
    val st = bt.agg(
      count(lit(1)).as("_nv"),
      coalesce(sum(col("_f")), lit(0L)).as("n"),
      min(col("_v")).as("minV"), max(col("_v")).as("maxV"))
      .collect().head
    val n = st.getAs[Long]("n")
    val t = BigInt(n) * BigInt(n + 1) / 2
    val zero = lit(java.math.BigDecimal.ZERO).cast(dec)
    // C(s) = (O(s) + D(s)) / 2 at MANY probe points in ONE pass — the
    // [[hodgesLehmannShift]] batched-key discipline; the diagonal
    // D(s_i) folds into the same 1-row aggregate as conditional sums
    // over the cumulative side's unscaled keys
    def batchCount(cands: Seq[Long]): Map[Long, BigInt] = {
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types.{LongType, StructField, StructType}
      import scala.jdk.CollectionConverters._
      val m = cands.length
      val mp = lit(m.toLong + 1L)
      // broadcast local-relation probe set — see hodgesLehmannShift
      val candsDf = bt.sparkSession.createDataFrame(
        cands.zipWithIndex.map { case (s, i) =>
          Row(s, i.toLong) }.asJava,
        StructType(Seq(StructField("_th", LongType, nullable = false),
          StructField("_csi", LongType, nullable = false))))
      val aRows = bt.select((col("_v") * lit(2L) * mp).as("_k"),
        col("_f").as("_wa"), lit(0L).as("_wb"), lit(0L).as("_wd"),
        lit(-1L).as("_si"), col("_v").as("_v0"))
      val bRows = bt.crossJoin(broadcast(candsDf))
        .select((((col("_th") - col("_v")) * lit(2L) + lit(1L)) * mp +
          col("_csi")).as("_k"),
          lit(0L).as("_wa"), col("_f").as("_wb"), lit(0L).as("_wd"),
          col("_csi").as("_si"), lit(0L).as("_v0"))
      // the pseudomedian's diagonal D(s_i) = Σ_{2v ≤ s_i} f(v) rides
      // the same pass as pre-filtered DIRECT-sum rows (zero _wa/_wb, so
      // every cumulative and probe sum is untouched — their a-row key
      // ties are weightless)
      val dRows = bt.crossJoin(broadcast(candsDf))
        .filter(col("_v") * lit(2L) <= col("_th"))
        .select((col("_v") * lit(2L) * mp).as("_k"),
          lit(0L).as("_wa"), lit(0L).as("_wb"), col("_f").as("_wd"),
          col("_csi").as("_si"), lit(0L).as("_v0"))
      // uniform-bucket fast path (r19 optimization round): key bounds
      // are exact functions of the collected value range + probe set.
      // r20: the pass runs as the bucket-FUSED fold with the diagonal
      // sums riding the same per-(bucket, probe) aggregate (see
      // [[fusedProbeFold]]); the general PrefixSum path stays as the
      // overflow fallback.
      val mL = m.toLong + 1L
      val loK = math.min(2L * st.getAs[Long]("minV"),
        2L * (cands.min - st.getAs[Long]("maxV")) + 1L) * mL
      val hiK = math.max(2L * st.getAs[Long]("maxV"),
        2L * (cands.max - st.getAs[Long]("minV")) + 1L) * mL + m.toLong
      val all = aRows.unionAll(bRows).unionAll(dRows)
      fusedProbeFold(all, m, loK, hiK) match {
        case Some(res) =>
          cands.zipWithIndex.map { case (s, i) =>
            s -> (res(i)._1 + res(i)._2) / 2
          }.toMap
        case None =>
          // the d-rows are INERT here (zero _wa and _wb; _si ≥ 0 keeps
          // them out of every diagonal when()) — the fallback computes
          // the diagonal from the a-rows' _v0 exactly as before
          val cum = PrefixSum.inclusiveAllUniform(all, "_k",
            Seq(col("_wa") -> "_ca"), loK, hiK)
          val aggs = cands.indices.flatMap(i => Seq(
            coalesce(sum(when(col("_si") === i.toLong,
              col("_wb").cast(dec) * col("_ca").cast(dec))), zero)
              .as(s"_o$i"),
            coalesce(sum(when(col("_si") === -1L &&
              col("_v0") * lit(2L) <= lit(cands(i)),
              col("_wa")).otherwise(0L).cast(dec)), zero).as(s"_d$i")))
          val row = cum.agg(aggs.head, aggs.tail: _*).collect().head
          cands.zipWithIndex.map { case (s, i) =>
            val o = BigInt(row.getAs[java.math.BigDecimal](s"_o$i")
              .toBigIntegerExact)
            val dg = BigInt(row.getAs[java.math.BigDecimal](s"_d$i")
              .toBigIntegerExact)
            s -> (o + dg) / 2
          }.toMap
      }
    }
    val hlOpt: Option[(Long, Long, Long, Long, Long)] =
      if (t == 0) None
      else {
        val lo0 = 2L * st.getAs[Long]("minV")
        val hi0 = 2L * st.getAs[Long]("maxV")
        // Tukey rank: the documented double chain, left-to-right
        val cRank = math.max(0L, math.floor(t.toDouble / 2.0 -
          1.959963984540054 * math.sqrt(n.toDouble * (n + 1L).toDouble *
            (2L * n + 1L).toDouble / 24.0)).toLong)
        val rLo = (t + 1) / 2
        val rHi = (t + 2) / 2
        val kLo = BigInt(cRank + 1L)
        val kHi = t - cRank
        // probe arity ADAPTS to the value-table size (r20 sweep: 7/15/
        // 31/63-ary measured 3.3/1.7/1.3/1.3 s here — per-pass fixed
        // cost dominates while the probe frame is small, so widen; but
        // total row work grows ~q/log q, so a corpus-scale value table
        // keeps the narrow arity)
        val qAr = if (st.getAs[Long]("_nv") <= 100000L) 31L else 7L
        val sel = rankSearch(Seq(rLo, rHi, kLo, kHi), lo0, hi0,
          batchCount, q = qAr)
        Some((sel(rLo), sel(rHi), cRank + 1L, sel(kLo), sel(kHi)))
      }
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
    import scala.jdk.CollectionConverters._
    val out = Seq(Row(n, t.toDouble,
      hlOpt.map(p => java.lang.Long.valueOf(p._1 + p._2)).orNull,
      hlOpt.map(p => java.lang.Double.valueOf((p._1 + p._2).toDouble / 4.0))
        .orNull,
      hlOpt.map(p => java.lang.Long.valueOf(p._3)).orNull,
      hlOpt.map(p => java.lang.Long.valueOf(p._4)).orNull,
      hlOpt.map(p => java.lang.Long.valueOf(p._5)).orNull,
      hlOpt.map(p => java.lang.Double.valueOf(p._4.toDouble / 2.0)).orNull,
      hlOpt.map(p => java.lang.Double.valueOf(p._5.toDouble / 2.0)).orNull))
    spark.createDataFrame(out.asJava, StructType(Seq(
      StructField("n_rows", LongType, nullable = false),
      StructField("n_walsh", DoubleType, nullable = false),
      StructField("hl4", LongType, nullable = true),
      StructField("hl", DoubleType, nullable = true),
      StructField("ci_k", LongType, nullable = true),
      StructField("ci_lo2", LongType, nullable = true),
      StructField("ci_hi2", LongType, nullable = true),
      StructField("ci_lo", DoubleType, nullable = true),
      StructField("ci_hi", DoubleType, nullable = true))))
  }

  /** Bartlett's k-sample variance test (Bartlett, Proc. Roy. Soc.
    * A '37) — the PARAMETRIC member of the scale family, closing the
    * trio with [[brownForsythe]] (deviation ANOVA) and
    * [[flignerKilleen]] (rank-based): maximum power under normality,
    * the classic pre-check before a pooled-variance ANOVA.
    *
    * Fully distributed — unlike the rank members, nothing here needs a
    * bounded group axis: per-group cumulants (n_j, Σx, Σx²) are ONE
    * hash aggregate at (group) granularity, each group's variance
    * s²_j = (n_j·Σx² − (Σx)²) / (n_j(n_j−1)) is a per-row double off
    * exact DECIMAL integers, and the three cross-group reductions are
    * sums of ONCE-QUANTIZED integers (the [[flignerKilleen]] posture —
    * order-free, so the distributed sum is exact):
    *
    *   l_j = round(ln(s²_j)·10¹²)   (pico log-variance),
    *   m_j = round(s²_j·10⁶)        (micro variance; ANSI long cast
    *                                 bounds the domain at s² < 9.2·10¹²),
    *   r_j = round(10¹²/(n_j−1))    (pico reciprocal),
    *
    * then A = Σ(n_j−1)l_j, V = Σ(n_j−1)m_j, R = Σr_j exact DECIMALs
    * and the statistic is ONE pinned double chain:
    * T = [(N−k)·ln(s²_p) − A/10¹²] / C with s²_p = V/10⁶/(N−k) and
    * C = 1 + (R/10¹² − 1/(N−k)) / (3(k−1)) (χ², k−1 df). The ln is
    * engine-replayable pure arithmetic (the [[probitCol]] / KL-drift
    * precedent). Groups with n_j < 2 carry no variance and are
    * excluded by the test's definition; NULL when k < 2 or any kept
    * s²_j = 0. INTEGRAL-VALUE CONTRACT as [[moodMedianTest]].
    *
    * Output (1 row): (n_rows, k_groups, sp2, bartlett_pico); sp2 is a
    * double diagnostic (the pooled variance in value² units).
    */
  def bartlettTest(df: DataFrame, valueCol: String,
      groupCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val base = df.filter(col(valueCol).isNotNull && col(groupCol).isNotNull)
      .select(col(groupCol).as("_g"), col(valueCol).cast("long").as("_v"))
    val perG = base.groupBy(col("_g"))
      .agg(count(lit(1)).as("_n"),
        sum(col("_v").cast(dec)).as("_s"),
        sum(col("_v").cast(dec) * col("_v").cast(dec)).as("_q"))
      .filter(col("_n") >= 2L)
      .withColumn("_s2",
        (col("_n").cast(dec) * col("_q") - col("_s") * col("_s"))
          .cast("double") /
          (col("_n").cast(dec) * (col("_n") - lit(1L)).cast(dec))
            .cast("double"))
      // greatest clamps ln's domain — identity whenever s2 > 0, and the
      // final when() nulls the statistic if any group is degenerate
      .withColumn("_l",
        round(log(greatest(col("_s2"), lit(1.0e-300))) * lit(1.0e12))
          .cast("long"))
      .withColumn("_m", round(col("_s2") * lit(1.0e6)).cast("long"))
      .withColumn("_r",
        round(lit(1.0e12) / (col("_n") - lit(1L)).cast("double"))
          .cast("long"))
    val zero = lit(java.math.BigDecimal.ZERO).cast(dec)
    val agg = perG.agg(
      count(lit(1)).as("k_groups"),
      coalesce(sum(col("_n")), lit(0L)).as("n_rows"),
      coalesce(sum((col("_n") - lit(1L)).cast(dec) * col("_l").cast(dec)),
        zero).as("_a"),
      coalesce(sum((col("_n") - lit(1L)).cast(dec) * col("_m").cast(dec)),
        zero).as("_vv"),
      coalesce(sum(col("_r").cast(dec)), zero).as("_rr"),
      min(col("_s2")).as("_mins2"))
    val nmk = (col("n_rows") - col("k_groups")).cast("double")
    val sp2 = col("_vv").cast("double") / lit(1.0e6) / nmk
    val tNum = nmk * log(greatest(sp2, lit(1.0e-300))) -
      col("_a").cast("double") / lit(1.0e12)
    val cFac = lit(1.0) + (col("_rr").cast("double") / lit(1.0e12) -
      lit(1.0) / greatest(nmk, lit(1.0))) /
      (lit(3.0) * greatest((col("k_groups") - lit(1L)).cast("double"),
        lit(1.0)))
    agg.select(col("n_rows"), col("k_groups"),
      sp2.as("sp2"),
      when(col("k_groups") >= 2L && col("n_rows") > col("k_groups") &&
        col("_mins2") > 0.0,
        round(tNum / cFac * lit(1.0e12)).cast("long"))
        .as("bartlett_pico"))
  }

  /** Brunner–Munzel heteroscedastic rank test (Biometrical J. '00) —
    * [[cliffsDelta]]'s inferential sibling: tests H₀: P(A < B) + ½P(=)
    * = ½ WITHOUT the equal-variance/equal-shape assumption the
    * Wilcoxon–Mann–Whitney null needs (the Behrens–Fisher situation in
    * ranks). Reported with the common-language effect p̂ itself.
    *
    * Exact law on the two-class value-frequency table: pooled and
    * within-group midranks are half-integers, so their doubled forms
    * p2 = 2·cum − m + 1 and a2 = 2·cumA − fa + 1 are exact integers off
    * ONE [[PrefixSum.inclusiveAll]] pass (both class weights share the
    * range shuffle — the [[kendallTauB]] cumulant discipline); each
    * group's rank-variance cumulant folds the per-value terms X = p2 −
    * a2 into V = n·Σf·X² − 2K·Σf·X + K² with K = ΣR2 − n(n+1), all
    * DECIMAL(38,0), where S² = V/(4n(n−1)) is the paper's variance
    * estimator. Then
    *
    *   p̂ = (R̄_B − R̄_A)/N + ½,
    *   W = n_A·n_B·(R̄_B − R̄_A) / (N·√(V_A/(n_A−1) + V_B/(n_B−1)))
    *
    * are each ONE pinned double chain, pico-rounded (W > 0 reads "B
    * tends larger"). NULL W when either side has n < 2 or the variance
    * sum is ≤ 0; NULL p̂ when either side is empty.
    *
    * Scale shape: one (value, class) hash aggregate → one shared
    * prefix-sum pass → a bounded 1-row aggregate. INTEGRAL-VALUE
    * CONTRACT as [[moodMedianTest]].
    *
    * Output (1 row): (n_a, n_b, r2sum_a, r2sum_b, p_hat_pico, w_pico).
    */
  def brunnerMunzel(df: DataFrame, valueCol: String,
      isACol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val base = df.filter(col(valueCol).isNotNull && col(isACol).isNotNull)
      .select(col(valueCol).cast("long").as("_v"),
        col(isACol).cast("boolean").as("_a"))
    val bt = base.groupBy(col("_v"))
      .agg(sum(when(col("_a"), 1L).otherwise(0L)).as("_fa"),
        sum(when(col("_a"), 0L).otherwise(1L)).as("_fb"))
    val cum = PrefixSum.inclusiveAll(bt, "_v",
      Seq(col("_fa") -> "_ca", col("_fb") -> "_cb"), withTotals = true)
      .withColumn("_m", col("_fa") + col("_fb"))
      .withColumn("_p2",
        lit(2L) * (col("_ca") + col("_cb")) - col("_m") + lit(1L))
      .withColumn("_xa", col("_p2") - (lit(2L) * col("_ca") - col("_fa")
        + lit(1L)))
      .withColumn("_xb", col("_p2") - (lit(2L) * col("_cb") - col("_fb")
        + lit(1L)))
    val zero = lit(java.math.BigDecimal.ZERO).cast(dec)
    val agg = cum.agg(
      coalesce(max(col("_ca_total")), lit(0L)).as("n_a"),
      coalesce(max(col("_cb_total")), lit(0L)).as("n_b"),
      coalesce(sum(col("_fa").cast(dec) * col("_p2").cast(dec)), zero)
        .as("_sra"),
      coalesce(sum(col("_fb").cast(dec) * col("_p2").cast(dec)), zero)
        .as("_srb"),
      coalesce(sum(col("_fa").cast(dec) * col("_xa").cast(dec)), zero)
        .as("_sxa"),
      coalesce(sum(col("_fb").cast(dec) * col("_xb").cast(dec)), zero)
        .as("_sxb"),
      coalesce(sum(col("_fa").cast(dec) * col("_xa").cast(dec)
        * col("_xa").cast(dec)), zero).as("_qxa"),
      coalesce(sum(col("_fb").cast(dec) * col("_xb").cast(dec)
        * col("_xb").cast(dec)), zero).as("_qxb"))
    val ka = col("_sra") - col("n_a").cast(dec) *
      (col("n_a") + lit(1L)).cast(dec)
    val kb = col("_srb") - col("n_b").cast(dec) *
      (col("n_b") + lit(1L)).cast(dec)
    val va = col("n_a").cast(dec) * col("_qxa") -
      lit(2L).cast(dec) * ka * col("_sxa") + ka * ka
    val vb = col("n_b").cast(dec) * col("_qxb") -
      lit(2L).cast(dec) * kb * col("_sxb") + kb * kb
    // greatest clamps: identity whenever the matching when() fires
    val naD = greatest(col("n_a"), lit(1L)).cast("double")
    val nbD = greatest(col("n_b"), lit(1L)).cast("double")
    val nD = greatest(col("n_a") + col("n_b"), lit(1L)).cast("double")
    val diff = col("_srb").cast("double") / nbD -
      col("_sra").cast("double") / naD
    val varSum = va.cast("double") / greatest(col("n_a") - lit(1L), lit(1L))
      .cast("double") +
      vb.cast("double") / greatest(col("n_b") - lit(1L), lit(1L))
        .cast("double")
    agg.select(col("n_a"), col("n_b"),
      col("_sra").cast("long").as("r2sum_a"),
      col("_srb").cast("long").as("r2sum_b"),
      when(col("n_a") > 0L && col("n_b") > 0L,
        round((diff / (lit(2.0) * nD) + lit(0.5)) * lit(1.0e12))
          .cast("long")).as("p_hat_pico"),
      when(col("n_a") >= 2L && col("n_b") >= 2L && varSum > 0.0,
        round(naD * nbD * diff
          / (nD * sqrt(greatest(varSum, lit(1.0e-300)))) * lit(1.0e12))
          .cast("long")).as("w_pico"))
  }

  /** Page's L trend test for ordered alternatives in a complete block
    * design (Page, JASA '63) — the WITHIN-BLOCK companion of
    * [[jonckheereTerpstra]]: JT pools all observations, so a strong
    * block effect (customers who simply spend more everywhere) drowns
    * the trend; Page ranks the k ordered treatments WITHIN each block
    * first, so every block votes on the ORDER alone, and
    * L = Σ_j j·R_j accumulates those votes against the monotone
    * alternative.
    *
    * Exact law: the bounded ascending class collect fixes scores 1..k
    * (the [[kendallTauB]] classCumulants discipline — TakeOrdered
    * probe, hard require); replicated (block, class) cells reduce by
    * SUM (the one-observation-per-cell contract); blocks missing any
    * class DROP (Page's design needs complete blocks — documented, not
    * silent: n_blocks is in the output); within-block midranks are
    * half-integers off min-rank + tie count, so 2·midrank = 2·rank +
    * ties − 1 is exact, and L2 = Σ score·midrank2 = 2L is an exact
    * DECIMAL sum. Against the no-tie null moments (Hollander–Wolfe):
    * E[2L] = n·k(k+1)²/2 and Var[2L] = n·k²(k+1)²(k−1)/36, z = (L2 −
    * E2)/√Var2 is ONE pinned double chain (ties enter L via midranks;
    * the variance keeps the classical no-tie form — the standard
    * practical treatment). NULL z when n = 0 or k < 3 (the test is
    * tabulated for k ≥ 3).
    *
    * Scale shape: one (block, class) hash aggregate → the
    * completeness semi-filter (a hash join on block) → per-BLOCK
    * windows over ≤ k-row partitions (bounded by configuration — never
    * an unpartitioned window) → a 1-row aggregate. INTEGRAL-VALUE
    * CONTRACT as [[moodMedianTest]].
    *
    * Output (1 row): (n_blocks, k_classes, l2, e_l2, z_pico).
    */
  def pageTrendL(df: DataFrame, blockCol: String, classCol: String,
      valueCol: String, maxClasses: Int = 64): DataFrame = {
    val dec = "decimal(38,0)"
    val (ranked, k) = blockRanks(df, blockCol, classCol, valueCol,
      maxClasses, "pageTrendL")
    val agg = ranked.agg(
      expr(s"coalesce(count(1), 0L) div ${k}L").as("n_blocks"),
      coalesce(sum(col("_s").cast(dec) * col("_mr2").cast(dec)),
        lit(java.math.BigDecimal.ZERO).cast(dec)).as("_l2"))
    // E[2L] = n·k(k+1)²/2 — k(k+1)² is always even, so the div is exact
    val e2i = expr(s"CAST((CAST(n_blocks AS $dec) * " +
      s"${k.toLong * (k + 1) * (k + 1)}L) div 2 AS $dec)")
    val var2 = col("n_blocks").cast("double") *
      lit(k.toDouble * k * (k + 1) * (k + 1) * (k - 1) / 36.0)
    agg.select(col("n_blocks"), lit(k.toLong).as("k_classes"),
      col("_l2").cast("long").as("l2"),
      e2i.cast("long").as("e_l2"),
      when(col("n_blocks") >= 1L && lit(k) >= 3 && var2 > 0.0,
        round((col("_l2") - e2i).cast("double")
          / sqrt(greatest(var2, lit(1.0e-300))) * lit(1.0e12)).cast("long"))
        .as("z_pico"))
  }

  /** Shared complete-block within-block midrank scaffold of the
    * block-design family ([[pageTrendL]], [[friedmanKendallW]]): bounded
    * ascending class collect (scores 1..k — TakeOrdered probe, hard
    * require), replicated (block, class) cells reduced by SUM, blocks
    * missing any class dropped via a semi-join, and doubled within-block
    * midranks (2·midrank = 2·min-rank + ties − 1, exact integers) from
    * per-BLOCK windows over ≤ k-row partitions. Returns (ranked frame
    * with (_b, _s, _cell, _mr2), k).
    */
  private def blockRanks(df: DataFrame, blockCol: String, classCol: String,
      valueCol: String, maxClasses: Int,
      op: String): (DataFrame, Int) = {
    val base = df.filter(col(blockCol).isNotNull && col(classCol).isNotNull
        && col(valueCol).isNotNull)
      .select(col(blockCol).as("_b"), col(classCol).as("_x"),
        col(valueCol).cast("long").as("_y"))
    val cls = base.select(col("_x")).distinct()
      .orderBy(col("_x")).limit(maxClasses + 1).collect().map(_.get(0))
    require(cls.nonEmpty, s"$op: no non-null (block, class, value) rows")
    require(cls.length <= maxClasses,
      s"$op: class column exceeds $maxClasses distinct values — " +
        "the within-block ranking law needs a bounded ordinal axis; " +
        "bin the column or raise maxClasses")
    val k = cls.length
    val score = coalesce(
      (0 until k).map(j => when(col("_x") === lit(cls(j)),
        lit((j + 1).toLong))): _*)
    // LAZY localCheckpoint (r19 optimization round): the cell table
    // feeds the completeness screen AND the ranked stream — one base
    // scan + aggregate instead of two
    val cells = base.withColumn("_s", score)
      .groupBy(col("_b"), col("_s")).agg(sum(col("_y")).as("_cell"))
      .localCheckpoint(false)
    val complete = cells.groupBy(col("_b"))
      .agg(count(lit(1)).as("_kc")).filter(col("_kc") === lit(k.toLong))
      .select(col("_b"))
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_b")).orderBy(col("_cell"))
    val wTie = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_b"), col("_cell"))
    val ranked = cells.join(complete, Seq("_b"), "left_semi")
      .withColumn("_mr2", lit(2L) * rank().over(wRank).cast("long")
        + count(lit(1)).over(wTie) - lit(1L))
    (ranked, k)
  }

  /** Friedman's rank test for complete block designs (Friedman, JASA
    * '37) with Kendall's coefficient of concordance W ('39) —
    * [[pageTrendL]]'s UNORDERED sibling: does the class matter AT ALL
    * within blocks (any permutation alternative), where Page asks for a
    * monotone trend? W rescales the same statistic to [0, 1] agreement
    * ("how unanimously do blocks rank the classes the same way").
    *
    * Exact law on the shared [[pageTrendL]] block-rank scaffold
    * (doubled midranks, SUM cells, complete blocks only), in Conover's
    * tie-corrected form — all ×4-scaled terms exact integers:
    *
    *   S4 = Σ_j (R2_j − n(k+1))²   (R2_j = Σ_blocks mr2 of class j)
    *   A4 = Σ_cells mr2²,  C4 = n·k·(k+1)²
    *   χ² = (k−1)·S4 / (A4 − C4)    [ties: A4 < nk(k+1)(2k+1)/... ]
    *   W  = χ² / (n·(k−1))          (the standard identity, which IS
    *                                 the tie-corrected W)
    *
    * One pinned double chain each, pico-rounded; NULL both when
    * A4 = C4 (every block fully tied — no ranking information) or
    * n = 0 or k < 2.
    *
    * Scale shape: the scaffold's one (block, class) aggregate +
    * semi-filter + per-block windows, then a ≤ k-row per-class
    * aggregate and a 1-row fold. INTEGRAL-VALUE CONTRACT as
    * [[moodMedianTest]].
    *
    * Output (1 row): (n_blocks, k_classes, s4, a4, chi2_pico, w_pico).
    */
  def friedmanKendallW(df: DataFrame, blockCol: String, classCol: String,
      valueCol: String, maxClasses: Int = 64): DataFrame = {
    val dec = "decimal(38,0)"
    val (ranked, k) = blockRanks(df, blockCol, classCol, valueCol,
      maxClasses, "friedmanKendallW")
    val zero = lit(java.math.BigDecimal.ZERO).cast(dec)
    // per-class rank sums: a ≤ k-row frame (bounded by configuration)
    val perClass = ranked.groupBy(col("_s"))
      .agg(sum(col("_mr2").cast(dec)).as("_r2"),
        sum(col("_mr2").cast(dec) * col("_mr2").cast(dec)).as("_q2"),
        count(lit(1)).as("_nb"))
    val agg = perClass.agg(
      expr(s"coalesce(CAST(max(_nb) AS BIGINT), 0L)").as("n_blocks"),
      coalesce(sum(col("_q2")), zero).as("_a4"),
      coalesce(sum(col("_r2")), zero).as("_sr"),
      coalesce(sum(col("_r2") * col("_r2")), zero).as("_srr"))
    // Σ(R2_j − n(k+1))² = ΣR2² − 2n(k+1)ΣR2 + k·n²(k+1)²; with
    // ΣR2 = n·k·(k+1) (midrank mass is invariant) this folds to
    // ΣR2² − k·n²(k+1)² — exact integers
    val nD = col("n_blocks").cast(dec)
    val s4 = col("_srr") - lit(k.toLong).cast(dec) * nD * nD *
      lit(((k + 1).toLong * (k + 1))).cast(dec)
    val c4 = nD * lit(k.toLong * (k + 1) * (k + 1)).cast(dec)
    val denom = col("_a4") - c4
    val chi2 = lit((k - 1).toDouble) * s4.cast("double") /
      greatest(denom.cast("double"), lit(1.0e-300))
    agg.select(col("n_blocks"), lit(k.toLong).as("k_classes"),
      s4.cast("long").as("s4"), col("_a4").cast("long").as("a4"),
      when(col("n_blocks") >= 1L && lit(k) >= 2 && denom > zero,
        round(chi2 * lit(1.0e12)).cast("long")).as("chi2_pico"),
      when(col("n_blocks") >= 1L && lit(k) >= 2 && denom > zero,
        round(chi2 / (col("n_blocks").cast("double") * lit((k - 1).toDouble))
          * lit(1.0e12)).cast("long")).as("w_pico"))
  }

  /** Cuzick's Wilcoxon-type trend test across ordered groups (Cuzick,
    * Stat. Med. '85) — the POOLED-rank companion of [[pageTrendL]]
    * (no block structure needed) and the k-group generalization of the
    * rank-sum trend [[jonckheereTerpstra]] reads pairwise: T = Σ l_i·r_i
    * with group scores l = 1..k and pooled midranks r.
    *
    * Exact law: doubled midranks off the value-frequency table's ONE
    * [[PrefixSum.inclusive]] pass give T2 = Σ l·mr2 exactly;
    * E[T2] = (Σ_i l_i)·(N+1) is exact (midrank mass is tie-invariant);
    * the permutation variance of a linear rank statistic,
    *
    *   Var[T2] = (Σ(l−l̄)²)·(Σ(mr2−m̄r2)²)/(N−1)
    *           = (Sll − Sl²/N)·(Saa4 − N(N+1)²)/(N−1),
    *
    * reads four exact integer cumulants (Sl, Sll, Saa4, N) — midrank
    * ties need no separate correction, the midranks themselves carry
    * it. z = (T2 − E[T2])/√Var[T2] is ONE pinned double chain,
    * pico-rounded; NULL when N < 2 or Var ≤ 0 (a single class or all
    * values tied).
    *
    * Scale shape: one (class, value) hash aggregate folded to bounded
    * per-class count columns (the [[kendallTauB]] classCumulants
    * discipline — TakeOrdered probe, hard require), one prefix-sum
    * pass, a 1-row aggregate. INTEGRAL-VALUE CONTRACT as
    * [[moodMedianTest]].
    *
    * Output (1 row): (n_rows, k_classes, t2, e_t2, z_pico).
    */
  def cuzickTrend(df: DataFrame, classCol: String, valueCol: String,
      maxClasses: Int = 64): DataFrame = {
    val dec = "decimal(38,0)"
    val base = df.filter(col(classCol).isNotNull && col(valueCol).isNotNull)
      .select(col(classCol).as("_x"), col(valueCol).cast("long").as("_v"))
    val cls = base.select(col("_x")).distinct()
      .orderBy(col("_x")).limit(maxClasses + 1).collect().map(_.get(0))
    require(cls.nonEmpty, "cuzickTrend: no non-null (class, value) rows")
    require(cls.length <= maxClasses,
      s"cuzickTrend: class column exceeds $maxClasses distinct values — " +
        "the per-class cumulative law needs a bounded ordinal axis; " +
        "bin the column or raise maxClasses")
    val k = cls.length
    val vt = base.groupBy(col("_v")).agg(
      sum(when(col("_x") === lit(cls(0)), 1L).otherwise(0L)).as("_c0"),
      (1 until k).map(j =>
        sum(when(col("_x") === lit(cls(j)), 1L).otherwise(0L))
          .as(s"_c$j")): _*)
    val m = (0 until k).map(j => col(s"_c$j")).reduce(_ + _)
    val cum = PrefixSum.inclusiveAll(vt.withColumn("_m", m), "_v",
      Seq(col("_m") -> "_cum"), withTotals = true)
      .withColumn("_mr2",
        lit(2L) * col("_cum") - col("_m") + lit(1L))
    val zero = lit(java.math.BigDecimal.ZERO).cast(dec)
    val lw = (0 until k).map(j =>
      col(s"_c$j") * lit((j + 1).toLong)).reduce(_ + _)
    val lw2 = (0 until k).map(j =>
      col(s"_c$j") * lit(((j + 1).toLong * (j + 1)))).reduce(_ + _)
    val agg = cum.agg(
      coalesce(max(col("_cum_total")), lit(0L)).as("n_rows"),
      coalesce(sum(lw.cast(dec)), zero).as("_sl"),
      coalesce(sum(lw2.cast(dec)), zero).as("_sll"),
      coalesce(sum(lw.cast(dec) * col("_mr2").cast(dec)), zero).as("_t2"),
      coalesce(sum(col("_m").cast(dec) * col("_mr2").cast(dec)
        * col("_mr2").cast(dec)), zero).as("_saa4"))
    // greatest clamps: identity whenever the matching when() fires
    val nD = greatest(col("n_rows"), lit(1L)).cast("double")
    val n1 = greatest(col("n_rows") - lit(1L), lit(1L)).cast("double")
    val e2 = col("_sl") * (col("n_rows").cast(dec) + lit(1L).cast(dec))
    val sll = col("_sll").cast("double") -
      col("_sl").cast("double") * col("_sl").cast("double") / nD
    val saa = col("_saa4").cast("double") -
      nD * (col("n_rows").cast("double") + lit(1.0)) *
        (col("n_rows").cast("double") + lit(1.0))
    val varT = sll * saa / n1
    agg.select(col("n_rows"), lit(k.toLong).as("k_classes"),
      col("_t2").cast("long").as("t2"), e2.cast("long").as("e_t2"),
      when(col("n_rows") >= 2L && varT > 0.0,
        round((col("_t2") - e2).cast("double")
          / sqrt(greatest(varT, lit(1.0e-300))) * lit(1.0e12)).cast("long"))
        .as("z_pico"))
  }

  /** Wilcoxon signed-rank test (Wilcoxon '45) — the PAIRED member the
    * two-sample rank family ([[brunnerMunzel]], [[ansariBradley]])
    * lacks: each unit is its own control, so between-unit variation
    * (the customer-level spend effect) cancels in the difference before
    * any ranking happens. Zero differences drop (Wilcoxon's
    * convention); W⁺ sums the |d|-ranks of the positive differences.
    *
    * Exact law: differences d = a − b in exact integers; the
    * value-frequency table of |d| rides ONE [[PrefixSum.inclusive]]
    * pass with positive/negative counts as columns, so doubled
    * midranks give W2⁺ = 2W⁺ exactly; the tie-corrected null moments,
    *
    *   E[W2⁺] = n'(n'+1)/2,
    *   12·Var[W2⁺] = 2n'(n'+1)(2n'+1) − Σ_runs (m³ − m),
    *
    * stay exact integers (n' = nonzero pairs); the var12 DIAGNOSTIC
    * column surfaces as a double ([[quadeTest]] posture — ≈ 4n'³
    * overflows a BIGINT cast past n' ≈ 1.3M). z = (W2⁺ − E)/√(var12/12)
    * is ONE pinned double chain, pico-rounded; NULL when n' < 1 or
    * Var ≤ 0 (every |d| in one tied run of both signs... Var = 0 only
    * at n' = 0).
    *
    * Scale shape: one paired projection → one |d| hash aggregate → one
    * prefix-sum pass → a 1-row fold. INTEGRAL-VALUE CONTRACT as
    * [[moodMedianTest]] (both sides cast to long).
    *
    * Output (1 row): (n_pairs, n_nonzero, w2_plus, e2, var12, z_pico).
    */
  def signedRankTest(df: DataFrame, aCol: String,
      bCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val base = df.filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .select((col(aCol).cast("long") - col(bCol).cast("long")).as("_d"))
    val nPairs = base.agg(count(lit(1)).as("n_pairs"))
    val vt = base.filter(col("_d") =!= 0L)
      .groupBy(abs(col("_d")).as("_v"))
      .agg(sum(when(col("_d") > 0L, 1L).otherwise(0L)).as("_fp"),
        count(lit(1)).as("_m"))
    val cum = PrefixSum.inclusiveAll(vt, "_v", Seq(col("_m") -> "_cum"),
      withTotals = true)
      .withColumn("_mr2", lit(2L) * col("_cum") - col("_m") + lit(1L))
    val zero = lit(java.math.BigDecimal.ZERO).cast(dec)
    val agg = cum.agg(
      coalesce(max(col("_cum_total")), lit(0L)).as("n_nonzero"),
      coalesce(sum(col("_fp").cast(dec) * col("_mr2").cast(dec)), zero)
        .as("_w2"),
      coalesce(sum(col("_m").cast(dec) * col("_m").cast(dec)
        * col("_m").cast(dec) - col("_m").cast(dec)), zero).as("_tie"))
    val n = col("n_nonzero").cast(dec)
    val e2 = expr(s"CAST((CAST(n_nonzero AS $dec) * (n_nonzero + 1))" +
      s" div 2 AS $dec)")
    val var12 = lit(2L).cast(dec) * n * (n + lit(1L).cast(dec)) *
      (lit(2L).cast(dec) * n + lit(1L).cast(dec)) - col("_tie")
    val zD = (col("_w2") - e2).cast("double") /
      sqrt(greatest(var12.cast("double") / lit(12.0), lit(1.0e-300)))
    agg.crossJoin(broadcast(nPairs))
      .select(col("n_pairs"), col("n_nonzero"),
        col("_w2").cast("long").as("w2_plus"), e2.cast("long").as("e2"),
        // var12 ≈ 4n'³ — a BIGINT cast would THROW under ANSI past
        // n' ≈ 1.3M nonzero pairs, so the diagnostic surfaces as a
        // DOUBLE (the quadeTest posture); z reads the DECIMAL internals
        var12.cast("double").as("var12"),
        when(col("n_nonzero") >= 1L &&
          var12 > zero, round(zD * lit(1.0e12)).cast("long")).as("z_pico"))
  }

  /** Cochran's Q test (Cochran '50) — the BINARY complete-block member
    * of the family ([[friedmanKendallW]] with 0/1 cells): do the k
    * treatments differ in hit RATE when every block (user) is its own
    * control? The input is the HITS frame — one row per (block, class)
    * with a hit; absent cells are exact 0s, and all-zero blocks are
    * provably invisible to Q (they move no term), so the hits-only
    * contract IS the complete law.
    *
    * Exact law: with column totals C_j, block row-sums R_b, grand total
    * T and k classes,
    *
    *   Q = (k−1)·(k·ΣC_j² − T²) / (k·T − ΣR_b²)
    *
    * — every factor an exact DECIMAL(38,0) integer, ONE double chain
    * pico-rounded. NULL when the denominator is ≤ 0 (T = 0, or every
    * block hit all k classes — no discordance to test).
    *
    * Scale shape: two hash aggregates (per-class, per-block) + two
    * 1-row folds joined by a broadcast — no window, no driver state,
    * blocks unbounded.
    *
    * Output (1 row): (n_blocks, k_classes, t_hits, q_pico).
    */
  def cochranQ(df: DataFrame, blockCol: String,
      classCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val base = df.filter(col(blockCol).isNotNull && col(classCol).isNotNull)
      .select(col(blockCol).as("_b"), col(classCol).as("_x")).distinct()
    val zero = lit(java.math.BigDecimal.ZERO).cast(dec)
    val perClass = base.groupBy(col("_x")).agg(count(lit(1)).as("_cj"))
      .agg(count(lit(1)).as("_k"),
        coalesce(sum(col("_cj")), lit(0L)).as("_t"),
        coalesce(sum(col("_cj").cast(dec) * col("_cj").cast(dec)), zero)
          .as("_cc"))
    val perBlock = base.groupBy(col("_b")).agg(count(lit(1)).as("_rb"))
      .agg(count(lit(1)).as("n_blocks"),
        coalesce(sum(col("_rb").cast(dec) * col("_rb").cast(dec)), zero)
          .as("_rr"))
    val j = perBlock.crossJoin(broadcast(perClass))
    val kD = col("_k").cast(dec)
    val num = (col("_k") - lit(1L)).cast(dec) *
      (kD * col("_cc") - col("_t").cast(dec) * col("_t").cast(dec))
    val den = kD * col("_t").cast(dec) - col("_rr")
    j.select(col("n_blocks"), col("_k").as("k_classes"),
      col("_t").as("t_hits"),
      when(den > zero,
        round(num.cast("double") /
          greatest(den.cast("double"), lit(1.0e-300)) * lit(1.0e12))
          .cast("long")).as("q_pico"))
  }

  /** Quade's weighted-block rank test (Quade, JASA '79) — the member of
    * the complete-block family ([[friedmanKendallW]], [[pageTrendL]])
    * that lets blocks with a LARGER within-block spread vote harder:
    * blocks are ranked by their cell RANGE across the design, and each
    * block's within-block rank deviations are weighted by that range
    * rank — a treatment effect visible only in high-variation blocks
    * survives dilution by flat blocks.
    *
    * Exact law on the shared [[pageTrendL]] scaffold plus ONE
    * [[PrefixSum.inclusive]] pass over the block-range frequency table
    * (the block ranges of a large corpus never sort in one task): with doubled
    * within-block midranks mr2, doubled cross-block range midranks Q2,
    * and S4 = Q2·(mr2 − (k+1)) (×4-scaled, exact integers),
    *
    *   A16 = Σ S4²,  B16n = Σ_j (Σ_blocks S4)²,
    *   T3 = (n−1)·B16n / (n·A16 − B16n)
    *
    * — the classic (n−1)·B/(A−B) cleared of fractions. One pinned
    * double chain, pico-rounded; NULL when n < 2 or the denominator is
    * ≤ 0 (every block fully tied). A fully-tied block contributes 0 to
    * every term regardless of its range rank (mr2 = k+1 exactly).
    *
    * Scale shape: the block scaffold's aggregate + semi-filter +
    * per-block windows, a |blocks|-row range aggregate, one distributed
    * prefix-sum pass over DISTINCT range values, a hash join back, one
    * 1-row fold. INTEGRAL-VALUE CONTRACT as [[moodMedianTest]].
    *
    * Output (1 row): (n_blocks, k_classes, a16, b16n, t3_pico).
    */
  def quadeTest(df: DataFrame, blockCol: String, classCol: String,
      valueCol: String, maxClasses: Int = 64): DataFrame = {
    val dec = "decimal(38,0)"
    val (ranked, k) = blockRanks(df, blockCol, classCol, valueCol,
      maxClasses, "quadeTest")
    val ranges = ranked.groupBy(col("_b"))
      .agg((max(col("_cell")) - min(col("_cell"))).as("_rng"))
    val rt = ranges.groupBy(col("_rng")).agg(count(lit(1)).as("_rc"))
    val rq = PrefixSum.inclusive(rt, "_rng", col("_rc"), "_rcum")
      .select(col("_rng"),
        (lit(2L) * col("_rcum") - col("_rc") + lit(1L)).as("_q2"))
    val weighted = ranked
      .join(ranges.join(rq, "_rng").select(col("_b"), col("_q2")), "_b")
      .withColumn("_s4",
        col("_q2") * (col("_mr2") - lit((k + 1).toLong)))
    val zero = lit(java.math.BigDecimal.ZERO).cast(dec)
    val perClass = weighted.groupBy(col("_s"))
      .agg(sum(col("_s4").cast(dec)).as("_sb"),
        sum(col("_s4").cast(dec) * col("_s4").cast(dec)).as("_qb"),
        count(lit(1)).as("_nb"))
    val agg = perClass.agg(
      coalesce(max(col("_nb")), lit(0L)).as("n_blocks"),
      coalesce(sum(col("_qb")), zero).as("_a16"),
      coalesce(sum(col("_sb") * col("_sb")), zero).as("_b16n"))
    val denom = col("n_blocks").cast(dec) * col("_a16") - col("_b16n")
    val t3 = (col("n_blocks") - lit(1L)).cast("double") *
      col("_b16n").cast("double") /
      greatest(denom.cast("double"), lit(1.0e-300))
    // the ×16 cumulants are O(n⁴) — range ranks grow with the block
    // count — so the diagnostic columns surface as DOUBLES (a BIGINT
    // cast would THROW under ANSI past ~55k blocks; the statistic's own
    // chain reads the exact DECIMAL internals either way)
    agg.select(col("n_blocks"), lit(k.toLong).as("k_classes"),
      col("_a16").cast("double").as("a16"),
      col("_b16n").cast("double").as("b16n"),
      when(col("n_blocks") >= 2L && denom > zero,
        round(t3 * lit(1.0e12)).cast("long")).as("t3_pico"))
  }

  /** Durbin's rank test for balanced incomplete block designs (Durbin
    * '51, in Conover's tie-corrected form, Practical Nonparametric
    * Statistics ch. 6) — the member of the complete-block family
    * ([[friedmanKendallW]], [[pageTrendL]], [[quadeTest]]) for designs
    * where each block holds only k of the t treatments: blocks rank
    * just the cells they HAVE, so the incomplete blocks the complete
    * scaffold DROPS (blockRanks' semi-join) carry their full
    * information here.
    *
    * Exact law with doubled within-block midranks mr2 (SUM cells, the
    * one-observation-per-cell contract; ranks among the PRESENT cells
    * only):
    *
    *   S4 = Σ_j (R2_j − r(k+1))²,  A4 = Σ_cells mr2²,  C4 = b·k(k+1)²
    *   T1 = (t−1)·S4 / (A4 − C4)                       (χ², t−1 df)
    *   T2 = T1/(t−1) · (b(k−1) − t + 1)/(b(k−1) − T1)  (Conover's F)
    *
    * — all ×4-scaled terms exact integers; for the COMPLETE design
    * (k = t, r = b) T1 is bit-for-bit the tie-corrected Friedman χ²
    * (same pinned double chain). The BIB contract — every block the
    * same size k, every treatment the same replication r — is ENFORCED
    * IN-PLAN (assert_true over a broadcast 1-row design summary, the
    * [[Guards.boundedDomain]] posture: a non-BIB frame fails the job
    * with an actionable message instead of silently reporting a
    * misdefined statistic; for general missingness use
    * [[skillingsMack]]). Pairwise balance (λ constant) is the design's
    * responsibility — the χ²/F approximations assume it, the
    * arithmetic never reads it. NULL t1/t2 when A4 ≤ C4 (every block
    * fully tied) or b = 0; NULL t2 additionally when b(k−1) ≤ T1.
    * PICO-LONG DOMAIN (the family convention — friedmanKendallW's
    * chi2_pico shares it): |T1|, |T2| < 9.2·10⁶ or the ANSI BIGINT
    * cast fails loudly; T2 DIVERGES as T1 approaches its b(k−1)
    * ceiling (near-perfect discrimination — the probe-measured cliff),
    * so expect that failure mode on pathologically clean designs.
    *
    * Scale shape: one (block, treatment) hash aggregate → per-BLOCK
    * windows over ≤ k-row partitions → a per-treatment aggregate → a
    * 1-row fold with one broadcast design row. The treatment axis
    * needs NO bounded collect (unordered — every stage distributes),
    * unlike the ordinal-score family. INTEGRAL-VALUE CONTRACT as
    * [[moodMedianTest]].
    *
    * Output (1 row): (n_blocks, n_treatments, k_per_block, r_reps,
    * s4, a4, t1_pico, t2_pico).
    */
  def durbinTest(df: DataFrame, blockCol: String, classCol: String,
      valueCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val base = df.filter(col(blockCol).isNotNull && col(classCol).isNotNull
        && col(valueCol).isNotNull)
      .select(col(blockCol).as("_b"), col(classCol).as("_x"),
        col(valueCol).cast("long").as("_y"))
    val cells = base.groupBy(col("_b"), col("_x"))
      .agg(sum(col("_y")).as("_cell"))
    val wBlk = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_b"))
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_b")).orderBy(col("_cell"))
    val wTie = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_b"), col("_cell"))
    val ranked = cells
      .withColumn("_kb", count(lit(1)).over(wBlk))
      .withColumn("_mr2", lit(2L) * rank().over(wRank).cast("long")
        + count(lit(1)).over(wTie) - lit(1L))
    // 1-row design summary, broadcast under every per-treatment row
    val design = ranked.agg(count(lit(1)).as("_nc"),
      min(col("_kb")).as("_kmin"), max(col("_kb")).as("_kmax"),
      coalesce(sum(col("_mr2").cast(dec) * col("_mr2").cast(dec)),
        lit(java.math.BigDecimal.ZERO).cast(dec)).as("_a4"))
    val perTreat = ranked.groupBy(col("_x"))
      .agg(count(lit(1)).as("_r"),
        sum(col("_mr2").cast(dec)).as("_r2"))
    val zero = lit(java.math.BigDecimal.ZERO).cast(dec)
    val dev = col("_r2") -
      col("_r").cast(dec) * (col("_kmax") + lit(1L)).cast(dec)
    val agg = perTreat.crossJoin(broadcast(design))
      .agg(count(lit(1)).as("_t"),
        min(col("_r")).as("_rmin"), max(col("_r")).as("_rmax"),
        coalesce(sum(dev * dev), zero).as("_s4"),
        max(col("_nc")).as("_nc"), max(col("_kmin")).as("_kmin"),
        max(col("_kmax")).as("_kmax"), max(col("_a4")).as("_a4"))
      // the BIB contract, enforced in-plan (the Guards posture)
      .filter(coalesce(assert_true(col("_kmin") === col("_kmax"),
        lit("durbinTest: blocks have unequal sizes — Durbin's BIB " +
          "contract needs every block to hold the same number k of " +
          "treatments; use skillingsMack for general missing data"))
        .cast("boolean"), lit(true)))
      .filter(coalesce(assert_true(col("_rmin") === col("_rmax"),
        lit("durbinTest: treatments have unequal replication — Durbin's " +
          "BIB contract needs every treatment in the same number r of " +
          "blocks; use skillingsMack for general missing data"))
        .cast("boolean"), lit(true)))
    val b = expr("_nc div _kmax")
    val c4 = b.cast(dec) * col("_kmax").cast(dec) *
      ((col("_kmax") + lit(1L)) * (col("_kmax") + lit(1L))).cast(dec)
    val denom = col("_a4") - c4
    // same op order as friedmanKendallW's chain: ((t−1)·s4)/denom
    val t1 = (col("_t") - lit(1L)).cast("double") *
      col("_s4").cast("double") /
      greatest(denom.cast("double"), lit(1.0e-300))
    val bk1 = b.cast("double") * (col("_kmax") - lit(1L)).cast("double")
    val t2 = t1 / greatest((col("_t") - lit(1L)).cast("double"), lit(1.0)) *
      (bk1 - col("_t").cast("double") + lit(1.0)) /
      greatest(bk1 - t1, lit(1.0e-300))
    agg.select(
      coalesce(b, lit(0L)).as("n_blocks"), col("_t").as("n_treatments"),
      coalesce(col("_kmax"), lit(0L)).as("k_per_block"),
      coalesce(col("_rmax"), lit(0L)).as("r_reps"),
      col("_s4").cast("long").as("s4"), col("_a4").cast("long").as("a4"),
      when(col("_t") >= 2L && denom > zero,
        round(t1 * lit(1.0e12)).cast("long")).as("t1_pico"),
      when(col("_t") >= 2L && denom > zero && bk1 - t1 > 0.0,
        round(t2 * lit(1.0e12)).cast("long")).as("t2_pico"))
  }

  /** Skillings–Mack test for block designs with GENERAL missing data
    * (Skillings & Mack, Technometrics '81) — where [[durbinTest]]
    * demands balance (equal k, equal r), this takes blocks exactly as
    * they come: any block sizes, any missingness pattern, every block
    * with ≥ 2 present cells votes.
    *
    * Law: within each kept block, doubled midranks mr2 over the
    * PRESENT cells; the doubled centered rank d = mr2 − (k_b+1) scales
    * by the block-size weight √(12/(k_b+1)), QUANTIZED ONCE per block
    * size as c_micro = round(√(12/(k_b+1))·10⁶) (k_b is an integer ≤
    * t, so c_micro takes ≤ t distinct values and replays verbatim in
    * any engine — the [[ansariBradley]] midscore-quantization
    * posture). The adjusted treatment sums A2m_j = Σ c_micro·d are
    * then EXACT integers (A_j = A2m_j/(2·10⁶)), and
    *
    *   SM = A' Σ⁻ A,   Σ_jj = Σ_{blocks ∋ j} (k_b − 1),
    *                   Σ_jl = −#(blocks ∋ both j,l)
    *
    * with Σ⁻ a generalized inverse. When the design is PAIRWISE
    * BALANCED (all co-occurrence counts one λ, all diagonals equal —
    * e.g. any BIB design, or a complete design, where SM reduces to
    * the tie-corrected Friedman χ²), Σ = λt(I − J/t) and the statistic
    * collapses to the closed chain SM = ΣA2m²/(λ·t·4·10¹²) — ONE
    * pinned double chain over an exact integer Σ-of-squares,
    * oracle-replayable. Otherwise SM solves (Σ+J)x = A by Gaussian
    * elimination with partial pivoting DRIVER-SIDE over the
    * once-collected ≤t-row cumulant table and ≤t(t−1)/2-row
    * co-occurrence table (bounded by configuration — the
    * [[dunnTest]]/[[graft.ops.Spectral]] posture; A ⊥ 1 makes the
    * J-shift exact for connected designs). NULL sm when t < 2, or the
    * design is DISCONNECTED (a pivot vanishes — no common ranking
    * scale links the components), or λ·t = 0.
    *
    * Scale shape: one (block, treatment) hash aggregate → per-BLOCK
    * windows over ≤ t-row partitions → one bounded per-treatment
    * aggregate + one bounded pair aggregate (blocks UNBOUNDED — only
    * the treatment axis collects, hard require ≤ maxClasses with a
    * TakeOrdered probe). INTEGRAL-VALUE CONTRACT as
    * [[moodMedianTest]].
    *
    * Output (1 row): (n_blocks, n_treatments, balanced, ssq_a2,
    * sm_pico); ssq_a2 is a double diagnostic ([[quadeTest]] posture).
    */
  def skillingsMack(df: DataFrame, blockCol: String, classCol: String,
      valueCol: String, maxClasses: Int = 64): DataFrame = {
    val dec = "decimal(38,0)"
    val spark = df.sparkSession
    val base = df.filter(col(blockCol).isNotNull && col(classCol).isNotNull
        && col(valueCol).isNotNull)
      .select(col(blockCol).as("_b"), col(classCol).as("_x"),
        col(valueCol).cast("long").as("_y"))
    val cls = base.select(col("_x")).distinct()
      .orderBy(col("_x")).limit(maxClasses + 1).collect().map(_.get(0))
    require(cls.length <= maxClasses,
      s"skillingsMack: treatment column exceeds $maxClasses distinct " +
        "values — the driver-side covariance solve needs a bounded " +
        "treatment axis; bin the column or raise maxClasses")
    val cells = base.groupBy(col("_b"), col("_x"))
      .agg(sum(col("_y")).as("_cell"))
    val wBlk = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_b"))
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_b")).orderBy(col("_cell"))
    val wTie = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_b"), col("_cell"))
    // singleton blocks carry no within-block comparison — dropped by
    // the test's definition (their d ≡ 0 anyway; k_b ≥ 2 keeps the
    // c_micro law off k_b = 1's degenerate weight). All THREE windows
    // share the _b partition key and are per-block independent, so they
    // fuse into ONE exchange+sort pass BEFORE the kb filter (a
    // singleton's rank-in-its-own-block is computed and then dropped —
    // values of kept blocks are unaffected); r19 optimization round:
    // the old shape windowed _kb, checkpointed, then re-exchanged the
    // checkpoint (UnknownPartitioning) for the rank/tie windows.
    // LAZY localCheckpoint (r20; was eager + a third block-count job):
    // the cumulant collect materializes the blocks and the pair collect
    // re-reads them — TWO data jobs total. The block count rides the
    // cumulant job: _rn1 marks exactly ONE row per block (row_number 1
    // in the existing rank window — which of a tied minimum's rows gets
    // it is arbitrary, but only the per-block COUNT of marks is ever
    // read), so nBlocks = Σ over treatments of the marks.
    val sized = cells.withColumn("_kb", count(lit(1)).over(wBlk))
      .withColumn("_mr2", lit(2L) * rank().over(wRank).cast("long")
        + count(lit(1)).over(wTie) - lit(1L))
      .withColumn("_rn1",
        when(row_number().over(wRank) === 1, 1L).otherwise(0L))
      .filter(col("_kb") >= 2L).localCheckpoint(false)
    val ranked = sized
      .withColumn("_d", col("_mr2") - (col("_kb") + lit(1L)))
      .withColumn("_cm", round(sqrt(lit(12.0) /
        (col("_kb") + lit(1L)).cast("double")) * lit(1.0e6)).cast("long"))
    val zero = lit(java.math.BigDecimal.ZERO).cast(dec)
    // bounded collects: ≤ t cumulant rows, ≤ t(t−1)/2 pair rows
    val ptRows = ranked.groupBy(col("_x"))
      .agg(coalesce(sum(col("_cm").cast(dec) * col("_d").cast(dec)), zero)
        .as("_a2m"),
        coalesce(sum(col("_kb") - lit(1L)), lit(0L)).as("_v"),
        coalesce(sum(col("_rn1")), lit(0L)).as("_b1"))
      .collect()
    val pairRows = sized.select(col("_b"), col("_x").as("_xa"))
      .join(sized.select(col("_b"), col("_x").as("_xb")), "_b")
      .filter(col("_xa") < col("_xb"))
      .groupBy(col("_xa"), col("_xb")).agg(count(lit(1)).as("_c"))
      .collect()
    val nBlocks = ptRows.map(_.getAs[Long]("_b1")).sum
    // driver-side over the bounded tables (the dunnTest posture)
    val treatments = ptRows.map(_.get(0)).sortBy(String.valueOf(_))
    val t = treatments.length
    val idx = treatments.zipWithIndex.toMap
    val a2m = Array.fill(t)(BigInt(0))
    val diag = Array.fill(t)(0L)
    ptRows.foreach { r =>
      val i = idx(r.get(0))
      a2m(i) = BigInt(r.getAs[java.math.BigDecimal]("_a2m")
        .toBigIntegerExact)
      diag(i) = r.getAs[Long]("_v")
    }
    val cooc = Array.ofDim[Long](t, t)
    pairRows.foreach { r =>
      val (i, j) = (idx(r.get(0)), idx(r.get(1)))
      cooc(i)(j) = r.getAs[Long]("_c"); cooc(j)(i) = r.getAs[Long]("_c")
    }
    val offs = for { i <- 0 until t; j <- (i + 1) until t }
      yield cooc(i)(j)
    val balanced = t >= 2 && offs.nonEmpty && offs.forall(_ == offs.head) &&
      offs.head > 0L && diag.forall(_ == diag.head)
    val ssq = a2m.map(a => a * a).sum
    val smOpt: Option[Double] =
      if (t < 2) None
      else if (balanced) {
        // Σ = λt(I − J/t): SM = ΣA² /(λt) = ΣA2m² /(λ·t·4·10¹²)
        Some(ssq.toDouble /
          (offs.head.toDouble * t.toDouble * 4.0e12))
      } else {
        // general design: solve (Σ + J)x = A, SM = A·x — Gaussian
        // elimination with partial pivoting (first-max tie-break:
        // deterministic), zero pivot ⇒ disconnected ⇒ None
        val aV = a2m.map(_.toDouble / 2.0e6)
        val m = Array.tabulate(t, t + 1) { (i, j) =>
          if (j == t) aV(i)
          else if (i == j) diag(i).toDouble + 1.0
          else -cooc(i)(j).toDouble + 1.0
        }
        val scale = math.max(1.0, m.map(_.map(math.abs).max).max)
        var singular = false
        for (c <- 0 until t if !singular) {
          val p = (c until t).maxBy(r => math.abs(m(r)(c)))
          if (math.abs(m(p)(c)) < 1.0e-9 * scale) singular = true
          else {
            val tmp = m(c); m(c) = m(p); m(p) = tmp
            for (r <- c + 1 until t) {
              val f = m(r)(c) / m(c)(c)
              for (j <- c to t) m(r)(j) = m(r)(j) - f * m(c)(j)
            }
          }
        }
        if (singular) None
        else {
          val x = Array.fill(t)(0.0)
          for (c <- (t - 1) to 0 by -1) {
            var s = m(c)(t)
            for (j <- c + 1 until t) s = s - m(c)(j) * x(j)
            x(c) = s / m(c)(c)
          }
          var sm = 0.0
          for (i <- 0 until t) sm = sm + aV(i) * x(i)
          Some(sm)
        }
      }
    def roundReplay(x: Double): Long =
      java.math.BigDecimal.valueOf(x)
        .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue.toLong
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{BooleanType, DoubleType, LongType, StructField, StructType}
    import scala.jdk.CollectionConverters._
    val out = Seq(Row(nBlocks, t.toLong, balanced, ssq.toDouble,
      smOpt.map(s => java.lang.Long.valueOf(roundReplay(s * 1.0e12)))
        .orNull))
    spark.createDataFrame(out.asJava, StructType(Seq(
      StructField("n_blocks", LongType, nullable = false),
      StructField("n_treatments", LongType, nullable = false),
      StructField("balanced", BooleanType, nullable = false),
      StructField("ssq_a2", DoubleType, nullable = false),
      StructField("sm_pico", LongType, nullable = true))))
  }

  /** Dunn's post-hoc test (Dunn, Technometrics '64) — the pairwise
    * follow-up to [[kruskalWallis]]: which group PAIRS differ, once the
    * omnibus H says something does. For every pair (i, j) of groups,
    *
    *   z_ij = (R̄_i − R̄_j) / √(σ²·(1/n_i + 1/n_j)),
    *   σ² = N(N+1)/12 − ΣT/(12(N−1)),  ΣT = Σ_values (m³ − m)
    *
    * with pooled midranks and the standard tie correction.
    *
    * Exact law: per-group doubled midrank sums R2_j, group sizes, N and
    * the tie mass are exact integers off the value-frequency table's
    * ONE [[PrefixSum.inclusive]] pass (the [[cuzickTrend]] scaffold);
    * the k(k−1)/2 pair z's are then one pinned double chain each,
    * computed DRIVER-SIDE over the once-collected ≤(2k+2)-cumulant row
    * (bounded by configuration — the [[graft.ops.Spectral]] posture;
    * never a distributed job per pair) and quantized HALF_UP via the
    * BigDecimal.valueOf path Spark's round takes. NULL z when σ² ≤ 0
    * (every value tied). STRING-KEY CONTRACT: group values render as
    * strings in the output and the (group_a, group_b) order is
    * LEXICOGRAPHIC over those strings — an oracle pairing groups with
    * native comparison diverges for numeric group columns (e.g. 2 vs
    * 10); feed a string group column, or pre-format numerics so the
    * two orders agree.
    *
    * Scale shape: one (value, group) aggregate folded to bounded
    * per-group count columns, one prefix-sum pass, ONE 1-row collect,
    * ≤ 2016 local rows out. INTEGRAL-VALUE CONTRACT as
    * [[moodMedianTest]].
    *
    * Output: (group_a, group_b, n_a, n_b, r2sum_a, r2sum_b, z_pico),
    * ordered (group_a, group_b), one row per unordered pair.
    */
  def dunnTest(df: DataFrame, valueCol: String, groupCol: String,
      maxGroups: Int = 64): DataFrame = {
    val dec = "decimal(38,0)"
    val spark = df.sparkSession
    val base = df.filter(col(valueCol).isNotNull && col(groupCol).isNotNull)
      .select(col(groupCol).as("_g"), col(valueCol).cast("long").as("_v"))
    val cls = base.select(col("_g")).distinct()
      .orderBy(col("_g")).limit(maxGroups + 1).collect().map(_.get(0))
    require(cls.nonEmpty, "dunnTest: no non-null (group, value) rows")
    require(cls.length <= maxGroups,
      s"dunnTest: group column exceeds $maxGroups distinct values — " +
        "the pairwise z table needs a bounded group axis; " +
        "bin the column or raise maxGroups")
    val k = cls.length
    val vt = base.groupBy(col("_v")).agg(
      sum(when(col("_g") === lit(cls(0)), 1L).otherwise(0L)).as("_c0"),
      (1 until k).map(j =>
        sum(when(col("_g") === lit(cls(j)), 1L).otherwise(0L))
          .as(s"_c$j")): _*)
    val m = (0 until k).map(j => col(s"_c$j")).reduce(_ + _)
    val cum = PrefixSum.inclusiveAll(vt.withColumn("_m", m), "_v",
      Seq(col("_m") -> "_cum"), withTotals = true)
      .withColumn("_mr2", lit(2L) * col("_cum") - col("_m") + lit(1L))
    val zero = lit(java.math.BigDecimal.ZERO).cast(dec)
    val aggCols = Seq(coalesce(max(col("_cum_total")), lit(0L)).as("_n"),
      coalesce(sum(col("_m").cast(dec) * col("_m").cast(dec)
        * col("_m").cast(dec) - col("_m").cast(dec)), zero).as("_tie")) ++
      (0 until k).flatMap(j => Seq(
        coalesce(sum(col(s"_c$j")), lit(0L)).as(s"_n$j"),
        coalesce(sum(col(s"_c$j").cast(dec) * col("_mr2").cast(dec)),
          zero).as(s"_r$j")))
    val agg = cum.agg(aggCols.head, aggCols.tail: _*)
    val row = agg.collect().head
    val nAll = row.getAs[Long]("_n")
    val tieD = BigInt(row.getAs[java.math.BigDecimal]("_tie")
      .toBigIntegerExact).toDouble
    val nj = (0 until k).map(j => row.getAs[Long](s"_n$j"))
    val r2 = (0 until k).map(j => BigInt(
      row.getAs[java.math.BigDecimal](s"_r$j").toBigIntegerExact))
    val nd = nAll.toDouble
    // the same pinned chain the oracle replays
    val sig = nd * (nd + 1.0) / 12.0 - tieD / (12.0 * (nd - 1.0))
    // .doubleValue.toLong, NOT .longValue: the faithful replay of
    // Spark's round(x).cast(long) past ~2^53 truncates the ROUNDED
    // DOUBLE (the Spectral.scala replay law —
    // valueOf's shortest-decimal digits diverge in the last ulps)
    def roundSpark(x: Double): Long =
      java.math.BigDecimal.valueOf(x)
        .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue.toLong
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    import scala.jdk.CollectionConverters._
    val out = for {
      i <- 0 until k; j <- (i + 1) until k
    } yield {
      val zOpt = if (nAll >= 2 && sig > 0.0) {
        val diff = r2(i).toDouble / (2.0 * nj(i)) -
          r2(j).toDouble / (2.0 * nj(j))
        val z = diff / math.sqrt(sig * (1.0 / nj(i) + 1.0 / nj(j)))
        java.lang.Long.valueOf(roundSpark(z * 1.0e12))
      } else null
      Row(String.valueOf(cls(i)), String.valueOf(cls(j)), nj(i), nj(j),
        r2(i).toLong, r2(j).toLong, zOpt)
    }
    spark.createDataFrame(out.asJava, StructType(Seq(
      StructField("group_a", StringType, nullable = false),
      StructField("group_b", StringType, nullable = false),
      StructField("n_a", LongType, nullable = false),
      StructField("n_b", LongType, nullable = false),
      StructField("r2sum_a", LongType, nullable = false),
      StructField("r2sum_b", LongType, nullable = false),
      StructField("z_pico", LongType, nullable = true))))
      .orderBy(col("group_a"), col("group_b"))
  }

  /** Mood's squared-rank scale test (Mood '54) — [[ansariBradley]]'s
    * quadratic-score sibling with the OPPOSITE sign convention: scores
    * a = (mr2 − (N+1))² = 4·(r − (N+1)/2)² grow in the TAILS, so
    * T = Σ_A a is LARGE when group A is MORE dispersed (z > 0 reads "A
    * wider" — AB's folded scores read the converse). Quadratic scores
    * weight far-tail excursions harder than AB's linear fold, the
    * variance-sensitive member of the scale pair.
    *
    * Exact law: doubled pooled midranks off the value-table prefix sum
    * make every score an exact integer (×4 scale); T4 = Σ_A a and the
    * permutation moments of the linear rank statistic,
    *
    *   E[T4] = n_A·(Σa)/N,
    *   Var[T4] = n_A·n_B·(Σ(a−ā)²) / (N·(N−1)),
    *
    * read exact integer cumulants (Σa, Σa² in DECIMAL(38,0) — a² is
    * N⁴-scale, the domain bound is N ≈ 10⁷ rows; past that, sample
    * first). One pinned double chain for z; NULL when either side is
    * empty, N < 2, or Var ≤ 0. The t4/e diagnostic columns are DOUBLES
    * ([[quadeTest]] posture — t4 ≈ n_A·N²/3 overflows a BIGINT cast
    * near N ≈ 4·10⁶, below the DECIMAL bound).
    *
    * Scale shape: one (value) hash aggregate with both class weights →
    * one shared prefix-sum pass → a 1-row aggregate. INTEGRAL-VALUE
    * CONTRACT as [[moodMedianTest]].
    *
    * Output (1 row): (n_a, n_b, t4, e_t4_micro, z_pico).
    */
  def moodScaleTest(df: DataFrame, valueCol: String,
      isACol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val base = df.filter(col(valueCol).isNotNull && col(isACol).isNotNull)
      .select(col(valueCol).cast("long").as("_v"),
        col(isACol).cast("boolean").as("_a"))
    val bt = base.groupBy(col("_v"))
      .agg(sum(when(col("_a"), 1L).otherwise(0L)).as("_fa"),
        sum(when(col("_a"), 0L).otherwise(1L)).as("_fb"))
      .withColumn("_m", col("_fa") + col("_fb"))
    val cum = PrefixSum.inclusiveAll(bt, "_v", Seq(col("_m") -> "_cum"),
      withTotals = true)
      .withColumn("_mr2", lit(2L) * col("_cum") - col("_m") + lit(1L))
      .withColumn("_ad", (col("_mr2") - (col("_cum_total") + lit(1L)))
        .cast(dec))
      .withColumn("_a4", col("_ad") * col("_ad"))
    val zero = lit(java.math.BigDecimal.ZERO).cast(dec)
    val agg = cum.agg(
      coalesce(sum(col("_fa")), lit(0L)).as("n_a"),
      coalesce(sum(col("_fb")), lit(0L)).as("n_b"),
      coalesce(sum(col("_fa").cast(dec) * col("_a4")), zero).as("_t4"),
      coalesce(sum(col("_m").cast(dec) * col("_a4")), zero).as("_sa"),
      coalesce(sum(col("_m").cast(dec) * col("_a4") * col("_a4")), zero)
        .as("_saa"))
    // greatest clamps: identity whenever the matching when() fires
    val nD = greatest(col("n_a") + col("n_b"), lit(1L)).cast("double")
    val n1 = greatest(col("n_a") + col("n_b") - lit(1L), lit(1L))
      .cast("double")
    val eT = col("n_a").cast("double") * col("_sa").cast("double") / nD
    val ssq = col("_saa").cast("double") -
      col("_sa").cast("double") * col("_sa").cast("double") / nD
    val varT = col("n_a").cast("double") * col("n_b").cast("double") *
      ssq / (nD * n1)
    // t4 ≈ n_A·N²/3 — a BIGINT cast would THROW under ANSI near
    // N ≈ 4·10⁶, below the DECIMAL Σa² bound, so t4/e surface as
    // DOUBLES (the quadeTest posture); z reads the DECIMAL internals
    agg.select(col("n_a"), col("n_b"), col("_t4").cast("double").as("t4"),
      when(col("n_a") + col("n_b") > 0L,
        round(eT * lit(1.0e6))).as("e_t4_micro"),
      when(col("n_a") > 0L && col("n_b") > 0L &&
        col("n_a") + col("n_b") >= 2L && varT > 0.0,
        round((col("_t4").cast("double") - eT)
          / sqrt(greatest(varT, lit(1.0e-300))) * lit(1.0e12)).cast("long"))
        .as("z_pico"))
  }

  /** Welch's unequal-variance t ('47) with Welch–Satterthwaite df and
    * Cohen's d — the two-group mean test that does NOT assume equal
    * variances (the Student's-t trap on corpus metrics, where one
    * source's variance dwarfs another's).
    *
    * Exact law: one aggregate gives (n, Σx, Σx²) per side in DECIMAL;
    * means, sample variances, t, df and d are each ONE pinned double
    * chain (variance via (Q − S²/n)/(n−1), the same op order in the
    * oracle). NULL t/df when either side has n < 2 or both variances
    * are 0; NULL d when the pooled variance is 0.
    *
    * Output (1 row): (n_a, n_b, t_pico, df_micro, cohen_d_pico).
    */
  def welchTTest(df: DataFrame, valueCol: String, isACol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val v = col(valueCol).cast("long")
    val agg = df.filter(col(valueCol).isNotNull && col(isACol).isNotNull)
      .agg(
        sum(when(col(isACol), 1L).otherwise(0L)).as("_n1"),
        sum(when(col(isACol), v.cast(dec))
          .otherwise(lit(java.math.BigDecimal.ZERO).cast(dec))).as("_s1"),
        sum(when(col(isACol), v.cast(dec) * v.cast(dec))
          .otherwise(lit(java.math.BigDecimal.ZERO).cast(dec))).as("_q1"),
        sum(when(col(isACol), 0L).otherwise(1L)).as("_n2"),
        sum(when(col(isACol), lit(java.math.BigDecimal.ZERO).cast(dec))
          .otherwise(v.cast(dec))).as("_s2"),
        sum(when(col(isACol), lit(java.math.BigDecimal.ZERO).cast(dec))
          .otherwise(v.cast(dec) * v.cast(dec))).as("_q2"))
    // every denominator is clamped to its valid-regime value (greatest /
    // when guards): under ANSI, common-subexpression elimination hoists
    // these divisions ABOVE the output when() guards, so a degenerate
    // group (n < 2, zero variance) would throw DIVIDE_BY_ZERO instead of
    // yielding the guarded NULL. In the valid regime (both n ≥ 2,
    // positive variance) each clamp is the identity, so the pinned
    // double chains — and the oracle — are unchanged.
    def nD(c: String) = col(c).cast("double")
    def nSafe(c: String) = greatest(nD(c), lit(1.0))
    def dfSafe(c: String) = greatest(nD(c) - lit(1.0), lit(1.0))
    def mean(s: String, n: String) = col(s).cast("double") / nSafe(n)
    def vr(q: String, s: String, n: String) =
      (col(q).cast("double") - col(s).cast("double") * col(s).cast("double")
        / nSafe(n)) / dfSafe(n)
    val m1 = mean("_s1", "_n1"); val m2 = mean("_s2", "_n2")
    val v1 = vr("_q1", "_s1", "_n1"); val v2 = vr("_q2", "_s2", "_n2")
    val a1 = v1 / nSafe("_n1"); val a2 = v2 / nSafe("_n2")
    val se2 = a1 + a2
    val t = (m1 - m2) / sqrt(when(se2 > 0.0, se2).otherwise(lit(1.0)))
    val dfDen = a1 * a1 / dfSafe("_n1") + a2 * a2 / dfSafe("_n2")
    val dfWS = se2 * se2 / when(dfDen > 0.0, dfDen).otherwise(lit(1.0))
    val sp2 = (((nD("_n1") - lit(1.0)) * v1 + (nD("_n2") - lit(1.0)) * v2)
      / greatest(nD("_n1") + nD("_n2") - lit(2.0), lit(1.0)))
    val ok = col("_n1") >= 2L && col("_n2") >= 2L
    agg.select(col("_n1").as("n_a"), col("_n2").as("n_b"),
      when(ok && se2 > 0.0, round(t * lit(1.0e12)).cast("long")).as("t_pico"),
      when(ok && se2 > 0.0, round(dfWS * lit(1.0e6)).cast("long"))
        .as("df_micro"),
      when(ok && sp2 > 0.0,
        round((m1 - m2) / sqrt(when(sp2 > 0.0, sp2).otherwise(lit(1.0)))
          * lit(1.0e12)).cast("long")).as("cohen_d_pico"))
  }

  /** Cochran–Armitage trend test ('54/'55) — is a binary outcome's rate
    * MONOTONE in an ordered exposure? The dose–response screen: does
    * pass-rate fall as documents get longer, does dup-rate rise with
    * crawl depth. χ² only says "rates differ somewhere"; this scores
    * the ordered trend with 1 df.
    *
    * Exact integer law: per ordered level s (the level's own integral
    * score — the standard linear scores): n_s, y_s; with
    * T1 = Σ s·y_s, T2 = Σ s·n_s, T3 = Σ s²·n_s,
    *
    *   U = N·T1 − Y·T2   (N·× the classic T = Σ s(y_s − n_s·Ȳ))
    *   z² = N·U² / (Y·(N−Y)·(N·T3 − T2²))
    *
    * — everything up to the final division is exact DECIMAL; z² is ONE
    * pinned double chain pico-rounded, `trend_sign` the exact sign of
    * U. NULL when the denominator is 0 (all-success, all-failure or a
    * single level).
    *
    * Output (1 row): (n_rows, k_levels, z2_pico, trend_sign).
    */
  def cochranArmitageTrend(df: DataFrame, scoreCol: String,
      successCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val s = col("_s").cast(dec)
    val per = df.filter(col(scoreCol).isNotNull && col(successCol).isNotNull)
      .groupBy(col(scoreCol).cast("long").as("_s"))
      .agg(count(lit(1)).as("_ns"),
        sum(when(col(successCol), 1L).otherwise(0L)).as("_ys"))
    val agg = per.agg(
      sum(col("_ns")).as("_n"), count(lit(1)).as("_k"),
      sum(col("_ys")).as("_y"),
      sum(s * col("_ys").cast(dec)).as("_t1"),
      sum(s * col("_ns").cast(dec)).as("_t2"),
      sum(s * s * col("_ns").cast(dec)).as("_t3"))
    val u = col("_n").cast(dec) * col("_t1") - col("_y").cast(dec) * col("_t2")
    val den = (col("_y").cast(dec) * (col("_n") - col("_y")).cast(dec)
      * (col("_n").cast(dec) * col("_t3") - col("_t2") * col("_t2")))
    val z2 = (col("_n").cast("double") * col("_u").cast("double")
      * col("_u").cast("double") / col("_den").cast("double"))
    agg.select(col("_n"), col("_k"), u.as("_u"), den.as("_den"))
      .select(col("_n").as("n_rows"), col("_k").as("k_levels"),
        when(col("_den") > lit(java.math.BigDecimal.ZERO).cast(dec),
          round(z2 * lit(1.0e12)).cast("long")).as("z2_pico"),
        signum(col("_u").cast("double")).cast("long").as("trend_sign"))
  }

  /** lcm(1..k) — the common denominator that makes [[mapAtK]]'s
    * precision sum EXACT in integers (every P(i) = cum_i/i scaled by
    * L/i is integral). k ≤ 40 keeps L·k·cum within DECIMAL(38,0).
    */
  def lcmTo(k: Int): Long = {
    require(k >= 1 && k <= 40, s"k must be in [1, 40], got $k")
    def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)
    (1L to k.toLong).reduce((a, b) => a / gcd(a, b) * b)
  }

  /** Mean average precision at k (the TREC AP law) over a pre-ranked
    * candidate frame — the rank-sensitive retrieval metric beside
    * [[ndcgAtK]] (graded gain) and [[mrrAtK]] (first hit only): AP
    * rewards putting EVERY relevant item early,
    *
    *   AP@k = Σ_{i≤k, rel_i} P(i) / min(R, k),  P(i) = (#rel ≤ i)/i
    *
    * with R the query's TOTAL relevant count (not just top-k) — the
    * standard denominator that penalizes relevant items the ranker
    * never surfaced.
    *
    * Exact law: each P(i) is rational with denominator i ≤ k, so the
    * numerator Σ rel_i·cum_i·(L/i) with L = [[lcmTo]](k) is an EXACT
    * integer (one partitioned ≤k-row window per query, no double
    * accumulation); `ap_micro = round(numer/L/min(R,k)·10⁶)` is one
    * double chain. Queries with R = 0 report NULL.
    *
    * Output: (queryCol, n_rel_at_k, n_rel_total, ap_micro), one row per
    * query in `ranked`, ordered by query.
    */
  def mapAtK(ranked: DataFrame, rel: DataFrame, queryCol: String,
      itemCol: String, rankCol: String, k: Int): DataFrame = {
    val L = lcmTo(k)
    val dec = "decimal(38,0)"
    val relSet = rel.select(col(queryCol), col(itemCol)).distinct()
      .withColumn("_rel", lit(1L))
    val relTot = relSet.groupBy(col(queryCol))
      .agg(count(lit(1)).as("n_rel_total"))
    val w = Window.partitionBy(col(queryCol)).orderBy(col(rankCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val top = ranked.filter(col(rankCol) <= k)
      .join(relSet, Seq(queryCol, itemCol), "left")
      .select(col(queryCol), col(rankCol),
        coalesce(col("_rel"), lit(0L)).as("_r"))
      .withColumn("_cum", sum(col("_r")).over(w))
    val perQ = top.groupBy(col(queryCol))
      .agg(sum(col("_r")).as("n_rel_at_k"),
        sum(col("_r").cast(dec) * col("_cum").cast(dec)
          * (lit(L.toDouble) / col(rankCol).cast("double")).cast("long")
            .cast(dec)).as("_numer"))
    perQ.join(relTot, Seq(queryCol), "left")
      .select(col(queryCol), col("n_rel_at_k"),
        coalesce(col("n_rel_total"), lit(0L)).as("n_rel_total"),
        when(coalesce(col("n_rel_total"), lit(0L)) > 0L,
          round(col("_numer").cast("double") / lit(L.toDouble)
            / least(col("n_rel_total"), lit(k.toLong)).cast("double")
            * lit(1.0e6)).cast("long")).as("ap_micro"))
      .orderBy(col(queryCol))
  }

  /** Brier score with the Murphy '73 decomposition — the PROPER scoring
    * rule behind [[calibrationBins]]'s reliability table, split into the
    * three numbers that say WHY a probabilistic screen is good or bad:
    * reliability (how far bin confidence sits from bin accuracy — the
    * miscalibration penalty), resolution (how far bin accuracies spread
    * from the base rate — the discrimination credit), and uncertainty
    * (the base rate's intrinsic variance, the no-skill floor). Brier ≈
    * REL − RES + UNC up to binning/quantization.
    *
    * Exact law: forecasts micro-quantize (`floor(s·10⁶ + 0.5)`, the
    * [[calibrationBins]] discipline), so the Brier numerator
    * Σ(f_micro − o·10⁶)² is an EXACT integer; REL/RES terms are per-bin
    * pinned double chains pico-rounded BEFORE the exact Σ (the
    * [[chi2Independence]] discipline); each output is one final double
    * division. Same clamped-floor bins as [[calibrationBins]].
    *
    * Output (1 row): (n_rows, n_bins, brier_pico, reliability_pico,
    * resolution_pico, uncertainty_pico); no rows on empty input.
    */
  def brierDecomposition(df: DataFrame, scoreCol: String, labelCol: String,
      nBins: Int = 10): DataFrame = {
    require(nBins >= 1, s"nBins must be positive, got $nBins")
    val dec = "decimal(38,0)"
    val base = df
      .select(col(scoreCol).cast("double").as("_s"),
        col(labelCol).cast("boolean").as("_y"))
      .filter(col("_s").isNotNull && !isnan(col("_s")) &&
        abs(col("_s")) < lit(Double.PositiveInfinity) && col("_y").isNotNull)
      .select(
        least(lit(nBins.toLong - 1), greatest(lit(0L),
          floor(col("_s") * nBins).cast("long"))).as("_b"),
        floor(col("_s") * 1000000.0 + 0.5).cast("long").as("_m"),
        when(col("_y"), 1L).otherwise(0L).as("_o"))
    val bins = base.groupBy(col("_b"))
      .agg(count(lit(1)).as("_n"), sum(col("_o")).as("_p"),
        sum(col("_m")).as("_sm"),
        sum(((col("_m") - col("_o") * lit(1000000L))
          * (col("_m") - col("_o") * lit(1000000L))).cast(dec)).as("_bsq"))
    val glob = bins.agg(sum(col("_n")).as("_nt"), sum(col("_p")).as("_pt"))
      .filter(col("_nt") > 0L)
    val nD = col("_n").cast("double")
    val fb = col("_sm").cast("double") / nD / lit(1000000.0)
    val ob = col("_p").cast("double") / nD
    val obar = col("_pt").cast("double") / col("_nt").cast("double")
    val relTerm = round(nD * (fb - ob) * (fb - ob) * lit(1.0e12)).cast("long")
    val resTerm = round(nD * (ob - obar) * (ob - obar) * lit(1.0e12))
      .cast("long")
    bins.crossJoin(broadcast(glob))
      .select(col("_nt"), col("_pt"), col("_bsq"),
        relTerm.cast(dec).as("_rel"), resTerm.cast(dec).as("_res"))
      .groupBy(col("_nt"), col("_pt"))
      .agg(count(lit(1)).as("n_bins"), sum(col("_bsq")).as("_sq"),
        sum(col("_rel")).as("_srel"), sum(col("_res")).as("_sres"))
      .select(col("_nt").as("n_rows"), col("n_bins"),
        round(col("_sq").cast("double") / col("_nt").cast("double"))
          .cast("long").as("brier_pico"),
        round(col("_srel").cast("double") / col("_nt").cast("double"))
          .cast("long").as("reliability_pico"),
        round(col("_sres").cast("double") / col("_nt").cast("double"))
          .cast("long").as("resolution_pico"),
        round((col("_pt").cast("double") / col("_nt").cast("double"))
          * (lit(1.0) - col("_pt").cast("double") / col("_nt").cast("double"))
          * lit(1.0e12)).cast("long").as("uncertainty_pico"))
  }

  /** Fleiss' kappa ('71) — chance-corrected agreement among n raters
    * per item, the MULTI-rater generalization of [[cohenKappa]]: before
    * an ensemble of cheap heuristic labelers (lang rules, length
    * screens, quality gates) votes on a corpus, how much do they agree
    * beyond what their marginals force? The standard acceptance gate on
    * a labeling COMMITTEE.
    *
    * Exact law: ratings are (item, category) incidences; items with a
    * rating count ≠ `nRaters` DROP (Fleiss assumes a fixed panel — a
    * NULL-labeled item would silently shift every P_i otherwise, so the
    * law names the exclusion). With S2 = Σ_i Σ_j n_ij² and category
    * totals c_j (all exact DECIMAL):
    *
    *   P̄  = (S2 − N·n) / (N·n·(n−1))
    *   P̄e = Σ_j c_j² / (N·n)²
    *   κ  = (P̄ − P̄e) / (1 − P̄e)
    *
    * one pinned double chain; NULL κ when P̄e = 1 (every rater constant
    * and equal — agreement undefined, not perfect).
    *
    * Scale shape: one (item, category) hash aggregate → one per-item
    * aggregate (+ the qualifying-count filter) → bounded category
    * totals → 1 row.
    *
    * Output (1 row): (n_items, n_raters, k_categories, kappa_pico).
    */
  def fleissKappa(df: DataFrame, itemCol: String, categoryCol: String,
      nRaters: Int): DataFrame = {
    require(nRaters >= 2, s"nRaters must be >= 2, got $nRaters")
    val dec = "decimal(38,0)"
    val nij = df.filter(col(itemCol).isNotNull && col(categoryCol).isNotNull)
      .groupBy(col(itemCol).as("_i"), col(categoryCol).as("_j"))
      .agg(count(lit(1)).as("_n"))
    val perItem = nij.groupBy(col("_i"))
      .agg(sum(col("_n")).as("_ri"),
        sum(col("_n").cast(dec) * col("_n").cast(dec)).as("_s2i"))
      .filter(col("_ri") === nRaters.toLong)
    val items = perItem.agg(count(lit(1)).as("_ni"), sum(col("_s2i")).as("_s2"))
    val cj = nij.join(perItem.select(col("_i")), "_i")
      .groupBy(col("_j")).agg(sum(col("_n")).as("_cj"))
    val cats = cj.agg(count(lit(1)).as("_k"),
      sum(col("_cj").cast(dec) * col("_cj").cast(dec)).as("_cj2"))
    val n = lit(nRaters.toLong)
    val niD = col("_ni").cast("double")
    val po = ((col("_s2").cast("double") - niD * n.cast("double"))
      / (niD * n.cast("double") * (n.cast("double") - lit(1.0))))
    val pe = (col("_cj2").cast("double")
      / (niD * n.cast("double") * (niD * n.cast("double"))))
    items.crossJoin(broadcast(cats))
      .filter(col("_ni") > 0L)
      .select(col("_ni").as("n_items"), n.as("n_raters"),
        col("_k").as("k_categories"),
        when(pe < 1.0, round((po - pe) / (lit(1.0) - pe) * lit(1.0e12))
          .cast("long")).as("kappa_pico"))
  }

  /** McNemar's test ('47) — do two PAIRED binary labelers disagree
    * asymmetrically? On the same items, only the discordant cells
    * matter: χ² = (n₀₁ − n₁₀)²/(n₀₁ + n₁₀), 1 df. The before/after
    * screen for a filter change: same corpus, old vs new gate —
    * accuracy deltas hide direction; McNemar reads it.
    *
    * Exact integer counts, one double chain; NULL χ² when the labelers
    * never disagree (0/0 — identical gates, not evidence of anything).
    *
    * Output (1 row): (n_items, n01, n10, chi2_pico).
    */
  def mcnemar(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val base = df.filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .select(col(aCol).cast("boolean").as("_a"),
        col(bCol).cast("boolean").as("_b"))
    val agg = base.agg(count(lit(1)).as("n_items"),
      sum(when(!col("_a") && col("_b"), 1L).otherwise(0L)).as("n01"),
      sum(when(col("_a") && !col("_b"), 1L).otherwise(0L)).as("n10"))
    val diff = (col("n01") - col("n10")).cast("double")
    agg.select(col("n_items"), col("n01"), col("n10"),
      when(col("n01") + col("n10") > 0L,
        round(diff * diff / (col("n01") + col("n10")).cast("double")
          * lit(1.0e12)).cast("long")).as("chi2_pico"))
  }

  /** Brown–Forsythe test ('74; the robust Levene) — do the groups have
    * the same SPREAD? [[anovaF]] compares means and ASSUMES equal
    * variances; this is the check of that assumption (and the
    * volatility screen in its own right: a source whose length
    * variance balloons is degrading even at a stable mean). The law is
    * a one-way ANOVA on absolute deviations from each group's MEDIAN —
    * the median (not mean) center is what makes it robust.
    *
    * Exactness: the interpolated median of integers is a half-integer,
    * so |x − med| doubles to the exact INTEGER |2x − 2med| — and F is
    * scale-invariant (SSB and SSW both scale by 4), so running
    * [[anovaF]]'s exact-DECIMAL machinery on the doubled deviations IS
    * the Brown–Forsythe statistic, no quantization anywhere before
    * the final chains.
    *
    * Scale shape: one bounded per-group median aggregate broadcast
    * back + the [[anovaF]] aggregate. Output = [[anovaF]]'s:
    * (n_rows, k_groups, f_pico, eta2_pico).
    */
  def brownForsythe(df: DataFrame, valueCol: String,
      groupCol: String): DataFrame = {
    val base = df.filter(col(valueCol).isNotNull && col(groupCol).isNotNull)
    val med = base.groupBy(col(groupCol))
      .agg(expr(s"percentile($valueCol, 0.5)").as("_med"))
    val z = base.join(broadcast(med), Seq(groupCol))
      .select(col(groupCol),
        abs(col(valueCol).cast("double") * lit(2.0) - col("_med") * lit(2.0))
          .cast("long").as("_z2"))
    anovaF(z, "_z2", groupCol)
  }
}
