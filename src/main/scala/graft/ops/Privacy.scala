package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Privacy risk screens for training-data release — the structured-data
  * complement to the text-side PII scrub (`TextFns.scrubPii` /
  * q_pii_scrub): before a corpus with user attributes ships, the release
  * gate asks how identifiable each row is from its QUASI-IDENTIFIERS
  * (the attribute combination an adversary can link to external data —
  * Sweeney, IJUFKS '02). The reference has no analog; this extends the
  * engine the same way [[Eval]] does (SURVEY.md §8).
  */
object Privacy {

  /** k-anonymity cell report (Sweeney '02): group the frame by its
    * quasi-identifier columns and flag every equivalence class smaller
    * than `k` — rows in a flagged cell are re-identifiable to fewer than
    * k candidates and must be suppressed or generalized before release.
    * NULL QI values form their own equivalence class (SQL GROUP BY law,
    * identical in the oracle) — a NULL is itself a linkable value, not
    * an exemption.
    *
    * Exact law: cell sizes are exact integer counts; `at_risk` is the
    * strict `n_rows < k` comparison. Output is bounded by the number of
    * DISTINCT QI combinations, never |rows|.
    *
    * Scale shape: ONE hash aggregate (map-side combine) + a narrow
    * projection. No join, no window, no driver state — the shape at scale
    * is the same one shuffle.
    *
    * Output: (qi columns…, n_rows, at_risk).
    */
  def kAnonymityCells(df: DataFrame, qiCols: Seq[String],
      k: Long): DataFrame = {
    require(qiCols.nonEmpty, "at least one quasi-identifier column")
    require(k >= 1L, s"k must be >= 1, got $k")
    df.groupBy(qiCols.map(col): _*)
      .agg(count(lit(1)).as("n_rows"))
      .withColumn("at_risk", col("n_rows") < k)
  }

  /** Distinct l-diversity cell report (Machanavajjhala et al., ICDE '06
    * — the attack k-anonymity misses: a k-sized cell whose SENSITIVE
    * attribute is homogeneous still discloses it; every member of a
    * 50-person cell that is all 'oncology' has their diagnosis leaked):
    * per QI equivalence class, the distinct count of the sensitive
    * column, flagged when below `l`. NULL sensitive values are excluded
    * from the distinct count (they assert no value — COUNT(DISTINCT)
    * law, identical in the oracle); NULL QI values form their own class
    * as in [[kAnonymityCells]].
    *
    * Exact law: cell size and distinct-sensitive counts are exact
    * integers; `at_risk` is strict `< l`. Output bounded by distinct QI
    * combinations.
    *
    * Scale shape: one hash aggregate with a distinct-count (Spark
    * expands to the standard two-phase partial aggregate). No join, no
    * window.
    *
    * Output: (qi columns…, n_rows, n_sensitive, at_risk).
    */
  def lDiversityCells(df: DataFrame, qiCols: Seq[String],
      sensitiveCol: String, l: Long): DataFrame = {
    require(qiCols.nonEmpty, "at least one quasi-identifier column")
    require(!qiCols.contains(sensitiveCol),
      s"sensitive column $sensitiveCol cannot also be a quasi-identifier")
    require(l >= 1L, s"l must be >= 1, got $l")
    df.groupBy(qiCols.map(col): _*)
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col(sensitiveCol)).as("n_sensitive"))
      .withColumn("at_risk", col("n_sensitive") < l)
  }

  /** t-closeness cell report (Li, Li & Venkatasubramanian, ICDE '07 —
    * the attack l-diversity misses: a cell can hold l distinct sensitive
    * values yet be SKEWED far from the corpus — 99% 'oncology' in a cell
    * vs 2% globally discloses plenty): per QI equivalence class, the
    * Earth-Mover's Distance between the class's sensitive-value
    * distribution and the global one, flagged when above `tPico`. For a
    * categorical attribute under unit ground distance the EMD is exactly
    * the total-variation distance ½·Σ_v |p_v − q_v| (the paper's own
    * categorical reduction).
    *
    * Exact law: with cell size n_c, corpus size N, per-(cell, value)
    * count n_cv and per-value total N_v, the distance scaled by 2·n_c·N
    * is the exact integer
    *
    *   d = Σ_{v in cell} |N·n_cv − n_c·N_v|  +  n_c·(N − Σ_{v in cell} N_v)
    *
    * (the second term folds in every value ABSENT from the cell, whose
    * |N·0 − n_c·N_v| would otherwise need a dense cell×value join);
    * `emd_pico = round(d / (2·n_c·N) · 10¹²)` is ONE double division,
    * and `at_risk` compares PICOS to `tPico` — integer comparison, no
    * threshold-boundary float hazard. NULL sensitive values assert no
    * value and drop from both distributions (the l-diversity
    * COUNT(DISTINCT) posture); a cell that is entirely NULL-sensitive
    * has no distribution and emits no row.
    *
    * Scale shape: TWO column-pruned corpus passes — the (QI, value)
    * hash aggregate (map-side combine) and the 1-row non-null count —
    * and everything after runs on the bounded (QI, value) table: the
    * per-value and per-cell totals are WINDOW sums over it (partitioned,
    * never a global funnel; a join-based formulation re-scanned the
    * corpus once per derived total), and the per-cell Σ reuses the
    * QI window's exchange. No driver state.
    *
    * Output: (qi columns…, n_rows, emd_pico, at_risk).
    */
  def tClosenessCells(df: DataFrame, qiCols: Seq[String],
      sensitiveCol: String, tPico: Long): DataFrame = {
    require(qiCols.nonEmpty, "at least one quasi-identifier column")
    require(!qiCols.contains(sensitiveCol),
      s"sensitive column $sensitiveCol cannot also be a quasi-identifier")
    require(tPico >= 0L, s"tPico must be >= 0, got $tPico")
    import org.apache.spark.sql.expressions.Window
    val dec = "decimal(38,0)"
    val qi = qiCols.map(col)
    val base = df.filter(col(sensitiveCol).isNotNull)
      .select(qi :+ col(sensitiveCol).as("_v"): _*)
    val cv = base.groupBy(qi :+ col("_v"): _*).agg(count(lit(1)).as("_ncv"))
    // value totals first, cell totals second: the QI window's exchange is
    // then the LAST partitioning, so the final groupBy(qi) reuses it
    val enriched = cv
      .withColumn("_nv", sum(col("_ncv")).over(Window.partitionBy(col("_v"))))
      .withColumn("_nc", sum(col("_ncv")).over(Window.partitionBy(qi: _*)))
    val total = base.agg(count(lit(1)).as("_n"))
    enriched.crossJoin(broadcast(total))
      .groupBy(qi: _*)
      .agg(max(col("_nc")).as("_nc"),
        sum(abs(col("_n").cast(dec) * col("_ncv")
          - col("_nc").cast(dec) * col("_nv"))).as("_dpres"),
        sum(col("_nv")).as("_nvpres"),
        max(col("_n")).as("_n"))
      .select(qi ++ Seq(
        col("_nc").as("n_rows"),
        round((col("_dpres") + col("_nc").cast(dec)
            * (col("_n") - col("_nvpres")).cast(dec)).cast("double")
          / (lit(2.0) * col("_nc").cast("double") * col("_n").cast("double"))
          * 1000000000000.0).cast("long").as("emd_pico")): _*)
      .withColumn("at_risk", col("emd_pico") > tPico)
  }
}
