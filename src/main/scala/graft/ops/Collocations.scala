package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFns

/** Collocation extraction by pointwise mutual information (Church & Hanks,
  * "Word Association Norms, Mutual Information, and Lexicography", 1990) —
  * the corpus-linguistics complement to RAKE: which adjacent word pairs
  * co-occur far more than chance ("san francisco", "machine learning").
  *
  * Law (shared verbatim with the SQL oracle):
  *  - words are [[TextFns.tokens]] of `lower(text)`; events are adjacent
  *    bigrams (the [[LangModel]] bigram law);
  *  - pmi = ln P(w1,w2) − ln P(w1) − ln P(w2) with P(w1,w2) = c12/Np
  *    (Np = total bigram occurrences) and P(w) = c/Nu (Nu = total token
  *    occurrences), expanded to a FIXED left-to-right chain over ln of
  *    exact integers:
  *    ((((ln c12 + ln Nu) + ln Nu) − ln Np) − ln c1) − ln c2,
  *    micro-quantized HALF-AWAY to BIGINT (the DSIR/[[LangModel]]
  *    discipline — identical per-pair values on both engines, and the
  *    ranking compares exact integers);
  *  - pairs below `minCount` are dropped (PMI is noise-dominated at tiny
  *    counts — the published practice);
  *  - top-k by (pmi_micro desc, w1, w2) — deterministic at the boundary.
  *
  * Scale shape: one narrow object-boundary bigram pass and one narrow
  * token pass (different laws — neither is a re-execution of the other);
  * counts are hash aggregates; the scoring joins are hash-keyed on w1/w2
  * with two 1-row total broadcasts; top-k is TakeOrderedAndProject.
  */
object Collocations {

  /** Top-k PMI collocations: (w1, w2, c12, pmi_micro). */
  def pmiTop(df: DataFrame, textCol: String, minCount: Long = 5L,
      k: Int = 25): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    require(minCount >= 1L && k >= 1, "need minCount >= 1, k >= 1")
    val lowered = df.select(lower(col(textCol).cast("string")).as("_t")).as[String]
    // LAZY localCheckpoints (r19 optimization round): `uni` feeds the
    // total AND both scoring joins, `c12` the total AND the scored
    // stream — without materialization the executed plan re-ran the
    // object-boundary bigram/token passes five times over the corpus
    val c12 = lowered.mapPartitions(_.flatMap(LangModel.bigramsScala))
      .toDF("_w1", "_w2")
      .groupBy("_w1", "_w2").agg(count(lit(1)).as("_c12"))
      .localCheckpoint(false)
    val uni = lowered.flatMap(t => TextFns.tokensScala(t))
      .toDF("_w")
      .groupBy("_w").agg(count(lit(1)).as("_c"))
      .localCheckpoint(false)
    val np = c12.agg(sum(col("_c12")).as("_np"))
    val nu = uni.agg(sum(col("_c")).as("_nu"))
    def ln(c: org.apache.spark.sql.Column) = log(c.cast("double"))
    c12.filter(col("_c12") >= minCount)
      .join(uni.withColumnRenamed("_w", "_w1").withColumnRenamed("_c", "_c1"), "_w1")
      .join(uni.withColumnRenamed("_w", "_w2").withColumnRenamed("_c", "_c2"), "_w2")
      .crossJoin(broadcast(np))
      .crossJoin(broadcast(nu))
      .select(col("_w1").as("w1"), col("_w2").as("w2"), col("_c12").as("c12"),
        round((ln(col("_c12")) + ln(col("_nu")) + ln(col("_nu"))
          - ln(col("_np")) - ln(col("_c1")) - ln(col("_c2"))) * lit(1000000.0), 0)
          .cast("long").as("pmi_micro"))
      .orderBy(col("pmi_micro").desc, col("w1"), col("w2"))
      .limit(k)
  }

  /** Market-basket association rules — support / confidence / lift over
    * (basket, item) pairs (Agrawal, Imieliński & Swami, SIGMOD '93: the
    * co-purchase screen behind "customers who bought A also bought B",
    * and the basket-space sibling of [[pmiTop]]'s word co-occurrence):
    * top-`k` item PAIRS by lift among pairs co-occurring in at least
    * `minCo` baskets.
    *
    * Exact law: distinct (basket, item) incidences; baskets with more
    * than `maxBasket` items DROP before the pair self-join (the
    * Adamic–Adar apex-cap posture — one degenerate mega-basket
    * contributes C(items, 2) pair rows of no analytical value; the cap
    * is part of the law, replayed by the oracle). Item counts n_a come
    * from the SURVIVING baskets, so support/confidence/lift stay
    * internally consistent. Counts are exact integers;
    * `support_micro = round(co/N·10⁶)`,
    * `conf_ab_micro = round(co/n_a·10⁶)`,
    * `lift_pico = round(N·co/(n_a·n_b)·10¹²)` are one double chain
    * each. Ordering (lift_pico desc, item_a, item_b) is total.
    *
    * Scale shape: one distinct, one basket-size aggregate + cap filter,
    * one equi-join on the basket key (fan-out ≤ C(maxBasket, 2) per
    * basket), hash aggregates, TakeOrdered top-k.
    *
    * Output: (item_a, item_b, co_baskets, n_a, n_b, support_micro,
    * conf_ab_micro, lift_pico) — top `k`.
    */
  def associationRules(df: DataFrame, basketCol: String, itemCol: String,
      k: Int = 25, minCo: Long = 3L, maxBasket: Int = 64): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    associationRulesScored(df, basketCol, itemCol, minCo, maxBasket)
      .orderBy(col("lift_pico").desc, col("item_a"), col("item_b"))
      .limit(k)
  }

  /** The UN-limited scored frame behind [[associationRules]] — every
    * min-support pair with its metrics, no top-k (the tie-plateau
    * audit's probe surface).
    */
  def associationRulesScored(df: DataFrame, basketCol: String,
      itemCol: String, minCo: Long, maxBasket: Int): DataFrame = {
    require(minCo >= 1L && maxBasket >= 2,
      s"bad arguments: minCo=$minCo maxBasket=$maxBasket")
    val bi = df.filter(col(basketCol).isNotNull)
      .select(col(basketCol).as("_bk"), col(itemCol).cast("long").as("_it"))
      // filter the CAST result: a non-castable string item would otherwise
      // become NULL here and still count toward basket size and n_a/n_b
      // despite never forming a pair (the oracle's numeric-only assumption)
      .filter(col("_it").isNotNull)
      .distinct()
    // localCheckpoint (r19 optimization round): `kept` feeds FIVE
    // consumers (nB, itemCnt, both pair legs, and the size screen's
    // reuse of bi) and exchange reuse does not fire across their
    // differing projections — the executed plan recomputed the distinct
    // + size-filter join (parquet scan included) five times. One
    // materialized RDD feeds all consumers instead (guide §3.3:
    // materialize the reused intermediate). EAGER (r20): with the lazy
    // form the first materialization raced across the final query's
    // CONCURRENT AQE stage jobs (the broadcast-nB future vs the pair
    // join's shuffle stages), duplicating the whole 32-task
    // materialization AND — because the winner truncates the lineage,
    // unreachable-making the plan's SQLMetrics — spraying the loser's
    // task completions as `ERROR DAGScheduler: Failed to update
    // accumulator` (~740 events/run, the r19 driver-tail spam). One
    // synchronous materialization job before any consumer runs fixes both.
    val kept = bi.join(
      bi.groupBy(col("_bk")).agg(count(lit(1)).as("_sz"))
        .filter(col("_sz") <= maxBasket)
        .select(col("_bk")), "_bk")
      .localCheckpoint()
    val nB = kept.select(col("_bk")).distinct()
      .agg(count(lit(1)).as("_n"))
    val itemCnt = kept.groupBy(col("_it")).agg(count(lit(1)).as("_cnt"))
    val a = kept.select(col("_bk"), col("_it").as("item_a"))
    val b = kept.select(col("_bk"), col("_it").as("item_b"))
    val co = a.join(b, Seq("_bk")).filter(col("item_a") < col("item_b"))
      .groupBy(col("item_a"), col("item_b"))
      .agg(count(lit(1)).as("co_baskets"))
      .filter(col("co_baskets") >= minCo)
    co
      .join(itemCnt.select(col("_it").as("item_a"), col("_cnt").as("n_a")),
        "item_a")
      .join(itemCnt.select(col("_it").as("item_b"), col("_cnt").as("n_b")),
        "item_b")
      .crossJoin(broadcast(nB))
      .select(col("item_a"), col("item_b"), col("co_baskets"),
        col("n_a"), col("n_b"),
        round(col("co_baskets").cast("double") / col("_n").cast("double")
          * 1000000.0).cast("long").as("support_micro"),
        round(col("co_baskets").cast("double") / col("n_a").cast("double")
          * 1000000.0).cast("long").as("conf_ab_micro"),
        round(col("_n").cast("double") * col("co_baskets").cast("double")
          / (col("n_a").cast("double") * col("n_b").cast("double"))
          * 1000000000000.0).cast("long").as("lift_pico"))
  }

  /** DSIR-style cross-libm diagnostic over the actual scored pairs: the
    * minimum distance of any unquantized pmi·10⁶ from a HALF-AWAY
    * boundary. Callers pass the distinct (c12, c1, c2, np, nu) tuples.
    */
  private[ops] def minBoundaryMarginMicro(
      tuples: Seq[(Long, Long, Long, Long, Long)]): Double =
    tuples.map { case (c12, c1, c2, np, nu) =>
      val x = math.abs(((((math.log(c12.toDouble) + math.log(nu.toDouble))
        + math.log(nu.toDouble)) - math.log(np.toDouble))
        - math.log(c1.toDouble)) - math.log(c2.toDouble)) * 1000000.0
      math.abs((x - math.floor(x)) - 0.5)
    }.min
}
