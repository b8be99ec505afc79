package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoder}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Mergeable frequency sketches — the typed `Aggregator` (UDAF) surface of
  * the engine. At scale an exact per-token `groupBy` is the dominant
  * shuffle of any corpus-statistics job; a count-min sketch (Cormode &
  * Muthukrishnan, J.Algorithms'05) reduces it to one fixed-size buffer per
  * group per partition: `reduce` is O(depth) increments, `merge` is
  * element-wise addition (associative + commutative, so Spark's partial
  * aggregation applies map-side), and the result answers point-frequency
  * queries with one-sided error: estimate ≥ true count, and
  * P[estimate > true + ε·N] ≤ δ with width = ⌈e/ε⌉, depth = ⌈ln 1/δ⌉.
  *
  * The estimate is NOT cross-engine deterministic arithmetic, so this is
  * deliberately a bench/scale path (like `approx_percentile` in
  * [[Quantiles]]): SketchesSpec pins the one-sided bound and the
  * exact-on-collision-free-fixtures case; exact oracles stay on the exact
  * operators (q_vocab_top, q_token_histogram).
  */
object Sketches {

  /** depth×width count-min matrix in one flat array, plus the item count. */
  type Cms = Array[Long]

  /** Lane index: row i uses hash h_i(x) = mix64(x ^ seed_i) mod width —
    * the shared splitmix64 finalizer ([[Dedup.mix64]]) with a per-lane seed.
    */
  private def slot(item: Long, lane: Int, width: Int): Int = {
    val z = Dedup.mix64(item ^ (0x9E3779B97F4A7C15L * (lane + 1)))
    ((z % width) + width).toInt % width
  }

  /** Typed Aggregator over pre-hashed items (xxhash64 a string column to
    * feed it). Buffer layout: [d*w counters..., total_items].
    */
  final class CountMinAgg(depth: Int, width: Int)
      extends Aggregator[Long, Cms, Cms] {
    require(depth >= 1 && width >= 2, "need depth >= 1, width >= 2")
    override def zero: Cms = new Array[Long](depth * width + 1)
    override def reduce(b: Cms, item: Long): Cms = {
      var lane = 0
      while (lane < depth) {
        b(lane * width + slot(item, lane, width)) += 1L
        lane += 1
      }
      b(depth * width) += 1L
      b
    }
    override def merge(a: Cms, b: Cms): Cms = {
      var i = 0
      while (i < a.length) { a(i) += b(i); i += 1 }
      a
    }
    override def finish(r: Cms): Cms = r
    // ExpressionEncoder, not java/kryo serialization: the buffer crosses the
    // partial→final exchange once per group per partition, so it should ride
    // as an unsafe long array, not an opaque blob
    override def bufferEncoder: Encoder[Cms] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Cms]()
    override def outputEncoder: Encoder[Cms] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Cms]()
  }

  /** Column form: `cms(xxhash64(token))` usable in any agg. */
  def countMin(items: Column, depth: Int = 4, width: Int = 1024): Column =
    udaf(new CountMinAgg(depth, width)).apply(items)

  /** Point-frequency estimate from a finished sketch (driver/UDF side):
    * min over lanes — the canonical CM query.
    */
  def estimate(sketch: Cms, item: Long, depth: Int = 4, width: Int = 1024): Long = {
    var best = Long.MaxValue
    var lane = 0
    while (lane < depth) {
      val c = sketch(lane * width + slot(item, lane, width))
      if (c < best) best = c
      lane += 1
    }
    best
  }

  /** Total items folded into the sketch (the N of the ε·N error bound). */
  def totalItems(sketch: Cms, depth: Int = 4, width: Int = 1024): Long =
    sketch(depth * width)

  /** Per-stratum approximate token frequencies for a probe list: one pass,
    * one fixed-size buffer per stratum — the sketch twin of the exact
    * q_vocab_top/q_token_histogram pipeline. Returns
    * (stratum, token, est_count, n_tokens).
    */
  def approxTokenCounts(df: DataFrame, stratumCol: String, textCol: String,
      probes: Seq[String], depth: Int = 4, width: Int = 1024): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val toks = df.select(col(stratumCol).cast("string").as("_stratum"),
      explode(graft.functions.TextFns.tokens(col(textCol))).as("_tok"))
    val sketches = toks
      .groupBy("_stratum")
      .agg(countMin(xxhash64(col("_tok")), depth, width).as("_cms"))
      .as[(String, Array[Long])]
    // hash the probes with the SAME xxhash64 expression the token column
    // saw (a JVM-side reimplementation would have to match Spark's seed and
    // tail handling exactly — run it through Spark instead; bounded: one
    // tiny local job over |probes| rows)
    val hashed = spark.createDataset(probes).toDF("_p")
      .select(col("_p"), xxhash64(col("_p")).as("_ph"))
      .collect().map(r => r.getString(0) -> r.getLong(1))
    sketches.flatMap { case (stratum, cms) =>
      hashed.map { case (p, h) =>
        (stratum, p, estimate(cms, h, depth, width),
          totalItems(cms, depth, width))
      }
    }.toDF(stratumCol, "token", "est_count", "n_tokens")
  }

  /** KMV (K-Minimum-Values) distinct-count sketch over a column's
    * DISTINCT md5 images (Bar-Yossef, Jayram, Kumar, Sivakumar &
    * Trevisan, RANDOM '02 — the order-statistics distinct estimator
    * beside [[countMin]]'s frequency sketch: keep the k smallest hash
    * values; if the k-th smallest of n uniform points sits at u, then
    * n ≈ (k−1)/u): the cardinality screen that costs ONE top-k instead
    * of a full COUNT(DISTINCT) shuffle at corpus scale.
    *
    * Exact, engine-replayable law: items hash to md5 hex (fixed 32
    * chars, so LEXICOGRAPHIC order IS numeric order — the k-th smallest
    * is a string min-k any engine agrees on); u reads the first 15 hex
    * digits (60 bits) of the k-th hash as an integer over 2⁶⁰, and
    * `est_distinct = round((k−1) / (h_k / 2⁶⁰))` is one fixed double
    * chain. Exact below k: when fewer than k distinct hashes exist the
    * estimator is the EXACT distinct count (n_kept, no estimation).
    * NULL items assert nothing and drop. Degenerate-hash guard: if the
    * k-th smallest hash's first 15 hex digits are ALL zero (u = 0, a
    * ~2⁻⁶⁰-per-corpus event) the division would yield Infinity — the
    * estimate is NULL instead (visible, engine-portable), mirrored in
    * the oracle.
    *
    * Scale shape: one narrow hash projection + distinct + TakeOrdered k
    * (never a global sort); the k-row frame ends in a 1-row aggregate.
    *
    * Output: ONE row (k, n_kept, kth_hash, est_distinct).
    */
  def kmvDistinct(df: DataFrame, itemCol: Column, k: Int,
      salt: String = "graft"): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    val hashes = df.select(itemCol.cast("string").as("_i"))
      .filter(col("_i").isNotNull)
      .select(md5(concat(lit(salt), col("_i"))).as("_h"))
      .distinct()
      .orderBy(col("_h"))
      .limit(k)
    val hk = conv(substring(col("kth_hash"), 1, 15), 16, 10).cast("double")
    hashes
      .agg(count(lit(1)).as("n_kept"), max(col("_h")).as("kth_hash"))
      .filter(col("n_kept") > 0L)
      .select(lit(k.toLong).as("k"), col("n_kept"), col("kth_hash"),
        when(col("n_kept") < k, col("n_kept"))
          .when(hk > 0.0,
            round(lit((k - 1).toDouble) / (hk / lit(1152921504606846976.0)))
              .cast("long"))
          .as("est_distinct"))
  }

  /** Pairwise set-similarity matrix from per-stratum BOTTOM-K sketches
    * (Broder SEQUENCES '97 / Cohen–Kaplan PODS '07: with S_k(A) the k
    * smallest hash images of A, Ĵ(A,B) = |S_k(A∪B) ∩ S_k(A) ∩ S_k(B)|/k
    * is an unbiased Jaccard estimator): "which sources share a
    * vocabulary" at SKETCH cost — each stratum is represented by k
    * hashes, so the pair stage never touches the corpus (the
    * [[kmvDistinct]] posture, pairwise).
    *
    * Exact, engine-replayable law: items hash to md5 hex (fixed-width —
    * lexicographic IS numeric order, every engine agrees); per stratum
    * the k smallest DISTINCT hashes survive (a partitioned row_number,
    * bounded by per-stratum distinct items); per pair, the k smallest of
    * the sketch UNION vote, and a voter counts as shared iff it sits in
    * BOTH sketches — which is EXACT membership (h among the union's
    * bottom-k and h ∈ A ⇒ h among A's bottom-k, since A ⊆ A∪B).
    * `est_jaccard_micro = round(shared/k_used·10⁶)`, k_used =
    * min(k, |union|) — exact (not an estimate) when a pair has fewer
    * than k distinct hashes. NULL strata/items drop.
    *
    * Scale shape: one item pass → one distinct → one PARTITIONED
    * window (per-stratum, vocab-bounded); the pair stage runs on the
    * |strata|·k sketch table (broadcast-sized) — |strata|²·k cells, no
    * corpus contact.
    *
    * Output: (src_a, src_b, k_used, shared, est_jaccard_micro) — one
    * row per unordered stratum pair, ordered (src_a, src_b).
    */
  def bottomKSimilarity(df: DataFrame, stratumCol: String, itemCol: Column,
      k: Int = 256, salt: String = "graft"): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    import org.apache.spark.sql.expressions.Window
    val hashes = df.filter(col(stratumCol).isNotNull)
      .select(col(stratumCol).as("_s"), itemCol.cast("string").as("_i"))
      .filter(col("_i").isNotNull)
      .select(col("_s"), md5(concat(lit(salt), col("_i"))).as("_h"))
      .distinct()
    val wS = Window.partitionBy(col("_s")).orderBy(col("_h"))
    val sk = hashes.withColumn("_rn", row_number().over(wS))
      .filter(col("_rn") <= k).select(col("_s"), col("_h"))
    val strata = sk.select(col("_s")).distinct()
    val pairs = strata.select(col("_s").as("src_a"))
      .crossJoin(strata.select(col("_s").as("src_b")))
      .filter(col("src_a") < col("src_b"))
    // union sketch per pair: each pair's rows are the distinct hashes of
    // S_k(a) ∪ S_k(b), flagged for two-sided membership
    val uni = pairs.join(sk.select(col("_s").as("src_a"), col("_h")),
        Seq("src_a")).select(col("src_a"), col("src_b"), col("_h"),
        lit(1L).as("_ina"), lit(0L).as("_inb"))
      .unionByName(pairs.join(sk.select(col("_s").as("src_b"), col("_h")),
        Seq("src_b")).select(col("src_a"), col("src_b"), col("_h"),
        lit(0L).as("_ina"), lit(1L).as("_inb")))
      .groupBy(col("src_a"), col("src_b"), col("_h"))
      .agg(max(col("_ina")).as("_ina"), max(col("_inb")).as("_inb"))
    val wP = Window.partitionBy(col("src_a"), col("src_b")).orderBy(col("_h"))
    uni.withColumn("_rn", row_number().over(wP))
      .filter(col("_rn") <= k)
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("k_used"),
        sum(col("_ina") * col("_inb")).as("shared"))
      .select(col("src_a"), col("src_b"), col("k_used"), col("shared"),
        round(col("shared").cast("double") / col("k_used").cast("double")
          * 1.0e6).cast("long").as("est_jaccard_micro"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** HyperLogLog distinct-count sketch (Flajolet–Fuchs–Gandouet–Meunier,
    * AofA '07) — the FIXED-memory companion of [[kmvDistinct]]: m = 2^p
    * registers regardless of cardinality (KMV keeps k hashes; HLL keeps
    * 2^p 5-bit maxima), mergeable by element-wise max, ~1.04/√m relative
    * error. The law every engine can replay EXACTLY:
    *
    *  - h = the first 8 md5 hex nibbles of the salted item → a 32-bit
    *    integer (the md5-image discipline of every sketch row here);
    *  - register index = top p bits, ρ = position of the first 1-bit in
    *    the remaining w = 32−p bits (w+1 when they are all zero),
    *    computed as `w + 1 − bitlen(rest)` with bitlen = length of the
    *    binary rendering — integer string ops, no log;
    *  - per register M_j = max ρ; the harmonic denominator Σ 2^(−M_j)
    *    (absent registers count M = 0) is kept as the EXACT integer
    *    `bits = Σ 2^(40 − M_j)` (M_j ≤ w+1 ≤ 40, so every term is
    *    integral and the sum is order-independent);
    *  - raw = α_m·m²·2^40/bits with α_m = 0.7213/(1 + 1.079/m);
    *    small-range: raw ≤ 2.5m with empty registers → linear counting
    *    m·ln(m/zeros); large-range (raw > 2^32/30): −2^32·ln(1 − raw/2^32).
    *    Each branch is ONE pinned double chain, milli-rounded.
    *
    * Scale shape: one narrow hash pass → ≤m-row register aggregate →
    * 1 row. NULL items drop.
    *
    * Output (1 row): (m, used_registers, zero_registers, harmonic_bits,
    * raw_est_milli, est_milli).
    */
  /** α_m·m²·2⁴⁰ — [[hllDistinct]]'s raw-estimate numerator, exposed so
    * the SQL oracle interpolates the BIT-IDENTICAL double constant the
    * engine folds (one Scala expression, one literal in both plans).
    */
  def hllRawNumerator(p: Int): Double = {
    val m = (1L << p).toDouble
    0.7213 / (1.0 + 1.079 / m) * m * m * (1L << 40).toDouble
  }

  def hllDistinct(df: DataFrame, itemCol: Column, p: Int = 8,
      salt: String = "graft"): DataFrame = {
    require(p >= 4 && p <= 16, s"p must be in [4, 16], got $p")
    val m = 1L << p
    val w = 32 - p
    val restMod = 1L << w
    val h = df.select(itemCol.cast("string").as("_i"))
      .filter(col("_i").isNotNull)
      .select(conv(substring(md5(concat(lit(salt), col("_i"))), 1, 8), 16, 10)
        .cast("long").as("_h"))
    val rest = col("_h") % lit(restMod)
    val rho = when(rest === 0L, lit((w + 1).toLong))
      .otherwise(lit((w + 1).toLong) - length(bin(rest)).cast("long"))
    val regs = h
      .select(expr(s"_h div ${restMod}L").as("_b"), rho.as("_rho"))
      .groupBy(col("_b")).agg(max(col("_rho")).as("_m"))
    // coalesce: an empty corpus has zero register rows, so the sum is
    // NULL — the documented law ("absent registers carry M = 0") needs
    // bits to fall through to m·2^40 and linear counting to est = 0.
    val agg = regs.agg(count(lit(1)).as("used_registers"),
      coalesce(
        sum(pow(lit(2.0), lit(40.0) - col("_m").cast("double")).cast("long")),
        lit(0L)).as("_bits_used"))
    val zeros = lit(m) - col("used_registers")
    // absent registers carry M = 0 → 2^40 each
    val bits = col("_bits_used") + zeros * lit(1L << 40)
    val raw = lit(hllRawNumerator(p)) / bits.cast("double")
    val two32 = 4294967296.0
    val est = when(raw <= lit(2.5 * m.toDouble) && zeros > 0L,
        lit(m.toDouble) * log(lit(m.toDouble) / zeros.cast("double")))
      .when(raw > lit(two32 / 30.0),
        lit(-two32) * log(lit(1.0) - raw / lit(two32)))
      .otherwise(raw)
    agg.select(lit(m).as("m"), col("used_registers"),
      zeros.as("zero_registers"), bits.as("harmonic_bits"),
      round(raw * lit(1000.0)).cast("long").as("raw_est_milli"),
      round(est * lit(1000.0)).cast("long").as("est_milli"))
  }
}
