package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Closed-form scale probe for the complete-block rank family
  * ([[graft.ops.Eval.pageTrendL]] / [[graft.ops.Eval.friedmanKendallW]]
  * / [[graft.ops.Eval.quadeTest]] — the q_page_trend / q_friedman_w /
  * q_quade scaffold), the VocabScale pattern: plant a block design
  * whose within-block ranks, block-range ranks and therefore ALL THREE
  * statistics are exact closed forms, assert the engine output EXACTLY
  * on two legs (×2 blocks), and require ~linear wall growth.
  *
  * Construction: n blocks × k = 5 classes, cell(b, j) = j·(b+1). Every
  * block ranks its classes 1..k in class order (no ties), every block
  * RANGE (k−1)(b+1) is distinct and ascending in b, and with midrank
  * doubling:
  *
  *   Page:     L2 = 2n·Σj² = 110n, E2 = 90n,
  *             z = 20n / √(100n)            (the engine's own chain)
  *   Friedman: χ² = (k−1)·40n² / 40n = 4n EXACTLY,  W = 1
  *   Quade:    A16 = 160·S2, B16n = 160·T² (T = n(n+1)/2,
  *             S2 = n(n+1)(2n+1)/6) →
  *             T3 = (n−1)·T²/(n·S2 − T²) = 3(n+1) EXACTLY
  *
  * The probe replays each engine double chain verbatim (exact BigInt
  * cumulants → the same nearest doubles → the same HALF_UP pico) — any
  * drift in the scaffold's cell/semi-filter/midrank/range-rank laws
  * fails the equality. The per-block windows run over ≤ k-row
  * partitions and Quade's range ranking rides the distributed prefix
  * sum, so wall time is ~linear in blocks — the committed scale
  * classification of the family (BENCH_SF1 ratios ≤ 1.8 at 10× rows).
  *
  * Usage: `sbt "runMain graft.tools.BlockRankScale [nBlocks]"`
  * (default 500000 → 2.5M cells leg 1, 5M leg 2).
  */
object BlockRankScale {

  private val K = 5

  private def plant(spark: SparkSession, n: Long) =
    spark.range(n).selectExpr("id AS blk",
      s"explode(sequence(1, $K)) AS cls")
      .selectExpr("blk", "cls", "cls * (blk + 1) AS v")

  /** Spark round's exact path on doubles: round() RETURNS A DOUBLE and
    * the long cast truncates THAT double — so past 2^53 the replay must
    * go back through doubleValue before the long conversion (the
    * Spectral.roundSpark form; a direct longValue reads the shortest-
    * decimal digits instead of the double's exact binary integer and
    * diverges in the last ulps at ~10^18).
    */
  private def roundSpark(x: Double): Long =
    java.math.BigDecimal.valueOf(x)
      .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue.toLong

  private def leg(spark: SparkSession, name: String, n: Long): Double = {
    val df = plant(spark, n)
    val t0 = System.nanoTime()
    val page = graft.ops.Eval.pageTrendL(df, "blk", "cls", "v")
      .collect().head
    val fried = graft.ops.Eval.friedmanKendallW(df, "blk", "cls", "v")
      .collect().head
    val quade = graft.ops.Eval.quadeTest(df, "blk", "cls", "v")
      .collect().head
    val secs = (System.nanoTime() - t0) / 1e9

    // Page: exact integers, then the engine's (diff / sqrt(n·c)) chain
    require(page.getLong(0) == n && page.getLong(1) == K.toLong,
      s"$name page: design (n=${page.getLong(0)}, k=${page.getLong(1)})")
    require(page.getLong(2) == 110L * n && page.getLong(3) == 90L * n,
      s"$name page: L2/E2 drifted — got (${page.getLong(2)}, " +
        s"${page.getLong(3)}), want (${110 * n}, ${90 * n})")
    val zExp = roundSpark(
      (20.0 * n) / math.sqrt(100.0 * n) * 1.0e12)
    require(page.getLong(4) == zExp,
      s"$name page: z_pico ${page.getLong(4)} != $zExp")

    // Friedman: χ² = 4n exactly (the quotient is a representable
    // double), W = 1
    require(fried.getLong(2) == 40L * n * n && fried.getLong(3) == 220L * n,
      s"$name friedman: S4/A4 drifted — got (${fried.getLong(2)}, " +
        s"${fried.getLong(3)}), want (${40L * n * n}, ${220 * n})")
    require(fried.getLong(4) == 4L * n * 1000000000000L,
      s"$name friedman: chi2_pico ${fried.getLong(4)} != ${4L * n} e12")
    require(fried.getLong(5) == 1000000000000L,
      s"$name friedman: perfect concordance must read W = 1, " +
        s"got ${fried.getLong(5)}")

    // Quade: exact BigInt cumulants → the engine's one double chain
    val t = BigInt(n) * BigInt(n + 1) / 2
    val s2 = BigInt(n) * BigInt(n + 1) * BigInt(2 * n + 1) / 6
    val a16 = BigInt(160) * s2
    val b16n = BigInt(160) * t * t
    require(quade.getDouble(2) == a16.toDouble &&
        quade.getDouble(3) == b16n.toDouble,
      s"$name quade: A16/B16n drifted — got (${quade.getDouble(2)}, " +
        s"${quade.getDouble(3)}), want ($a16, $b16n)")
    val den = BigInt(n) * a16 - b16n
    val t3Exp = roundSpark(
      (n - 1).toDouble * b16n.toDouble / den.toDouble * 1.0e12)
    require(quade.getLong(4) == t3Exp,
      s"$name quade: t3_pico ${quade.getLong(4)} != $t3Exp " +
        s"(closed form 3(n+1) = ${3 * (n + 1)})")

    println(f"=== $name: $n blocks x $K classes (${n * K} cells) -> " +
      f"page z EXACT, friedman chi2 = ${4 * n} EXACT, W = 1, " +
      f"quade T3 = ${3 * (n + 1)} EXACT, $secs%.1f s ===")
    secs
  }

  /** Incomplete-design leg (r19): the same n blocks × 5 treatments with
    * a ROTATING ONE-OUT drop — block b (0-based) drops treatment
    * (b mod 5)+1, cell = j·(b+1) as before — a BIB design (k = 4,
    * r = 4n/5, λ = 3n/5 for n ≡ 0 mod 5) whose closed forms are exact:
    *
    *   Durbin:  R2_j = (2n/5)(3j+1) → S4 = 72n²/5, A4 = 120n,
    *            C4 = 100n → T1 = 2.88n, T2 = T1/4·(3n−4)/(3n−T1)
    *   S–M:     A2m_j = c·(6n/5)(j−3) with c = round(√(12/5)·10⁶)
    *            → Σ = 72c²n²/5, λt = 3n → SM = ΣA2m²/(3n·4·10¹²)
    *
    * Both picos land PAST 2^53 at the default n — the leg exercises
    * the roundSpark replay law end-to-end, plus the balanced-path
    * detection (λ, diagonal equality) and Durbin's in-plan BIB gate.
    */
  private def incompleteLeg(spark: SparkSession, name: String,
      n: Long): Double = {
    require(n % 5 == 0, s"incomplete leg needs n ≡ 0 mod 5, got $n")
    val df = spark.range(n).selectExpr("id AS blk",
      s"explode(sequence(1, $K)) AS cls")
      .selectExpr("blk", "cls", "cls * (blk + 1) AS v")
      .filter(s"cls != (blk % $K) + 1")
    val t0 = System.nanoTime()
    val durbin = graft.ops.Eval.durbinTest(df, "blk", "cls", "v")
      .collect().head
    val sm = graft.ops.Eval.skillingsMack(df, "blk", "cls", "v")
      .collect().head
    val secs = (System.nanoTime() - t0) / 1e9

    // Durbin: exact integer cumulants, then the engine's double chains
    require(durbin.getLong(0) == n && durbin.getLong(1) == K.toLong &&
        durbin.getLong(2) == (K - 1).toLong &&
        durbin.getLong(3) == 4 * n / 5,
      s"$name durbin: design (b=${durbin.getLong(0)}, t=${durbin.getLong(1)}, " +
        s"k=${durbin.getLong(2)}, r=${durbin.getLong(3)})")
    val s4 = BigInt(72) * BigInt(n) * BigInt(n) / 5
    require(durbin.getLong(4) == s4.toLong && durbin.getLong(5) == 120L * n,
      s"$name durbin: S4/A4 drifted — got (${durbin.getLong(4)}, " +
        s"${durbin.getLong(5)}), want ($s4, ${120 * n})")
    val den = BigInt(120) * n - BigInt(100) * n
    val t1d = 4.0 * s4.toDouble / den.toDouble
    require(durbin.getLong(6) == roundSpark(t1d * 1.0e12),
      s"$name durbin: t1_pico ${durbin.getLong(6)} != " +
        s"${roundSpark(t1d * 1.0e12)} (closed form 2.88n = ${2.88 * n})")
    val bk1 = n.toDouble * 3.0
    val t2d = t1d / 4.0 * (bk1 - 5.0 + 1.0) / (bk1 - t1d)
    require(durbin.getLong(7) == roundSpark(t2d * 1.0e12),
      s"$name durbin: t2_pico ${durbin.getLong(7)} != " +
        s"${roundSpark(t2d * 1.0e12)}")

    // Skillings–Mack: the balanced path must fire with the exact
    // quantized-weight cumulants
    val c = roundSpark(math.sqrt(12.0 / 5.0) * 1.0e6)
    val ssq = BigInt(72) * BigInt(c) * BigInt(c) * BigInt(n) * BigInt(n) / 5
    require(sm.getLong(0) == n && sm.getLong(1) == K.toLong &&
        sm.getBoolean(2),
      s"$name sm: design/balance (b=${sm.getLong(0)}, t=${sm.getLong(1)}, " +
        s"balanced=${sm.getBoolean(2)}) — the λ = 3n/5 BIB pattern must " +
        "take the closed covariance chain")
    require(sm.getDouble(3) == ssq.toDouble,
      s"$name sm: ssq_a2 ${sm.getDouble(3)} != ${ssq.toDouble}")
    val lam = 3 * n / 5
    val smD = ssq.toDouble / (lam.toDouble * K.toDouble * 4.0e12)
    require(sm.getLong(4) == roundSpark(smD * 1.0e12),
      s"$name sm: sm_pico ${sm.getLong(4)} != ${roundSpark(smD * 1.0e12)}")

    println(f"=== $name (incomplete): $n blocks x 4-of-5 kept " +
      f"(${n * 4} cells) -> durbin T1 = ${2.88 * n}%.1f EXACT, " +
      f"T2 EXACT, skillings-mack balanced-path EXACT, $secs%.1f s ===")
    secs
  }

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(500000L)
    require(n >= 1000 && n <= 50000000L, s"nBlocks out of range: $n")
    val spark = graft.LocalSpark()
    val t1 = leg(spark, "leg1", n)
    val t2 = leg(spark, "leg2 (2x blocks)", 2 * n)
    println(f"=== blocks 2x: time x${t2 / t1}%.2f (linear-in-blocks law) ===")
    require(t2 / t1 < 3.0,
      f"time grew ${t2 / t1}%.2f x at 2x blocks — the block-rank " +
        "family should be ~linear; investigate before trusting " +
        "q_page_trend/q_friedman_w/q_quade at scale")
    // the plant's T1 = 2.88n sits near its 3n ceiling, so T2 = 18n
    // diverges with blocks — the probe MEASURED the pico-long ANSI
    // cliff at n ≈ 5.1·10⁵ (T2·10¹² > 2⁶³); legs sit inside the
    // documented domain (durbinTest's PICO-LONG DOMAIN note)
    val nI = math.min(n - n % 5, 200000L)
    val i1 = incompleteLeg(spark, "leg3", nI)
    val i2 = incompleteLeg(spark, "leg4 (2x blocks)", 2 * nI)
    println(f"=== incomplete 2x: time x${i2 / i1}%.2f ===")
    require(i2 / i1 < 3.0,
      f"time grew ${i2 / i1}%.2f x at 2x blocks — Durbin/Skillings-Mack " +
        "should be ~linear in blocks; investigate before trusting " +
        "q_durbin/q_skillings_mack at scale")
    spark.stop()
  }
}
