package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Closed-form scale probe for the vocabulary-growth family
  * ([[graft.ops.Vocab.heapsLawFit]] — the q_heaps_law scaffold), the
  * EmbedDedupScale/TriangleScale pattern: plant a corpus whose
  * vocabulary-growth curve is EXACT by construction, replay the
  * operator's own quantized normal-equation law on the closed-form
  * points, and assert the engine output EXACTLY — then double the token
  * count and require ~linear wall time.
  *
  * Construction: `d` docs (a power of two), each carrying `nNew`
  * globally-unique tokens (`t<id>a<k>`) plus `reps` copies of one
  * shared token — so every doubling prefix p has EXACTLY
  * n_p = (nNew + reps)·p tokens and V_p = nNew·p + 1 distinct tokens.
  * The probe recomputes x = round(ln n_p·10⁶), y = round(ln V_p·10⁶),
  * the BigInt normal-equation sums, and the operator's one double
  * chain (beta_micro, lnk_micro) bit-for-bit; any drift in the
  * prefix/first-id/token-count laws fails the equality.
  *
  * Two legs at ×2 tokens (×2 docs, same per-doc shape): the fit is one
  * tokenize pass + two bounded-table crossJoins + a 1-row aggregate —
  * LINEAR in tokens by construction, the committed classification of
  * q_heaps_law's sf1 ratio (×4.54 in BENCH_SF1 — the ScaleUp sweep
  * text is clone-dense, so tokens grow the full ×10 while most other
  * rows' work is bounded). The probe requires wall growth well under
  * the ×4 a quadratic term would force, and that no window of any kind
  * appears in the executed plan.
  *
  * Usage: `sbt "runMain graft.tools.VocabScale [log2Docs]"` (default
  * 17 → 131072 docs × 96 tokens = 12.6M tokens for leg 1, ×2 for
  * leg 2 — past the ≥10⁷-token contract).
  */
object VocabScale {

  private def plant(spark: SparkSession, d: Long, nNew: Int,
      reps: Int): DataFrame =
    spark.range(d).select(col("id").as("doc_id"),
      concat_ws(" ",
        expr(s"array_join(transform(sequence(1, $nNew), " +
          "k -> concat('t', CAST(id AS STRING), 'a', CAST(k AS STRING)))" +
          ", ' ')"),
        expr(s"array_join(array_repeat('zz', $reps), ' ')")).as("text"))

  /** Spark's round() on a double goes through BigDecimal.valueOf
    * (shortest-decimal) HALF_UP — replay that exact path, NOT
    * `new BigDecimal(x)` (exact-binary), which differs on display
    * ties (the Spectral.roundSpark trap, `ops/Spectral.scala`).
    */
  private def roundHalfUp(x: Double): Long =
    java.math.BigDecimal.valueOf(x)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact

  /** The operator's own law on the closed-form points: doubling
    * prefixes p ≤ d give (n_p, V_p) exactly; quantize, sum in BigInt,
    * run the identical double chain.
    */
  private def expected(d: Long, nNew: Int, t: Int): (Long, Long, Long) = {
    val pts = (0 to 62).map(j => 1L << j).filter(_ <= d).map { p =>
      (roundHalfUp(math.log((t * p).toDouble) * 1.0e6),
        roundHalfUp(math.log((nNew * p + 1).toDouble) * 1.0e6))
    }
    val k = pts.size.toLong
    val sx = pts.map(p => BigInt(p._1)).sum
    val sy = pts.map(p => BigInt(p._2)).sum
    val sxx = pts.map(p => BigInt(p._1) * BigInt(p._1)).sum
    val sxy = pts.map(p => BigInt(p._1) * BigInt(p._2)).sum
    val num = sxy.toDouble * k - sx.toDouble * sy.toDouble
    val den = sxx.toDouble * k - sx.toDouble * sx.toDouble
    val beta = num / den
    (k, roundHalfUp(beta * 1.0e6),
      roundHalfUp((sy.toDouble - beta * sx.toDouble) / k))
  }

  private def leg(spark: SparkSession, name: String, d: Long, nNew: Int,
      reps: Int): Double = {
    val fit = graft.ops.Vocab.heapsLawFit(
      plant(spark, d, nNew, reps), "doc_id", "text")
    val plan = fit.queryExecution.executedPlan.toString
    require(!plan.toLowerCase.contains("windowexec"),
      s"$name: a window appeared in the heaps plan — the fit must stay " +
        s"aggregate-only:\n$plan")
    val t0 = System.nanoTime()
    val r = fit.collect().head
    val secs = (System.nanoTime() - t0) / 1e9
    val (ek, eb, el) = expected(d, nNew, nNew + reps)
    require(r.getLong(0) == ek,
      s"$name: expected $ek doubling points, got ${r.getLong(0)}")
    require(r.getLong(1) == eb && r.getLong(2) == el,
      s"$name: heaps fit must match the closed-form law EXACTLY — " +
        s"got (beta ${r.getLong(1)}, lnk ${r.getLong(2)}), want ($eb, $el)")
    println(f"=== $name: ${d * (nNew + reps)} tokens, $ek points -> " +
      f"beta_micro $eb lnk_micro $el EXACT, $secs%.1f s ===")
    secs
  }

  def main(args: Array[String]): Unit = {
    val log2Docs = args.headOption.map(_.toInt).getOrElse(17)
    require(log2Docs >= 10 && log2Docs <= 24, s"log2Docs out of range: $log2Docs")
    val spark = graft.LocalSpark()
    val nNew = 16
    val reps = 80
    val t1 = leg(spark, "leg1", 1L << log2Docs, nNew, reps)
    val t2 = leg(spark, "leg2 (2x tokens)", 1L << (log2Docs + 1), nNew, reps)
    println(f"=== tokens 2x: time x${t2 / t1}%.2f (linear-in-tokens law) ===")
    require(t2 / t1 < 3.0,
      f"time grew ${t2 / t1}%.2f x at 2x tokens — the one-pass law " +
        "should be ~linear; investigate before trusting q_heaps_law at scale")
    spark.stop()
  }
}
