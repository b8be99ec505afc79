package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Importance

/** Scale probe for DSIR importance scoring: is the paper configuration
  * (hashed unigrams + bigrams, `ngrams = Seq(1, 2)`) usable at corpus
  * scale now that orders > 1 run through the object-boundary bucket UDF
  * instead of the interpreted transform/slice lambda chain?
  *
  * Asserts two hard invariants and reports throughput:
  *   1. broadcast scorer ≡ narrow scorer, exactly, for Seq(1) and
  *      Seq(1, 2) at probe scale (integer law — any drift is a bug);
  *   2. bigram scoring stays within a small factor of unigram scoring
  *      per token (bigrams roughly double the feature count, so ~2× is
  *      the natural cost; the interpreted chain was far beyond it).
  *
  * `sbt "runMain graft.tools.DsirScale [rows] [tokensPerDoc]"`
  */
object DsirScale {

  def main(args: Array[String]): Unit = {
    val rows = args.headOption.map(_.toLong).getOrElse(200000L)
    val tok = args.lift(1).map(_.toInt).getOrElse(40)
    val spark = graft.LocalSpark()

    // synthetic docs from a small vocabulary so bucket counts are dense
    val words = (0 until 500).map(i => s"w$i")
    val docs = spark.range(rows).select(col("id").as("doc_id"),
      concat_ws(" ", (0 until tok).map(j =>
        element_at(
          array(words.map(lit): _*),
          ((col("id") * 31 + j * 17) % 500 + 1).cast("int"))): _*).as("text"))
      .cache()
    val target = docs.filter(col("doc_id") % 11 === 0)
    docs.count()

    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }
    def weightSum(ngrams: Seq[Int]): (Long, Double) = {
      val ratios = Importance.hashedRatioTable(target, docs, "text", 256, ngrams)
      timed(Importance.importanceWeights(docs, "doc_id", "text", ratios,
          256, ngrams)
        .agg(sum(col("weight_micro"))).head().getLong(0))
    }
    // warm both paths once (codegen/JIT), then measure
    weightSum(Seq(1)); weightSum(Seq(1, 2))
    val (uniSum, tUni) = weightSum(Seq(1))
    val (biSum, tBi) = weightSum(Seq(1, 2))

    // strategy equivalence at probe scale, both configurations
    for (ngrams <- Seq(Seq(1), Seq(1, 2))) {
      val ratios = Importance.hashedRatioTable(target, docs, "text", 256, ngrams)
      val wide = Importance.importanceWeights(
          docs, "doc_id", "text", ratios, 256, ngrams)
        .agg(sum(col("weight_micro"))).head().getLong(0)
      val narrow = Importance.importanceWeightsNarrow(
          docs, "doc_id", "text", ratios, 256, ngrams)
        .agg(sum(col("weight_micro"))).head().getLong(0)
      require(wide == narrow,
        s"STRATEGY DIVERGENCE at ngrams=$ngrams: wide=$wide narrow=$narrow")
    }

    // bigrams ≈ 2× the features of unigrams on tok-length docs; allow 3×
    // wall as the usable-at-scale bar (the interpreted chain was ~10-100×)
    val ratio = tBi / tUni
    require(ratio <= 3.0,
      f"BIGRAM PATH TOO SLOW: $tBi%.2f s vs $tUni%.2f s (${ratio}%.1f×)")
    println(f"=== dsir-scale: $rows docs × $tok tokens; unigram $tUni%.2f s, " +
      f"uni+bigram $tBi%.2f s (${ratio}%.2f×, features ≈2×) ===")
    println(s"=== strategy equivalence held for Seq(1) and Seq(1,2); " +
      s"checks uni=$uniSum bi=$biSum ===")
    spark.stop()
  }
}
