package graft.tools

import org.apache.spark.sql.functions._

import graft.ops.Dedup

/** Banding-calibration probe for the MinHash/LSH near-dup family: measures
  * the FAMILY'S OWN S-curve — the probability a pair at Jaccard s becomes
  * a banded candidate — against the textbook prediction
  * `P(s) = 1 − (1 − s^r)^b` (Leskovec/Rajaraman/Ullman, Mining of Massive
  * Datasets ch. 3), for the shipped default (numHashes=64, bands=16 →
  * r=4). This is the tool that answers "which bands/rows do I need for a
  * 0.7 dedup threshold" with MEASUREMENT instead of faith: the internal
  * hash family (FNV/splitmix) is not SQL-replayable, so unlike the
  * verified pair set (q_minhash_neardup's oracle) the banding recall can
  * only be pinned empirically — exactly what this probe does, the
  * AnnRecall posture.
  *
  * Construction: `nPairs` isolated document pairs, each in its OWN token
  * namespace (cross-pair bucket collisions impossible up to 64-bit hash
  * collisions), with overlap prefix lengths sweeping the Jaccard spectrum.
  * The EXACT per-pair Jaccard comes from [[Dedup.ngramJaccardPairs]] at
  * threshold 0; the candidate set from [[Dedup.minhashLshPairs]] at
  * threshold 0 (banding + verify, no cut). Pairs bin by exact Jaccard;
  * per bin the measured candidate rate must bracket the theoretical curve
  * at the bin's mean Jaccard within ±0.15 (binomial noise at ≥50
  * pairs/bin is ≤ ~0.07 at 1σ), the head must be ≳1, the tail ≲0, and the
  * rates must be monotone in s up to one-step noise.
  *
  * Usage: `sbt "runMain graft.tools.LshCurve [nPairs]"`.
  */
object LshCurve {
  def main(args: Array[String]): Unit = {
    val nPairs = math.max(500, args.headOption.map(_.toInt).getOrElse(4000))
    val spark = graft.LocalSpark()
    import spark.implicits._

    // pair p: 40-token docs sharing a prefix of k ∈ [3, 40] tokens — the
    // shingle sets then share k−2 of 38 3-gram hashes, sweeping Jaccard
    // from ~0.013 to 1.0; token namespace p-unique
    val docs = spark.range(nPairs).flatMap { p =>
      val k = 3 + (p % 38).toInt
      val shared = (0 until k).map(i => s"p${p}s$i")
      val a = shared ++ (k until 40).map(i => s"p${p}a$i")
      val b = shared ++ (k until 40).map(i => s"p${p}b$i")
      Seq((2 * p, a.mkString(" ")), (2 * p + 1, b.mkString(" ")))
    }.toDF("doc_id", "text")

    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", threshold = 0.0)
      .filter(col("id_b") === col("id_a") + 1 && col("id_a") % 2 === 0)
      .select(col("id_a"), col("jaccard"))
    val cand = Dedup.minhashLshPairs(docs, "doc_id", "text", threshold = 0.0,
        maxBucket = 10000)
      .filter(col("id_b") === col("id_a") + 1 && col("id_a") % 2 === 0)
      .select(col("id_a"), lit(1L).as("_hit"))

    val curve = exact.join(cand, Seq("id_a"), "left")
      .withColumn("bin", least(floor(col("jaccard") * 10.0), lit(9.0)).cast("int"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        sum(coalesce(col("_hit"), lit(0L))).as("hits"),
        avg(col("jaccard")).as("s_mean"))
      .orderBy("bin")
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3)))

    def theory(s: Double): Double = 1.0 - math.pow(1.0 - math.pow(s, 4), 16)
    println("=== LshCurve: bin  n  rate  theory(s_mean) ===")
    var prevRate = -1.0
    var monotoneBreaks = 0
    curve.foreach { case (bin, n, hits, sMean) =>
      val rate = hits.toDouble / n
      val th = theory(sMean)
      println(f"===   $bin%d  $n%d  $rate%.3f  $th%.3f ===")
      if (n >= 50) {
        require(math.abs(rate - th) <= 0.15,
          f"bin $bin: measured $rate%.3f vs theory $th%.3f drifts past 0.15")
      }
      if (rate + 0.05 < prevRate) monotoneBreaks += 1
      prevRate = rate
    }
    require(monotoneBreaks == 0,
      s"candidate rate must grow with Jaccard (breaks: $monotoneBreaks)")
    val head = curve.filter(_._4 >= 0.75)
    require(head.nonEmpty && head.forall { case (_, n, h, _) => h.toDouble / n >= 0.95 },
      "pairs at Jaccard >= 0.75 must be caught at >= 0.95")
    val tail = curve.filter(_._4 <= 0.15)
    require(tail.nonEmpty && tail.forall { case (_, n, h, _) => h.toDouble / n <= 0.10 },
      "pairs at Jaccard <= 0.15 must stay under 10% candidate rate")
    println(s"=== LshCurve: ${curve.map(_._2).sum} pairs across ${curve.length} " +
      "bins, measured S-curve within 0.15 of theory ===")
    spark.stop()
  }
}
