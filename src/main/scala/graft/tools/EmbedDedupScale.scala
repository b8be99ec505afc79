package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Closed-form scale probe for the blocked embedding near-dup family
  * ([[graft.ops.Similarity.blockedNearDupPairs]] — the q_embed_neardup /
  * q_semantic_clusters scaffold), the LinkPredictScale/TriangleScale
  * pattern: plant a corpus whose EXACT pair output is known in closed
  * form, assert it in one aggregate, and prove the banded path never
  * goes all-pairs.
  *
  * Construction: `nBlocks` blocks × `perBlock` one-hot 16-dim vectors
  * each — `clones` copies of basis e₀ plus (perBlock − clones) distinct
  * bases. Cosine between one-hots is exactly 1.0 (same basis) or 0.0
  * (different), so at threshold 0.5 the output is EXACTLY
  * `nBlocks · C(clones, 2)` pairs, every sim exactly 1.0 — count and
  * Σ sim are asserted in ONE aggregate, and any leaked cross pair or
  * lost clone pair fails the probe.
  *
  * Two legs at the SAME corpus size, clone density doubled in leg 2:
  * the pair output grows ~×(2²) while rows stay fixed — demonstrating
  * that a duplicate-density increase grows the OUTPUT quadratically by
  * definition of the pair law, not by an engine cliff. This is the
  * committed classification of q_embed_neardup's sf1 ratio (×4.49 in
  * BENCH_SF1): the ScaleUp sweep data replicates every embedding
  * verbatim `factor`× (tools/ScaleUp.scala — only vec_id shifts), so
  * each label block carries factor-way exact-clone groups and the
  * clone-pair output grows ~quadratically in factor while rows grow
  * linearly. Same mechanism as the minhash family's documented
  * quadratic-in-dup-density ratios; the plan stays a block-keyed equi
  * join (asserted: no CartesianProduct / BroadcastNestedLoopJoin).
  *
  * Usage: `sbt "runMain graft.tools.EmbedDedupScale [nBlocks] [perBlock]"`
  * (defaults 100000 × 12 = 1.2M vectors; ~1M+ row contract of the r15
  * verdict task 4).
  */
object EmbedDedupScale {

  private def plant(spark: SparkSession, nBlocks: Long, perBlock: Int,
      clones: Int): DataFrame = {
    require(clones >= 2 && clones < perBlock && perBlock <= 17,
      s"need 2 <= clones < perBlock <= 17, got clones=$clones perBlock=$perBlock")
    spark.range(nBlocks * perBlock)
      .select(col("id").as("vec_id"),
        (col("id") % nBlocks).as("label"),
        (col("id") / nBlocks).cast("int").as("_idx"))
      .withColumn("_pos",
        when(col("_idx") < clones, lit(0)).otherwise(col("_idx") - clones + 1))
      .withColumn("embedding",
        expr("transform(sequence(0, 15), i -> CAST(IF(i = _pos, 1.0, 0.0) AS FLOAT))"))
      .drop("_idx", "_pos")
  }

  private def leg(spark: SparkSession, name: String, nBlocks: Long,
      perBlock: Int, clones: Int): Double = {
    val pairs = graft.ops.Similarity.blockedNearDupPairs(
      plant(spark, nBlocks, perBlock, clones),
      "vec_id", "embedding", "label", threshold = 0.5)
    val plan = pairs.queryExecution.executedPlan.toString
    require(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"$name: blocked pair join degraded to an all-pairs scan:\n$plan")
    val t0 = System.nanoTime()
    // count + Σ sim in ONE aggregate: every planted clone pair present,
    // every sim exactly 1.0, zero cross-basis leaks
    val r = pairs.agg(count(lit(1)).as("n"), sum(col("sim")).as("s")).head
    val secs = (System.nanoTime() - t0) / 1e9
    val want = nBlocks * (clones.toLong * (clones - 1) / 2)
    require(r.getLong(0) == want,
      s"$name: expected exactly $want clone pairs, got ${r.getLong(0)}")
    require(r.getDouble(1) == want.toDouble,
      s"$name: sims must all be exactly 1.0 — sum ${r.getDouble(1)} != $want")
    println(f"=== $name: ${nBlocks * perBlock} vectors, $clones clones/block -> " +
      f"$want pairs EXACT, all sims 1.0, $secs%.1f s ===")
    secs
  }

  def main(args: Array[String]): Unit = {
    val nBlocks = args.headOption.map(_.toLong).getOrElse(100000L)
    val perBlock = args.lift(1).map(_.toInt).getOrElse(12)
    val spark = graft.LocalSpark()
    val t1 = leg(spark, "leg1 (base density)", nBlocks, perBlock, clones = 4)
    val t2 = leg(spark, "leg2 (2x dup density, same rows)", nBlocks, perBlock,
      clones = 8)
    // pairs grew C(8,2)/C(4,2) = 4.67x on identical row counts: the cost
    // is the OUTPUT (quadratic in clone multiplicity by the pair law),
    // not an engine cliff — wall time must grow far slower than pairs
    println(f"=== density 2x: pairs x4.67, time x${t2 / t1}%.2f " +
      "(output-bound, plan unchanged) ===")
    require(t2 / t1 < 4.67,
      f"time grew ${t2 / t1}%.2f x — at least as fast as the pair output " +
        "itself; engine overhead would have to push it past the output growth")
    spark.stop()
  }
}
