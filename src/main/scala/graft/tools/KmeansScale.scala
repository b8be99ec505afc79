package graft.tools

import org.apache.spark.sql.functions._

import graft.ops.Similarity

/** Scale probe for the distributed Lloyd refinement: a large synthetic
  * corpus with planted direction-clusters, k seeds, two refinement
  * rounds. The 100 TB properties under test:
  *
  *   1. the per-round cost is one broadcast argmax (corpus never
  *      shuffles for assignment) + one bounded aggregate — wall-clock
  *      should scale linearly in rows, not in rows × rounds² ;
  *   2. accumulator exactness survives scale: member counts must sum to
  *      exactly the corpus size (no row lost or double-counted across
  *      the integer-quantized pipeline);
  *   3. planted structure is recovered — every surviving cluster is
  *      dominated by one planted direction.
  *
  * `sbt "runMain graft.tools.KmeansScale [rows] [dims] [k]"`
  */
object KmeansScale {

  def main(args: Array[String]): Unit = {
    val rows = args.headOption.map(_.toLong).getOrElse(1000000L)
    val dims = args.lift(1).map(_.toInt).getOrElse(16)
    val k = args.lift(2).map(_.toInt).getOrElse(8)
    val spark = graft.LocalSpark()

    // planted clusters: row i belongs to direction (i % k); its vector is
    // the axis-k basis vector plus a small deterministic per-dim wobble
    val e = spark.range(rows).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(dims - 1)),
        d => (when(d === (col("id") % k).cast("int"), 1.0).otherwise(0.0) +
          (pmod(xxhash64(col("id"), d), lit(1000)).cast("double") / 10000.0 - 0.05))
          .cast("float")).as("embedding"))

    val t0 = System.nanoTime()
    val sums = Similarity.kmeansRefineSums(e, "vec_id", "embedding",
      k = k, iters = 2).cache()
    val members = sums.filter(col("dim") === 0)
      .select(col("cluster_id"), col("n_members"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val secs = (System.nanoTime() - t0) / 1e9

    val total = members.map(_._2).sum
    require(total == rows,
      s"EXACTNESS BROKEN: member counts sum to $total, corpus has $rows")
    // recovered structure: each surviving cluster's centroid has its mass
    // on one dimension (the planted direction)
    val peaks = sums.groupBy("cluster_id")
      .agg(max_by(col("dim"), abs(col("sum_micro"))).as("peak_dim"),
        max(abs(col("sum_micro"))).as("peak_mass"),
        sum(abs(col("sum_micro"))).as("total_mass"))
      .collect()
    peaks.foreach { r =>
      val frac = r.getLong(2).toDouble / r.getLong(3).toDouble
      require(frac > 0.5,
        s"cluster ${r.getLong(0)}: peak dim carries only ${frac}%.2f of mass")
    }
    println(f"=== kmeans-scale: $rows%d rows × $dims%d dims, k=$k%d, 2 rounds in $secs%.1f s ===")
    println(s"=== clusters: ${members.length} survived, counts ${members.sortBy(_._1).map(_._2).mkString(",")} (sum == corpus) ===")
    println(s"=== every cluster peaks on one planted direction ===")
    spark.stop()
  }
}
