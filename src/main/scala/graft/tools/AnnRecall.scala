package graft.tools

import org.apache.spark.sql.functions._

import graft.ops.Similarity

/** Measured recall of the approximate ANN paths against the brute-force
  * oracle, on the real embeddings table: for each query vector, how many of
  * the true top-k neighbors does LSH / IVF / PQ return?
  *
  * Context for reading the numbers: hyperplane LSH's candidate probability
  * decays with angular distance, so recall is HIGH in the genuinely-near
  * regime (near-duplicate detection, the dedup use case — SimilaritySpec
  * pins planted twins at recall 1) and MODEST for "nearest of a uniformly
  * spread cloud" (this table's regime: max pairwise cosine ≈ 0.5). IVF
  * recall is governed by the probed-cell fraction. This probe prints both
  * so the trade-off is a measured artifact, not a scaladoc claim.
  *
  * Usage: `sbt "runMain graft.tools.AnnRecall [sfDir] [k] [nQueries]"`.
  */
object AnnRecall {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val k = args.drop(1).headOption.map(_.toInt).getOrElse(10)
    val nQueries = args.drop(2).headOption.map(_.toInt).getOrElse(50)
    val spark = graft.LocalSpark()

    val corpus = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val queries = corpus.filter(col("vec_id") < nQueries)
    println(s"=== corpus ${corpus.count()} vectors; $nQueries queries; k=$k ===")

    def truthPairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select(col("query_id").cast("long"), col("neighbor_id").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    val truth = truthPairs(
      Similarity.bruteForceTopK(corpus, queries, "vec_id", "embedding", k))

    def report(name: String, got: Set[(Long, Long)]): Unit = {
      val recall = if (truth.isEmpty) 0.0
        else truth.intersect(got).size.toDouble / truth.size
      println(f"=== $name%-10s recall@$k = $recall%.3f (${got.size}%d returned) ===")
    }
    report("lsh", truthPairs(
      Similarity.lshTopK(corpus, queries, "vec_id", "embedding", k)))
    report("ivf", truthPairs(
      Similarity.ivfTopK(corpus, queries, "vec_id", "embedding", k)))
    report("pq", truthPairs(
      Similarity.pqTopK(corpus, queries, "vec_id", "embedding", k)))

    // Stored-IVF nprobe sweep, on the SAME store construction the registry's
    // q_ann_ivf_store uses (train on the even half, merge the odd half) —
    // recall here is governed by the probed-cell fraction nprobe/nlist, and
    // the floor gate needs measured margin, not a scaladoc claim.
    val store = java.nio.file.Files.createTempDirectory("annrecall-ivfstore").toString
    graft.ops.RefStore.writeIvf(
      corpus.filter(col("vec_id") % 2 === 0), "vec_id", "embedding", store)
    graft.ops.RefStore.mergeIvf(
      corpus.filter(col("vec_id") % 2 === 1), "vec_id", "embedding", store,
      batchId = "b1")
    Seq(4, 6, 8, 10, 12).foreach { np =>
      report(f"ivf_store nprobe=$np%-2d", truthPairs(
        Similarity.ivfTopKStored(queries, store, "vec_id", "embedding", k,
          nprobe = np)))
    }

    // JL random-projection sketch as an ANN prefilter, measured as a
    // DIMENSION SWEEP: brute force in projected space alone, and the
    // 100 TB shape - projected shortlist (5k candidates) + exact-cosine
    // rerank. The uniform-cloud regime is JL's hostile case (neighbor
    // gaps are tiny, distortion at low d swamps them - the LSH caveat
    // above), so the artifact is the recall-vs-dimension CURVE: it must
    // climb toward 1 as d grows, and rerank must dominate the bare
    // sketch at every d.
    graft.functions.CosineSimilarity.register(spark)
    val qv = corpus.select(col("vec_id").cast("long").as("query_id"),
      col("embedding").as("_qv"))
    val cv = corpus.select(col("vec_id").cast("long").as("neighbor_id"),
      col("embedding").as("_cv"))
    val jlRecalls = Seq(8, 16, 32).map { d =>
      val proj = Similarity.randomProjectFrame(corpus, "vec_id", "embedding", d)
        .groupBy(col("vec_id"))
        .agg(array_sort(collect_list(struct(col("j"), col("comp")))).as("_s"))
        .select(col("vec_id"),
          expr("transform(_s, x -> cast(x.comp as float))").as("embedding"))
      val projQ = proj.filter(col("vec_id") < nQueries)
      val bare = truthPairs(
        Similarity.bruteForceTopK(proj, projQ, "vec_id", "embedding", k))
      report(f"jl$d%-2d", bare)
      val cand = Similarity.bruteForceTopK(proj, projQ, "vec_id", "embedding", 5 * k)
        .select(col("query_id").cast("long"), col("neighbor_id").cast("long"))
      val rerank = cand.join(broadcast(qv), Seq("query_id"))
        .join(cv, Seq("neighbor_id"))
        .withColumn("_sim",
          graft.functions.CosineSimilarity.cosine(col("_cv"), col("_qv")))
        .withColumn("_rk", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("query_id"))
            .orderBy(col("_sim").desc, col("neighbor_id").asc)))
        .filter(col("_rk") <= k)
      val reranked = truthPairs(rerank)
      report(f"jl$d%-2d+rerank", reranked)
      require(truth.intersect(reranked).size >= truth.intersect(bare).size,
        s"shortlist+rerank lost recall vs the bare sketch at d=$d")
      truth.intersect(reranked).size
    }
    require(jlRecalls.last >= jlRecalls.head,
      s"JL rerank recall must not DECAY as dimensions grow: $jlRecalls")

    // MMR diversification effect, measured: mean intra-list pairwise cosine
    // of the relevance top-k vs the MMR-reranked top-k from a 3k candidate
    // pool. MMR must trade a little relevance for measurably lower
    // redundancy; the delta is the artifact.
    val byId = corpus.select(col("vec_id").cast("long"), col("embedding"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def meanIntraSim(sel: org.apache.spark.sql.DataFrame): Double = {
      val lists = sel.select(col("query_id").cast("long"), col("neighbor_id").cast("long"))
        .collect().groupBy(_.getLong(0)).values.map(_.map(_.getLong(1)))
      val sims = lists.flatMap { ids =>
        for { i <- ids.indices; j <- (i + 1) until ids.length }
          yield Similarity.cosineScala(byId(ids(i)), byId(ids(j)))
      }.toSeq
      if (sims.isEmpty) 0.0 else sims.sum / sims.size
    }
    val pool = Similarity.bruteForceTopK(corpus, queries, "vec_id", "embedding", 3 * k)
    val relevanceSim = meanIntraSim(pool.filter(col("rank") <= k))
    val mmrSim = meanIntraSim(
      Similarity.mmrRerank(pool, corpus, "vec_id", "embedding", k, lambda = 0.5))
    println(f"=== mmr: intra-list cosine $relevanceSim%.4f (relevance top-$k) -> $mmrSim%.4f (mmr top-$k of ${3 * k}) ===")
    require(mmrSim <= relevanceSim,
      "MMR must not INCREASE intra-list similarity over the relevance ranking")
    spark.stop()
  }
}
