package graft.tools

import graft.queries.Registry

/** Prints physical plans for the core queries so pushdown, broadcast, and
  * whole-stage-codegen coverage can be audited (SURVEY.md §4 discipline).
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val spark = graft.LocalSpark()
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("q_status_summary", "q_filter_files", "q_parent_join",
        "q_upsert_lastwins", "q_lineitem_agg", "q_top_statuses",
        // r4 additions worth auditing: partitioned shard window, lattice
        // Expand, range-frame window, null-safe hash join, blocked fuzzy join
        "q_shuffle_shards", "q_grouping_sets", "q_rolling_hour",
        "q_nullsafe_join", "q_fuzzy_match",
        // r5: object-boundary span pass + keyed flag join, pair-count top-k,
        // codegen bit-interleave, WindowGroupLimit'd fixed-k sample,
        // window-expansion sliding agg
        "q_span_dedup", "q_bpe_pairs", "q_zorder", "q_fixed_sample",
        "q_sliding_windows",
        // r6: sketch-threshold broadcast clip, composed curation chain,
        // against-family bucket joins
        "q_winsorize_approx", "q_curate_summary",
        "q_minhash_against", "q_embed_against",
        // r7: bloom prefilter below the anti-join, broadcast codebook
        // argmax loop, DSIR broadcast scorer, query-partitioned rank eval
        "q_dedup_bloom", "q_kmeans_refine", "q_dsir_select", "q_ndcg_eval")
    names.foreach { n =>
      println(s"===== $n =====")
      Registry.queries(n)(spark, dir).explain("formatted")
    }
    // native expression: SQL surface + codegen placement
    println("===== graft_cosine (SQL surface) =====")
    graft.functions.CosineSimilarity.register(spark)
    spark.read.parquet(s"$dir/embeddings.parquet")
      .createOrReplaceTempView("embeddings")
    val q = spark.sql(
      """SELECT a.vec_id, b.vec_id AS other, graft_cosine(a.embedding, b.embedding) AS sim
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |ORDER BY sim DESC LIMIT 5""".stripMargin)
    q.explain("codegen")
    q.show()
    spark.stop()
  }
}
