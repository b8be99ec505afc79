package graft.queries

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.execution.{FileSourceScanExec, RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions.col

import graft.SparkSpec
import graft.ingest.{Coerce, XlsxRawSource, XlsxWriter}
import graft.model.TransferSchema
import graft.ops.Enrich
import graft.pipeline.{Pipeline, PipelineFixture}
import graft.views.Analytic

/** Plan-regression guards: the physical shapes that make these queries
  * scale (broadcasts, pruned scans, top-k without global sort, window
  * pre-filtering) must not silently degrade.
  */
class PlanShapeSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private def plan(name: String): String =
    Registry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  /** A corpus-order window prints `Window [exprs], [], [order]` — an
    * EMPTY partition spec followed by an order spec. The older
    * `windowexec`-token disjunct was vacuously true (plans print
    * "Window", never "WindowExec"), so this is the non-vacuous form
    * used by every no-global-order pin below.
    */
  private def assertNoCorpusOrderWindow(name: String, p: String): Unit =
    assert(!p.contains("], [], ["),
      s"$name: corpus-order (unpartitioned, ordered) window:\n$p")

  private object nodes extends AdaptiveSparkPlanHelper {
    def joins(p: SparkPlan): Int = collect(p) { case j: BaseJoinExec => j }.size
    def fileScans(p: SparkPlan): Int = collect(p) { case s: FileSourceScanExec => s }.size
    def rddScans(p: SparkPlan): Int = collect(p) { case s: RDDScanExec => s }.size
    def inMemoryScans(p: SparkPlan): Int = collect(p) { case s: InMemoryTableScanExec => s }.size
  }

  test("q_parent_join: Parents adds no join and reads its input once") {
    // the forest itself is built with two broadcast joins over five scans;
    // the parent pass on top must add neither a join nor a second read
    val forest = Registry.forestNodes(spark, dir).drop("parent_id")
      .queryExecution.executedPlan
    val p = Registry.queries("q_parent_join")(spark, dir).queryExecution.executedPlan
    assert(nodes.joins(p) === nodes.joins(forest), p.toString)
    assert(nodes.fileScans(p) === nodes.fileScans(forest), p.toString)
  }

  test("import write job: one workbook scan, no join") {
    val dir = Files.createTempDirectory("graft-one-scan").toFile
    def row(name: String, id: String, status: String): Seq[String] =
      Seq(name, "0", "", id) ++ Seq.fill(11)("") ++ Seq(status, "", "", "")
    Seq("JobA" -> Seq(row("Root", "1", "success"), row("Root/a", "2", "success"),
        row("Root/b", "", "success"), row("Root/b", "", "success"), row("", "", "")),
      "JobB" -> Seq(row("Root/a", "2", "resent"), row("Root/c", "3", "success"))).foreach {
      case (job, rows) => XlsxWriter.write(new File(dir, s"$job.xlsx"), "Transfer Report",
        TransferSchema.excelHeaders, rows.iterator)
    }
    val resolved = Pipeline.runWithQuarantine(spark, dir.getPath, XlsxRawSource)._1
    val out = resolved.collect()
      .map(r => (r.getAs[String]("file_name"), Option(r.getAs[String]("parent_id")))).sortBy(_._1).toSeq
    assert(out === Seq(("Root", None), ("Root/a", Some("1")), ("Root/b", Some("1")),
      ("Root/b", Some("1")), ("Root/c", Some("1"))))
    // the final adaptive plan of the job that just ran
    val p = resolved.queryExecution.executedPlan
    assert(nodes.rddScans(p) === 1, p.toString)
    assert(nodes.joins(p) === 0, p.toString)
  }

  test("registered views: a lookup and a preview scan the in-memory copy, not the parquet files") {
    val path = Files.createTempDirectory("graft-views").resolve("db").toString
    Pipeline.resolve(Enrich(Coerce(PipelineFixture.raw(spark)))).write.parquet(path)
    Analytic.registerAll(spark, spark.read.parquet(path))
    Seq(spark.table("transfer_data").filter(col("parent_id") === "1002").select("file_name", "target_file_id"),
      spark.table("files_view").select("file_name", "source_file_size").limit(10)).foreach { q =>
      val p = q.queryExecution.executedPlan
      assert(nodes.inMemoryScans(p) === 1, p.toString)
      assert(nodes.fileScans(p) === 0, p.toString)
    }
  }

  test("q_status_summary: pruned scan + two-phase hash aggregate") {
    val p = plan("q_status_summary")
    assert(p.contains("HashAggregate"))
    // only the two referenced columns reach the parquet reader
    assert(p.contains("ReadSchema: struct<o_orderstatus:string,o_totalprice:double>"))
  }

  test("q_top_statuses: TakeOrderedAndProject, no global Sort") {
    val p = plan("q_top_statuses")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("q_upsert_lastwins: WindowGroupLimit pre-filters the dedup window") {
    val p = plan("q_upsert_lastwins")
    assert(p.contains("WindowGroupLimit"))
  }

  test("q_filter_files: filter does not force a wide scan") {
    val p = plan("q_filter_files")
    assert(p.contains(
      "ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_discount:double>"))
  }

  test("q_ann_cosine: query side broadcast, native cosine in plan") {
    val p = plan("q_ann_cosine")
    assert(p.contains("graft_cosine"))
    assert(p.contains("Broadcast"))
  }

  test("q_ann_lsh / q_ann_ivf: bounded query batch broadcasts; corpus never shuffles into the join") {
    for (name <- Seq("q_ann_lsh", "q_ann_ivf")) {
      val p = plan(name)
      assert(p.contains("BroadcastHashJoin"), s"$name lost the broadcast candidate join")
      assert(!p.contains("SortMergeJoin"), s"$name degraded to a sort-merge join")
      assert(!p.contains("CartesianProduct"), s"$name degraded to a cross join")
    }
  }

  test("q_asof_join: one keyed window, no join at all in the physical plan") {
    val p = plan("q_asof_join")
    assert(p.contains("Window"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "as-of degenerated into a per-row probe join")
  }

  test("q_range_join: bucketized equi hash join, never a nested-loop range join") {
    val p = plan("q_range_join")
    assert(p.contains("HashJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q_revenue_by_nation: dimensions broadcast; no cartesian") {
    val p = plan("q_revenue_by_nation")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("q_contamination: benchmark shingles broadcast; corpus side never shuffles pre-join") {
    val p = plan("q_contamination")
    assert(p.contains("BroadcastHashJoin"), "benchmark side lost its broadcast")
    assert(!p.contains("CartesianProduct"))
  }

  test("q_embed_neardup: block-keyed equi join, never a nested-loop pair scan") {
    val p = plan("q_embed_neardup")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      "blocked pair join lost its equi-join key")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "blocked pairs degenerated into an all-pairs scan")
  }

  test("q_calibration / q_length_batches: one-row anchor broadcast / bucket-partitioned window") {
    val pc = plan("q_calibration")
    assert(pc.contains("graft_cosine"), "calibration lost the native cosine kernel")
    assert(!pc.contains("SortMergeJoin"), "the one-row anchor must broadcast")
    val pl = plan("q_length_batches")
    assert(!pl.contains("Join"), s"length batching must not join:\n$pl")
    assert(!pl.contains("SinglePartition"),
      s"length batching grew a single-partition funnel:\n$pl")
  }

  test("q_cdc_overlap: hash-keyed chunk join, never a nested-loop pair scan") {
    val p = plan("q_cdc_overlap")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"chunk overlap degraded to an all-pairs scan:\n$p")
  }

  test("q_embed_quant: object-boundary quantize — no HOF folds for constraint inference to duplicate") {
    val p = plan("q_embed_quant")
    assert(!p.contains("array_max"),
      s"the max fold leaked back into expression form (O(dim²) filter trap):\n$p")
    assert(!p.contains("Join"), s"quantize must not join:\n$p")
    val exchanges = "Exchange".r.findAllIn(p).size
    val rangeExchanges = "rangepartitioning".r.findAllIn(p.toLowerCase).size
    assert(exchanges === rangeExchanges, s"quantize grew a non-sort shuffle:\n$p")
  }

  test("q_gopher_quality: one object-boundary pass, no join, no shuffle except the output sort") {
    val p = plan("q_gopher_quality")
    val exchanges = "Exchange".r.findAllIn(p).size
    val rangeExchanges = "rangepartitioning".r.findAllIn(p.toLowerCase).size
    assert(exchanges === rangeExchanges, s"gopher grew a non-sort shuffle:\n$p")
    assert(!p.contains("Join"), s"gopher must not join:\n$p")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      "gopher reads more than (doc_id, text)")
  }

  test("q_pii_scrub / q_doc_fingerprint: narrow scan, no shuffle except the output sort") {
    for (name <- Seq("q_pii_scrub", "q_doc_fingerprint")) {
      val p = plan(name)
      val exchanges = "Exchange".r.findAllIn(p).size
      val rangeExchanges = "rangepartitioning".r.findAllIn(p.toLowerCase).size
      assert(exchanges === rangeExchanges,
        s"$name grew a non-sort shuffle:\n$p")
      assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
        s"$name reads more than (doc_id, text)")
    }
  }

  test("q_cluster_survivors: rank and count windows share one cluster_id exchange") {
    val p = plan("q_cluster_survivors")
    val clusterShuffles = "hashpartitioning\\(cluster_id".r.findAllIn(p).size
    assert(clusterShuffles === 1,
      s"expected the twin windows to reuse one cluster_id exchange, got $clusterShuffles:\n$p")
  }

  test("q_domain_sample: stratum thresholds broadcast onto the corpus — no data shuffle") {
    val p = plan("q_domain_sample")
    assert(p.contains("BroadcastHashJoin"), "threshold table lost its broadcast")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("q_chunk_dedup: hash-keyed frequency join, never an all-pairs scan") {
    val p = plan("q_chunk_dedup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("HashAggregate"))
  }

  test("q_tfidf_terms: doc-partitioned window (no global sort), keyed joins only") {
    val p = plan("q_tfidf_terms")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    // the rank window must partition by doc_id, not sort the world
    assert(p.contains("Window"))
    assert("hashpartitioning\\(doc_id".r.findAllIn(p).nonEmpty,
      s"rank window lost its doc_id partitioning:\n$p")
  }

  test("q_bm25_search: top-k via TakeOrderedAndProject; term-df joins broadcast") {
    val p = plan("q_bm25_search")
    assert(p.contains("TakeOrderedAndProject"), "bm25 top-k degraded to a global sort")
    assert(p.contains("BroadcastHashJoin"), "term document-frequency join lost its broadcast")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q_json_extract: narrow pruned scan of (props, user_id, value)") {
    val p = plan("q_json_extract")
    assert(p.contains("ReadSchema: struct<user_id:bigint,value:double,props:string>") ||
      p.contains("ReadSchema: struct<props:string,user_id:bigint,value:double>"),
      s"q_json_extract reads more than the three referenced columns:\n$p")
  }

  test("q_shuffle_shards: shard-partitioned window, no single-partition funnel") {
    val p = plan("q_shuffle_shards")
    assert(!p.contains("SinglePartition"),
      s"shuffle-shards must order within hash-partitioned shards:\n$p")
  }

  test("q_event_deltas: user-partitioned window, pruned scan (no props/value)") {
    val p = plan("q_event_deltas")
    assert(!p.contains("SinglePartition"), p)
    assert(!p.contains("props"), s"unreferenced wide column reaches the scan:\n$p")
  }

  test("q_train_split / q_cube: hash aggregates, no single-partition exchange") {
    Seq("q_train_split", "q_cube").foreach { q =>
      val p = plan(q)
      assert(p.contains("HashAggregate"), s"$q:\n$p")
      assert(!p.contains("SinglePartition"), s"$q:\n$p")
    }
  }

  test("q_fuzzy_match / q_semantic_clusters: blocked equi joins, never nested-loop") {
    Seq("q_fuzzy_match", "q_semantic_clusters").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q:\n$p")
    }
  }

  test("q_nullsafe_join: null-safe equality stays a hash join (EqualNullSafe is an equi key)") {
    val p = plan("q_nullsafe_join")
    assert(p.contains("HashJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_bpe_pairs: top-k via TakeOrderedAndProject over one partial-agg shuffle") {
    val p = plan("q_bpe_pairs")
    assert(p.contains("TakeOrderedAndProject"), "top-k degraded to a global sort")
    // partial+final hash agg: heavy-hitter pairs collapse map-side
    assert(p.contains("HashAggregate"))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("q_fixed_sample: WindowGroupLimit caps per-stratum state at k") {
    val p = plan("q_fixed_sample")
    assert(p.contains("WindowGroupLimit"),
      "rank pre-filter lost — the window would sort whole strata")
  }

  test("q_zorder: narrow two-column scan, no joins/shuffles beyond the output sort") {
    val p = plan("q_zorder")
    assert(p.contains("ReadSchema: struct<event_id:bigint,user_id:bigint>"),
      "z-value query should read only its two key columns")
    // the interleave is pure shift/and/or built-ins: a row-local Project —
    // any aggregate or join appearing here means the law leaked a shuffle
    assert(!p.contains("Join") && !p.contains("HashAggregate"))
  }

  test("q_map_ops / q_sliding_windows: two-phase hash aggregates, no single-partition funnel") {
    for (name <- Seq("q_map_ops", "q_sliding_windows")) {
      val p = plan(name)
      assert(p.contains("HashAggregate") || p.contains("ObjectHashAggregate"),
        s"$name lost its hash aggregate")
      // final orderBy is the only global exchange allowed
      assert(!p.contains("CartesianProduct"), name)
    }
  }

  test("q_span_dedup: doc-keyed windows, no cartesian, no single-partition funnel") {
    val p = plan("q_span_dedup")
    assert(!p.contains("CartesianProduct"), "span flagging degraded to all-pairs")
    assert(!p.contains("SinglePartition"),
      "a global exchange crept into the anchor/island windows")
  }

  test("q_winsorize_approx: sketch thresholds broadcast back; no window, no stratum sort") {
    val p = plan("q_winsorize_approx")
    assert(p.contains("BroadcastHashJoin"), "band clip lost its broadcast")
    assert(!p.contains("Window"), s"scale form must not per-stratum rank:\n$p")
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_minhash_against / q_embed_against: bucket/block equi-joins, never a cross join") {
    for (name <- Seq("q_minhash_against", "q_embed_against")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), s"$name degraded to all-pairs")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$name degraded to a probe join")
    }
  }

  test("q_cluster_centroids: hash-aggregated accumulators, no cartesian") {
    val p = plan("q_cluster_centroids")
    assert(p.contains("HashAggregate"), "centroid sums lost the hash aggregate")
    assert(!p.contains("CartesianProduct"), "cartesian crept into the centroid path")
  }

  test("q_dsir_select: ratio table broadcasts into the scorer; top-k without global sort") {
    val p = plan("q_dsir_select")
    // the ≤256-row ratio table must be the broadcast side of the token join
    assert(p.contains("BroadcastHashJoin"), "ratio-table join lost its broadcast")
    assert(!p.contains("CartesianProduct"), "cartesian crept into the scoring path")
    // doc weights: partial-agg'd hash aggregate, top-50 via TakeOrdered
    assert(p.contains("HashAggregate"))
    assert(p.contains("TakeOrderedAndProject"), "top-k degraded to a global sort")
  }

  test("q_mmr_select: candidate stage broadcasts both ways; greedy never sees the corpus") {
    val p = plan("q_mmr_select")
    assert(p.contains("graft_cosine"), "relevance stage lost the native cosine kernel")
    assert(p.contains("BroadcastHashJoin"), "vector re-attach lost its broadcast")
    assert(!p.contains("SortMergeJoin"), "a corpus-sized shuffle crept into MMR")
    assert(!p.contains("CartesianProduct"))
  }

  test("q_hard_negatives: query side broadcasts, no sort-merge/cartesian") {
    val p = plan("q_hard_negatives")
    assert(p.contains("Broadcast"), "query side lost its broadcast")
    assert(!p.contains("SortMergeJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("q_ndcg_eval: query side broadcasts; ranking windows stay query-partitioned") {
    val p = plan("q_ndcg_eval")
    assert(p.contains("Broadcast"), "query side lost its broadcast")
    assert(!p.contains("CartesianProduct"))
    // the ranking windows must sit on a per-query hash exchange — a
    // degradation to a global (un-partitioned) window would show up as the
    // group key vanishing from the partitioning
    assert(p.contains("Window"), "ranking windows vanished from the plan")
    assert(p.contains("hashpartitioning(_g"),
      "windows lost their per-query partitioning (global-window funnel)")
  }

  test("q_kmeans_refine: codegen argmax kernel; ONE corpus exchange, no per-round rejoin") {
    val p = plan("q_kmeans_refine")
    assert(p.contains("BroadcastNestedLoopJoin"), "codebook cross join lost its broadcast")
    assert(p.contains("graft_nearest_centroid"),
      "assignment regressed off the codegen'd argmax kernel")
    assert(!p.contains("CartesianProduct"))
    // the corpus-sized join back to the raw vectors (a shuffled join per
    // round) must stay gone — assignment reads _v off its own row
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "a per-round corpus re-join crept back into the refinement loop")
    // one corpus-wide exchange per round in the STATIC plan — just the
    // repeated _vid barrier subtree (2 rounds), which AQE collapses to a
    // single live exchange + ReusedExchange at runtime (asserted below);
    // the old shape carried an additional groupBy(_vid) argmax exchange
    // AND a corpus join per round on top of it
    val corpusExchanges = "Exchange hashpartitioning\\(_vid".r.findAllIn(p).length
    assert(corpusExchanges == 2,
      s"expected the per-round _vid barrier subtree twice, found $corpusExchanges")
    val df = Registry.queries("q_kmeans_refine")(spark, dir)
    df.collect()
    assert(df.queryExecution.executedPlan.toString.contains("ReusedExchange"),
      "AQE stopped reusing the _vid barrier across rounds")
  }

  test("q_dedup_bloom: might-contain prefilter below the anti-join, no cartesian") {
    val p = plan("q_dedup_bloom")
    assert(p.contains("graft_might_contain"), "bloom prefilter fell out of the plan")
    assert(p.contains("LeftAnti"), "exact verify anti-join missing")
    assert(!p.contains("CartesianProduct"))
  }

  test("q_dedup_store: stored bloom prefilter below the anti-join, no cartesian") {
    val p = plan("q_dedup_store")
    assert(p.contains("graft_might_contain"), "stored bloom prefilter fell out of the plan")
    assert(p.contains("LeftAnti"), "exact verify anti-join missing")
    assert(!p.contains("CartesianProduct"))
  }

  test("q_minhash_store: banded bucket join from stored signatures, no cartesian") {
    val p = plan("q_minhash_store")
    assert(!p.contains("CartesianProduct"))
    // reference side must come from the store's parquet, not a recompute:
    // the scan list shows the signatures directory
    assert(p.contains("signatures"), "stored-signature scan missing from the plan")
  }

  test("q_simhash_store: chunk join from stored signatures feeds the anti-join, no cartesian") {
    val p = plan("q_simhash_store")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("simhash_signatures"),
      "stored-signature scan missing from the plan")
    assert(p.contains("LeftAnti"), "survivor anti-join missing")
  }

  test("q_centroid_store: load is one re-aggregation over the store scan") {
    val p = plan("q_centroid_store")
    assert(p.contains("HashAggregate"), "partial-sum re-aggregation missing")
    assert(p.contains("centroids"), "centroid-store scan missing from the plan")
    assert(!p.contains("CartesianProduct"))
  }

  test("q_bm25_store: term filter reaches the postings scan; top-k without global sort") {
    val p = plan("q_bm25_store")
    assert(p.contains("postings"), "stored-postings scan missing from the plan")
    // the query-vocabulary filter must push into the parquet scan, where
    // the token-sorted layout prunes row groups
    assert(p.contains("PushedFilters: [In(token"),
      "term filter failed to push into the postings scan")
    assert(p.contains("TakeOrderedAndProject"), "top-k degraded to a global sort")
    assert(!p.contains("CartesianProduct"))
  }

  test("q_c4_clean / q_char_diversity / q_readability / q_lexical_diversity / q_script_mix: one narrow object-boundary pass, no join, no window") {
    for (name <- Seq("q_c4_clean", "q_char_diversity", "q_readability",
        "q_lexical_diversity", "q_script_mix", "q_line_shapes")) {
      val p = plan(name)
      assert(!p.contains("Join"), s"$name must not join:\n$p")
      assert(!p.contains("Window"), s"$name must not window:\n$p")
      assert(!p.contains("CartesianProduct"), name)
      // only (doc_id, text) may reach the parquet reader
      assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
        s"$name scans more than the two consumed columns")
    }
  }

  test("q_cdc_store: stored chunk-hash scan feeds an equi-join, no cartesian, no reference re-chunk") {
    val p = plan("q_cdc_store")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("cdc_chunks"), "stored chunk-hash scan missing from the plan")
    // exactly ONE mapPartitions chunking pass (the incoming side): the
    // reference side must come from the store, not a second chunk run
    val chunkPasses = "SerializeFromObject".r.findAllIn(p).length
    assert(chunkPasses <= 1, s"reference side re-chunked: $chunkPasses object passes\n$p")
  }

  test("q_tv_drift: token join stays hash-keyed; small sides broadcast; no cartesian blow-up") {
    val p = plan("q_tv_drift")
    // the only permissible nested-loop is the 1-row corpus-total broadcast;
    // a CartesianProduct would mean the stratum×vocab union materialized
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"per-stratum totals lost their broadcast:\n$p")
    assert(p.contains("HashAggregate"), p)
    // token-keyed count join must not degrade to a nested loop: every Join
    // in the plan is either hash-keyed or the 1-row broadcast
    val nested = "BroadcastNestedLoopJoin".r.findAllIn(p).length
    assert(nested <= 1, s"more than the 1-row total uses a nested loop:\n$p")
  }

  test("q_rake_phrases: ONE corpus chop pass, word-stat join hash-keyed, top-k never a global sort") {
    val p = plan("q_rake_phrases")
    assert(p.contains("TakeOrderedAndProject"), s"rake top-k degraded to a global sort:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"rake scoring join degraded to a nested loop:\n$p")
    // the one-pass claim: word stats derive from the distinct-phrase agg,
    // which localCheckpoints (r19 optimization round — the exchange-reuse
    // mechanism this pin used to ride was found NOT firing in the
    // executed plan, re-running the chop pass), so the executed plan
    // roots at the materialized phrase table and the object-boundary
    // chop executes exactly once
    val df = Registry.queries("q_rake_phrases")(spark, dir)
    df.collect()
    val ep = df.queryExecution.executedPlan.toString
    assert(ep.contains("ExistingRDD"),
      s"scoring no longer reads the materialized phrase table:\n$ep")
    assert(!ep.contains("SerializeFromObject"),
      s"the corpus chop leaked back into the scoring plan:\n$ep")
  }

  test("q_tv_drift_store: baseline comes from the store scan; joins hash-keyed") {
    val p = plan("q_tv_drift_store")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("token_counts"), s"stored baseline scan missing from the plan:\n$p")
    val nested = "BroadcastNestedLoopJoin".r.findAllIn(p).length
    assert(nested <= 1, s"more than the 1-row total uses a nested loop:\n$p")
  }

  test("q_shingle_novelty: one chop pass; frequency via the window, not a self-join") {
    val p = plan("q_shingle_novelty")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("Window"), s"shingle frequency lost the count-only window:\n$p")
    val objPasses = "SerializeFromObject".r.findAllIn(p).length
    assert(objPasses == 1, s"shingle chop runs $objPasses times:\n$p")
  }

  test("q_lang_mix: one narrow pass; windows never leave the closure") {
    val p = plan("q_lang_mix")
    assert(!p.contains("Join"), s"lang-mix must not join:\n$p")
    assert(!p.contains("Window"), p)
    val objPasses = "SerializeFromObject".r.findAllIn(p).length
    assert(objPasses == 1, s"lang-mix pass runs $objPasses times:\n$p")
  }

  test("q_pmi_collocations: count joins hash-keyed; only the 2 one-row totals nested-loop; top-k bounded") {
    val p = plan("q_pmi_collocations")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("TakeOrderedAndProject"), s"pmi top-k degraded to a global sort:\n$p")
    val nested = "BroadcastNestedLoopJoin".r.findAllIn(p).length
    assert(nested <= 2, s"a count join degraded to a nested loop:\n$p")
  }

  test("q_metric_corr: one narrow pass + one aggregate; no join, no window") {
    val p = plan("q_metric_corr")
    assert(!p.contains("Join"), s"corr must not join:\n$p")
    assert(!p.contains("Window"), p)
    assert(p.contains("HashAggregate") || p.contains("SortAggregate"), p)
  }

  test("q_lm_score: model joins hash-keyed; only the 1-row V total nested-loops") {
    val p = plan("q_lm_score")
    assert(!p.contains("CartesianProduct"), p)
    val nested = "BroadcastNestedLoopJoin".r.findAllIn(p).length
    assert(nested <= 1, s"bigram/prefix join degraded to a nested loop:\n$p")
    assert(p.contains("HashAggregate"), p)
  }

  test("q_lm_store: model comes from the store scan — exactly one object pass (the doc side)") {
    val p = plan("q_lm_store")
    assert(!p.contains("CartesianProduct"), p)
    // the training side must be parquet count frames, not a re-run of the
    // bigram extraction: one SerializeFromObject = the incoming docs only
    val objPasses = "SerializeFromObject".r.findAllIn(p).length
    assert(objPasses <= 1, s"stored LM path re-trains: $objPasses object passes\n$p")
    assert(p.contains("lm_bigrams"), s"stored bigram scan missing from the plan:\n$p")
  }

  test("q_bpe_encode: one narrow encode pass, no join, no window") {
    val p = plan("q_bpe_encode")
    assert(!p.contains("Join"), s"encode must not join:\n$p")
    assert(!p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_oov_rate: vocab join hash-keyed, no cartesian, one doc-side agg") {
    val p = plan("q_oov_rate")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"token-vocab join degraded to a per-row probe:\n$p")
    assert(p.contains("HashAggregate"), p)
  }

  test("q_random_projection: one narrow object pass — no join, no window, only the output-sort exchange") {
    val p = plan("q_random_projection")
    assert(!p.contains("Join"), s"projection must not join:\n$p")
    assert(!p.contains("Window"), p)
    assert(!p.contains("HashAggregate"), p)
    // the oracle-gate orderBy is the ONLY allowed exchange, and it's a
    // range partitioning (sort), not a data shuffle the law needs
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges <= 1 && (exchanges == 0 || p.contains("rangepartitioning")),
      s"projection grew a non-sort shuffle:\n$p")
  }

  test("q_source_overlap: token self-join hash-keyed; only the tiny sizes frame nested-loops") {
    val p = plan("q_source_overlap")
    assert(!p.contains("CartesianProduct"), p)
    // sizes x sizes (strata-many rows) may nested-loop; the corpus-scale
    // (stratum, token) self-join must not
    val nested = "BroadcastNestedLoopJoin".r.findAllIn(p).length
    assert(nested <= 1, s"token intersection degraded to a nested loop:\n$p")
  }

  test("q_html_strip: pure projection over the scan — no shuffle except the output sort") {
    val p = plan("q_html_strip")
    assert(!p.contains("Join"), p)
    assert(!p.contains("HashAggregate"), p)
    // text + doc_id only reach the reader
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"), p)
  }

  test("q_pagerank: rounds pre-execute in one reuse-heavy job; result is a bounded top-k scan") {
    val p = plan("q_pagerank")
    // the iteration chain ran eagerly at the final materialization (so
    // the working-set blocks could release) — the returned frame must be
    // a block scan + top-k; the exchange-reuse mechanism the internal
    // chain relies on is pinned standalone in GraphSpec
    assert(p.contains("TakeOrderedAndProject"),
      s"rank top-k degraded to a global sort:\n$p")
    assert(p.contains("ExistingRDD") || p.contains("Scan ExistingRDD"),
      s"ranks must come from the materialized blocks:\n$p")
    assert(!p.contains("Join"), s"post-iteration projection must not join:\n$p")
  }

  test("q_rrf_fusion: bounded query side broadcast; one corpus pass feeds both system windows") {
    val p = plan("q_rrf_fusion")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"query batch lost its broadcast:\n$p")
    // the corpus parquet is scanned exactly once — l2 derives from the
    // same dot products as cosine, so a second scan means the derivation
    // regressed to a second vector pass. The THIRD scan is the r12 ANN
    // query-side boundedness guard's 1-row count of the PRUNED query
    // filter (vec_id < 5) — query-side, bounded, deliberate; a 4th scan
    // would mean the corpus side regressed
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans <= 3, s"corpus scans grew beyond corpus+query+guard:\n$p")
  }

  test("q_mad_outliers: medians broadcast back; corpus never sort-merge-joins") {
    val p = plan("q_mad_outliers")
    assert(p.contains("BroadcastHashJoin"), s"median join lost its broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("Window"), p)
  }

  test("q_score_norm: one stratum window + one hash aggregate, no join") {
    val p = plan("q_score_norm")
    assert(!p.contains("Join"), s"calibration must not join:\n$p")
    assert(p.contains("Window"), p)
    assert(p.contains("HashAggregate"), p)
  }

  test("q_kappa: contingency via hash aggregates; only label-vocabulary frames join") {
    val p = plan("q_kappa")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin"), p)
    val nested = "BroadcastNestedLoopJoin".r.findAllIn(p).length
    assert(nested <= 2, s"more than the 1-row totals nested-loop:\n$p")
    assert(p.contains("HashAggregate"), p)
  }

  test("q_keyness: token counts one aggregate; totals broadcast; top-k bounded") {
    val p = plan("q_keyness")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("TakeOrderedAndProject"),
      s"keyness top-k degraded to a global sort:\n$p")
    val nested = "BroadcastNestedLoopJoin".r.findAllIn(p).length
    assert(nested <= 1, s"only the 1-row totals may nested-loop:\n$p")
  }

  test("q_shard_balance: ONE corpus scan; total via the bounded post-aggregate window") {
    val p = plan("q_shard_balance")
    assert(!p.contains("Join"), s"balance report must not join:\n$p")
    // the total must come from the ≤nShards aggregated frame, not a second
    // corpus scan (the scalar-subquery shape this op replaced)
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans === 1, s"corpus scanned $scans times:\n$p")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,n_chars:bigint>"),
      s"scan must prune to the id + weight columns:\n$p")
    assert(p.contains("Window"), p)
  }

  test("q_dup_inflation: two hash aggregates over pruned scans, no join, no window") {
    val p = plan("q_dup_inflation")
    assert(!p.contains("Join"), s"inflation report must not join:\n$p")
    assert(!p.contains("Window"), p)
    assert(p.contains("HashAggregate"), p)
  }

  test("q_weighted_sample: narrow key computation + bounded top-k, nothing else") {
    val p = plan("q_weighted_sample")
    assert(p.contains("TakeOrderedAndProject"),
      s"E-S draw degraded to a global sort:\n$p")
    assert(!p.contains("Join"), p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("HashAggregate"), p)
  }

  test("q_source_kl: smoothing support is strata x vocabulary, never the corpus") {
    val p = plan("q_source_kl")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("HashAggregate"), p)
    // the |strata|-row frame and the 1-row totals broadcast; the token
    // left-join is hash-keyed
    val nested = "BroadcastNestedLoopJoin".r.findAllIn(p).length
    assert(nested <= 2, s"vocabulary support degraded beyond the 2 bounded frames:\n$p")
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q_embed_drift: ONE corpus scan; global centroid via the bounded post-aggregate window") {
    val p = plan("q_embed_drift")
    assert(!p.contains("Join"), s"drift must not join:\n$p")
    // the global per-dim sums and the vector counts both derive from the
    // single (grp, dim) aggregate — a second scan means a branch re-read
    // the corpus for one number
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans === 1, s"corpus scanned $scans times:\n$p")
    assert(p.contains("Window"), p)
  }

  test("q_tok_fertility: one object pass + one aggregate, no join, no window") {
    val p = plan("q_tok_fertility")
    assert(!p.contains("Join"), p)
    assert(!p.contains("Window"), p)
    val objPasses = "SerializeFromObject".r.findAllIn(p).length
    assert(objPasses == 1, s"fertility pass runs $objPasses times:\n$p")
    assert(p.contains("HashAggregate"), p)
  }

  test("q_group_split: narrow hash projection + one aggregate — no join, no window") {
    val p = plan("q_group_split")
    assert(!p.contains("Join"), s"group split must not join:\n$p")
    assert(!p.contains("Window"), p)
    assert(p.contains("HashAggregate"), p)
    assert(p.contains("ReadSchema: struct<source:string>"),
      s"scan must prune to the group column:\n$p")
  }

  test("q_bm25_batch: one corpus tf pass; dfreq + query map broadcast; per-query WindowGroupLimit") {
    val p = plan("q_bm25_batch")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("BroadcastHashJoin"), s"dfreq/query joins lost the broadcast:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"per-query top-k lost the rank pre-filter:\n$p")
  }

  test("q_uniform_negatives: bounded query broadcast; per-query WindowGroupLimit") {
    val p = plan("q_uniform_negatives")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("Broadcast"), s"query side lost its broadcast:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"draw ranking lost the rank pre-filter:\n$p")
  }

  test("q_trustrank: like q_pagerank — materialized rounds, bounded top-k result") {
    val p = plan("q_trustrank")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("ExistingRDD") || p.contains("Scan ExistingRDD"), p)
    assert(!p.contains("Join"), p)
  }

  test("q_mask_spans: narrow arithmetic + one explode — no shuffle but the output sort") {
    val p = plan("q_mask_spans")
    assert(!p.contains("Join"), p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("HashAggregate"), p)
    assert(p.contains("Generate"), s"span sequence lost its explode:\n$p")
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges <= 1 && (exchanges == 0 || p.contains("rangepartitioning")),
      s"masking grew a non-sort shuffle:\n$p")
  }

  test("q_concat_chunks: one shard shuffle + the per-shard ordered window, no join") {
    val p = plan("q_concat_chunks")
    assert(!p.contains("Join"), p)
    assert(p.contains("Window"), p)
    assert(!p.contains("SinglePartition"),
      s"stream offsets must stay shard-parallel:\n$p")
  }

  test("q_ks_drift: support is strata x distinct values; global cumulative is pid-partitioned") {
    val p = plan("q_ks_drift")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin"), p)
    val nested = "BroadcastNestedLoopJoin".r.findAllIn(p).length
    // two 1-row/|strata|-row broadcast frames ride the support: the
    // per-stratum counts and the corpus total (the r15 guard's third
    // frame is retired — the cumulative now distributes via PrefixSum)
    assert(nested <= 2, s"beyond the strata and 1-row-total frames nested-loop:\n$p")
    assert(p.contains("HashAggregate"), p)
    assert(p.contains("_ps_pid"),
      s"q_ks_drift's global cumulative lost the distributed prefix-sum shape:\n$p")
  }

  test("q_ks_store: stored-baseline KS rides the distributed prefix sum") {
    val p = plan("q_ks_store")
    assert(p.contains("_ps_pid"),
      s"q_ks_store lost the distributed prefix-sum shape:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_psi_drift: smoothing support is strata x observed bins, never the corpus") {
    val p = plan("q_psi_drift")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("HashAggregate"), p)
    // the |strata|-row frame and the 1-row totals broadcast; the bin
    // left-join is hash-keyed — the q_source_kl shape over value bins
    val nested = "BroadcastNestedLoopJoin".r.findAllIn(p).length
    assert(nested <= 2, s"bin support degraded beyond the 2 bounded frames:\n$p")
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q_rbo_eval: bounded depth expansion, query-keyed joins, no unpartitioned window") {
    val p = plan("q_rbo_eval")
    assert(!p.contains("CartesianProduct"), p)
    // every window partitions by query_id (the ranking windows) — no
    // corpus-wide single-task sort anywhere
    assert(!p.contains("windowspecdefinition()") &&
      "windowspecdefinition\\(query_id".r.findAllIn(p).nonEmpty, p)
    // the only nested-loop frames are the BROADCAST query batch against
    // the corpus, the k-row depth table, and (r12) the boundedness
    // guard's 1-row query count — which, like the query-batch broadcast
    // itself, appears once per plan consumer of the shared rankings
    // subtree (2 here, the rboAtKFromRankings scaladoc's known shape).
    // The overlap join itself stays keyed on query_id.
    val nested = "BroadcastNestedLoopJoin".r.findAllIn(p).length
    assert(nested <= 5, s"beyond the broadcast query-batch/depth/guard frames:\n$p")
    assert(p.contains("HashAggregate"), p)
  }

  test("q_token_gini: vocabulary-sized windows over one count aggregate, no join") {
    val p = plan("q_token_gini")
    assert(!p.contains("Join"), s"gini must not join:\n$p")
    assert(p.contains("Window"), p)
    assert(p.contains("HashAggregate"), p)
  }

  test("q_pii_density: narrow regex pass + one aggregate, pruned scan") {
    val p = plan("q_pii_density")
    assert(!p.contains("Join"), p)
    assert(!p.contains("Window"), p)
    assert(p.contains("HashAggregate"), p)
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string,source:string>"),
      s"scan must prune to id+text+stratum:\n$p")
  }

  test("q_pagerank_store: rounds run over checkpointed blocks of the STORED edges") {
    val p = plan("q_pagerank_store")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the edge working set materialized from the graph_edges artifact at
    // checkpoint time — the round plan roots at block scans and must not
    // re-derive the graph from the fact tables
    assert(p.contains("ExistingRDD") || p.contains("Scan ExistingRDD"), p)
    assert(!p.contains("lineitem"),
      s"query re-derived edges from the fact table:\n$p")
  }

  test("q_ks_store: baseline comes from the store scan; one batch histogram") {
    val p = plan("q_ks_store")
    assert(!p.contains("CartesianProduct"), p)
    // the stored-histogram scan runs inside the prefix-sum support's
    // one-time checkpoint materialization, so the FINAL plan shows the
    // checkpointed RDD, not the parquet scan — assert the support rides
    // the checkpoint, and pin the store scan on the loader frame itself
    // (the oracle pins that the VALUES come from the committed baseline)
    assert(p.contains("ExistingRDD"),
      s"prefix-sum support no longer the checkpointed frame:\n$p")
    assert(p.contains("HashAggregate"), p)
    val loader = graft.ops.RefStore.loadValueCounts(spark,
      Registry.valueStore(spark, dir))
    assert(loader.queryExecution.executedPlan.toString.contains("value_counts"),
      "stored histogram loader lost the value_counts scan")
  }

  test("q_canonical_remap: remap is one left join against the closed map blocks") {
    val p = plan("q_canonical_remap")
    assert(!p.contains("CartesianProduct"), p)
    // the closure ran at load (checkpointed blocks); the remap plan joins
    // corpus⋈map — hash- or broadcast-keyed, never nested-loop
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("ExistingRDD") || p.contains("BroadcastHashJoin") ||
      p.contains("SortMergeJoin"), p)
  }

  test("q_source_scorecard: five signal frames join without a cartesian") {
    val p = plan("q_source_scorecard")
    assert(!p.contains("CartesianProduct"), p)
    // the component laws carry their own bounded crossJoins (strata ×
    // vocab supports, 1-row totals) — printed twice in the formatted
    // tree; the cap documents "bounded frames only", not zero
    val nested = "BroadcastNestedLoopJoin".r.findAllIn(p).length
    assert(nested <= 10, s"a corpus-sized signal join degraded:\n$p")
    assert(p.contains("HashAggregate"), p)
  }

  test("q_event_funnel: stage joins keyed on the user; only 1-row stage counts nested-loop") {
    val p = plan("q_event_funnel")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("HashAggregate"), p)
  }

  test("q_cohort_retention: cohort/active joins hash-keyed, exact week arithmetic") {
    val p = plan("q_cohort_retention")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("HashAggregate"), p)
    // only user_id + ts reach the events reader
    assert(p.contains("ReadSchema: struct<ts:"), p)
  }

  test("q_decay_counts: 1-row max broadcasts; top-k bounded") {
    val p = plan("q_decay_counts")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("TakeOrderedAndProject"),
      s"decay top-k degraded to a global sort:\n$p")
    val nested = "BroadcastNestedLoopJoin".r.findAllIn(p).length
    assert(nested <= 1, s"only the 1-row max may nested-loop:\n$p")
  }

  test("q_source_keyness: per-stratum WindowGroupLimit; totals broadcast") {
    val p = plan("q_source_keyness")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("WindowGroupLimit"),
      s"per-stratum top-k lost the rank pre-filter:\n$p")
    val nested = "BroadcastNestedLoopJoin".r.findAllIn(p).length
    assert(nested <= 1, s"only the 1-row total may nested-loop:\n$p")
  }

  test("q_error_trend: one day aggregate + guarded bounded trailing window") {
    val p = plan("q_error_trend")
    // the only join is the Guards.boundedDomain 1-row broadcast attach —
    // the day-axis window's input bound is ENFORCED in-plan
    assert(p.contains("_guard_n") && p.contains("raise_error"),
      s"day-axis window lost its boundedDomain guard:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
    assert(p.contains("HashAggregate"), p)
    assert(p.contains("Window"), p)
    assert(p.contains("ReadSchema: struct<ts:"), p)
  }

  test("q_zipf_fit: top-R via TakeOrderedAndProject; only the bounded R-row frame hits the window") {
    val p = plan("q_zipf_fit")
    assert(p.contains("TakeOrderedAndProject"),
      s"count-table top-R degraded to a global sort:\n$p")
    assert(!p.contains("Join"), p)
    assert(p.contains("HashAggregate"), p)
  }

  test("q_label_prop: argmax is a max-of-struct aggregate — no window, no cartesian") {
    // a per-node window would funnel a super-node's votes into one task
    // BEFORE reducing (the AnnGuard rationale); the shape must stay
    // join + two hash aggregates per round
    val p = plan("q_label_prop")
    assert(!p.contains("Window"), s"LPA vote argmax degraded to a window:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("HashAggregate"), p)
  }

  test("q_adamic_adar: keyed apex join + top-k, no cartesian, no window") {
    val p = plan("q_adamic_adar")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Window"), p)
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k degraded to a global sort:\n$p")
  }

  test("q_hits: presentation reads the checkpointed score blocks; top-k bounded") {
    // the rounds' broadcast maxima live INSIDE hitsMicro's checkpointed
    // computation (GraphSpec pins their arithmetic); the returned plan
    // must be exactly a top-k over the |V|-row block scan — anything
    // deeper means the score frame lost its materialization and the
    // rounds would re-run per consumer
    val p = plan("q_hits")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-25 degraded to a global sort:\n$p")
    assert(p.contains("Scan ExistingRDD"),
      s"q_hits presentation no longer reads checkpointed blocks:\n$p")
    assert(!p.contains("Join"), p)
  }

  test("q_w1_drift: cumulative window is stratum-partitioned over the bounded bin grid") {
    val p = plan("q_w1_drift")
    assert(p.contains("windowspecdefinition(stratum"),
      s"W1 cumulative window lost its stratum partitioning:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_kendall_tau: pair expansion keyed on query_id, bounded by the broadcast query batch") {
    val p = plan("q_kendall_tau")
    assert(!p.contains("CartesianProduct"), p)
    // the ranking windows partition by query_id — never a corpus-wide sort
    assert(!p.contains("windowspecdefinition()") &&
      "windowspecdefinition\\(query_id".r.findAllIn(p).nonEmpty, p)
    // nested-loop frames: only the broadcast query batch against the
    // corpus plus the boundedness guard's 1-row count, once per consumer
    // of the shared rankings subtree (the q_rbo_eval known shape). The
    // C(k,2) pair self-join itself must stay keyed on query_id.
    val nested = "BroadcastNestedLoopJoin".r.findAllIn(p).length
    assert(nested <= 5, s"beyond the broadcast query-batch/guard frames:\n$p")
    assert(p.contains("HashAggregate"), p)
  }

  test("q_cer_eval: one narrow codegen'd projection — no join, no window, no shuffle beyond the sort") {
    val p = plan("q_cer_eval")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin") &&
      !p.contains("BroadcastHashJoin") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("windowspecdefinition"), p)
    assert(p.contains("levenshtein"), p)
  }

  test("q_acf_hourly: moments broadcast; cross-term join keyed on the shifted bin; no window") {
    val p = plan("q_acf_hourly")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("windowspecdefinition"), p)
    // the only nested-loop frames are the broadcast 24-row lag table and
    // the broadcast 1-row moment frame; the C_L join itself is hash-keyed
    val nested = "BroadcastNestedLoopJoin".r.findAllIn(p).length
    assert(nested <= 4, s"beyond the lag/moment broadcasts:\n$p")
    assert(p.contains("HashAggregate"), p)
  }

  test("q_top_component: covariance collected once, rounds driver-side; presentation is a local d-row frame") {
    val p = plan("q_top_component")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("windowspecdefinition"), p)
    // the corpus pass (upper-triangle Gram aggregate) runs at collect
    // time inside topComponentMicro; the 12 power rounds are exact
    // driver-side BigInt arithmetic over the d²-cell matrix (bounded by
    // the vector width), so the returned plan must be a local d-row
    // frame — a 12-round join tree here means the iteration fell back
    // into the plan
    assert(p.contains("LocalTableScan") || p.contains("Scan ExistingRDD"), p)
    assert(!p.contains("Join"), p)
  }

  test("q_embed_outliers: d-row moments broadcast back onto the corpus; bounded top-k; no window") {
    val p = plan("q_embed_outliers")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
    assert(!p.contains("windowspecdefinition"), p)
    assert(p.contains("BroadcastHashJoin"), "moments must broadcast:\n" + p)
    assert(p.contains("TakeOrderedAndProject"), "top-k must not global-sort:\n" + p)
  }

  test("q_pass_at_k, q_k_anonymity, q_l_diversity: ONE hash aggregate each — no join, no window") {
    Seq("q_pass_at_k", "q_k_anonymity", "q_l_diversity").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin") &&
        !p.contains("BroadcastHashJoin") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q:\n$p")
      assert(!p.contains("windowspecdefinition"), s"$q:\n$p")
      assert(p.contains("HashAggregate"), s"$q:\n$p")
    }
  }

  test("q_spearman_corr: rank tables broadcast back onto the corpus; no corpus-wide window") {
    val p = plan("q_spearman_corr")
    assert(p.contains("BroadcastHashJoin"),
      s"rank-table join lost its broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    // the only windows run over the per-VALUE frequency tables (bounded),
    // partitioned by nothing BY DESIGN — but the corpus itself must reach
    // them only as an aggregate, never sorted whole: the rank tables sit
    // under HashAggregate subtrees
    assert(p.contains("HashAggregate"), p)
  }

  test("ingest path: no single-partition exchange, no un-partitioned window") {
    // the full default pipeline (scan → coerce → enrich → upsert → parents)
    // must stay shuffle-parallel end to end: a SinglePartition exchange means
    // some stage funnels every ingest row through one task (the r1 global
    // arrival-seq window did exactly that)
    import java.nio.file.Files
    val d = Files.createTempDirectory("graft-plan-ingest").toString
    graft.pipeline.PipelineFixture.raw(spark).write.mode("overwrite").parquet(d)
    val p = graft.pipeline.Pipeline.run(spark, d)
      .queryExecution.executedPlan.toString
    assert(!p.contains("SinglePartition"),
      s"ingest plan funnels through one partition:\n$p")
  }

  test("q_ngram_jaccard / q_containment / q_dice_ngram: df-capped law — anti-join guard present, no cartesian, no corpus-order window") {
    // q_containment and q_dice_ngram share q_ngram_jaccard's capped
    // scaffold (Dedup.cappedNgramPairs) — all siblings carry the witness.
    // r19 optimization round: the shingle frame and the capped candidate
    // index localCheckpoint (the executed plan re-ran the object-boundary
    // shingle builder up to 12× without it), so the df-cap ANTI join now
    // lives in the index's materialization; the FINAL plan must root at
    // the checkpointed scans (ExistingRDD — the q_pagerank posture) with
    // the pair stage an equi join, never a cartesian, and no
    // corpus-order window. The anti-join law itself stays pinned at op
    // level (DedupSpec's capped-pair tests).
    for (name <- Seq("q_ngram_jaccard", "q_containment", "q_dice_ngram")) {
      val p = plan(name)
      assert(p.contains("ExistingRDD"),
        s"$name no longer rides the checkpointed shingle frames:\n$p")
      assert(!p.contains("CartesianProduct"), name)
      assertNoCorpusOrderWindow(name, p)
    }
  }

  test("q_rank_effect / q_lorenz_deciles / q_spearman_corr / q_kruskal_wallis / q_taub_corr / q_length_gini: the value-table prefix sum is pid-partitioned, never a single-task sort") {
    Seq("q_rank_effect", "q_lorenz_deciles", "q_spearman_corr",
      "q_kruskal_wallis", "q_taub_corr", "q_length_gini", "q_jonckheere",
      "q_cliffs_delta", "q_gamma_somers", "q_mood_median",
      "q_ansari_bradley", "q_brunner_munzel", "q_cuzick_trend",
      "q_mood_scale", "q_quade", "q_pettitt",
      "q_signed_rank", "q_lepage", "q_buishand",
      "q_fligner", "q_kpss", "q_conover_sr", "q_bartels",
      "q_cox_stuart", "q_median_ci", "q_durbin_watson").foreach { q =>
      val p = plan(q)
      assert(p.contains("_ps_pid"),
        s"$q lost the distributed prefix-sum shape:\n$p")
      assert(!p.contains("CartesianProduct"), q)
    }
    // KPSS's lag autocovariances must ride a dense-rank EQUI join on
    // _ckb — a range/nested-loop join over the bin table would be the
    // O(T·ℓ)→O(T²) regression the explode construction exists to
    // avoid (the 1-row scalar attach is a legitimate broadcast cross)
    val pk = plan("q_kpss")
    assert(pk.linesIterator.exists(l => l.contains("_ckb") &&
      (l.contains("HashJoin") || l.contains("SortMergeJoin"))),
      s"q_kpss lag join lost its equi-join shape:\n$pk")
    assert(!pk.linesIterator.exists(l => l.contains("_ckb") &&
      l.contains("NestedLoopJoin")),
      s"q_kpss lag join degenerated to a nested loop:\n$pk")
  }

  test("q_page_trend / q_friedman_w / q_quade: per-BLOCK windows only, semi-join completeness filter, no cartesian") {
    for (name <- Seq("q_page_trend", "q_friedman_w", "q_quade")) {
      val p = plan(name)
      // the within-block ranking must never collapse to a corpus-order
      // window (partitions are ≤ k rows by construction): every Window
      // node line must carry a partition key — the block key or the
      // prefix-sum pid (the old windowexec-token disjunct was
      // vacuously true: physical plans print "Window", never
      // "WindowExec")
      val winLines = p.linesIterator.filter(_.contains("Window [")).toList
      assert(winLines.nonEmpty && winLines.forall(l =>
        l.contains("_b#") || l.contains("_ps_pid")),
        s"$name: unpartitioned window in the block-ranking law:\n$p")
      assert(p.contains("LeftSemi"),
        s"$name lost the complete-block semi filter:\n$p")
      assert(!p.contains("CartesianProduct"), name)
    }
  }

  test("q_durbin: per-block windows only, distributed block-rank prefix sum, no cartesian") {
    val p = plan("q_durbin")
    // the rotating-one-out construction ranks blocks via PrefixSum —
    // never a one-task sort over the block axis
    assert(p.contains("_ps_pid"),
      s"q_durbin's block-rank construction lost the prefix-sum shape:\n$p")
    // within-block ranking must stay on ≤ k-row partitions
    val winLines = p.linesIterator.filter(_.contains("Window [")).toList
    assert(winLines.nonEmpty && winLines.forall(l =>
      l.contains("_b#") || l.contains("_ps_pid")),
      s"q_durbin: unpartitioned window in the block-ranking law:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_cvm_drift / q_ad_drift / q_kuiper_drift: the whole-curve laws share the KS prefix-sum shape") {
    for (name <- Seq("q_cvm_drift", "q_ad_drift", "q_kuiper_drift")) {
      val p = plan(name)
      assert(p.contains("_ps_pid"),
        s"$name's global cumulative lost the distributed prefix-sum shape:\n$p")
      assert(!p.contains("CartesianProduct"), name)
    }
  }

  test("q_qq_deciles / q_fleiss_kappa / q_mcnemar / q_runs_test / q_brown_forsythe / q_bhattacharyya / q_theil_sen: aggregate shapes, no cartesian beyond bounded broadcasts, no corpus-order window") {
    // q_theil_sen's day-pair range join runs as a nested loop over the
    // BOUNDED observed-day table (pairs of days, never events) — the
    // bounded-by-law posture; it must still never be a CartesianProduct
    for (name <- Seq("q_qq_deciles", "q_fleiss_kappa", "q_mcnemar",
      "q_runs_test", "q_brown_forsythe", "q_bhattacharyya",
      "q_theil_sen", "q_mann_kendall")) {
      val p = plan(name)
      assert(p.contains("HashAggregate") || p.contains("SortAggregate"), name)
      assert(!p.contains("CartesianProduct"), name)
      assertNoCorpusOrderWindow(name, p)
    }
  }

  test("q_rich_club / q_reciprocity / q_winnow_fp / q_burrows_delta / q_brier_decomp: histogram/semi-join/object-pass shapes, no cartesian, no corpus-order window") {
    for (name <- Seq("q_rich_club", "q_reciprocity", "q_winnow_fp",
      "q_burrows_delta", "q_brier_decomp")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), name)
      assertNoCorpusOrderWindow(name, p)
    }
    // reciprocity's mutual count: ONE aggregate over a flagged LEFT join
    // against the reversed distinct frame (r20 — was a LeftSemi count
    // plus a separate total count; the distinct frame makes the left
    // join row-preserving, never a pair blowup), both counts out of the
    // same HashAggregate pass
    val pr = plan("q_reciprocity")
    assert(pr.contains("LeftOuter"),
      s"q_reciprocity lost its row-preserving flagged left join:\n$pr")
    assert(pr.contains("count(1), count(_m") ||
      pr.contains("partial_count(1), partial_count(_m"),
      s"q_reciprocity's two counts no longer share one aggregate:\n$pr")
  }

  test("q_textrank: vocab cap broadcasts onto the pair stream; rank rounds never cartesian") {
    val p = plan("q_textrank")
    // r19 optimization round: vocab/edge/node frames and the final ranks
    // checkpoint ONCE (the pageRankMicro working-set posture — the old
    // lazily-composed rounds re-derived the corpus tokenization 192
    // times in one plan), so the presentation plan roots at the
    // materialized rank blocks: ExistingRDD + TakeOrdered, no join, no
    // cartesian. The vocab-cap broadcast law stays pinned at op level
    // (KeyphraseSpec's vocab-cap test).
    assert(p.contains("ExistingRDD"),
      s"q_textrank presentation no longer reads checkpointed ranks:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("TakeOrderedAndProject"),
      s"q_textrank top-k must be TakeOrdered, not a global sort:\n$p")
  }

  test("q_anova_f / q_welch_ttest / q_trend_test / q_map_eval / q_bartlett / q_jarque_bera / q_grubbs: one-pass moment/rank aggregates, no cartesian, no corpus-order window") {
    // all of these reduce the corpus in hash aggregates alone (DECIMAL
    // moment sums / bounded dose or query tables; Bartlett's per-group
    // log-variance terms are once-quantized so the cross-group sums
    // stay exact; Grubbs' argmax is a struct-max in the same pass);
    // anything joining rows to rows or imposing a global order would
    // break the scale contract
    for (name <- Seq("q_anova_f", "q_welch_ttest", "q_trend_test",
      "q_map_eval", "q_bartlett", "q_jarque_bera", "q_grubbs")) {
      val p = plan(name)
      assert(p.contains("HashAggregate") || p.contains("SortAggregate"), name)
      assert(!p.contains("CartesianProduct"), name)
      assertNoCorpusOrderWindow(name, p)
    }
  }

  test("q_hll_distinct / q_good_turing / q_perm_entropy: bounded aggregates, no corpus-order window, no cartesian beyond bounded broadcasts") {
    for (name <- Seq("q_hll_distinct", "q_good_turing", "q_perm_entropy")) {
      val p = plan(name)
      assert(p.contains("HashAggregate"), name)
      assert(!p.contains("CartesianProduct"), name)
      assertNoCorpusOrderWindow(name, p)
    }
  }

  /** Spark jobs launched while building AND collecting the named query,
    * isolated by job group. statusTracker drains the listener bus
    * asynchronously — poll until the count is stable.
    */
  private def jobCount(name: String): Int = {
    val sc = spark.sparkContext
    val group = s"jobpin-$name"
    sc.setJobGroup(group, group)
    try Registry.queries(name)(spark, dir).collect()
    finally sc.clearJobGroup()
    var last = -1
    var cur = sc.statusTracker.getJobIdsForGroup(group).length
    while (cur != last) {
      last = cur
      Thread.sleep(300)
      cur = sc.statusTracker.getJobIdsForGroup(group).length
    }
    cur
  }

  test("q_top_component: power rounds run DRIVER-SIDE — bounded job count") {
    // the r17 audit replaced 12 distributed power-iteration jobs over a
    // 16-row frame with exact BigInt rounds over the once-collected
    // covariance cells; the whole query is the covariance/moment collects
    // plus the final 1-frame collect. A re-distributed power loop would
    // add ~12 jobs — pin the ceiling well below that.
    // measured 10 on this config (covariance + moment + count collects,
    // AQE stage jobs included); the re-distributed loop adds 12 more
    val n = jobCount("q_top_component")
    assert(n <= 14,
      s"q_top_component spawned $n jobs — the distributed power-round pattern is back")
  }

  test("q_hodges_lehmann: bisection rounds bounded by the value RANGE, not rows") {
    // quantity spans ~50 integers → rankSearch resolves ALL FOUR ranks
    // (two middles + two Moses CI endpoints) in 2-3 batched k-ary
    // probe passes, each a prefix-sum pass of ~7 AQE stage jobs
    // (measured 29 on this config); a per-probe or per-rank regression
    // would multiply the pass count — pin the batched order of
    // magnitude
    val n = jobCount("q_hodges_lehmann")
    assert(n <= 60,
      s"q_hodges_lehmann spawned $n jobs — rankSearch should resolve " +
        "all ranks in ~log8(range) batched count passes")
  }

  test("q_seasonal_mk: the month key makes the day-pair stage a HASH join, never a nested loop") {
    // the Hirsch form's whole point at scale: a.m = b.m is an equi key
    // (inequality stays a residual), cutting pairs x12 AND keeping the
    // join off the BroadcastNestedLoop path the unconditioned form needs
    val p = plan("q_seasonal_mk")
    assert(p.linesIterator.exists(l =>
      (l.contains("HashJoin") || l.contains("SortMergeJoin")) &&
        l.contains("_m")),
      s"q_seasonal_mk pair stage lost its month equi-join:\n$p")
  }

  test("q_hl_pseudomedian: Walsh-median bisection also bounded by the value RANGE") {
    // per-customer spend shift in thousands spans ~a few thousand
    // integers → rankSearch resolves all four Walsh ranks (middles +
    // Tukey CI endpoints) in ~4-5 batched probe passes (measured 46
    // jobs on this config)
    val n = jobCount("q_hl_pseudomedian")
    assert(n <= 90,
      s"q_hl_pseudomedian spawned $n jobs — rankSearch should resolve " +
        "all ranks in ~log8(range) batched count passes")
  }

  test("q_hits: cadence-1 per-round checkpoints stay — job count floor and ceiling") {
    // the r17 audit pinned per-round materialization (auth THEN hub each
    // round, 5 rounds) + the final densify checkpoint: a lazy-composition
    // regression collapses the run to a handful of jobs (and re-doubles
    // the per-round subtree, measured 5.6 -> 7.8 s), while a per-round
    // densify would roughly double per-round work. Pin the band.
    // measured 82 on this config (11 checkpoints x ~7 AQE stage jobs);
    // the band is deliberately wide — it guards the ORDER of magnitude,
    // not the exact schedule
    val n = jobCount("q_hits")
    assert(n >= 30, s"q_hits ran only $n jobs — per-round checkpoints lost")
    assert(n <= 140, s"q_hits spawned $n jobs — per-round work multiplied")
  }
}
