package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Sequence packing for training-data pipelines: greedily fill fixed
  * token-budget bins ("packs") with documents, the standard step between
  * dedup/quality filtering and batch assembly — packed sequences waste no
  * padding tokens.
  *
  * Law (deterministic, oracle-checkable): documents are split into RANGES
  * by an integral range key (id boundaries, modulo classes, …); within a
  * range, docs are taken in id order and appended to the current pack
  * until the next doc would exceed `budget`, which starts a new pack. A
  * single doc larger than the budget gets its own pack. Pack identity is
  * `(range_id, pack_no)`.
  *
  * Scale shape: ranges are packed INDEPENDENTLY — one shuffle on the range
  * id, then a per-partition sorted sweep (mapPartitions; the sequential
  * fold is inherently order-dependent, so "globally sequential" would be a
  * single task — ranges are how packing parallelizes in practice, trading
  * at most one partially-filled pack per range). Boundaries are plan-time
  * literals; at scale they come from equi-depth id quantiles.
  */
object Packing {

  /** Assign each doc to a pack: output (idCol, cost, range_id, pack_no,
    * pack_id) with `pack_id = range_id * 1e9 + pack_no` for a flat key.
    * `rangeCol` must be integral in [0, nRanges).
    */
  def packGreedy(df: DataFrame, idCol: String, costCol: Column, budget: Long,
      rangeCol: Column, nRanges: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long").as("_id"), costCol.cast("long").as("_cost"),
        rangeCol.cast("int").as("_range"))
      .repartition(nRanges, col("_range"))
      .sortWithinPartitions("_range", "_id")
      .as[(Long, Long, Int)]
      .mapPartitions { it =>
        // consecutive range groups within the partition: reset at changes.
        // EXACT fold law (mirrors the recursive-CTE oracle): the range's
        // first doc anchors pack 0; every later doc starts a new pack iff
        // acc + cost > budget — no acc>0 special case, so a zero-cost doc
        // at a pack start does NOT let an over-budget doc join its pack
        var curRange = -1
        var packNo = 0L
        var acc = 0L
        it.map { case (id, cost, range) =>
          if (range != curRange) { curRange = range; packNo = 0L; acc = cost }
          else if (acc + cost > budget) { packNo += 1; acc = cost }
          else acc += cost
          (id, cost, range, packNo, range.toLong * 1000000000L + packNo)
        }
      }
      .toDF("_id", "cost", "range_id", "pack_no", "pack_id")
      .withColumnRenamed("_id", idCol)
  }

  /** Length-bucketed batch assignment — dynamic-batching prep: group
    * similar-length documents so a batch pads to its own bucket's
    * ceiling instead of the corpus maximum (the standard
    * padding-efficiency trick for variable-length training). Bucket =
    * `len DIV bucketWidth` (integer), order within a bucket by the
    * deterministic shuffle key md5(salt‖id) (the [[Sampling]] survival-
    * hash law — reproducible, corpus-order-independent), then
    * `batch_idx = (rn−1) DIV batchSize`, `pos_in_batch = (rn−1) MOD
    * batchSize`. Every law is integer/hash arithmetic — SQL-mirrorable
    * verbatim.
    *
    * Scale shape: ONE hash-partitioned window per bucket (the stratum
    * posture — no global sort, no single-partition funnel); rows with a
    * NULL length are excluded (no length, no bucket).
    */
  def lengthBucketBatches(df: DataFrame, idCol: String, lenCol: String,
      bucketWidth: Long, batchSize: Int, salt: String = "graft"): DataFrame = {
    require(bucketWidth > 0 && batchSize > 0,
      s"bucketWidth=$bucketWidth and batchSize=$batchSize must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("bucket"))
      .orderBy(Sampling.hashKey(col(idCol), salt), col(idCol))
    // the `div` law needs expr() (no Column-API integer division), so the
    // interpolated identifier is backtick-quoted — a column name that
    // needs quoting (spaces, dots) must not break the splice; `_rn` is
    // our own safe name
    val lenQ = "`" + lenCol.replace("`", "``") + "`"
    df.filter(col(lenCol).isNotNull)
      .withColumn("bucket", expr(s"$lenQ div ${bucketWidth}L"))
      .withColumn("_rn", row_number().over(w).cast("long"))
      .withColumn("batch_idx", expr(s"(_rn - 1) div $batchSize"))
      .withColumn("pos_in_batch", (col("_rn") - 1) % batchSize)
      .drop("_rn")
  }

  /** Pack-level rollup: docs per pack, total cost, budget utilization. */
  def packStats(packed: DataFrame, budget: Long): DataFrame =
    packed.groupBy("pack_id")
      .agg(count(lit(1)).as("n_docs"), sum("cost").as("total_cost"))
      .withColumn("utilization", col("total_cost").cast("double") / budget)

  /** Deterministic span-corruption plan (the T5 objective's data prep —
    * Raffel et al. JMLR'20 mask ~15% of tokens as short spans): for each
    * document, WHICH token spans get masked, as a pure function of
    * (doc_id, span index) so every re-run and every engine builds the
    * same plan — the [[graft.ops.Sampling]] determinism contract applied
    * to masking.
    *
    * Law (all integer / md5 — engine-exact):
    *   - `n_spans = (n_tokens · maskNum) div (maskDen · spanLen)` (the
    *     ~15% mass in spanLen-token spans; docs too short for one span
    *     emit nothing);
    *   - the document divides into `n_spans` strata of
    *     `stratum = n_tokens div n_spans` tokens (≥ spanLen whenever
    *     maskDen ≥ 2·maskNum — the 15% default gives strata of ≥20);
    *     span i draws its offset inside stratum i from the first 4 hex
    *     digits of `md5(doc_id ‖ '_' ‖ i)` mod `(stratum − spanLen + 1)`
    *     — stratified, so spans can NEVER overlap, and jittered, so
    *     masking doesn't always hit the same positions;
    *   - `start_tok` is 0-based, `end_tok` exclusive.
    *
    * Scale shape: narrow per-row arithmetic + one explode of the
    * (bounded, ~n/20-element) span index sequence — no shuffle, no join,
    * no state.
    *
    * Output: (idCol, n_tokens, n_spans, span_idx, start_tok, end_tok).
    */
  def maskSpans(df: DataFrame, idCol: String, textCol: String,
      spanLen: Int = 3, maskNum: Int = 15, maskDen: Int = 100): DataFrame = {
    require(spanLen >= 1, s"spanLen must be positive, got $spanLen")
    require(maskNum >= 1 && maskDen >= 2 * maskNum,
      s"mask fraction $maskNum/$maskDen must sit in (0, 0.5] so strata fit a span")
    val base = df.select(col(idCol),
        graft.functions.TextFns.tokenCount(col(textCol)).as("n_tokens"))
      .withColumn("n_spans",
        expr(s"(n_tokens * ${maskNum}L) div (${maskDen.toLong * spanLen}L)"))
      .filter(col("n_spans") >= 1L)
      .withColumn("_stratum", expr("n_tokens div n_spans"))
    val h = conv(substring(md5(concat(col(idCol).cast("string"), lit("_"),
      col("span_idx").cast("string"))), 1, 4), 16, 10).cast("long")
    base
      .withColumn("span_idx",
        explode(sequence(lit(0L), col("n_spans") - 1L)))
      .withColumn("start_tok",
        col("span_idx") * col("_stratum") +
          h % (col("_stratum") - lit(spanLen.toLong) + 1L))
      .withColumn("end_tok", col("start_tok") + lit(spanLen.toLong))
      .select(col(idCol), col("n_tokens"), col("n_spans"),
        col("span_idx"), col("start_tok"), col("end_tok"))
  }

  /** Concat-and-chunk layout plan (the GPT-style pretraining layout:
    * documents concatenate into one token stream with an EOS between
    * them, and the stream cuts into fixed `seqLen` training sequences —
    * documents cross cut points). This computes each document's placement
    * in that layout WITHOUT materializing the stream: the deterministic
    * stream order is [[graft.ops.Splits.shuffleShards]]'s fingerprint
    * permutation (shard-parallel — each shard is its own stream), offsets
    * are a running sum per shard, and the chunk span derives by integer
    * division. The numbers a dataloader needs (which sequences touch
    * which doc, how many docs straddle a boundary) with zero data
    * movement beyond one window.
    *
    * Law: cost(doc) = n_tokens + 1 (the EOS); `start_off` = running sum
    * of costs before the doc (0-based within its shard stream);
    * `first_chunk = start_off div seqLen`,
    * `last_chunk = (start_off + cost − 1) div seqLen`,
    * `crosses = first_chunk ≠ last_chunk`.
    *
    * Scale shape: one hash-partition shuffle on shard + the per-shard
    * ordered window (the shuffleShards contract); nothing global.
    *
    * Output: (idCol, shard, pos, n_tokens, start_off, first_chunk,
    * last_chunk, crosses).
    */
  def concatChunks(df: DataFrame, idCol: String, textCol: String,
      seqLen: Long = 2048L, nShards: Int = 8): DataFrame = {
    require(seqLen >= 2L, s"seqLen must be >= 2, got $seqLen")
    val sharded = graft.ops.Splits.shuffleShards(
      df.select(col(idCol),
        graft.functions.TextFns.tokenCount(col(textCol)).as("n_tokens")),
      idCol, nShards)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("pos"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    sharded
      .withColumn("_cost", col("n_tokens") + 1L)
      .withColumn("start_off", coalesce(sum(col("_cost")).over(w), lit(0L)))
      .withColumn("first_chunk", expr(s"start_off div ${seqLen}L"))
      .withColumn("last_chunk", expr(s"(start_off + _cost - 1L) div ${seqLen}L"))
      .withColumn("crosses", col("first_chunk") =!= col("last_chunk"))
      .select(col(idCol), col("shard").cast("long").as("shard"), col("pos"),
        col("n_tokens"), col("start_off"), col("first_chunk"),
        col("last_chunk"), col("crosses"))
  }
}
