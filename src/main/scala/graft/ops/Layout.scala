package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-layout clustering for scan-time skipping — the write-side half of
  * the scale story. Parquet/ORC readers prune row groups by min/max
  * statistics; those statistics only cut multi-dimensional point/box
  * lookups when rows that are close in KEY space are close in FILE space.
  * Z-ordering (bit-interleaved Morton curve — the technique behind
  * clustered table layouts in modern lakehouse formats) gives that
  * locality for two keys at once, where a lexicographic sort favors only
  * its leading column.
  *
  * The z-value itself is a pure bit law (deterministic, oracle-checkable);
  * the physical placement is `repartitionByRange` on it + an in-partition
  * sort — both stock Spark operators, so AQE and the range-sampler handle
  * balance.
  */
object Layout {

  /** Morton z-value: the low `bits` bits of x and y interleaved
    * (x → even positions, y → odd). Built from shift/and/or primitives
    * only — whole-stage-codegen friendly, no UDF. Values are masked to
    * `bits`, so callers bucket/clamp wider domains first.
    */
  def zValue(x: Column, y: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, "bits must be in 1..31")
    val mask = (1L << bits) - 1
    val xm = x.cast("long").bitwiseAND(lit(mask))
    val ym = y.cast("long").bitwiseAND(lit(mask))
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      acc
        .bitwiseOR(shiftleft(shiftright(xm, i).bitwiseAND(lit(1L)), 2 * i))
        .bitwiseOR(shiftleft(shiftright(ym, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }
  }

  /** Cluster rows along the z-curve of (xCol, yCol): range-partition on the
    * z-value (contiguous curve segments per output file) and sort within
    * partitions (tight per-row-group min/max). The frame comes back with
    * its original columns — `_z` is internal. Writing the result with any
    * file sink yields a layout where a box predicate on (x, y) touches
    * O(perimeter) files instead of all of them.
    */
  def clusterByZ(df: DataFrame, xCol: String, yCol: String, bits: Int,
      numPartitions: Int): DataFrame = {
    val cols = df.columns
    df.withColumn("_z", zValue(col(xCol), col(yCol), bits))
      .repartitionByRange(numPartitions, col("_z"))
      .sortWithinPartitions("_z")
      .select(cols.map(col).toIndexedSeq: _*)
  }

  /** Persist a frame as a BUCKETED table: rows hash-partitioned into
    * `buckets` files per partition by `keyCol` and sorted within each
    * bucket — the write-side contract that lets every later equi-join or
    * aggregation on `keyCol` between co-bucketed tables run with ZERO
    * shuffle (the scan's output partitioning already satisfies the join's
    * distribution requirement; LayoutSpec pins the exchange-free plan).
    * This is the standing answer to "big fact-to-fact joins shuffle both
    * sides every query": pay one shuffle at write time, amortized over
    * every read. Bucketing rides the session catalog (`saveAsTable` —
    * bucket metadata lives in the table definition, not the files).
    */
  def writeBucketed(df: DataFrame, table: String, keyCol: String,
      buckets: Int): Unit =
    df.write.format("parquet")
      .bucketBy(buckets, keyCol).sortBy(keyCol)
      .mode("overwrite").saveAsTable(table)

  /** Shard-balance report for a hash-sharding law: how evenly would the
    * corpus land if written as `nShards` shards keyed on
    * `md5(cast(id))`'s first two bytes? The question every layout
    * decision answers BEFORE the large write — a skewed key (timestamp
    * prefixes, auto-increment ranges) makes one writer task the
    * straggler and one shard the hot spot, and the fix (salting, a
    * different key) is cheap only before the data lands.
    *
    * The shard assignment is the [[Importance.bucketOf]] two-md5-byte law
    * (engine-replayable; no engine-native hash). Exact integers
    * throughout: per-shard row count and payload weight; `skew_ratio` is
    * the one derived double — `n_rows · nShards / total` (1.0 = perfectly
    * even), same fixed chain in the oracle.
    *
    * Scale shape: one hash aggregate by shard id (map-side combined,
    * ≤ nShards groups), one broadcast of the 1-row total. The corpus is
    * read once; no window, no sort until the ≤ nShards output rows.
    *
    * Output: (shard, n_rows, weight, skew_ratio) — one row per NON-EMPTY
    * shard; row order is whatever the aggregate emits (order downstream
    * when rendering — the Registry query does).
    */
  def shardBalance(df: DataFrame, idCol: String, weightCol: String,
      nShards: Int = 32): DataFrame = {
    require(nShards >= 1 && nShards <= 65536,
      s"nShards must be in 1..65536 (two md5 bytes of range), got $nShards")
    val perShard = df
      .select(Importance.bucketOf(col(idCol).cast("string"), nShards)
          .as("shard"),
        col(weightCol).cast("long").as("_w"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_rows"),
        coalesce(sum(col("_w")), lit(0L)).as("weight"))
    // the total via an unpartitioned window over the ALREADY-AGGREGATED
    // frame (≤ nShards rows, bounded by the 65536 require) — a scalar
    // re-aggregate would scan the corpus a second time for one number
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
    perShard
      .withColumn("_total", sum(col("n_rows")).over(wAll))
      .withColumn("skew_ratio",
        (col("n_rows") * lit(nShards.toLong)).cast("double") /
          col("_total").cast("double"))
      .select(col("shard").cast("long").as("shard"), col("n_rows"),
        col("weight"), col("skew_ratio"))
  }

  /** Ingestion-continuity audit over an id column: which id-range
    * buckets are missing members — the "did a shard of the crawl
    * silently drop?" screen a monotone-id pipeline runs after every
    * bulk load (a hole of exactly one loader-batch width names the
    * failed task).
    *
    * Exact law over the DISTINCT id set (duplicates are [[graft.ops.Dedup]]'s
    * problem, not this audit's): bucket = id div `bucketSize`; per
    * bucket, `missing = (max − min + 1) − n_ids` counts the holes
    * STRICTLY INSIDE the bucket's observed span (edge buckets' open
    * flanks are unobservable without an external manifest — by law they
    * do not count). Top `k` buckets by (missing desc, bucket) — a total
    * order.
    *
    * Scale shape: one distinct + one bucket hash aggregate (map-side
    * combined), TakeOrdered top-k. NO corpus-order window anywhere —
    * the classic lag-over-ids gap scan is a single-task sort at scale;
    * the bucket law is embarrassingly parallel.
    *
    * Output: (bucket, n_ids, min_id, max_id, missing) — top `k`.
    */
  def idGapReport(df: DataFrame, idCol: String, bucketSize: Long = 10000L,
      k: Int = 25): DataFrame = {
    require(bucketSize >= 2L, s"bucketSize must be >= 2, got $bucketSize")
    require(k >= 1, s"k must be >= 1, got $k")
    df.filter(col(idCol).isNotNull)
      .select(col(idCol).cast("long").as("_id")).distinct()
      .groupBy(expr(s"_id div ${bucketSize}L").as("bucket"))
      .agg(count(lit(1)).as("n_ids"), min(col("_id")).as("min_id"),
        max(col("_id")).as("max_id"))
      .select(col("bucket"), col("n_ids"), col("min_id"), col("max_id"),
        (col("max_id") - col("min_id") + 1L - col("n_ids")).as("missing"))
      .orderBy(col("missing").desc, col("bucket"))
      .limit(k)
  }
}
