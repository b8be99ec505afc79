package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.ExcelSerial
import graft.model.PathOps
import graft.ops.{Hierarchy, Parents, Upsert}
import graft.views.Analytic

/** Sampling, splits, and batch shaping: stratified/weighted/DSIR, leakage checks, packing, windows.
  *
  * Split from the monolithic `Registry` object (round 15): members are
  * unchanged; `Registry` mixes every family trait in, so the public
  * surface (`Registry.queries` / `Registry.oracle` / each q* member) is
  * identical. Cross-family helpers are `private[queries]`; vals are lazy
  * so trait-linearization order can never null-init a shared fragment.
  */
trait SamplingQueries { self: RegistryAll =>

  /** Sequence packing: greedy token-budget bins over ranged documents —
    * the oracle replicates the sequential fold with a recursive CTE, so
    * the order-dependent law itself is driver-checked, not just row counts.
    */
  def qSequencePacking(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Packing.packGreedy(
      t(spark, dir, "documents"), "doc_id", col("n_chars"), budget = 4000L,
      rangeCol = pmod(col("doc_id"), lit(4)), nRanges = 4)
      .select(col("doc_id"), col("cost"),
        col("range_id").cast("bigint").as("range_id"),
        col("pack_no"), col("pack_id"))
      .orderBy("doc_id")

  lazy val qSequencePackingSql: String =
    """WITH RECURSIVE d AS (
      |  SELECT doc_id, CAST(n_chars AS BIGINT) AS cost,
      |         CAST(doc_id % 4 AS BIGINT) AS range_id,
      |         row_number() OVER (PARTITION BY doc_id % 4 ORDER BY doc_id) AS rn
      |  FROM documents),
      | walk(range_id, rn, doc_id, cost, pack_no, acc) AS (
      |  SELECT range_id, rn, doc_id, cost, CAST(0 AS BIGINT), cost FROM d WHERE rn = 1
      |  UNION ALL
      |  SELECT d.range_id, d.rn, d.doc_id, d.cost,
      |    CASE WHEN w.acc + d.cost > 4000 THEN w.pack_no + 1 ELSE w.pack_no END,
      |    CASE WHEN w.acc + d.cost > 4000 THEN d.cost ELSE w.acc + d.cost END
      |  FROM walk w JOIN d ON d.range_id = w.range_id AND d.rn = w.rn + 1)
      | SELECT doc_id, cost, range_id, pack_no,
      |  range_id * 1000000000 + pack_no AS pack_id
      | FROM walk ORDER BY doc_id""".stripMargin.replace("\n", " ")

  def qStratifiedSample(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.stratifiedSample(
      t(spark, dir, "documents"), "doc_id", "lang", sampleRates)
      .select("doc_id", "lang", "n_chars")
      .orderBy("doc_id")

  lazy val qStratifiedSampleSql: String = {
    val arms = sampleRates.toSeq.sortBy(_._1).map { case (lang, rate) =>
      s"(lang = '$lang' AND substr(md5('graft' || CAST(doc_id AS VARCHAR)), 1, 4) " +
        s"< '${graft.ops.Sampling.rateThreshold(rate)}')"
    }.mkString(" OR ")
    s"""SELECT doc_id, lang, n_chars FROM documents
       | WHERE $arms ORDER BY doc_id""".stripMargin.replace("\n", " ")
  }

  /** Length-bucketed batch assignment
    * ([[graft.ops.Packing.lengthBucketBatches]]): dynamic-batching prep —
    * 256-char buckets, 16-doc batches, deterministic md5 shuffle order
    * within a bucket. Integer/hash laws throughout.
    */
  def qLengthBatches(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Packing.lengthBucketBatches(
        t(spark, dir, "documents"), "doc_id", "n_chars",
        bucketWidth = 256L, batchSize = 16)
      .select(col("doc_id"), col("n_chars"), col("bucket"),
        col("batch_idx"), col("pos_in_batch").cast("long").as("pos_in_batch"))
      .orderBy("doc_id")

  lazy val qLengthBatchesSql: String =
    """WITH d AS (SELECT doc_id, n_chars FROM documents WHERE n_chars IS NOT NULL),
      | b AS (SELECT doc_id, n_chars, n_chars // 256 AS bucket,
      |    row_number() OVER (PARTITION BY n_chars // 256
      |      ORDER BY substr(md5('graft' || CAST(doc_id AS VARCHAR)), 1, 4), doc_id) AS rn
      |  FROM d)
      | SELECT doc_id, n_chars, CAST(bucket AS BIGINT) AS bucket,
      |  CAST((rn - 1) // 16 AS BIGINT) AS batch_idx,
      |  CAST((rn - 1) % 16 AS BIGINT) AS pos_in_batch
      | FROM b ORDER BY doc_id""".stripMargin.replace("\n", " ")

  /** Token-budget waterfilling ([[graft.ops.Mixture.waterfillAllocations]]):
    * per-source availability (Σ n_chars as the token proxy), deterministic
    * uneven integer weights (alphabetical rank × 100k), budget = 3/5 of
    * the corpus — small sources saturate at their cap and the overflow
    * redistributes to the big ones. Every comparison and allocation is
    * integer (cross-multiplied saturation tests, floor divisions), so the
    * whole solver hash-matches bit-for-bit; the lone double is the sort
    * ratio, one IEEE division.
    */
  def qWaterfill(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val stats = docs.groupBy(col("source").as("domain"))
      .agg(sum(col("n_chars")).as("avail"))
      .withColumn("weight_micro",
        row_number().over(Window.orderBy("domain")).cast("long") * 100000L)
    val budget = stats.agg(sum(col("avail"))).head.getLong(0) * 3 / 5
    graft.ops.Mixture.waterfillAllocations(
        stats, "domain", "avail", "weight_micro", budget)
      .orderBy("domain")
  }

  lazy val qWaterfillSql: String =
    """WITH stats AS (SELECT source AS domain, CAST(SUM(n_chars) AS BIGINT) AS available,
      |   CAST(row_number() OVER (ORDER BY source) AS BIGINT) * 100000 AS weight_micro
      |  FROM documents GROUP BY source),
      | b AS (SELECT SUM(available) * 3 // 5 AS budget FROM stats),
      | rk AS (SELECT s.*, b.budget,
      |   row_number() OVER (ORDER BY CAST(available AS DOUBLE)/CAST(weight_micro AS DOUBLE), domain) AS rn,
      |   COALESCE(SUM(available) OVER (ORDER BY CAST(available AS DOUBLE)/CAST(weight_micro AS DOUBLE), domain
      |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pref_a,
      |   SUM(weight_micro) OVER (ORDER BY CAST(available AS DOUBLE)/CAST(weight_micro AS DOUBLE), domain
      |     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS w_rem
      |  FROM stats s CROSS JOIN b),
      | fl AS (SELECT *, ((budget - pref_a) * weight_micro <= available * w_rem) AS unsat FROM rk),
      | mk AS (SELECT *, MIN(CASE WHEN unsat THEN rn END) OVER () AS u FROM fl),
      | st AS (SELECT *,
      |   MAX(CASE WHEN rn = u THEN budget - pref_a END) OVER () AS b_star,
      |   MAX(CASE WHEN rn = u THEN w_rem END) OVER () AS w_star FROM mk)
      | SELECT domain, available, weight_micro,
      |  CAST(CASE WHEN u IS NULL OR rn < u THEN available
      |   ELSE LEAST(available, GREATEST(0, (b_star * weight_micro) // w_star)) END AS BIGINT) AS alloc_tokens,
      |  (u IS NULL OR rn < u) AS saturated
      | FROM st ORDER BY domain""".stripMargin.replace("\n", " ")

  /** PERSISTED DSIR count tables ([[graft.ops.RefStore.writeDsirCounts]] +
    * loadDsirRatios): the source corpus commits its hashed-bucket counts
    * in two batches (the target exemplar once); the ratio table
    * re-derives from the SUMMED integer counts at load — bit-identical to
    * the one-shot build because bucket counts are batching-invariant —
    * and the selection must therefore hash-match the full q_dsir_select
    * law exactly.
    */
  def qDsirStore(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val target = docs.filter(col("lang") === "en")
    val store = storeOnce(dir, "dsirstore") { s =>
      graft.ops.RefStore.writeDsirCounts(
        target, docs.filter(col("doc_id") % 2 === 0), "text", s)
      graft.ops.RefStore.mergeDsirCounts(
        target.limit(0), docs.filter(col("doc_id") % 2 === 1), "text", s,
        batchId = "b1")
    }
    val (ratios, buckets, ngrams) =
      graft.ops.RefStore.loadDsirRatios(spark, store, requireBuckets = Some(256))
    graft.ops.Importance.importanceWeights(
        docs, "doc_id", "text", ratios, buckets, ngrams)
      .orderBy(col("weight_micro").desc, col("doc_id"))
      .limit(50)
      .select("doc_id", "lang", "weight_micro")
  }

  /** Same law as q_dsir_select: count batching is invisible. (`lazy`:
    * q_dsir_select's SQL initializes LATER in this object — an eager val
    * here would capture null.)
    */
  lazy val qDsirStoreSql: String = qDsirSelectSql

  /** Temperature-scaled domain sampling
    * ([[graft.ops.Sampling.temperatureSample]] over the skewed `lang`
    * mixture, α = 1/2, base 0.5): the oracle recomputes the per-stratum
    * rates from counts — integer division, IEEE-exact sqrt, power-of-two
    * base — and the exact md5-survival subset, so membership itself is
    * checked, like q_stratified_sample.
    */
  def qDomainSample(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.temperatureSample(
      t(spark, dir, "documents"), "doc_id", "lang")
      .select("doc_id", "lang", "n_chars")
      .orderBy("doc_id")

  lazy val qDomainSampleSql: String =
    """WITH c AS (SELECT lang AS _stratum, COUNT(*) AS _n FROM documents GROUP BY 1),
      | m AS (SELECT _stratum, least(1.0, 0.5 * sqrt(
      |   CAST((SELECT max(_n) FROM c) AS DOUBLE) / CAST(_n AS DOUBLE))) AS rate FROM c),
      | t AS (SELECT _stratum,
      |   CASE WHEN CAST(floor(rate * 65536) AS INTEGER) >= 65536 THEN 'g'
      |        ELSE printf('%04x', CAST(floor(rate * 65536) AS INTEGER)) END AS thr
      |  FROM m)
      | SELECT doc_id, lang, n_chars FROM documents d JOIN t ON d.lang = t._stratum
      | WHERE substr(md5('graft' || CAST(doc_id AS VARCHAR)), 1, 4) < thr
      | ORDER BY doc_id""".stripMargin.replace("\n", " ")

  /** DSIR importance selection ([[graft.ops.Importance.dsirSelect]]):
    * the 50 documents whose hashed bag-of-words looks most like the
    * English-target distribution relative to the whole corpus. The oracle
    * replays the complete law — two-md5-byte feature buckets, the
    * left-to-right smoothed log-ratio association, micro-unit
    * quantization — so the BIGINT weights hash-match exactly (integer
    * sums are order-independent; the only doubles live in the 256-row
    * ratio table, pinned by identical association then quantized).
    */
  def qDsirSelect(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    graft.ops.Importance.dsirSelect(
      docs, docs.filter(col("lang") === "en"), "doc_id", "text", k = 50)
      .select("doc_id", "lang", "weight_micro")
  }

  lazy val qDsirSelectSql: String = {
    // the two-md5-byte bucket law, nibble-by-nibble (ascii math like the
    // shuffle-shard oracle — no hex-parse builtin dependency)
    s"""WITH tok AS (SELECT doc_id, lang, unnest($tokensSql) AS tk FROM documents),
      | bk AS (SELECT doc_id, lang,
      |   (4096 * ${nibSql(1)} + 256 * ${nibSql(2)} + 16 * ${nibSql(3)} + ${nibSql(4)}) % 256 AS b
      |   FROM (SELECT doc_id, lang, md5(tk) AS m FROM tok)),
      | tc AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS tn FROM bk WHERE lang = 'en' GROUP BY 1),
      | sc AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS sn FROM bk GROUP BY 1),
      | tt AS (SELECT CAST(COALESCE(SUM(tn), 0) AS BIGINT) AS t FROM tc),
      | st AS (SELECT CAST(COALESCE(SUM(sn), 0) AS BIGINT) AS s FROM sc),
      | lr AS (SELECT sp.b,
      |   CAST(round((((ln(CAST(COALESCE(tc.tn, 0) + 1 AS DOUBLE))
      |     - ln(CAST(tt.t + 256 AS DOUBLE)))
      |     - ln(CAST(COALESCE(sc.sn, 0) + 1 AS DOUBLE)))
      |     + ln(CAST(st.s + 256 AS DOUBLE))) * 1000000.0) AS BIGINT) AS lrm
      |  FROM (SELECT unnest(range(0, 256)) AS b) sp
      |  LEFT JOIN tc USING (b) LEFT JOIN sc USING (b) CROSS JOIN tt CROSS JOIN st),
      | w AS (SELECT bk.doc_id, SUM(lr.lrm) AS wm FROM bk JOIN lr USING (b) GROUP BY 1)
      | SELECT d.doc_id, d.lang, CAST(COALESCE(w.wm, 0) AS BIGINT) AS weight_micro
      | FROM documents d LEFT JOIN w USING (doc_id)
      | ORDER BY weight_micro DESC, doc_id LIMIT 50""".stripMargin.replace("\n", " ")
  }

  /** Corpus length histogram in power-of-two buckets: bucket = number of
    * binary digits of `n_chars` (an exact integer law — `length(bin(x))`
    * on both engines — immune to the float boundary drift a
    * `floor(log2(x))` law would have at exact powers of two).
    */
  def qLengthBuckets(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(length(bin(col("n_chars"))).cast("long").as("bucket_bits"),
        col("n_chars"))
      .groupBy("bucket_bits")
      .agg(count(lit(1)).as("n_docs"),
        min(col("n_chars")).as("min_chars"), max(col("n_chars")).as("max_chars"))
      .orderBy("bucket_bits")

  lazy val qLengthBucketsSql: String =
    """SELECT CAST(length(bin(n_chars)) AS BIGINT) AS bucket_bits,
      | COUNT(*) AS n_docs, min(n_chars) AS min_chars, max(n_chars) AS max_chars
      | FROM documents GROUP BY 1 ORDER BY bucket_bits""".stripMargin.replace("\n", " ")

  /** Deterministic train/val/test split ([[graft.ops.Splits.withSplit]]):
    * 13/16 train, 2/16 val, 1/16 test by the last md5 nibble of the id.
    * The oracle replays the exact nibble-compare law, so per-split counts
    * AND membership (via total_chars) are both checked.
    */
  def qTrainSplit(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Splits.withSplit(t(spark, dir, "documents"), "doc_id")
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
      .orderBy("split")

  lazy val qTrainSplitSql: String =
    """WITH s AS (SELECT n_chars,
      |  CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 32, 1) <= 'c' THEN 'train'
      |       WHEN substr(md5(CAST(doc_id AS VARCHAR)), 32, 1) <= 'e' THEN 'val'
      |       ELSE 'test' END AS split
      | FROM documents)
      | SELECT split, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
      | FROM s GROUP BY 1 ORDER BY split""".stripMargin.replace("\n", " ")

  /** Deterministic shuffle-shards ([[graft.ops.Splits.shuffleShards]]): the
    * reproducible training order as (shard, pos). The oracle replays the
    * full permutation — shard hash AND the within-shard (fingerprint, id)
    * rank — so every document's exact training position is checked.
    */
  def qShuffleShards(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Splits.shuffleShards(t(spark, dir, "documents"), "doc_id", nShards = 8)
      .select(col("doc_id"), col("shard").cast("long").as("shard"), col("pos"))
      .orderBy("shard", "pos")

  lazy val qShuffleShardsSql: String =
    """WITH k AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS fp FROM documents),
      | s AS (SELECT doc_id, fp,
      |   CAST(ascii(substr(fp, 32, 1)) % 8 AS BIGINT) AS shard FROM k)
      | SELECT doc_id, shard,
      |  CAST(row_number() OVER (PARTITION BY shard ORDER BY fp, doc_id) AS BIGINT) AS pos
      | FROM s ORDER BY shard, pos""".stripMargin.replace("\n", " ")

  /** Top quality decile per language: percent_rank over the deterministic
    * quality score (same one-pass mapPartitions scoring as
    * [[qQualityFilter]]; bit-equality with the SQL law pinned by
    * TextFnsSpec). Rank order (quality, doc_id) is total, so ranks — and
    * the exact (rank-1)/(n-1) doubles — are engine-identical.
    *
    * SCALE NOTE: `percent_rank` sorts each language in one task (parallelism
    * = |langs|) — exact and right for the oracle gate, wrong at scale.
    * The scale path is [[graft.ops.Quantiles.topFractionByStratum]]: a
    * mergeable `approx_percentile` threshold pass + broadcast filter, no
    * per-stratum sort (QuantilesSpec pins the agreement between the two).
    */
  def qQualityDecile(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val scored = t(spark, dir, "documents")
      .select(col("doc_id").cast("long"), col("lang"), col("text"))
      .as[(Long, String, String)]
      .mapPartitions(_.map { case (id, lang, text) =>
        (id, lang, graft.functions.TextFns.statsScala(text).quality)
      })
      .toDF("doc_id", "lang", "quality")
    val w = Window.partitionBy("lang").orderBy(col("quality"), col("doc_id"))
    scored.withColumn("pr", percent_rank().over(w))
      .filter(col("pr") >= 0.9)
      .orderBy("doc_id")
  }

  lazy val qQualityDecileSql: String =
    s"""WITH q AS (SELECT doc_id, lang, $qualitySqlExpr AS quality FROM documents),
       | r AS (SELECT doc_id, lang, quality,
       |   percent_rank() OVER (PARTITION BY lang ORDER BY quality, doc_id) AS pr FROM q)
       | SELECT doc_id, lang, quality, pr FROM r WHERE pr >= 0.9
       | ORDER BY doc_id""".stripMargin.replace("\n", " ")

  /** Epoch upsampling toward mixture balance
    * ([[graft.ops.Mixture.upsampleEpochs]] over the skewed `lang` mix,
    * cap 4): the oracle replays the per-stratum epoch law AND the exact
    * (doc, epoch) multiset, complementing q_domain_sample's down-sampling
    * direction.
    */
  def qEpochUpsample(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Mixture.upsampleEpochs(t(spark, dir, "documents"), "lang", maxEpochs = 4)
      .select(col("doc_id"), col("lang"), col("epoch"))
      .orderBy("doc_id", "epoch")

  lazy val qEpochUpsampleSql: String =
    """WITH c AS (SELECT lang AS _stratum, COUNT(*) AS _n FROM documents GROUP BY 1),
      | k AS (SELECT _stratum, least(4, CAST(ceil(
      |   CAST((SELECT max(_n) FROM c) AS DOUBLE) / CAST(_n AS DOUBLE)) AS BIGINT)) AS epochs
      |  FROM c)
      | SELECT doc_id, lang, unnest(generate_series(1, epochs)) AS epoch
      | FROM documents d JOIN k ON d.lang = k._stratum
      | ORDER BY doc_id, epoch""".stripMargin.replace("\n", " ")

  /** Exact-k deterministic sample per stratum
    * ([[graft.ops.Sampling.fixedKPerStratum]]): the k lowest md5 hashes per
    * language — eval-set carving with engine-independent membership. The
    * oracle re-derives the full hash order, so rank AND membership are
    * checked.
    */
  def qFixedSample(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.fixedKPerStratum(
        t(spark, dir, "documents"), "doc_id", "lang", k = 20)
      .select(col("doc_id"), col("lang"), col("sample_rank"))
      .orderBy("doc_id")

  lazy val qFixedSampleSql: String =
    """WITH r AS (SELECT doc_id, lang,
      |  CAST(row_number() OVER (PARTITION BY lang
      |    ORDER BY md5('graft' || CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT)
      |    AS sample_rank
      | FROM documents)
      | SELECT doc_id, lang, sample_rank FROM r WHERE sample_rank <= 20
      | ORDER BY doc_id""".stripMargin.replace("\n", " ")

  /** Sliding event-time windows (1 h length, 30 min slide): every event
    * lands in exactly length/slide = 2 epoch-aligned windows. The oracle
    * rebuilds that fanout from integer-microsecond arithmetic, so Spark's
    * `window(slideDuration)` expansion itself is what's cross-checked.
    * Streaming twin: identical `window()` call under `readStream` +
    * watermark (same expansion node).
    */
  def qSlidingWindows(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("decimal(18,2)")
          .cast("double").as("total_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n"), col("total_value"))
      .orderBy("window_start", "event_type")

  lazy val qSlidingWindowsSql: String =
    """WITH w AS (SELECT event_type, value,
      |  unnest([make_timestamp(epoch_us(ts) // 1800000000 * 1800000000),
      |          make_timestamp(epoch_us(ts) // 1800000000 * 1800000000
      |            - 1800000000)]) AS window_start
      | FROM events)
      | SELECT window_start, event_type, COUNT(*) AS n,
      |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE)
      |    AS total_value
      | FROM w GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin.replace("\n", " ")

  /** Token-space context windows ([[graft.ops.Chunking.tokenWindows]]):
    * size-64 / stride-48 windows (16-token overlap) over every document —
    * boundaries AND per-window content md5 both replayed by the oracle's
    * list_slice, so the whole pretraining windowing law is hash-gated.
    */
  def qTokenWindows(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Chunking.tokenWindows(t(spark, dir, "documents"),
      "doc_id", "text", size = 64, stride = 48)
      .orderBy("doc_id", "win_idx")

  lazy val qTokenWindowsSql: String =
    s"""WITH t AS (SELECT doc_id, $tokensSql AS tk FROM documents),
      | w AS (SELECT doc_id, tk, unnest(generate_series(0,
      |   ((greatest(len(tk) - 16, 1) - 1) // 48) * 48, 48)) AS start_tok
      |  FROM t)
      | SELECT doc_id, CAST(start_tok // 48 AS BIGINT) AS win_idx,
      |  CAST(start_tok AS BIGINT) AS start_tok,
      |  CAST(greatest(least(64, len(tk) - start_tok), 0) AS BIGINT) AS n_toks,
      |  md5(array_to_string(list_slice(tk, start_tok + 1, start_tok + 64), ' ')) AS window_hash
      | FROM w ORDER BY doc_id, win_idx""".stripMargin.replace("\n", " ")

  /** Deterministic weighted sample without replacement
    * ([[graft.ops.Sampling.weightedSample]]): Efraimidis–Spirakis keys
    * from the md5-derived uniform, weight = n_chars, top-50 — the
    * reproducible quality-preferring draw, oracle-replayed from the same
    * exact hash integers and one ln chain.
    */
  def qWeightedSample(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.weightedSample(
        t(spark, dir, "documents"), "doc_id", "n_chars", k = 50)
      .orderBy(col("key_nano").desc, col("id"))

  lazy val qWeightedSampleSql: String = {
    s"""WITH h AS (SELECT doc_id AS id, CAST(n_chars AS BIGINT) AS weight,
      |   md5('graft' || CAST(doc_id AS VARCHAR)) AS m FROM documents
      |  WHERE n_chars IS NOT NULL AND n_chars > 0),
      | k AS (SELECT id, weight,
      |   ln((CAST(4096 * ${nibSql(1)} + 256 * ${nibSql(2)} + 16 * ${nibSql(3)}
      |     + ${nibSql(4)} AS DOUBLE) + 0.5) / 65536.0)
      |    / CAST(weight AS DOUBLE) AS key FROM h),
      | top AS (SELECT id, weight, key FROM k ORDER BY key DESC, id LIMIT 50)
      | SELECT id, weight, CAST(round(key * 1000000000.0) AS BIGINT) AS key_nano
      | FROM top ORDER BY key_nano DESC, id""".stripMargin.replace("\n", " ")
  }

  /** Temperature-scaled source-mixing probabilities
    * ([[graft.ops.Mixture.temperatureWeights]], α = 0.7 — the mC4/XLM
    * multilingual mixing law p_s ∝ c_s^α over per-source token mass):
    * the report a training loader consumes to draw batches. Exact token
    * sums, micro-quantized exp(α·ln c) weights BEFORE the normalizing
    * integer sum, ppb-quantized probabilities — fully hash-oracled.
    */
  def qTemperatureMix(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Mixture.temperatureWeights(
      t(spark, dir, "documents"), "source", "text", alpha = 0.7)
      .orderBy("stratum")

  lazy val qTemperatureMixSql: String =
    s"""WITH c AS (SELECT source AS stratum,
      |   CAST(SUM($nTokensSqlExpr) AS BIGINT) AS n_tokens
      |  FROM documents WHERE source IS NOT NULL GROUP BY 1),
      | w AS (SELECT stratum, n_tokens,
      |   CASE WHEN n_tokens > 0 THEN
      |    CAST(round(exp(0.7 * ln(CAST(n_tokens AS DOUBLE))) * 1000000.0) AS BIGINT)
      |   ELSE 0 END AS w_micro FROM c),
      | t AS (SELECT CAST(SUM(w_micro) AS BIGINT) AS tw FROM w)
      | SELECT stratum, n_tokens, w_micro,
      |  CASE WHEN tw > 0 THEN
      |   CAST(round((CAST(w_micro AS DOUBLE) / CAST(tw AS DOUBLE))
      |     * 1000000000.0) AS BIGINT)
      |  ELSE 0 END AS p_ppb
      | FROM w CROSS JOIN t ORDER BY stratum""".stripMargin.replace("\n", " ")

  /** Deterministic Poisson-bootstrap CI for mean document length
    * ([[graft.ops.Sampling.poissonBootstrapCi]], Chamandy et al. '12;
    * 32 replicas): the uncertainty bar every corpus-metric dashboard
    * needs, single-pass and engine-replayable — md5-integer Poisson(1)
    * weight draws against a fixed integer threshold table, exact
    * DECIMAL Σs, one double division per replica, CI from the (2nd,
    * 31st) order statistics. rep −1 carries weight 1 and IS the point
    * estimate (no second corpus pass).
    */
  def qBootstrapCi(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.poissonBootstrapCi(
      t(spark, dir, "documents"), "doc_id", "n_chars", replicas = 32)

  lazy val qBootstrapCiSql: String = {
    val t = graft.ops.Sampling.poissonHThresholds
    s"""WITH reps AS (SELECT CAST(unnest(generate_series(-1, 31)) AS BIGINT) AS rep),
      | base AS (SELECT doc_id AS id, CAST(n_chars AS BIGINT) AS x FROM documents
      |  WHERE n_chars IS NOT NULL AND doc_id IS NOT NULL),
      | hd AS (SELECT rep, x,
      |   md5('graft' || CAST(rep AS VARCHAR) || ':' || CAST(id AS VARCHAR)) AS m
      |  FROM base CROSS JOIN reps),
      | hv AS (SELECT rep, x,
      |   CAST(4096 * ${nibSql(1)} + 256 * ${nibSql(2)} + 16 * ${nibSql(3)}
      |     + ${nibSql(4)} AS BIGINT) AS h FROM hd),
      | wts AS (SELECT rep, x, CASE WHEN rep = -1 THEN 1
      |   WHEN h <= ${t(0)} THEN 0 WHEN h <= ${t(1)} THEN 1
      |   WHEN h <= ${t(2)} THEN 2 WHEN h <= ${t(3)} THEN 3
      |   WHEN h <= ${t(4)} THEN 4 ELSE 5 END AS w FROM hv),
      | per AS (SELECT rep, CAST(COUNT(*) AS BIGINT) AS n,
      |   CAST(SUM(CAST(w AS HUGEINT) * x) AS HUGEINT) AS swx,
      |   CAST(SUM(w) AS BIGINT) AS sw FROM wts GROUP BY 1),
      | mm AS (SELECT rep, n, CASE WHEN sw > 0 THEN
      |   CAST(round(CAST(swx AS DOUBLE) / CAST(sw AS DOUBLE) * 1000000.0)
      |     AS BIGINT) END AS mean FROM per),
      | rk AS (SELECT rep, n, mean, (rep = -1 OR mean IS NULL) AS unr,
      |   row_number() OVER (ORDER BY (rep = -1 OR mean IS NULL),
      |     mean ASC NULLS LAST, rep) AS rn,
      |   row_number() OVER (ORDER BY (rep = -1 OR mean IS NULL),
      |     mean DESC NULLS LAST, rep DESC) AS rnd FROM mm)
      | SELECT MAX(CASE WHEN rep = -1 THEN n END) AS n_rows,
      |  CAST(SUM(CASE WHEN NOT unr THEN 1 ELSE 0 END) AS BIGINT) AS n_replicas,
      |  MAX(CASE WHEN rep = -1 THEN mean END) AS mean_micro,
      |  CASE WHEN SUM(CASE WHEN NOT unr THEN 1 ELSE 0 END) >= 3 THEN
      |   MAX(CASE WHEN NOT unr AND rn = 2 THEN mean END) END AS boot_lo_micro,
      |  CASE WHEN SUM(CASE WHEN NOT unr THEN 1 ELSE 0 END) >= 3 THEN
      |   MAX(CASE WHEN NOT unr AND rnd = 2 THEN mean END) END AS boot_hi_micro
      | FROM rk HAVING MAX(CASE WHEN rep = -1 THEN n END) IS NOT NULL"""
      .stripMargin.replace("\n", " ")
  }

  /** Cross-split exact-duplicate leakage audit
    * ([[graft.ops.Splits.leakageReport]]) under BOTH split laws in one
    * report: the row-id hash split (duplicate content splits
    * independently — the leak every memorization-inflated benchmark
    * score traces back to) vs the content-fingerprint group split
    * ([[graft.ops.Splits.withGroupSplit]] keyed on the q_dedup_exact
    * fingerprint), which is leak-free BY CONSTRUCTION — the by_content
    * row pins n_leaked = 0 as an algebraic identity, not a data
    * accident. Pure integer counts; fully hash-oracled.
    */
  def qSplitLeakage(spark: SparkSession, dir: String): DataFrame = {
    // NULL texts drop on BOTH sides: a NULL asserts no content, and the
    // two engines' NULL-vs-nibble comparisons would otherwise bucket it
    // differently (engine CASE falls through to 'test', SQL CASE to
    // neither side)
    val docs = t(spark, dir, "documents")
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("text"))
    val byId = graft.ops.Splits.leakageReport(
        graft.ops.Splits.withSplit(docs, "doc_id"), "text", "split")
      .select(lit("by_id").as("split_law"), col("*"))
    val withFp = docs.withColumn("_k",
      graft.functions.TextFns.fingerprintMd5(col("text")))
    val byContent = graft.ops.Splits.leakageReport(
        graft.ops.Splits.withGroupSplit(withFp, "_k"), "text", "split")
      .select(lit("by_content").as("split_law"), col("*"))
    byId.unionByName(byContent).orderBy("split_law")
  }

  lazy val qSplitLeakageSql: String = {
    val fp = "md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))"
    def leg(law: String, nib: String) =
      s"""SELECT '$law' AS split_law,
        | CAST(SUM(ntr) AS BIGINT) AS n_train_rows,
        | CAST(SUM(nev) AS BIGINT) AS n_eval_rows,
        | CAST(COUNT(*) AS BIGINT) AS n_fingerprints,
        | CAST(SUM(CASE WHEN ntr > 0 AND nev > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |  AS n_leaked_fingerprints,
        | CAST(SUM(CASE WHEN ntr > 0 AND nev > 0 THEN nev ELSE 0 END) AS BIGINT)
        |  AS n_leaked_eval_rows
        | FROM (SELECT f,
        |   CAST(SUM(CASE WHEN $nib <= 'c' THEN 1 ELSE 0 END) AS BIGINT) AS ntr,
        |   CAST(SUM(CASE WHEN $nib > 'c' THEN 1 ELSE 0 END) AS BIGINT) AS nev
        |  FROM fps GROUP BY f)""".stripMargin.replace("\n", " ")
    s"""WITH fps AS (SELECT doc_id, $fp AS f FROM documents WHERE text IS NOT NULL)
      | ${leg("by_id", "substr(md5(CAST(doc_id AS VARCHAR)), 32, 1)")}
      | UNION ALL
      | ${leg("by_content", "substr(md5(f), 32, 1)")}
      | ORDER BY split_law""".stripMargin.replace("\n", " ")
  }

  /** Class-imbalance report over embedding labels with
    * effective-number-of-samples reweights
    * ([[graft.ops.Mixture.classBalance]], Cui et al. CVPR '19, β=0.999):
    * the label-balance screen a fine-tuning mix runs before training —
    * EN = (1−β^n)/(1−β) per class, inverse-EN weights normalized by the
    * exact integer Σ. ln/exp per-label fixed chains, quantized before
    * every Σ.
    */
  def qClassBalance(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Mixture.classBalance(
        t(spark, dir, "embeddings"), "label", beta = 0.999)
      .orderBy("label")

  lazy val qClassBalanceSql: String =
    s"""WITH c AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM embeddings WHERE label IS NOT NULL GROUP BY 1),
      | e AS (SELECT label, n, CAST(round(
      |    (1.0 - exp(CAST(n AS DOUBLE) * ${math.log(0.999)}))
      |    / ${1.0 - 0.999} * 1000000.0) AS BIGINT) AS en_micro FROM c),
      | i AS (SELECT label, n, en_micro,
      |   CAST(round(1.0e18 / CAST(en_micro AS DOUBLE)) AS BIGINT) AS inv FROM e),
      | t AS (SELECT CAST(SUM(inv) AS BIGINT) AS tot FROM i)
      | SELECT label, n, en_micro,
      |  CAST(round(CAST(inv AS DOUBLE) / CAST(tot AS DOUBLE)
      |    * 1000000000000.0) AS BIGINT) AS weight_pico
      | FROM i CROSS JOIN t ORDER BY label""".stripMargin.replace("\n", " ")

  /** Group-disjoint train/val/test split ([[graft.ops.Splits.withGroupSplit]]):
    * every document of a source lands in ONE split (the leakage-safe
    * protocol) — verified as per-(source, split) counts, nibble law on the
    * group key.
    */
  def qGroupSplit(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Splits.withGroupSplit(t(spark, dir, "documents"), "source")
      .groupBy(col("source"), col("split"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("source", "split")

  lazy val qGroupSplitSql: String =
    """SELECT source, CASE
      |  WHEN substr(md5(source), 32, 1) <= 'c' THEN 'train'
      |  WHEN substr(md5(source), 32, 1) <= 'e' THEN 'val'
      |  ELSE 'test' END AS split,
      | CAST(COUNT(*) AS BIGINT) AS n_docs
      | FROM documents GROUP BY 1, 2 ORDER BY source, split"""
      .stripMargin.replace("\n", " ")

  /** Deterministic uniform negatives
    * ([[graft.ops.Similarity.uniformNegatives]]): 5 label-distinct
    * candidates per query drawn by the pair-hash law — the easy half of a
    * contrastive pair set, exactly replayable.
    */
  def qUniformNegatives(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "embeddings")
    graft.ops.Similarity.uniformNegatives(
        e, e.filter(col("vec_id") < 5), "vec_id", "label", k = 5)
      .orderBy("query_id", "rk")
  }

  lazy val qUniformNegativesSql: String =
    """WITH q AS (SELECT vec_id AS query_id, label AS ql FROM embeddings WHERE vec_id < 5),
      | c AS (SELECT vec_id AS neighbor_id, label AS cl FROM embeddings),
      | pairs AS (SELECT query_id, neighbor_id,
      |   md5('graft' || CAST(query_id AS VARCHAR) || '_' || CAST(neighbor_id AS VARCHAR)) AS draw
      |  FROM c, q WHERE cl IS DISTINCT FROM ql),
      | r AS (SELECT query_id, neighbor_id,
      |   row_number() OVER (PARTITION BY query_id ORDER BY draw, neighbor_id) AS rk
      |  FROM pairs)
      | SELECT query_id, neighbor_id, CAST(rk AS BIGINT) AS rk
      | FROM r WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin.replace("\n", " ")

  /** GPT-style concat-and-chunk placement
    * ([[graft.ops.Packing.concatChunks]]): deterministic shard streams
    * (the shuffleShards permutation), running EOS-inclusive offsets, and
    * each document's first/last 2048-token training sequence.
    */
  def qConcatChunks(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Packing.concatChunks(
        t(spark, dir, "documents"), "doc_id", "text", seqLen = 2048L, nShards = 8)
      .orderBy("shard", "pos")

  lazy val qConcatChunksSql: String =
    s"""WITH lens AS (SELECT doc_id, CAST(len($tokensSql) AS BIGINT) AS n_tokens
      |  FROM documents),
      | k AS (SELECT doc_id, n_tokens, md5(CAST(doc_id AS VARCHAR)) AS fp FROM lens),
      | s AS (SELECT doc_id, n_tokens, fp,
      |   CAST(ascii(substr(fp, 32, 1)) % 8 AS BIGINT) AS shard FROM k),
      | p AS (SELECT doc_id, n_tokens, shard,
      |   CAST(row_number() OVER (PARTITION BY shard ORDER BY fp, doc_id) AS BIGINT) AS pos,
      |   CAST(COALESCE(SUM(n_tokens + 1) OVER (PARTITION BY shard ORDER BY fp, doc_id
      |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_off
      |  FROM s)
      | SELECT doc_id, shard, pos, n_tokens, start_off,
      |  start_off // 2048 AS first_chunk,
      |  (start_off + n_tokens) // 2048 AS last_chunk,
      |  start_off // 2048 <> (start_off + n_tokens) // 2048 AS crosses
      | FROM p ORDER BY shard, pos""".stripMargin.replace("\n", " ")
}
