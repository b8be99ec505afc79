package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFns

/** Deduplication operators for training-data pipelines: exact, MinHash+LSH,
  * SimHash, and exact n-gram Jaccard. All are shuffle-aware distributed
  * plans — candidate generation is always a bucket-join (never an O(n²)
  * cross join), so they scale to billions of documents:
  *
  *   - exact: one hash-aggregate shuffle on the content fingerprint.
  *   - MinHash LSH: narrow signature computation (per-row expression trees),
  *     explode to (band, bandHash) buckets, self-join within buckets (shuffle
  *     on bucket key), then exact-Jaccard verification of candidates only.
  *   - SimHash: narrow 64-bit signature, bucket-join on 16-bit chunks
  *     (pairs within Hamming distance k share a chunk for k ≤ 3 by
  *     pigeonhole), verify with bit_count(xor).
  *   - n-gram Jaccard/containment: explode distinct shingles, join on
  *     shingle with a per-shingle document-frequency cap (df > maxDf ⇒
  *     shingle dropped as a candidate generator, surfaced in an observe
  *     metric), then EXACT verification of candidates against the full
  *     shingle sets — values exact, the cap affects recall only.
  *
  * Skew note: a degenerate band bucket (e.g. empty-text signature) would
  * quadratically blow up the bucket join; `maxBucket` caps candidate
  * generation per bucket, the standard LSH guard at scale. The cap keeps a
  * DETERMINISTIC sample of an over-full bucket (not a silent full drop)
  * and surfaces the dropped-row count as an observed metric — see
  * [[Dedup.capBuckets]].
  */
object Dedup {

  private val capSeq = new java.util.concurrent.atomic.AtomicLong()

  /** Per-bucket candidate cap, the no-silent-caps way: keep a DETERMINISTIC
    * pseudo-random sample of `maxBucket` rows per over-full bucket (stable
    * hash order on the id, so recall degrades gracefully instead of every
    * row of a degenerate bucket vanishing at once), and surface the dropped
    * row count as a Dataset.observe metric `graft_capped_<tag>_<n>`
    * (columns: dropped_rows, capped_buckets) that a QueryExecutionListener
    * — or the SQL UI — reports per action. The suffix keeps metric names
    * unique when one plan caps several frames (observe names must be
    * unique per query).
    */
  private def capBuckets(df: DataFrame, bucketCols: Seq[String], idCol: String,
      maxBucket: Int, tag: String): DataFrame = {
    val w = Window.partitionBy(bucketCols.map(col): _*)
      .orderBy(xxhash64(col(idCol)), col(idCol))
    df.withColumn("_rn", row_number().over(w))
      .observe(s"graft_capped_${tag}_${capSeq.incrementAndGet()}",
        sum(when(col("_rn") > maxBucket, 1L).otherwise(0L)).as("dropped_rows"),
        // exactly one row per over-full bucket carries rank maxBucket+1
        sum(when(col("_rn") === maxBucket + 1, 1L).otherwise(0L)).as("capped_buckets"))
      .filter(col("_rn") <= maxBucket).drop("_rn")
  }

  /** Exact dedup on a content fingerprint. Returns one survivor row per
    * distinct content: (content_hash, survivor_id, dup_count).
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(TextFns.fingerprintMd5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("survivor_id"), count(lit(1)).as("dup_count"))

  /** Duplicate-inflation report per stratum: how much of each source's
    * apparent volume is exact-duplicate re-counting? The capacity-planning
    * twin of [[exact]] — before a corpus-wide dedup pass is scheduled, this is
    * the report that says which sources pay for it ("src7 is 40% duplicate
    * tokens") and what the corpus's true unique size is.
    *
    * Law (exact integers end to end): fingerprint = the [[exact]] content
    * law; one KEEPER per fingerprint group within a stratum (all copies
    * share the normalized text, so every member carries the same token
    * count and no id needs to pick one — WHICH row survives is
    * [[exact]]'s job, this report only counts);
    * `n_dup_docs`/`dup_tokens` count the non-keeper rows and their token
    * totals; `inflation` is the single
    * derived double `n_tokens / uniq_tokens` (NULL when a stratum has no
    * tokens). Duplication across strata is intentionally out of scope —
    * each stratum is charged only for its OWN redundancy (cross-source
    * dedup is [[exactAgainst]]'s job). NULL-text rows carry a NULL
    * fingerprint and are each their OWN unique keeper (never duplicates
    * of each other) — the same "NULL fp ⇒ keeper" convention as
    * [[exactAgainst]]; a grouped NULL key would instead collapse them
    * into one phantom duplicate group and inflate `n_dup_docs`.
    *
    * Scale shape: one tokenize+fingerprint pass, one hash aggregate to
    * (stratum, fingerprint) groups — map-side combined, shuffle carries
    * one row per distinct content per stratum — then one aggregate to
    * |strata| rows. No window over the corpus, no join.
    *
    * Output: (stratum, n_docs, n_uniq, n_dup_docs, n_tokens, uniq_tokens,
    * dup_tokens, inflation), one row per stratum.
    */
  def dupInflation(df: DataFrame, textCol: String,
      stratumCol: String): DataFrame = {
    val base = df
      .filter(col(stratumCol).isNotNull)
      .select(col(stratumCol).as("stratum"),
        TextFns.fingerprintMd5(col(textCol)).as("_fp"),
        TextFns.tokenCount(col(textCol)).as("_tk"))
    val perContent = base
      .filter(col("_fp").isNotNull)
      .groupBy(col("stratum"), col("_fp"))
      .agg(count(lit(1)).as("_docs"),
        sum(col("_tk")).as("_tks"),
        // all copies share the fingerprint, hence the normalized text —
        // token counts are equal across the group, so the keeper's token
        // count is any member's; min is the deterministic pick
        min(col("_tk")).as("_keep_tk"))
      .select(col("stratum"), col("_docs"), col("_tks"), col("_keep_tk"))
    // NULL-fp rows: one singleton keeper group per ROW (no grouping —
    // absent content is not shared content)
    val nullGroups = base
      .filter(col("_fp").isNull)
      .select(col("stratum"), lit(1L).as("_docs"),
        col("_tk").as("_tks"), col("_tk").as("_keep_tk"))
    perContent.unionByName(nullGroups)
      .groupBy(col("stratum"))
      .agg(sum(col("_docs")).as("n_docs"),
        count(lit(1)).as("n_uniq"),
        sum(col("_docs") - 1L).as("n_dup_docs"),
        sum(col("_tks")).as("n_tokens"),
        sum(col("_keep_tk")).as("uniq_tokens"))
      .withColumn("dup_tokens", col("n_tokens") - col("uniq_tokens"))
      .withColumn("inflation",
        when(col("uniq_tokens") > 0L,
          col("n_tokens").cast("double") / col("uniq_tokens").cast("double")))
  }

  /** Cross-corpus exact dedup: drop incoming documents whose normalized
    * content fingerprint (same law as [[exact]]) already exists in
    * `reference` — the incremental-ingest guard that keeps a new crawl
    * batch from re-adding what the corpus already holds. Anti semi-join on
    * the hash: the reference side reduces to DISTINCT fingerprints first,
    * so the shuffle carries one row per distinct reference content, not
    * per reference document.
    */
  def exactAgainst(incoming: DataFrame, reference: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val refHashes = reference
      .select(TextFns.fingerprintMd5(col(textCol)).as("_rh")).distinct()
    incoming
      .withColumn("_ih", TextFns.fingerprintMd5(col(textCol)))
      .join(refHashes, col("_ih") === col("_rh"), "left_anti")
      .drop("_ih")
  }

  /** Bloom-prefiltered cross-corpus exact dedup — the scale path for
    * [[exactAgainst]]. Builds a Bloom filter over the reference corpus's
    * distinct content fingerprints (`DataFrameStatFunctions.bloomFilter` — a
    * mergeable map-side `treeAggregate`, one pass, bounded driver memory:
    * ~1.2 bits × expectedItems / ln²2 at 1% fpp), broadcasts it, and tests
    * every incoming row AT THE SCAN with `mightContain`:
    *
    *   - miss  → the fingerprint is DEFINITELY absent from the reference
    *             (Bloom filters have no false negatives) — the row is new
    *             and never enters a shuffle;
    *   - hit   → possibly present (fpp false-positive rate) — only this
    *             small fraction proceeds to the exact anti-join, which
    *             eliminates false positives.
    *
    * The result is therefore EXACTLY equal to [[exactAgainst]] — the Bloom
    * stage is a pure candidate-set reducer, the same discipline as every
    * LSH family here (prefilter, then exact verify), and the same shape as
    * Spark's own runtime row-level join filtering. At scale the anti-join's
    * incoming side shrinks from |batch| to ≈ dup_rate·|batch| + fpp·|batch|
    * rows, and the definitely-new branch is a narrow scan→project.
    *
    * NULL text rows carry a NULL fingerprint: the Bloom test returns false
    * (kept narrow-side) and an anti-join would keep them too (NULL keys
    * never match) — both branches agree with [[exactAgainst]]'s law.
    *
    * Cost tradeoff, stated plainly: the two branches are two consumers of
    * the incoming frame, so the (column-pruned) incoming scan and its
    * fingerprint md5 run TWICE. That is deliberate — caching the corpus is not
    * an option, and fusing the branches into one anti-join with a
    * `might AND hash-equal` condition would put EVERY incoming row back
    * through the exchange, which is exactly the cost this operator exists
    * to avoid. Two narrow scans ≪ one full-corpus shuffle.
    *
    * The Bloom test is a Scala UDF by necessity (`sketch.BloomFilter` has no
    * Column form); it is a ~2-hash bit probe per row, far cheaper than the
    * md5 beside it, and named `graft_might_contain` so plans show the
    * prefilter below the exchange.
    */
  def exactAgainstBloom(incoming: DataFrame, reference: DataFrame,
      idCol: String, textCol: String,
      expectedItems: Long = 1000000L, fpp: Double = 0.01): DataFrame = {
    val refFp = reference
      .select(TextFns.fingerprintMd5(col(textCol)).as("_rh"))
      .filter(col("_rh").isNotNull)
    // bloom insertion is idempotent — build on the NON-distinct projection
    // (narrow treeAggregate, zero shuffle); distinct only feeds the verify
    // join, whose shuffle the bloom has already shrunk on the probe side.
    exactAgainstBloomCore(incoming, textCol,
      refFp.stat.bloomFilter("_rh", expectedItems, fpp), refFp.distinct())
  }

  /** [[exactAgainstBloom]] against a PERSISTED [[RefStore]] exact-dedup
    * artifact — the incremental-ingest fast path: batch N+1 loads the
    * bloom + distinct-fingerprint parquet the earlier batches committed,
    * so the reference CORPUS is never re-scanned (the per-call
    * treeAggregate rebuild is exactly the corpus-sized cost the bloom path
    * exists to avoid). Same result as [[exactAgainst]] run against every
    * document whose fingerprints the store holds.
    */
  def exactAgainstBloomStored(incoming: DataFrame, storeDir: String,
      idCol: String, textCol: String): DataFrame = {
    val (bloom, refHashes) = RefStore.loadExact(incoming.sparkSession, storeDir)
    exactAgainstBloomCore(incoming, textCol, bloom, refHashes)
  }

  private def exactAgainstBloomCore(incoming: DataFrame, textCol: String,
      bloomFilter: org.apache.spark.util.sketch.BloomFilter,
      refHashes: DataFrame): DataFrame = {
    val bloom = incoming.sparkSession.sparkContext.broadcast(bloomFilter)
    val might = udf((h: String) => h != null && bloom.value.mightContainString(h))
      .withName("graft_might_contain")
    val inc = incoming.withColumn("_ih", TextFns.fingerprintMd5(col(textCol)))
    val definitelyNew = inc.filter(!might(col("_ih")))
    val verified = inc.filter(might(col("_ih")))
      .join(refHashes, col("_ih") === col("_rh"), "left_anti")
    definitelyNew.unionByName(verified).drop("_ih")
  }

  /** MinHash signature from an already-materialized array of shingle hashes:
    * numHashes independent min-hashes, seed-rehash construction
    * h_i(s) = xxhash64(h(s), i).
    *
    * IMPORTANT (cost model): call this on a BOUND COLUMN of longs, not on an
    * expression — higher-order functions are interpreted (CodegenFallback)
    * with no common-subexpression elimination, so each of the `numHashes`
    * lanes re-evaluates its input expression. Folding over a materialized
    * long array costs 64×|shingles| long-hashes per row; inlining the shingle
    * pipeline instead multiplies the regexp/tokenize work 64× (measured ~500×
    * slower end-to-end).
    */
  def minhashSignatureFromHashes(shingleHashes: Column, numHashes: Int = 64): Column =
    array((0 until numHashes).map { i =>
      array_min(transform(shingleHashes, h => xxhash64(h, lit(i))))
    }: _*)

  /** Convenience single-expression form (tests, small data): inlines the
    * shingle pipeline into every lane — see the cost note above.
    */
  def minhashSignature(text: Column, numHashes: Int = 64, shingleSize: Int = 3): Column =
    minhashSignatureFromHashes(TextFns.shingleHashes(text, shingleSize), numHashes)

  /** MinHash+LSH near-duplicate pairs: returns (id_a, id_b, jaccard) with
    * id_a < id_b and exact-verified jaccard ≥ threshold. Candidate recall is
    * governed by (numHashes, bands): P[candidate] = 1-(1-j^r)^b with
    * r = numHashes/bands.
    */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 64, bands: Int = 16, shingleSize: Int = 3,
      threshold: Double = 0.8, maxBucket: Int = 1000): DataFrame =
    minhashLshPairsSh(
      shingleHashFrame(df, idCol, textCol, shingleSize, numHashes),
      numHashes, bands, threshold, maxBucket)

  private def minhashLshPairsSh(sh0: DataFrame, numHashes: Int, bands: Int,
      threshold: Double, maxBucket: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    // NOT checkpointed (r19 optimization round, measured): materializing
    // the 64-lane signature frame cost MORE at 10× scale than the
    // runtime stage reuse it replaced (sf1 sweep +0.5-0.8 s on every
    // minhash row) — unlike the numHashes=1 ngram shingle frame, whose
    // checkpoint wins at both scales
    val sh = sh0
    val sig = sh.select(col("_id"), col("_sig"))
    val banded = sig.select(col("_id"), explode(
      array((0 until bands).map { b =>
        struct(lit(b).as("band"), xxhash64(concat_ws(",", slice(col("_sig"), b * r + 1, r))).as("bh"))
      }: _*)).as("bk"))
      .select(col("_id"), col("bk.band"), col("bk.bh"))
    // cap pathological buckets (all-empty docs etc.) — deterministic
    // sample + observed drop metric, not a silent full-bucket drop
    // (the capped stream itself is NOT checkpointed: its observe metric —
    // the no-silent-caps contract DedupSpec pins on the caller's own
    // execution — must stay in the live plan; recomputing the cap window
    // over the checkpointed shingle blocks is cheap)
    val capped = capBuckets(banded, Seq("band", "bh"), "_id", maxBucket, "lsh")
    val cand = capped.as("a").join(capped.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a._id") < col("b._id"))
      .select(col("a._id").as("id_a"), col("b._id").as("id_b"))
      .distinct()
    verifyJaccard(cand, sh.withColumnRenamed("_id", "_jid"), threshold)
  }

  /** 64-bit FNV-1a over UTF-8 bytes (Scala-side token hash). */
  private def fnv64(s: String): Long = {
    var h = 0xCBF29CE484222325L
    s.getBytes(java.nio.charset.StandardCharsets.UTF_8).foreach { b =>
      h ^= (b & 0xFFL); h *= 0x100000001B3L
    }
    h
  }

  /** splitmix64 finalizer — avalanche mixing for shingle/lane hashes. */
  private[ops] def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Distinct shingle hashes + MinHash signature for one document, computed
    * in plain Scala. The Jaccard/minhash laws are count- and min-based, so
    * the internal hash family is free to differ from any SQL function.
    */
  private[ops] def shingleAndSig(text: String, n: Int, numHashes: Int): (Array[Long], Array[Long]) = {
    val toks = TextFns.tokensScala(text)
    val set = new java.util.LinkedHashSet[java.lang.Long]()
    var i = 0
    while (i + n <= toks.length) {
      var h = 0L
      var o = 0
      while (o < n) { h = mix64(h ^ fnv64(toks(i + o))); o += 1 }
      set.add(h)
      i += 1
    }
    val sh = new Array[Long](set.size)
    val it = set.iterator(); var j = 0
    while (it.hasNext) { sh(j) = it.next(); j += 1 }
    val sig = Array.fill(numHashes)(Long.MaxValue)
    var k = 0
    while (k < sh.length) {
      var lane = 0
      while (lane < numHashes) {
        val v = mix64(sh(k) ^ (lane.toLong * 0xD6E8FEB86659FD93L))
        if (v < sig(lane)) sig(lane) = v
        lane += 1
      }
      k += 1
    }
    (sh, sig)
  }

  /** (_id, _sh, _sig): distinct shingle hashes + minhash signature per doc,
    * via ONE Scala mapPartitions pass. Deliberately an object boundary, not
    * expression trees: interpreted higher-order functions cost ~30µs/element,
    * and Catalyst duplicates such expressions freely (CollapseProject inlining
    * across lanes; InferFiltersFromConstraints pushing inferred predicates —
    * with the whole pipeline inlined — beneath every exchange barrier;
    * measured 500s vs <1s for the same work). The closure is opaque to the
    * optimizer, runs narrow, and scales linearly.
    */
  private[ops] def shingleHashFrame(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int, numHashes: Int = 64): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val n = shingleSize
    val nh = numHashes
    df.select(col(idCol).cast("long").as("_id"), col(textCol).cast("string").as("_t"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        val (sh, sig) = shingleAndSig(if (text == null) "" else text, n, nh)
        (id, sh, sig)
      })
      .toDF("_id", "_sh", "_sig")
      // shuffle barrier shared by every consumer (signature banding and the
      // pair-verify joins read the same exchange instead of re-running the map)
      .repartition(col("_id"))
  }

  /** Exact-Jaccard verification of candidate (id_a, id_b) pairs against a
    * materialized (_jid, _sh) shingle-hash frame (set ops over longs).
    */
  private def verifyJaccard(cand: DataFrame, sh: DataFrame, threshold: Double): DataFrame = {
    cand
      .join(sh.select(col("_jid").as("id_a"), col("_sh").as("_sha")), "id_a")
      .join(sh.select(col("_jid").as("id_b"), col("_sh").as("_shb")), "id_b")
      // empty shingle sets (NULL text, docs shorter than the shingle size)
      // all share the degenerate all-MaxValue signature, so they collide in
      // EVERY band and reach this verify as candidate pairs — where the
      // Jaccard denominator is 0 and the division THROWS under ANSI (or
      // yields NaN >= threshold = true without it, silently dropping them).
      // No n-gram content = no near-duplicate: exclude before dividing.
      .filter(size(col("_sha")) > 0 && size(col("_shb")) > 0)
      .withColumn("_inter", size(array_intersect(col("_sha"), col("_shb"))).cast("double"))
      .withColumn("jaccard", col("_inter") /
        (size(col("_sha")) + size(col("_shb")) - col("_inter")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Shared scaffold of the exact n-gram pair laws: df-capped candidate
    * generation + EXACT verification against the full shingle sets.
    *
    * The cap (the [[capBuckets]] no-silent-caps posture, per-shingle
    * instead of per-bucket): a shingle present in more than `maxDf`
    * documents is dropped as a candidate GENERATOR — one boilerplate
    * 3-gram in d documents would otherwise land d rows on ONE shuffle
    * key and emit d² join rows from one task, the only quadratic-by-skew
    * shape these laws ever had. Dropped shingles surface in a
    * `graft_capped_ngramdf_<n>` observe metric (dropped_rows = their
    * summed document frequency, capped_buckets = how many shingles).
    *
    * Verification keeps emitted VALUES exact: candidate pairs join back
    * to the full per-doc shingle sets and shared = |A∩B| counts EVERY
    * shingle, capped ones included. The cap affects RECALL only — a pair
    * whose every shared shingle is hot (df > maxDf on all of them) is
    * not emitted; that is the law, and the oracle replays the same cap.
    *
    * `keepUpperBound(smax, na, nb)` prunes candidates BEFORE the array
    * verify using the provable bound shared ≤ shared_kept +
    * min(ndrop_a, ndrop_b): callers pass their measure's threshold test
    * (both measures are increasing in shared, so pruning on the bound
    * never drops a qualifying pair). Where nothing was dropped the bound
    * is exact and the verify stage touches only the final pairs — the
    * clean-corpus fast path costs what the uncapped law did.
    *
    * Returns (id_a, id_b, shared, na, nb), id_a < id_b, one row per
    * surviving candidate pair (exact threshold filters still apply
    * downstream).
    */
  private def cappedNgramPairs(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int, maxDf: Int,
      keepUpperBound: (Column, Column, Column) => Column): DataFrame = {
    require(maxDf >= 1, s"maxDf must be >= 1, got $maxDf")
    // numHashes = 1: these laws read only the shingle sets — the default
    // 64-lane minhash signature would be computed and thrown away.
    // LAZY localCheckpoint (r19 optimization round): the shingle frame
    // feeds the candidate index, the doc-stats leg AND both verify-join
    // legs; exchange reuse does not fire across their differing
    // projections, so the executed plan re-ran the object-boundary
    // shingle builder (tokenize + per-shingle MD5) up to 12 times per
    // query. One materialized RDD feeds every consumer.
    val sh = shingleHashFrame(df, idCol, textCol, shingleSize, numHashes = 1)
      .withColumn("_n", size(col("_sh")).cast("bigint"))
      .localCheckpoint(false)
    // (no size>0 filter: explode of an empty array emits nothing anyway, and
    // an explicit filter would be pushed — with inferred monster predicates —
    // below the object boundary's parents by the optimizer)
    // ONE exchange serves the whole candidate stage: the df aggregate, the
    // anti join, and both self-join sides all consume this repartition
    val ex = sh.select(col("_id"), explode(col("_sh")).as("_s"))
      .repartition(col("_s"))
    // per-shingle document frequency (shingles are distinct per doc, so
    // count == df) — computed ON the exchange, no second shuffle; a hot
    // key costs O(df) to COUNT, never O(df²)
    val dropped = ex.groupBy(col("_s")).agg(count(lit(1)).as("_df"))
      .observe(s"graft_capped_ngramdf_${capSeq.incrementAndGet()}",
        sum(when(col("_df") > maxDf, col("_df")).otherwise(0L))
          .as("dropped_rows"),
        sum(when(col("_df") > maxDf, 1L).otherwise(0L)).as("capped_buckets"))
      .filter(col("_df") > maxDf)
      .select(col("_s"))
    // candidate index: only low-df shingles generate pairs — per-key join
    // output is bounded by maxDf². The exclusion is an ANTI join against
    // the DROPPED set (≤ incidences/maxDf rows, usually tiny — AQE
    // broadcasts it and the index side stays partitioned; a pathological
    // corpus of mostly-hot shingles degrades to a shuffled anti join,
    // still never a skewed pair join), not an equi join against the
    // large kept side.
    // LAZY localCheckpoint: the capped index feeds the per-doc kept
    // counts and BOTH pair-join sides — materializing it runs the
    // explode → df-screen → anti join once instead of three times
    val cidx = ex.join(dropped, Seq("_s"), "left_anti")
      .localCheckpoint(false)
    // per-doc kept-shingle counts → ndrop = n − nkept feeds the prune bound
    val docStats = sh.select(col("_id"), col("_n"))
      .join(cidx.groupBy(col("_id")).agg(count(lit(1)).as("_nk")),
        Seq("_id"), "left")
      .select(col("_id"), col("_n"),
        (col("_n") - coalesce(col("_nk"), lit(0L))).as("_nd"))
    // candidate pairs with their KEPT-shared counts (narrow rows — the
    // full-set array verify below only runs on pairs that survive the
    // upper-bound prune, never on the raw candidate stream)
    val cand = cidx.as("a").join(cidx.as("b"),
        col("a._s") === col("b._s") && col("a._id") < col("b._id"))
      .groupBy(col("a._id").as("id_a"), col("b._id").as("id_b"))
      .agg(count(lit(1)).as("_sk"))
    // PROVABLE upper bound: shared ≤ shared_kept + min(ndrop_a, ndrop_b)
    // (a dropped shingle can add to shared only if BOTH docs hold it), and
    // both pair measures are increasing in shared — so any pair whose
    // bound misses the threshold can be pruned without an array look.
    // Where nothing was dropped the bound IS the exact shared count and
    // the verify stage touches only the final pairs.
    val bounded = cand
      .join(docStats.select(col("_id").as("id_a"), col("_n").as("na"),
        col("_nd").as("_da")), "id_a")
      .join(docStats.select(col("_id").as("id_b"), col("_n").as("nb"),
        col("_nd").as("_db")), "id_b")
      .withColumn("_smax", col("_sk") + least(col("_da"), col("_db")))
    val survivors = bounded.filter(keepUpperBound(col("_smax"), col("na"),
      col("nb")))
    survivors.select(col("id_a"), col("id_b"))
      .join(sh.select(col("_id").as("id_a"), col("_sh").as("_sha"),
        col("_n").as("na")), "id_a")
      .join(sh.select(col("_id").as("id_b"), col("_sh").as("_shb"),
        col("_n").as("nb")), "id_b")
      .withColumn("shared",
        size(array_intersect(col("_sha"), col("_shb"))).cast("long"))
      .select("id_a", "id_b", "shared", "na", "nb")
  }

  /** Exact n-gram Jaccard pairs via df-capped shingle inverted index
    * ([[cappedNgramPairs]]): candidates are pairs sharing ≥1 shingle with
    * document frequency ≤ `maxDf`; jaccard is EXACT (shared counts every
    * shingle, capped included). Use LSH above when the corpus is
    * web-scale; this is the audit-scale exact law.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, threshold: Double = 0.8,
      maxDf: Int = 64): DataFrame =
    cappedNgramPairs(df, idCol, textCol, shingleSize, maxDf,
      (smax, na, nb) =>
        smax.cast("double") / (na + nb - smax) >= threshold)
      .withColumn("jaccard",
        col("shared").cast("double") / (col("na") + col("nb") - col("shared")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")

  /** Exact n-gram CONTAINMENT pairs — the asymmetric complement of
    * [[ngramJaccardPairs]] (Broder's containment from the original
    * resemblance paper, SEQUENCES '97): overlap = |A∩B| / min(|A|,|B|),
    * the law that catches QUOTE INCLUSION — a short document wholly
    * embedded in a long one scores overlap ≈ 1 while its Jaccard
    * |A∩B|/|A∪B| stays far below any dedup threshold (the long doc's
    * extra shingles swamp the union). A training-data pipeline needs
    * both: Jaccard finds edited copies, containment finds wrapped or
    * concatenated ones.
    *
    * Same df-capped inverted-index scaffold as the Jaccard form
    * ([[cappedNgramPairs]]: capped candidate generation, EXACT
    * verification against the full shingle sets); `containment` is
    * shared/min(na,nb) in ONE double division. Output: (id_a, id_b,
    * shared, na, nb, containment) for pairs at or above `threshold`,
    * id_a < id_b.
    */
  def ngramContainmentPairs(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, threshold: Double = 0.9,
      maxDf: Int = 64): DataFrame =
    cappedNgramPairs(df, idCol, textCol, shingleSize, maxDf,
      (smax, na, nb) => smax.cast("double") / least(na, nb) >= threshold)
      .withColumn("containment",
        col("shared").cast("double") / least(col("na"), col("nb")))
      .filter(col("containment") >= threshold)
      .select("id_a", "id_b", "shared", "na", "nb", "containment")

  /** Exact n-gram Sørensen–Dice pairs ('48) — the third face of the
    * capped shingle family beside [[ngramJaccardPairs]] (union-relative)
    * and [[ngramContainmentPairs]] (min-relative): dice =
    * 2|A∩B|/(|A|+|B|) weights the INTERSECTION twice, so it sits between
    * the two (dice = 2j/(1+j) monotone in Jaccard but tighter near 1 —
    * the threshold vocabulary most near-dup literature quotes, and the
    * one that composes with per-document size priors). Same
    * [[cappedNgramPairs]] scaffold: df-capped candidates, EXACT values
    * against the full shingle sets; the prune bound is valid because
    * dice is increasing in shared (2·smax/(na+nb) ≥ 2·shared/(na+nb)).
    * Output: (id_a, id_b, shared, na, nb, dice) at or above `threshold`,
    * id_a < id_b.
    */
  def ngramDicePairs(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, threshold: Double = 0.85,
      maxDf: Int = 64): DataFrame =
    cappedNgramPairs(df, idCol, textCol, shingleSize, maxDf,
      (smax, na, nb) =>
        smax.cast("double") * 2.0 / (na + nb) >= threshold)
      .withColumn("dice",
        col("shared").cast("double") * 2.0 / (col("na") + col("nb")))
      .filter(col("dice") >= threshold)
      .select("id_a", "id_b", "shared", "na", "nb", "dice")

  /** Corpus-internal duplicate n-gram mass — the one-number boilerplate
    * screen (Lee et al., 'Deduplicating Training Data Makes Language
    * Models Better', ACL '22 measures exactly this surface): of all
    * (document, distinct-n-gram) incidences, the fraction whose n-gram
    * also appears in ANOTHER document. High mass = shared headers,
    * templates, quoted chains — memorization fuel that per-document
    * dedup (Jaccard/containment PAIRS) prices pair-by-pair while this
    * prices the whole corpus at aggregate cost.
    *
    * Exact law: per-document DISTINCT n-grams (the shingle frame), one
    * per-n-gram document-frequency aggregate, then
    * `dup_mass_pico = round(Σ_{df≥2} df / Σ df · 10¹²)` — exact integer
    * sums, ONE double division. No pair join anywhere: cost is two hash
    * aggregates over the exploded shingle stream.
    *
    * Output: ONE row (n_distinct_ngrams, total_doc_ngrams,
    * dup_doc_ngrams, dup_mass_pico); no rows when the corpus has no
    * n-grams.
    */
  def ngramDupMass(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 5): DataFrame = {
    val freq = shingleHashFrame(df, idCol, textCol, shingleSize)
      .select(explode(col("_sh")).as("_s"))
      .groupBy(col("_s")).agg(count(lit(1)).as("_df"))
    freq.agg(count(lit(1)).as("n_distinct_ngrams"),
        coalesce(sum(col("_df")), lit(0L)).as("total_doc_ngrams"),
        coalesce(sum(when(col("_df") >= 2L, col("_df")).otherwise(0L)),
          lit(0L)).as("dup_doc_ngrams"))
      .filter(col("n_distinct_ngrams") > 0L)
      .withColumn("dup_mass_pico",
        round(col("dup_doc_ngrams").cast("double")
          / col("total_doc_ngrams").cast("double") * 1000000000000.0)
          .cast("long"))
  }

  /** Cross-corpus NEAR-dup dedup — the fuzzy sibling of [[exactAgainst]]:
    * drop incoming documents whose word-n-gram Jaccard with ANY reference
    * document is ≥ `threshold` (the incremental-crawl guard against
    * re-ingesting lightly-edited copies of what the corpus already holds).
    * Returns the SURVIVING incoming rows, same contract as exactAgainst.
    *
    * Scale shape mirrors [[minhashLshPairs]]: both sides get banded MinHash
    * bucket keys in one narrow pass each; candidates come from an
    * equi-join on (band, bucket) — never incoming × reference — with
    * per-side `maxBucket` caps on degenerate buckets; the survivors of the
    * bucket join are verified with EXACT Jaccard over the materialized
    * shingle-hash sets, so false bucket collisions cannot drop a document.
    */
  def minhashAgainst(incoming: DataFrame, reference: DataFrame,
      idCol: String, textCol: String, numHashes: Int = 64, bands: Int = 16,
      shingleSize: Int = 3, threshold: Double = 0.8,
      maxBucket: Int = 1000): DataFrame =
    minhashAgainstSh(incoming,
      shingleHashFrame(reference, idCol, textCol, shingleSize, numHashes),
      idCol, textCol, numHashes, bands, shingleSize, threshold, maxBucket)

  /** [[minhashAgainst]] against a PERSISTED [[RefStore]] minhash artifact:
    * batch N+1 reads the reference signatures the earlier batches
    * committed instead of recomputing shingles + 64 hash lanes over the
    * whole reference corpus per run. `bands` stays a query-time knob (any
    * divisor of the stored numHashes); the signature-law parameters come
    * from the store's meta and are validated against the caller's
    * expectations when supplied.
    */
  def minhashAgainstStored(incoming: DataFrame, storeDir: String,
      idCol: String, textCol: String, bands: Int = 16,
      threshold: Double = 0.8, maxBucket: Int = 1000): DataFrame = {
    val (refSh, numHashes, shingleSize) =
      RefStore.loadMinhash(incoming.sparkSession, storeDir)
    minhashAgainstSh(incoming, refSh, idCol, textCol, numHashes, bands,
      shingleSize, threshold, maxBucket)
  }

  private def minhashAgainstSh(incoming: DataFrame, refSh: DataFrame,
      idCol: String, textCol: String, numHashes: Int, bands: Int,
      shingleSize: Int, threshold: Double, maxBucket: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    // NOT checkpointed (r19 optimization round) — same measured verdict
    // as minhashLshPairsSh: the 64-lane signature frame costs more to
    // materialize than its consumers' reuse saves, on either side
    val shi = shingleHashFrame(incoming, idCol, textCol, shingleSize, numHashes)
    def banded(sh: DataFrame, as: String): DataFrame = {
      val b = sh.select(col("_id"), explode(
        array((0 until bands).map { i =>
          struct(lit(i).as("band"),
            xxhash64(concat_ws(",", slice(col("_sig"), i * r + 1, r))).as("bh"))
        }: _*)).as("bk"))
        .select(col("_id").as(as), col("bk.band"), col("bk.bh"))
      capBuckets(b, Seq("band", "bh"), as, maxBucket, s"against_$as")
    }
    val bi = banded(shi, "_iid")
    val br = banded(refSh, "_rid")
    val cand = bi.join(br, Seq("band", "bh"))
      .select(col("_iid"), col("_rid")).distinct()
    val flagged = cand
      .join(shi.select(col("_id").as("_iid"), col("_sh").as("_sha")), "_iid")
      .join(refSh.select(col("_id").as("_rid"), col("_sh").as("_shb")), "_rid")
      // same degenerate-pair exclusion as verifyJaccard: empty-vs-empty
      // candidates would divide 0/0 (ANSI throw) — and a stored empty
      // signature would otherwise arm that crash for every later batch
      .filter(size(col("_sha")) > 0 && size(col("_shb")) > 0)
      .withColumn("_inter", size(array_intersect(col("_sha"), col("_shb"))).cast("double"))
      .filter(col("_inter") /
        (size(col("_sha")) + size(col("_shb")) - col("_inter")) >= threshold)
      .select(col("_iid")).distinct()
    incoming
      .withColumn("_mhid", col(idCol).cast("long"))
      .join(flagged, col("_mhid") === col("_iid"), "left_anti")
      .drop("_mhid")
  }

  /** The SimHash token-hash PROFILES (r11 verdict task 7): the signature
    * law — sign-counting of per-token hash bits — is hash-agnostic, so
    * the hash is pluggable behind one law structure:
    *
    *   - `"md5"` (default, the ORACLE profile): first 8 bytes of
    *     md5(utf-8 token) read big-endian. md5 is THE hash both engines
    *     share, so every signature — and therefore the near-dup pair
    *     set — replays exactly in the DuckDB oracle. Every registry row
    *     runs this profile (no honesty regression).
    *   - `"xxhash64"` (the PRODUCTION profile): Spark's builtin
    *     xxhash64 (XXH64, seed 42) — the codegen'd non-cryptographic
    *     hash. At scale a cryptographic digest per token over the whole
    *     corpus is a real CPU tax paid only for oracle replayability
    *     (the r11 verdict's adjudication); production dedup pipelines
    *     flip this flag and keep the identical law/banding/verify shape.
    *
    * Both profiles share bit law `(h >>> (63−b)) & 1` and the ≥0 sign
    * rule; profile equivalence-of-shape is pinned by DedupSpec (Scala
    * twin ≡ expression twin per profile, planted recall holds on both).
    */
  val Md5Profile = "md5"
  val XxProfile = "xxhash64"

  /** Per-token 64-bit hasher for `profile` — ONE instance per partition
    * (the closure owns the reusable digest; per-row getInstance would
    * allocate per row, the [[graft.ops.Importance]] note).
    */
  private[ops] def tokenHasher(profile: String): String => Long = profile match {
    case Md5Profile =>
      val md = java.security.MessageDigest.getInstance("MD5")
      t => {
        md.reset()
        val d = md.digest(t.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        var h = 0L; var i = 0
        while (i < 8) { h = (h << 8) | (d(i) & 0xFFL); i += 1 }
        h
      }
    case XxProfile =>
      t => {
        val b = t.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
          b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, b.length, 42L)
      }
    case other => sys.error(
      s"unknown simhash profile '$other' (expected '$Md5Profile' or '$XxProfile')")
  }

  /** 64-bit SimHash of a document: sign-aggregate of per-token hash bits.
    * One pass over tokens with an array accumulator — narrow, codegen'd.
    *
    * TOKEN-HASH LAW (md5 profile, SQL-replayable): the per-token hash is
    * the FIRST 8 BYTES of md5(utf-8 token) read big-endian (== the first
    * 16 lowercase-hex chars), and "bit b" of the hash is `(h >>> (63−b))
    * & 1` — i.e. bit 3−(b mod 4) of hex nibble b div 4. Signature bit b
    * is set iff the signed token-count at b is ≥ 0 (the MinHash-banding /
    * E–S-sampling md5 discipline applied to the signature step; r10
    * verdict task 1). The xxhash64 profile swaps only the per-token hash
    * (the builtin, seed 42) — see the profile scaladoc above.
    */
  def simhash64(text: Column, profile: String = Md5Profile): Column = {
    def tokenHashCol(t: Column): Column = profile match {
      case Md5Profile =>
        val hex = md5(t.cast("binary"))
        call_function("shiftleft",
            conv(substring(hex, 1, 8), 16, 10).cast("long"), lit(32))
          .bitwiseOR(conv(substring(hex, 9, 8), 16, 10).cast("long"))
      case XxProfile => xxhash64(t)
      case other => sys.error(
        s"unknown simhash profile '$other' (expected '$Md5Profile' or '$XxProfile')")
    }
    val counts = aggregate(
      TextFns.tokens(text),
      array_repeat(lit(0L), 64),
      (acc, t) => {
        val h = tokenHashCol(t)
        zip_with(acc, sequence(lit(0L), lit(63L)),
          (a, b) => a + when(
            call_function("shiftrightunsigned", h, (lit(63L) - b).cast("int"))
              .bitwiseAND(1L) === 1L, 1L)
            .otherwise(-1L))
      })
    aggregate(
      zip_with(counts, sequence(lit(0L), lit(63L)),
        (cnt, b) => when(cnt >= 0, call_function("shiftleft", lit(1L), b.cast("int")))
          .otherwise(lit(0L))),
      lit(0L), (acc, x) => acc.bitwiseOR(x))
  }

  /** Scala twin of [[simhash64]] (SAME token-hash law as the chosen
    * profile, bit for bit) for the object-boundary pair search. `th` is
    * the caller's per-partition [[tokenHasher]].
    */
  private[ops] def simhash64Scala(text: String, th: String => Long): Long = {
    val counts = new Array[Int](64)
    TextFns.tokensScala(text).foreach { t =>
      val h = th(t)
      var b = 0
      while (b < 64) {
        if (((h >>> (63 - b)) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
    }
    var sig = 0L
    var b = 0
    while (b < 64) { if (counts(b) >= 0) sig |= (1L << b); b += 1 }
    sig
  }

  /** Single-call convenience twin (tests / one-off probes), md5 profile. */
  private[ops] def simhash64Scala(text: String): Long =
    simhash64Scala(text, tokenHasher(Md5Profile))

  /** SimHash near-duplicate pairs: bucket-join on 4×16-bit chunks (any pair
    * with Hamming distance ≤ 3 shares at least one chunk), verified with
    * bit_count(a xor b) ≤ maxHamming. Signatures computed at an object
    * boundary (see [[shingleHashFrame]] for why not expression trees).
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxBucket: Int = 1000,
      profile: String = Md5Profile): DataFrame =
    hammingPairsFromSig(simhashFrame(df, idCol, textCol, profile),
      maxHamming, maxBucket, "simhash")

  /** Hamming-near pairs of ANY 64-bit signature frame (_id, _sh) — the
    * pigeonhole bucket join + exact `bit_count(xor)` verify shared by text
    * SimHash and image dHash ([[graft.multimodal.Multimodal
    * .imageNearDupPairs]]): 4×16-bit chunks guarantee every pair within
    * Hamming ≤ 3 shares a bucket; never all-pairs.
    */
  private[graft] def hammingPairsFromSig(sig: DataFrame, maxHamming: Int,
      maxBucket: Int, tag: String): DataFrame = {
    // LAZY localCheckpoint (r19 optimization round): both self-join
    // sides read the materialized capped bucket stream instead of each
    // re-running the signature object pass + cap window
    val capped = simhashChunked(sig, maxBucket, tag)
      .localCheckpoint(false)
    capped.as("a").join(capped.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.ch") === col("b.ch") &&
          col("a._id") < col("b._id"))
      .select(col("a._id").as("id_a"), col("b._id").as("id_b"),
        bit_count(col("a._sh").bitwiseXOR(col("b._sh"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** (_id, _sh) signature frame — one narrow object-boundary pass, the
    * persistable unit of the SimHash family ([[RefStore.writeSimhash]]).
    */
  private[graft] def simhashFrame(df: DataFrame, idCol: String,
      textCol: String, profile: String = Md5Profile): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long").as("_id"), col(textCol).cast("string").as("_t"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val th = tokenHasher(profile)
        it.map { case (id, t) => (id, simhash64Scala(if (t == null) "" else t, th)) }
      }
      .toDF("_id", "_sh")
      .repartition(col("_id"))
  }

  /** Pigeonhole fanout of a signature frame: 4 rows per doc keyed by
    * (chunk index, 16-bit chunk value) — any pair within Hamming ≤ 3
    * shares at least one chunk — with the standard per-bucket cap.
    */
  private def simhashChunked(sig: DataFrame, maxBucket: Int,
      tag: String): DataFrame = {
    val chunked = sig.select(col("_id"), col("_sh"), explode(
      array((0 until 4).map { k =>
        struct(lit(k).as("chunk"),
          shiftright(col("_sh"), k * 16).bitwiseAND(0xFFFFL).as("ch")).as("c")
      }: _*)).as("ck"))
      .select(col("_id"), col("_sh"), col("ck.chunk"), col("ck.ch"))
    capBuckets(chunked, Seq("chunk", "ch"), "_id", maxBucket, tag)
  }

  /** Cross-corpus SimHash dedup — the Hamming-distance sibling of
    * [[minhashAgainst]]: drop incoming documents whose 64-bit SimHash is
    * within `maxHamming` bits of ANY reference document's. Returns the
    * SURVIVING incoming rows, same contract as [[exactAgainst]].
    *
    * Scale shape: both sides fan out to 4 pigeonhole-chunk rows; candidates
    * come from the (chunk, value) equi-join — never incoming × reference —
    * and are verified with the exact `bit_count(xor)` distance, so a false
    * bucket collision cannot drop a document.
    */
  def simhashAgainst(incoming: DataFrame, reference: DataFrame, idCol: String,
      textCol: String, maxHamming: Int = 3, maxBucket: Int = 1000,
      profile: String = Md5Profile): DataFrame =
    simhashAgainstSig(incoming, simhashFrame(reference, idCol, textCol, profile),
      idCol, textCol, maxHamming, maxBucket, profile)

  /** [[simhashAgainst]] against a PERSISTED [[RefStore]] signature frame:
    * batch N+1 reads the 8-byte-per-doc signatures earlier batches
    * committed instead of re-hashing the whole reference corpus per run.
    * `maxHamming` stays a query-time knob (the signature law is fixed;
    * only the verify threshold varies).
    */
  def simhashAgainstStored(incoming: DataFrame, storeDir: String,
      idCol: String, textCol: String, maxHamming: Int = 3,
      maxBucket: Int = 1000): DataFrame =
    simhashAgainstSig(incoming,
      RefStore.loadSimhash(incoming.sparkSession, storeDir),
      idCol, textCol, maxHamming, maxBucket,
      // signatures only compare under ONE law: the incoming side hashes
      // with the PROFILE THE STORE COMMITTED (meta), never a caller flag
      RefStore.simhashProfile(incoming.sparkSession, storeDir))

  private def simhashAgainstSig(incoming: DataFrame, refSig: DataFrame,
      idCol: String, textCol: String, maxHamming: Int,
      maxBucket: Int, profile: String = Md5Profile): DataFrame = {
    val flagged = hammingFlaggedAgainstSig(
      simhashFrame(incoming, idCol, textCol, profile), refSig, maxHamming,
      maxBucket, "shagainst")
    incoming.join(flagged,
        incoming(idCol).cast("long") === flagged("_fid"), "left_anti")
  }

  /** Incoming signature ids within `maxHamming` of ANY reference
    * signature — the shared cross-corpus screen of text SimHash and image
    * dHash ([[graft.multimodal.Multimodal.imageNearDupAgainstStored]]):
    * both sides fan out to pigeonhole-chunk rows, candidates come from
    * the (chunk, value) equi-join — never incoming × reference — and the
    * exact `bit_count(xor)` verifies. Returns a 1-column `_fid` frame.
    */
  private[graft] def hammingFlaggedAgainstSig(inSig: DataFrame,
      refSig: DataFrame, maxHamming: Int, maxBucket: Int,
      tag: String): DataFrame = {
    val bi = simhashChunked(inSig, maxBucket, s"${tag}_in")
    val br = simhashChunked(refSig.select(col("_id"), col("_sh")),
      maxBucket, s"${tag}_ref")
    bi.as("a").join(br.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.ch") === col("b.ch"))
      .filter(bit_count(col("a._sh").bitwiseXOR(col("b._sh"))) <= maxHamming)
      .select(col("a._id").as("_fid")).distinct()
  }

  /** Cross-document chunk-level exact dedup (the CCNet line-dedup family,
    * over fixed char windows since corpus text carries no line structure):
    * split each document into non-overlapping `size`-char chunks, drop every
    * chunk whose content appears in MORE than one distinct document
    * (boilerplate headers, license blocks, templated spans), and reassemble
    * the surviving chunks in order. Whole-document exact duplicates lose all
    * their chunks — their clean text collapses to "" — while unique content
    * passes through untouched.
    *
    * Returns one row per input document: (idCol, n_chunks, n_kept,
    * clean_len, clean_hash) where clean_hash = md5 of the reassembled text
    * (the compact oracle-able witness of the reassembly — downstream stages
    * would carry the text itself).
    *
    * Scale shape: chunking is a narrow codegen'd fanout; the duplicate count
    * is one hash-aggregate shuffle on the 128-bit chunk hash; the frequency
    * join is 1:1 per chunk row (no fanout — `freq` has one row per distinct
    * hash); reassembly is one shuffle back to the document key with an
    * in-group sort. No window over unpartitioned data, no driver state.
    */
  /** Cross-corpus SUB-DOCUMENT duplication via content-defined chunks:
    * incoming documents that share any [[Chunking.cdcChunks]] chunk (of
    * ≥ `minTokens` tokens — trivial short chunks would match noise) with
    * the reference corpus, with the shared fraction — the partial-overlap
    * detector whole-document fingerprints can't see and span excision
    * ([[stripDuplicatedSpans]]) only handles within the frame it scans.
    * Because CDC boundaries are content-local, a document that embeds a
    * reference passage verbatim shares that passage's interior chunks no
    * matter where it lands — the shift-robustness property doing cross-
    * corpus work.
    *
    * Output: (idCol, n_chunks, n_shared, share_frac) for incoming docs
    * with at least one shared chunk. `n_chunks` counts ONLY the
    * qualifying (≥ `minTokens`-token) chunks — it is the denominator of
    * `share_frac`, NOT the document's total CDC chunk count; sub-minimum
    * chunks are invisible to both the numerator and the denominator, so
    * the fraction reads "share of matchable content", not "share of all
    * chunks". Scale shape: chunking is narrow; the
    * overlap test is ONE hash-partitioned equi join on the chunk hash
    * against the reference's distinct chunk set (at scale that set is a
    * persisted artifact — the [[graft.ops.RefStore]] fingerprint
    * discipline applies verbatim to chunk hashes).
    */
  def cdcChunkOverlap(incoming: DataFrame, reference: DataFrame,
      idCol: String, textCol: String, minTokens: Int = 5): DataFrame = {
    val refHashes = Chunking.cdcChunks(reference, idCol, textCol)
      .filter(col("n_toks") >= minTokens)
      .select(col("chunk_hash")).distinct()
    cdcOverlapAgainstHashes(incoming, refHashes, idCol, textCol, minTokens)
  }

  /** [[cdcChunkOverlap]] against a PERSISTED reference chunk-hash set
    * ([[RefStore.writeCdcChunks]] / mergeCdcChunks) — the incremental form
    * the live variant's scaladoc promises at scale: the reference corpus
    * chunks once per store commit; each ingest batch chunks only ITSELF
    * and equi-joins the loaded hash frame. The qualification law
    * (minTokens) comes from the store's meta, so query and artifact can
    * never disagree on which chunks count.
    */
  def cdcOverlapStored(incoming: DataFrame, storeDir: String,
      idCol: String, textCol: String): DataFrame = {
    val (refHashes, minTokens) =
      RefStore.loadCdcChunks(incoming.sparkSession, storeDir)
    cdcOverlapAgainstHashes(incoming, refHashes, idCol, textCol, minTokens)
  }

  /** The shared scoring join of the live and stored CDC overlap forms:
    * chunk the incoming side, left-join the (distinct) reference hash
    * set on the chunk hash, aggregate per document.
    */
  private def cdcOverlapAgainstHashes(incoming: DataFrame, refHashes: DataFrame,
      idCol: String, textCol: String, minTokens: Int): DataFrame =
    Chunking.cdcChunks(incoming, idCol, textCol)
      .filter(col("n_toks") >= minTokens)
      .join(refHashes.withColumn("_hit", lit(1)), Seq("chunk_hash"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_chunks"), count(col("_hit")).as("n_shared"))
      .withColumn("share_frac",
        col("n_shared").cast("double") / col("n_chunks").cast("double"))
      .filter(col("n_shared") > 0)

  def chunkDedupDocs(df: DataFrame, idCol: String, textCol: String,
      size: Int = 400): DataFrame = {
    // LAZY localCheckpoint (r19 optimization round): the chunk frame
    // feeds the frequency aggregate AND the keep join — one chunking
    // pass, not two
    val chunks = Chunking.charChunks(df, idCol, textCol, size, overlap = 0)
      .select(col(idCol), col("chunk_idx"), col("chunk_text"),
        md5(col("chunk_text")).as("_h"))
      .localCheckpoint(false)
    val freq = chunks.groupBy(col("_h"))
      .agg(count_distinct(col(idCol)).as("_ndocs"))
    val kept = when(col("_ndocs") === 1,
      struct(col("chunk_idx"), col("chunk_text")))
    chunks.join(freq, "_h")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_chunks"),
        count(kept).as("n_kept"),
        // collect_list drops the nulls of non-kept chunks; array_sort on the
        // (chunk_idx, text) struct restores document order deterministically
        array_join(transform(array_sort(collect_list(kept)),
          c => c.getField("chunk_text")), "").as("_clean"))
      .select(col(idCol), col("n_chunks"), col("n_kept"),
        length(col("_clean")).cast("bigint").as("clean_len"),
        md5(col("_clean")).as("clean_hash"))
  }

  /** Corpus-duplicated span islands — substring-level dedup in the spirit
    * of Lee et al., "Deduplicating Training Data Makes Language Models
    * Better" (ACL'22): find character spans that recur across documents
    * and merge them into per-document intervals. Span starts are picked by
    * CONTENT, not position — a k-gram is an anchor iff its hash is a
    * strict local minimum among the `w` k-grams on each side (the
    * winnowing/fingerprinting idea of Schleimer et al., SIGMOD'03) — so
    * two copies of a long duplicated run select the SAME interior anchors
    * no matter where the run sits in each document (fixed-stride windows
    * would only match when both copies happen to share alignment phase).
    * A span of `span` chars from each anchor is hashed; spans whose exact
    * text occurs in ≥ `minDocs` distinct documents are flagged and merged
    * (gaps-and-islands) into intervals.
    *
    * Detection granularity: duplicated runs of at least ~(span + 2w + k)
    * chars are caught in their interior; runs shorter than `span` never
    * are. Highly repetitive text yields no STRICT local minima and thus no
    * anchors inside the repetition — its duplication is the intra-doc kind
    * ([[graft.queries.Registry.qRepetition]] territory), documented, not
    * hidden.
    *
    * Scale shape: anchor selection is ONE narrow mapPartitions pass per
    * document (object boundary, the [[Dedup]] shingleHashFrame idiom) —
    * the per-position k-gram hashes live only inside the closure, so
    * nothing per-CHAR is ever shuffled. A declarative explode + window
    * formulation would sort a frame ~40× the corpus bytes (one 32-hex
    * hash row per character); here the first exchange already carries
    * only the ~2/(w+1)-per-char span candidates. Flagged-span detection
    * is one hash-aggregate on the span hash + a semi join, then a
    * doc-keyed island-merge window over flagged spans only — all keyed
    * shuffles, nothing quadratic, no driver state.
    *
    * Hash/offset law (oracle contract): hashes are lowercase-hex md5 of
    * the UTF-8 bytes; offsets are Java UTF-16 code units, which equal
    * SQL's codepoint offsets for BMP text (the oracle's domain). Non-BMP
    * documents are handled exactly, not just tolerated: no emitted slice
    * ever splits a surrogate pair (a position on the low half of a pair is
    * not an anchor; a slice end that would cut a pair extends by one unit),
    * so span hashes are always md5 of well-formed text — two documents
    * differing only in an astral character can never collide via the
    * replacement-char encoding of an unpaired surrogate. Excision
    * ([[stripDuplicatedSpans]]) consumes these offsets in the JVM with the
    * same UTF-16 indexing end-to-end.
    */
  def duplicatedSpanIslands(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, w: Int = 8, span: Int = 40, minDocs: Int = 2): DataFrame = {
    require(k > 0 && w > 0 && span >= k && minDocs >= 2,
      "need k > 0, w > 0, span >= k, minDocs >= 2")
    val spark = df.sparkSession
    import spark.implicits._
    val (kk, ww, sp) = (k, w, span)
    val spans = df
      .select(col(idCol).cast("long").as("_id"), col(textCol).cast("string").as("_t"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val digest = java.security.MessageDigest.getInstance("MD5")
        val utf8 = java.nio.charset.StandardCharsets.UTF_8
        def hex(b: Array[Byte]): String = TextFns.hexBytes(b)
        // unsigned digest-byte order == lowercase-hex lexicographic order
        // (each byte renders as two hex digits preserving unsigned rank), so
        // the anchor test can compare raw 16-byte digests and skip per-
        // position hex-string construction entirely
        def cmp(a: Array[Byte], b: Array[Byte]): Int = {
          var i = 0
          while (i < 16) {
            val d = (a(i) & 0xff) - (b(i) & 0xff)
            if (d != 0) return d
            i += 1
          }
          0
        }
        it.flatMap { case (id, text) =>
          val t = if (text == null) "" else text
          val m = t.length - kk + 1 // k-gram count
          if (m <= 0) Iterator.empty
          else {
            // ASCII fast path: one UTF-8 encoding of the whole document, then
            // every k-gram digests a slice of that array with zero per-
            // position allocation. Non-ASCII docs (byte count != char count,
            // so char offsets aren't byte offsets) fall back to substring
            // encoding — the LAW (md5 of the UTF-8 bytes of the char span)
            // is identical on both paths.
            val bytes = t.getBytes(utf8)
            val ascii = bytes.length == t.length
            // surrogate hygiene (non-ASCII path only): a slice end that
            // would cut a pair extends one unit to keep it; a position on
            // the low half of a pair can't start a span. Identity on BMP
            // text, so the oracle law is untouched.
            def alignEnd(e: Int): Int =
              if (e > 0 && e < t.length && Character.isLowSurrogate(t.charAt(e)) &&
                Character.isHighSurrogate(t.charAt(e - 1))) e + 1 else e
            def midPair(q: Int): Boolean =
              q > 0 && Character.isLowSurrogate(t.charAt(q)) &&
                Character.isHighSurrogate(t.charAt(q - 1))
            def gramDigest(p: Int, into: Array[Byte]): Unit = {
              digest.reset()
              if (ascii) digest.update(bytes, p, kk)
              else digest.update(t.substring(p, alignEnd(p + kk)).getBytes(utf8))
              digest.digest(into, 0, 16)
            }
            // ring of the last 2w+1 k-gram digests: the strict-local-min
            // test for position q only reads [q-w, q+w], so per-doc memory
            // is O(w), not O(doc length) (a full hash array would be ~50×
            // the document size in the worst case)
            val ring = Array.fill(2 * ww + 1)(new Array[Byte](16))
            def isAnchor(q: Int): Boolean = {
              val hq = ring(q % ring.length)
              val lo = math.max(0, q - ww); val hi = math.min(m - 1, q + ww)
              var j = lo; var sel = true
              while (sel && j <= hi) {
                if (j != q && cmp(ring(j % ring.length), hq) <= 0) sel = false
                j += 1
              }
              sel
            }
            val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, String)]
            def emit(q: Int): Unit = {
              if (!ascii && midPair(q)) return // can't start a span mid-pair
              val slen =
                if (ascii) math.min(sp, t.length - q)
                else alignEnd(math.min(q + sp, t.length)) - q
              digest.reset()
              if (ascii) digest.update(bytes, q, slen)
              else digest.update(t.substring(q, q + slen).getBytes(utf8))
              out += ((id, q.toLong, slen.toLong, hex(digest.digest())))
            }
            var p = 0
            while (p < m) {
              gramDigest(p, ring(p % ring.length))
              // position p-w now has its full right neighborhood in the ring
              val q = p - ww
              if (q >= 0 && isAnchor(q)) emit(q)
              p += 1
            }
            // tail positions whose right neighborhood is truncated by doc end
            var q = math.max(0, m - ww)
            while (q < m) { if (isAnchor(q)) emit(q); q += 1 }
            out.iterator
          }
        }
      }
      .toDF("_id", "_start", "_slen", "_sh")
      // LAZY localCheckpoint shared by BOTH consumers below (frequency
      // aggregate and the flagged-span semi join): the r19 plan audit
      // showed the old repartition-barrier's exchange reuse NOT firing
      // across the consumers' projections — each re-ran the whole anchor
      // pass. One materialized RDD feeds both; the semi join and the
      // per-doc island window shuffle only the span candidates
      // (~2/(w+1) per char), never re-running the object boundary.
      .localCheckpoint(false)
    val dup = spans.groupBy("_sh")
      .agg(count_distinct(col("_id")).as("_nd"))
      .filter(col("_nd") >= minDocs)
    val wse = Window.partitionBy("_id").orderBy("_start")
    val prevMaxEnd = max(col("_end")).over(
      wse.rowsBetween(Window.unboundedPreceding, -1))
    spans.join(dup.select("_sh"), Seq("_sh"), "left_semi")
      .withColumn("_end", col("_start") + col("_slen"))
      .withColumn("_brk",
        when(prevMaxEnd.isNull || col("_start") > prevMaxEnd, 1).otherwise(0))
      .withColumn("_isl",
        sum(col("_brk")).over(wse.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("_id"), col("_isl"))
      .agg(min(col("_start")).as("island_start"),
        max(col("_end")).as("island_end"),
        count(lit(1)).as("n_spans"))
      .select(col("_id").as(idCol), col("island_start"), col("island_end"),
        col("n_spans"))
  }

  /** Excise the duplicated-span islands from every document: the
    * reassembly law of [[duplicatedSpanIslands]]. Returns one row per
    * input document — (idCol, n_islands, n_dup_spans, clean_len,
    * clean_hash) — with the kept segments concatenated in order (hash
    * witness, same contract as [[chunkDedupDocs]]).
    *
    * The cut happens in the JVM with the SAME UTF-16 indexing the anchor
    * pass emitted — a SQL `substr` excision counts codepoints and would
    * shift every island after an astral character (emoji), silently
    * excising the wrong text while reporting success. `clean_len` counts
    * codepoints (= SQL `length`) and `clean_hash` is md5 of the UTF-8
    * bytes (= SQL `md5`), so the oracle law on BMP text is unchanged.
    *
    * Bench note: the earlier declarative-fold excision let `count()`
    * ELIMINATE the whole pipeline (count over a left join against a
    * grouped key is join-eliminated, and every computed column pruned),
    * so pre-r6 bench entries for q_span_dedup (~0.4 s at sf0.1) measured
    * a collapsed plan. The object boundary here is opaque to pruning, so
    * the ~1.4 s it shows now is the operator's real cost — the same work
    * the correctness gate's parquet write always paid.
    */
  def stripDuplicatedSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, w: Int = 8, span: Int = 40, minDocs: Int = 2): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val islands = duplicatedSpanIslands(df, idCol, textCol, k, w, span, minDocs)
    // array<[start,end]> sorts lexicographically == ascending by start
    // (islands are disjoint by construction, so starts never tie)
    val perDoc = islands.groupBy(idCol)
      .agg(count(lit(1)).as("_ni"), sum(col("n_spans")).as("_nsp"),
        array_sort(collect_list(array(col("island_start"), col("island_end"))))
          .as("_isl"))
    val txt = coalesce(col(textCol).cast("string"), lit(""))
    df.select(col(idCol).cast("long").as(idCol), txt.as("_t"))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol), col("_t"),
        coalesce(col("_ni"), lit(0L)).as("_ni"),
        coalesce(col("_nsp"), lit(0L)).as("_nsp"),
        coalesce(col("_isl"), array().cast("array<array<bigint>>")).as("_isl"))
      .as[(Long, String, Long, Long, Seq[Seq[Long]])]
      .mapPartitions { it =>
        val digest = java.security.MessageDigest.getInstance("MD5")
        val utf8 = java.nio.charset.StandardCharsets.UTF_8
        it.map { case (id, t0, ni, nsp, isl) =>
          val t = if (t0 == null) "" else t0
          val sb = new java.lang.StringBuilder(t.length)
          var pos = 0
          isl.foreach { se =>
            val s = math.min(se(0), t.length.toLong).toInt
            val e = math.min(se(1), t.length.toLong).toInt
            if (s > pos) sb.append(t, pos, s)
            pos = math.max(pos, e)
          }
          if (pos < t.length) sb.append(t, pos, t.length)
          val clean = sb.toString
          digest.reset()
          (id, ni, nsp, clean.codePointCount(0, clean.length).toLong,
            TextFns.hexBytes(digest.digest(clean.getBytes(utf8))))
        }
      }
      .toDF(idCol, "n_islands", "n_dup_spans", "clean_len", "clean_hash")
  }

  /** Winnowing fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD '03 —
    * the MOSS algorithm): from each window of `w` consecutive word
    * `k`-gram hashes, keep the minimum (rightmost on ties, the paper's
    * density rule); the selected (position, hash) set is the document's
    * fingerprint. The guarantee the other dedup laws lack: ANY shared
    * substring of at least w + k − 1 words is caught by at least one
    * COMMON selected fingerprint — local, position-aware plagiarism /
    * quote detection with ~2/(w+1) of the k-gram density.
    *
    * Engine-replayable hash law: a k-gram hashes to the first 15 hex
    * nibbles of the md5 of its space-joined tokens, read as a BIGINT
    * (the [[Sketches.kmvDistinct]] polynomial — fixed-width hex is
    * engine-independent). Tokens are [[TextFns.tokens]] of
    * `lower(text)`. Only FULL windows select (docs with fewer than
    * w + k − 1 tokens emit nothing); duplicate selections collapse.
    *
    * Scale shape: ONE narrow object-boundary pass (the
    * [[shingleHashFrame]] idiom — per-doc state is a w-slot ring, the
    * closure opaque to constraint-inference duplication), output
    * ~2n/(w+1) rows per n-token doc; no shuffle except the caller's
    * ordering.
    *
    * Output: (idCol, pos, fp_hash) — `pos` the 1-based k-gram position
    * of each selected fingerprint.
    */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
      k: Int = 5, w: Int = 4): DataFrame = {
    require(k >= 1 && w >= 1, s"bad arguments: k=$k w=$w")
    val spark = df.sparkSession
    import spark.implicits._
    val kk = k; val ww = w
    df.select(col(idCol).cast("long").as("_id"),
        col(textCol).cast("string").as("_t"))
      .as[(Long, String)]
      .mapPartitions { it =>
        // ONE digest per partition (the [[tokenHasher]] note), and the
        // 60-bit fingerprint reads the digest BYTES directly — the old
        // per-gram lowercase-hex render + parseLong allocated ~30 strings
        // per position for a value that is just the top 15 nibbles
        // (r19 optimization round, guide §1.2 per-task work; value
        // identical: hex.substring(0,15) parsed base-16 == bytes 0..6
        // shifted left a nibble + byte 7's high nibble)
        val md = java.security.MessageDigest.getInstance("MD5")
        val utf8 = java.nio.charset.StandardCharsets.UTF_8
        val space = Array(' '.toByte)
        it.flatMap { case (id, text) =>
        val toks = TextFns.tokensScala(
          if (text == null) null else text.toLowerCase(java.util.Locale.ROOT))
        val m = toks.length - kk + 1
        if (m < ww) Iterator.empty
        else {
          // token bytes once per doc; grams digest incrementally with the
          // separator byte — no per-gram string/byte-array concatenation
          val tb = toks.map(_.getBytes(utf8))
          val hs = new Array[Long](m)
          var i = 0
          while (i < m) {
            md.reset()
            var q = 0
            while (q < kk) {
              if (q > 0) md.update(space)
              md.update(tb(i + q))
              q += 1
            }
            val d = md.digest()
            var h = 0L
            var bi = 0
            while (bi < 7) { h = (h << 8) | (d(bi) & 0xffL); bi += 1 }
            hs(i) = (h << 4) | ((d(7) & 0xffL) >>> 4)
            i += 1
          }
          val out = scala.collection.mutable.LinkedHashSet.empty[(Long, Long)]
          var j = 0
          while (j <= m - ww) {
            var best = j
            var p = j + 1
            while (p < j + ww) {
              // rightmost minimum: later positions win ties
              if (hs(p) <= hs(best)) best = p
              p += 1
            }
            out += (((best + 1).toLong, hs(best)))
            j += 1
          }
          out.iterator.map { case (pos, h) => (id, pos, h) }
        }
      }}
      .toDF(idCol, "pos", "fp_hash")
  }
}
