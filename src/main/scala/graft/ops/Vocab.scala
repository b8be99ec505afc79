package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFns

/** Vocabulary-construction counting for tokenizer training: the corpus-wide
  * adjacent-pair frequency table that drives BPE/WordPiece merge selection
  * (Sennrich et al., "Neural Machine Translation of Rare Words with Subword
  * Units", ACL'16 — each merge round picks the most frequent adjacent pair).
  * This is the counting round at corpus scale; the merge loop itself is a
  * driver-side iteration over the (tiny) top-of-table result.
  *
  * Scale shape: one narrow mapPartitions pass emits pairs (object boundary,
  * not HOF expression trees — the measured Catalyst duplication trap, see
  * [[Dedup]] shingleHashFrame), then ONE hash-aggregate shuffle with
  * map-side partial counts (heavy-hitter pairs collapse before the
  * exchange), then TakeOrderedAndProject for the top-k — nothing lands on
  * the driver but k rows.
  */
object Vocab {

  /** Corpus-wide adjacent token-pair counts, top-k by count (ties break on
    * the pair string ascending — deterministic, oracle-comparable).
    * Output: (pair, n) where pair = "left right" (single-space joined).
    * Documents with fewer than two tokens contribute nothing.
    */
  def topPairCounts(df: DataFrame, textCol: String, k: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(textCol).cast("string"))
      .as[String]
      .mapPartitions(_.flatMap { text =>
        val t = TextFns.tokensScala(text)
        if (t.length < 2) Iterator.empty
        else (0 until t.length - 1).iterator.map(i => t(i) + " " + t(i + 1))
      })
      .toDF("pair")
      .groupBy("pair").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(k)
  }

  /** Word-frequency table: one narrow token pass + one hash aggregate —
    * the BOUNDED structure BPE training actually needs (distinct words,
    * not the corpus; Zipf makes the distinct-word table corpus-size-
    * sublinear, and `trainBpeMerges` caps it anyway).
    */
  def wordFreq(df: DataFrame, textCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(textCol).cast("string"))
      .as[String]
      .mapPartitions(_.flatMap(t => TextFns.tokensScala(t).iterator))
      .toDF("word")
      .groupBy("word").agg(count(lit(1)).as("n"))
  }

  /** Per-stratum vocabulary-coverage report from the frequency-of-
    * frequencies tail (Good, Biometrika '53; Chao, Scand. J. Stat '84):
    * the "have we scraped enough of this source?" screen. The
    * Good–Turing unseen-mass estimate is `n₁/N` (singleton share — the
    * probability the NEXT token is a new type), so `coverage = 1 − n₁/N`;
    * Chao1 estimates total vocabulary `V + n₁(n₁−1)/(2(n₂+1))`
    * (bias-corrected form, defined even with no doubletons). A stratum
    * with high unseen mass is under-sampled; one whose Chao1 ≈ observed
    * vocabulary is saturated — the curation signal for where the next
    * crawl budget goes.
    *
    * Exact law: token counts, V, n₁, n₂ are exact integers (two hash
    * aggregates); coverage and Chao1 are each ONE fixed double chain
    * quantized (pico / micro).
    *
    * Scale shape: explode → (stratum, token) hash aggregate (map-side
    * partial combine) → |strata|-row aggregate. No window, no driver
    * state.
    *
    * Output: (stratum, n_tokens, vocab, n1, n2, coverage_pico,
    * chao1_micro) — one row per stratum with ≥1 token.
    */
  def coverageReport(df: DataFrame, stratumCol: String,
      textCol: String): DataFrame = {
    val tc = df.filter(col(stratumCol).isNotNull)
      .select(col(stratumCol).as("stratum"),
        explode(TextFns.tokens(col(textCol))).as("_tok"))
      .groupBy(col("stratum"), col("_tok")).agg(count(lit(1)).as("_c"))
    tc.groupBy(col("stratum"))
      .agg(sum(col("_c")).as("n_tokens"),
        count(lit(1)).as("vocab"),
        sum(when(col("_c") === 1L, 1L).otherwise(0L)).as("n1"),
        sum(when(col("_c") === 2L, 1L).otherwise(0L)).as("n2"))
      .withColumn("coverage_pico",
        round((lit(1.0) - col("n1").cast("double") / col("n_tokens").cast("double"))
          * 1000000000000.0).cast("long"))
      .withColumn("chao1_micro",
        round((col("vocab").cast("double")
          + (col("n1").cast("double") * (col("n1").cast("double") - 1.0))
            / (lit(2.0) * (col("n2").cast("double") + 1.0)))
          * 1000000.0).cast("long"))
  }

  /** Train BPE merges (Sennrich et al., ACL'16) — the scale-correct shape:
    * the corpus reduces to its word-frequency table distributed-side (one
    * aggregate), the top `maxVocabRows` rows by frequency (ties on word)
    * collect to the driver — bounded by construction, like IVF/PQ codebook
    * training — and the merge loop runs there deterministically: each
    * round merges the most-frequent adjacent symbol pair (weighted by word
    * frequency; ties break lexicographically), until `numMerges` or no
    * pair repeats. Returns the ordered merge list — merge RANK is the
    * encoder's priority.
    *
    * DRIVER-LOOP BOUND (the pqScan-style explicit contract): the
    * corpus-size-dependent work is exactly ONE distributed aggregate —
    * Any volume of text costs one shuffle regardless of `numMerges`. The
    * driver loop is then O(`numMerges` × Σ_top-rows |word symbols|) CPU
    * ≤ O(numMerges × maxVocabRows × max word length) and
    * O(maxVocabRows × max word length) memory — both functions of the
    * CONFIGURATION, not the data scale (defaults: 100k rows ≈ a few MB).
    * Training demanding vocab past ~10⁶ rows is
    * where the distributed form (per-round (pair, weight) aggregation
    * over an exploded symbol table — one shuffle per merge) becomes the
    * right shape; at any practical `maxVocabRows` the driver loop wins
    * because rounds are shuffle-free. Words OUTSIDE the top rows never
    * influence merges — the standard frequency-truncation BPE trade, and
    * part of the law (deterministic, cap included).
    *
    * Symbols are the word's Unicode codepoints (surrogate-safe) with
    * `</w>` appended to the final symbol, the classic end-of-word marker
    * that keeps "low" vs "low-as-prefix" distinct.
    */
  def trainBpeMerges(df: DataFrame, textCol: String, numMerges: Int,
      maxVocabRows: Int = 100000): Seq[(String, String)] = {
    val vocab: Array[(Array[String], Long)] = wordFreq(df, textCol)
      .orderBy(col("n").desc, col("word")).limit(maxVocabRows)
      .collect().map { r =>
        val w = r.getString(0)
        val cps = w.codePoints().toArray.map(cp => new String(Character.toChars(cp)))
        if (cps.nonEmpty) cps(cps.length - 1) = cps(cps.length - 1) + "</w>"
        (cps, r.getLong(1))
      }
    val words = vocab.map(_._1.toBuffer)
    val merges = Seq.newBuilder[(String, String)]
    var round = 0
    var go = true
    while (go && round < numMerges) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      var wi = 0
      while (wi < words.length) {
        val w = words(wi); val f = vocab(wi)._2
        var i = 0
        while (i < w.length - 1) {
          val k = (w(i), w(i + 1))
          counts(k) = counts.getOrElse(k, 0L) + f
          i += 1
        }
        wi += 1
      }
      val best = counts.filter(_._2 >= 2).toSeq
        .sortBy { case ((a, b), n) => (-n, a, b) }.headOption
      best match {
        case None => go = false
        case Some((pair @ (a, b), _)) =>
          merges += pair
          val merged = a + b
          words.foreach { w =>
            var i = 0
            while (i < w.length - 1) {
              if (w(i) == a && w(i + 1) == b) { w(i) = merged; w.remove(i + 1) }
              else i += 1
            }
          }
          round += 1
      }
    }
    merges.result()
  }

  /** Apply trained merges to one word's symbol sequence (greedy by merge
    * RANK — the standard BPE encode: always the earliest-learned
    * applicable merge first).
    */
  private[ops] def applyMerges(word: String,
      rank: Map[(String, String), Int]): Array[String] = {
    val cps = word.codePoints().toArray.map(cp => new String(Character.toChars(cp)))
    if (cps.isEmpty) return cps
    cps(cps.length - 1) = cps(cps.length - 1) + "</w>"
    val buf = scala.collection.mutable.ArrayBuffer.from(cps)
    var done = false
    while (!done && buf.length > 1) {
      var bestRank = Int.MaxValue
      var bestAt = -1
      var i = 0
      while (i < buf.length - 1) {
        val r = rank.getOrElse((buf(i), buf(i + 1)), Int.MaxValue)
        if (r < bestRank) { bestRank = r; bestAt = i }
        i += 1
      }
      if (bestAt < 0) done = true
      else { buf(bestAt) = buf(bestAt) + buf(bestAt + 1); buf.remove(bestAt + 1) }
    }
    buf.toArray
  }

  /** Distributed BPE encode with a broadcast merge table: per document,
    * (idCol, n_tokens, n_bpe_tokens, stream_hash) where `stream_hash` is
    * the md5 of the DECODED symbol stream joined back into the original
    * space-joined token stream — the lossless round-trip witness. Decoding
    * is symbol concatenation minus the `</w>` markers, so stream_hash must
    * equal [[graft.functions.TextFns.orderedFingerprintMd5]] of the
    * original text for every document regardless of what merges were
    * learned — which is exactly what makes a TRAINED tokenizer
    * oracle-checkable in SQL (the oracle recomputes the token-stream md5
    * without knowing the merges).
    */
  def encodeBpe(df: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val rank = merges.zipWithIndex.toMap
    val bRank = spark.sparkContext.broadcast(rank)
    df.select(col(idCol).cast("long").as("_id"), col(textCol).cast("string").as("_t"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val digest = java.security.MessageDigest.getInstance("MD5")
        val r = bRank.value
        it.map { case (id, text) =>
          val toks = TextFns.tokensScala(if (text == null) "" else text)
          var nBpe = 0L
          val decoded = new java.lang.StringBuilder
          var i = 0
          while (i < toks.length) {
            val syms = applyMerges(toks(i), r)
            nBpe += syms.length
            if (i > 0) decoded.append(' ')
            // strip ONLY the trailing structural marker (concatenated
            // symbols always end with the `</w>` appended at train/encode
            // time); a literal "</w>" inside real token text survives
            val full = syms.mkString
            decoded.append(full, 0, full.length - 4)
            i += 1
          }
          digest.reset()
          (id, toks.length.toLong, nBpe,
            TextFns.hexBytes(digest.digest(decoded.toString.getBytes("UTF-8"))))
        }
      }
      .toDF(idCol, "n_tokens", "n_bpe_tokens", "stream_hash")
  }

  /** Out-of-vocabulary rate per document against a reference vocabulary —
    * the training-data QA signal for "will this batch blow up the
    * tokenizer / embed as `<unk>` soup" (CCNet tracks the same statistic
    * against its LM vocabulary). Law: lowercased whitespace tokens
    * ([[TextFns.tokens]] of `lower(text)` — the exact vocabulary law the
    * persisted LM family trains with, so stored and live forms share one
    * oracle); `n_tok` counts every occurrence, `n_oov` the occurrences
    * whose token is absent from `vocab`, and `oov_frac` is the single
    * division `n_oov / n_tok` (0.0 for empty docs). Every doc gets a row.
    *
    * Scale shape: ONE wide join — tokens explode narrowly, hash-join the
    * distinct'd vocabulary on the token (AQE broadcasts a small vocab),
    * then partial-agg back to one row per doc; the corpus never shuffles
    * twice and nothing lands on the driver.
    *
    * @param vocab one-string-column frame of in-vocabulary tokens
    *              (duplicates tolerated — distinct'd here)
    */
  def oovRate(df: DataFrame, idCol: String, textCol: String,
      vocab: DataFrame): DataFrame = {
    val vCol = vocab.columns.head
    val v = vocab.select(col(vCol).cast("string").as("_tk")).distinct()
      .withColumn("_in_v", lit(1))
    val toks = df.select(col(idCol).cast("long").as("_id"),
        explode(TextFns.tokens(lower(col(textCol).cast("string")))).as("_tk"))
    val agg = toks.join(v, Seq("_tk"), "left")
      .groupBy(col("_id"))
      .agg(count(lit(1)).as("n_tok"),
        count(when(col("_in_v").isNull, lit(1))).as("n_oov"))
    df.select(col(idCol).cast("long").as("_id"))
      .join(agg, Seq("_id"), "left")
      .select(col("_id").as(idCol),
        coalesce(col("n_tok"), lit(0L)).as("n_tok"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"))
      .withColumn("oov_frac",
        when(col("n_tok") > 0,
          col("n_oov").cast("double") / col("n_tok").cast("double"))
          .otherwise(lit(0.0)))
  }

  /** Pairwise vocabulary overlap between corpus strata (sources, domains,
    * snapshots) — the mixture-design signal for "are these two domains
    * lexically redundant or complementary" that decides merge-vs-keep
    * before token budgets are allocated. Law: a stratum's vocabulary is
    * its distinct lowercased whitespace tokens (the [[oovRate]] law);
    * for every stratum pair a < b (string order) the row carries both
    * vocabulary sizes, the exact intersection count, and Jaccard
    * `n_shared / (v_a + v_b - n_shared)` — one division of exact BIGINTs.
    * Strata with an empty vocabulary (no tokens at all) have no
    * vocabulary set and are excluded.
    *
    * Scale shape: ONE distinct shuffle builds the (stratum, token) set,
    * then a token-keyed self-join counts intersections — cost
    * Σ_t C(k_t, 2) where k_t is the number of strata containing token t,
    * bounded by strata² per token. Strata are mixture domains (dozens,
    * the status-cardinality discipline), so the pair frame stays tiny;
    * the corpus itself never joins.
    */
  def sourceVocabOverlap(df: DataFrame, groupCol: String,
      textCol: String): DataFrame = {
    val st = df.select(col(groupCol).cast("string").as("_src"),
        explode(TextFns.tokens(lower(col(textCol).cast("string")))).as("_tk"))
      .distinct()
    val sizes = st.groupBy(col("_src")).agg(count(lit(1)).as("_v"))
    val inter = st.as("a").join(st.as("b"),
        col("a._tk") === col("b._tk") && col("a._src") < col("b._src"))
      .groupBy(col("a._src").as("source_a"), col("b._src").as("source_b"))
      .agg(count(lit(1)).as("_shared"))
    sizes.as("sa").join(sizes.as("sb"), col("sa._src") < col("sb._src"))
      .select(col("sa._src").as("source_a"), col("sb._src").as("source_b"),
        col("sa._v").as("v_a"), col("sb._v").as("v_b"))
      .join(inter, Seq("source_a", "source_b"), "left")
      .select(col("source_a"), col("source_b"), col("v_a"), col("v_b"),
        coalesce(col("_shared"), lit(0L)).as("n_shared"))
      .withColumn("jaccard",
        col("n_shared").cast("double") /
          (col("v_a") + col("v_b") - col("n_shared")).cast("double"))
  }

  /** Zipf rank–frequency fit over the corpus unigram distribution — the
    * one-row corpus-health profile (natural text sits near slope −1;
    * boilerplate-flooded or deduplicated-to-death corpora bend away from
    * it, so the slope is a cheap regression monitor next to the TV-drift
    * panel). Least squares of ln(count) on ln(rank) over the top
    * `topRanks` tokens (deterministic rank order: count desc, token asc).
    *
    * Engine-exact by the LM micro-ln discipline
    * ([[LangModel.bigramNllScore]]): both engines quantize
    * `round(ln(·)·10⁶)` to BIGINT micro-units (cross-libm flips need a
    * value within ~1e-9 micro-units of a .5 boundary — the pinned-margin
    * argument), every regression sum is then exact integer arithmetic in
    * DECIMAL(38,0) (n·Σxy overflows int64 at topRanks=256), and slope /
    * intercept are rendered by a fixed chain of IEEE divisions. The exact
    * Σx/Σy BIGINTs ride along in the output so the oracle gates the
    * integer core, not just the rendered doubles.
    *
    * Scale shape: one tokenize+explode, ONE hash aggregate to the count
    * table, TakeOrderedAndProject for the top-R (no global sort), then a
    * bounded R-row window and a 1-row aggregate — the corpus never
    * shuffles twice.
    */
  def zipfFit(df: DataFrame, textCol: String, topRanks: Int = 256): DataFrame = {
    require(topRanks >= 2, s"topRanks=$topRanks needs at least 2 points")
    val dec = "decimal(38,0)"
    val counts = df.select(
        explode(TextFns.tokens(lower(col(textCol).cast("string")))).as("_t"))
      .groupBy(col("_t")).agg(count(lit(1)).as("_c"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("_c").desc, col("_t").asc)
    val pts = counts.orderBy(col("_c").desc, col("_t").asc).limit(topRanks)
      .withColumn("_rank", row_number().over(w))
      .select(
        round(log(col("_rank").cast("double")) * 1000000.0).cast("long").as("_x"),
        round(log(col("_c").cast("double")) * 1000000.0).cast("long").as("_y"))
    val agg = pts.agg(
      count(lit(1)).cast("long").as("n_ranks"),
      sum(col("_x")).as("sum_x"),
      sum(col("_y")).as("sum_y"),
      sum((col("_x") * col("_y")).cast(dec)).as("_sxy"),
      sum((col("_x") * col("_x")).cast(dec)).as("_sxx"))
    val n = col("n_ranks").cast(dec)
    agg
      .withColumn("_slope_num",
        n * col("_sxy") - col("sum_x").cast(dec) * col("sum_y").cast(dec))
      .withColumn("_slope_den",
        n * col("_sxx") - col("sum_x").cast(dec) * col("sum_x").cast(dec))
      .withColumn("slope",
        when(col("_slope_den") === 0, lit(null).cast("double"))
          .otherwise(col("_slope_num").cast("double") / col("_slope_den").cast("double")))
      .withColumn("intercept",
        when(col("slope").isNull, lit(null).cast("double"))
          .otherwise((col("sum_y").cast("double") / 1000000.0
            - col("slope") * (col("sum_x").cast("double") / 1000000.0))
            / col("n_ranks").cast("double")))
      .select(col("n_ranks"), col("sum_x"), col("sum_y"),
        col("slope"), col("intercept"))
  }

  /** [[oovRate]] against the PERSISTED LM vocabulary
    * ([[RefStore.loadLmVocab]]) — incremental ingest scores each batch
    * without re-tokenizing the reference corpus. Same law, same oracle:
    * the store is an implementation detail.
    */
  def oovRateStored(df: DataFrame, idCol: String, textCol: String,
      storeDir: String): DataFrame =
    oovRate(df, idCol, textCol,
      RefStore.loadLmVocab(df.sparkSession, storeDir))

  /** Tokenizer-fertility report per stratum: characters and subword
    * pieces per whitespace token — the budgeting numbers a multilingual
    * mixture needs BEFORE committing token counts (the same tokenizer
    * yields very different pieces-per-word across languages; mT5's
    * fertility tables are this report). Subwords follow the engine's
    * ceil(codepoints/4) proxy law ([[TextFns.statsScala]], the
    * q_text_stats n_subwords column), so the report composes with every
    * other stats consumer; one object-boundary pass per document (the
    * documented HOF-duplication trap is why this is NOT an expression
    * tree), then one hash aggregate to |strata| rows.
    *
    * All counts are exact BIGINTs; the two `*_per_token` ratios are one
    * double division each (NULL for a token-free stratum rather than a
    * fake 0 — both engines' NULL law).
    *
    * Output: (stratum, n_docs, n_chars, n_tokens, n_subwords,
    * chars_per_token, subwords_per_token).
    */
  def tokenFertility(df: DataFrame, stratumCol: String,
      textCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.filter(col(stratumCol).isNotNull)
      .select(col(stratumCol).cast("string").as("stratum"),
        col(textCol).cast("string").as("_text"))
      .as[(String, String)]
      .mapPartitions(_.map { case (stratum, text) =>
        val s = TextFns.statsScala(text)
        val chars = if (text == null) 0L
          else text.codePointCount(0, text.length).toLong
        (stratum, chars, s.nTokens, s.nSubwords)
      })
      .toDF("stratum", "_chars", "_toks", "_subw")
      .groupBy(col("stratum"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("_chars")).as("n_chars"),
        sum(col("_toks")).as("n_tokens"),
        sum(col("_subw")).as("n_subwords"))
      .withColumn("chars_per_token",
        when(col("n_tokens") > 0L,
          col("n_chars").cast("double") / col("n_tokens").cast("double")))
      .withColumn("subwords_per_token",
        when(col("n_tokens") > 0L,
          col("n_subwords").cast("double") / col("n_tokens").cast("double")))
  }

  /** Token-frequency concentration per stratum: the Gini coefficient of
    * each source's unigram distribution plus its top-10-token share — the
    * boilerplate/templating smell test (a healthy natural-language source
    * sits near Zipf; a log-dump or template farm concentrates its mass in
    * a handful of tokens and the Gini spikes). Exact-integer law: counts
    * sort ascending with the token as tiebreak (tie blocks contribute
    * `c·Σi` regardless of internal order, so the statistic is
    * permutation-safe), `Σ i·c_i` accumulates in DECIMAL(38,0)/HUGEINT
    * (rank × count passes 2^63 at corpus scale), and the statistic is the
    * standard `G = 2·Σ i·c_(i) / (v·N_s) − (v+1)/v` rendered by one fixed
    * float chain.
    *
    * Scale shape: one tokenize pass → (stratum, token) hash aggregate;
    * the window ranks each stratum's VOCABULARY (bounded), not its
    * tokens; one |strata|-row final aggregate.
    *
    * Output: (stratum, v, n_toks, gini, top10_share).
    */
  def tokenGini(df: DataFrame, stratumCol: String, textCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val cnt = df.filter(col(stratumCol).isNotNull)
      .select(col(stratumCol).as("stratum"),
        explode(TextFns.tokens(lower(col(textCol).cast("string")))).as("_t"))
      .groupBy(col("stratum"), col("_t")).agg(count(lit(1)).as("_c"))
    val wAsc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("stratum")).orderBy(col("_c").asc, col("_t").asc)
    val wDesc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("stratum")).orderBy(col("_c").desc, col("_t").asc)
    cnt
      .withColumn("_i", row_number().over(wAsc).cast("long"))
      .withColumn("_rd", row_number().over(wDesc).cast("long"))
      .groupBy(col("stratum"))
      .agg(count(lit(1)).as("v"),
        sum(col("_c")).as("n_toks"),
        sum(col("_i").cast(dec) * col("_c").cast(dec)).as("_ic"),
        sum(when(col("_rd") <= 10L, col("_c")).otherwise(0L)).as("_top10"))
      .withColumn("gini",
        lit(2.0) * col("_ic").cast("double") /
          (col("v").cast(dec) * col("n_toks").cast(dec)).cast("double") -
          (col("v") + 1L).cast("double") / col("v").cast("double"))
      .withColumn("top10_share",
        col("_top10").cast("double") / col("n_toks").cast("double"))
      .select(col("stratum"), col("v"), col("n_toks"), col("gini"),
        col("top10_share"))
  }

  /** Per-stratum distinctive terms: [[keynessG2]] generalized — every
    * stratum scores its OBSERVED tokens against the rest of the corpus
    * and keeps its top `kPerStratum` ENRICHED terms, the "what makes this
    * source this source" fingerprint a mixture designer scans before
    * weighting (and the fastest way to spot a source whose distinctive
    * vocabulary is suddenly spam). Same engine-exact chain as
    * [[keynessG2]] (exact counts, one micro-quantized IEEE term each,
    * DECIMAL cross-mult direction); only a>0 tokens are candidates
    * (depleted terms are a different question), and the per-stratum cut
    * is a rank window (WindowGroupLimit bounds state at k).
    *
    * Scale shape: one tokenize pass → (stratum, token) aggregate; totals
    * re-aggregate from that frame; per-token global counts join back
    * hash-keyed; one window by stratum.
    *
    * Output: (stratum, rk, token, a, b, g2_micro).
    */
  def keynessByStratum(df: DataFrame, stratumCol: String, textCol: String,
      kPerStratum: Int = 3): DataFrame = {
    require(kPerStratum >= 1, s"kPerStratum must be positive, got $kPerStratum")
    val dec = "decimal(38,0)"
    val cst = df.filter(col(stratumCol).isNotNull)
      .select(col(stratumCol).as("stratum"),
        explode(TextFns.tokens(lower(col(textCol).cast("string")))).as("token"))
      .groupBy(col("stratum"), col("token")).agg(count(lit(1)).as("a"))
    val ct = cst.groupBy(col("token")).agg(sum(col("a")).as("_tot"))
    val ns = cst.groupBy(col("stratum")).agg(sum(col("a")).as("_na"))
    val glob = ct.agg(sum(col("_tot")).as("_n"))
    val joined = cst.join(ct, "token").join(broadcast(ns), "stratum")
      .crossJoin(broadcast(glob))
      .withColumn("b", col("_tot") - col("a"))
      .withColumn("_nb", col("_n") - col("_na"))
    val n = (col("_na") + col("_nb")).cast("double")
    val ea = ((col("a") + col("b")).cast("double") * col("_na").cast("double")) / n
    val eb = ((col("a") + col("b")).cast("double") * col("_nb").cast("double")) / n
    val ta = col("a").cast("double") * log(col("a").cast("double") / ea)
    val tb = when(col("b") > 0L,
      col("b").cast("double") * log(col("b").cast("double") / eb)).otherwise(lit(0.0))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("stratum"))
      .orderBy(col("g2_micro").desc, col("token").asc)
    joined
      .withColumn("g2_micro",
        round((lit(2.0) * (ta + tb)) * 1000000.0).cast("long"))
      .filter(col("a").cast(dec) * col("_nb").cast(dec) >
        col("b").cast(dec) * col("_na").cast(dec)) // enriched only
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= kPerStratum)
      .select(col("stratum"), col("rk"), col("token"), col("a"), col("b"),
        col("g2_micro"))
  }

  /** Dunning log-likelihood keyness (Dunning, "Accurate Methods for the
    * Statistics of Surprise and Coincidence", CL 1993): which tokens are
    * statistically over/under-represented in a FOREGROUND slice vs the
    * rest of the corpus — the standard corpus-comparison diagnostic a
    * mixture designer reads before weighting a source, far more robust at
    * low counts than a χ² or a bare frequency ratio.
    *
    * Law (engine-exact): occurrence counts `a` (foreground) / `b`
    * (background) and totals `na`/`nb` are exact BIGINTs from the shared
    * lowercased-token law; expected counts and the two ln terms are ONE
    * fixed IEEE chain each (`e_a = ((a+b)·na)/n`, term = `a · ln(a/e_a)`,
    * zero-count terms contribute 0 — the standard convention); the
    * statistic is quantized to micro-units (`g2_micro = round(2·(ta+tb)
    * ·1e6)` — the DSIR ln discipline). `enriched` (is the token OVER-
    * represented in the foreground?) is decided by EXACT integer
    * cross-multiplication `a·nb > b·na`, never by the float.
    *
    * Scale shape: one tokenize pass → one hash aggregate keyed by token
    * with the foreground/background split as conditional sums (map-side
    * combined), a broadcast of the 2-value totals row, and a top-k
    * (TakeOrderedAndProject). No joins against the corpus.
    *
    * Output: top `k` by g2 desc (id-tiebreak on token):
    * (token, a, b, g2_micro, enriched).
    */
  def keynessG2(df: DataFrame, textCol: String, foreground: org.apache.spark.sql.Column,
      k: Int = 40): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    val counts = df
      .select(explode(TextFns.tokens(lower(col(textCol).cast("string")))).as("token"),
        foreground.cast("boolean").as("_fg"))
      .filter(col("_fg").isNotNull)
      .groupBy(col("token"))
      .agg(sum(when(col("_fg"), 1L).otherwise(0L)).as("a"),
        sum(when(!col("_fg"), 1L).otherwise(0L)).as("b"))
    val totals = counts.agg(
      coalesce(sum(col("a")), lit(0L)).as("_na"),
      coalesce(sum(col("b")), lit(0L)).as("_nb"))
    val n = (col("_na") + col("_nb")).cast("double")
    val ea = ((col("a") + col("b")).cast("double") * col("_na").cast("double")) / n
    val eb = ((col("a") + col("b")).cast("double") * col("_nb").cast("double")) / n
    val ta = when(col("a") > 0L,
      col("a").cast("double") * log(col("a").cast("double") / ea)).otherwise(lit(0.0))
    val tb = when(col("b") > 0L,
      col("b").cast("double") * log(col("b").cast("double") / eb)).otherwise(lit(0.0))
    counts.crossJoin(broadcast(totals))
      .withColumn("g2_micro",
        round((lit(2.0) * (ta + tb)) * 1000000.0).cast("long"))
      .withColumn("enriched",
        // DECIMAL cross-mult: a·nb reaches count², past 2^63 at corpus
        // scale (the ksDrift overflow discipline)
        col("a").cast("decimal(38,0)") * col("_nb").cast("decimal(38,0)") >
          col("b").cast("decimal(38,0)") * col("_na").cast("decimal(38,0)"))
      .orderBy(col("g2_micro").desc, col("token").asc)
      .limit(k)
      .select(col("token"), col("a"), col("b"), col("g2_micro"), col("enriched"))
  }

  /** Per-stratum lexical diversity profile — the three classic indices
    * at once (Hill '73 frames them as one family): vocabulary richness
    * q0 = |distinct tokens|, Shannon entropy H = Σ p·ln(1/p) (nats,
    * pico), and the inverse Simpson concentration N²/Σc² (milli;
    * Hill's q=2 — "how many EQUALLY-COMMON tokens would look like
    * this"). Richness counts types, entropy weighs the torso, inverse
    * Simpson the head — a template-generated source shows high q0 with
    * collapsed q2 while natural text keeps them proportionate.
    *
    * Exact law: per-token terms `c·Q(ln(N/c))` quantize BEFORE the
    * DECIMAL Σ (the entropy-rate discipline), `shannon_pico =
    * round(Σ/N)` is one division; inverse Simpson is one division of
    * exact integer sums `round(N²/Σc²·1000)`. NULL strata drop;
    * token-free strata emit nothing.
    *
    * Scale shape: one tokenize pass → one (stratum, token) hash
    * aggregate (map-side combined) → one |strata|-row aggregate. No
    * windows, no joins.
    *
    * Output: (stratum, n_tokens, vocab_q0, shannon_pico,
    * inv_simpson_milli), ordered by stratum.
    */
  def diversityProfile(df: DataFrame, stratumCol: String,
      textCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val counts = df.filter(col(stratumCol).isNotNull)
      .select(col(stratumCol).as("stratum"),
        explode(TextFns.tokens(col(textCol))).as("_t"))
      .groupBy(col("stratum"), col("_t")).agg(count(lit(1)).as("_c"))
    val ns = counts.groupBy(col("stratum")).agg(sum(col("_c")).as("_n"))
    counts.join(ns, "stratum")
      .select(col("stratum"), col("_n"), col("_c"),
        (col("_c").cast(dec) *
          round(log(col("_n").cast("double") / col("_c").cast("double"))
            * 1.0e12).cast("long").cast(dec)).as("_e"),
        (col("_c").cast(dec) * col("_c").cast(dec)).as("_c2"))
      .groupBy(col("stratum"))
      .agg(max(col("_n")).as("n_tokens"), count(lit(1)).as("vocab_q0"),
        sum(col("_e")).as("_es"), sum(col("_c2")).as("_s2"))
      .select(col("stratum"), col("n_tokens"), col("vocab_q0"),
        round(col("_es").cast("double") / col("n_tokens").cast("double"))
          .cast("long").as("shannon_pico"),
        round(col("n_tokens").cast("double") * col("n_tokens").cast("double")
          / col("_s2").cast("double") * 1000.0).cast("long")
          .as("inv_simpson_milli"))
      .orderBy(col("stratum"))
  }

  /** Heaps'-law fit of vocabulary growth (Heaps '78 / Herdan '60:
    * V(n) ≈ K·n^β, β ≈ 0.5 for natural language) over DOUBLING id
    * prefixes of the corpus: prefix j is the documents with id < 2^j,
    * contributing one (tokens n_j, distinct tokens V_j) point, and
    * β/ln K come from the exact least-squares line through the
    * (ln n_j, ln V_j) points — the vocabulary-scaling exponent a
    * tokenizer-budget decision reads ("double the corpus ⇒ ×2^β the
    * vocab"), and a synthetic-text tell (template generators flatten β).
    * Doubling prefixes make the design WELL-CONDITIONED by construction
    * (ln n spans ~ln N — a per-stratum variant with equal-sized strata
    * puts all x within micro-noise of each other and the slope becomes
    * catastrophic-cancellation garbage; measured before this law was
    * chosen).
    *
    * Exact law: per point x = round(ln n_j·10⁶), y = round(ln V_j·10⁶)
    * (micro-quantized BEFORE the sums — the KL discipline; micros keep
    * Σx·Σxy products inside DECIMAL(38,0)); the normal-equation sums
    * Σx, Σy, Σxx, Σxy are exact integers, and
    * `beta_micro = round((k·Σxy − Σx·Σy)/(k·Σxx − Σx²)·10⁶)`,
    * `lnk_micro = round((Σy − β·Σx)/k)` (β the unrounded double ratio)
    * are one double chain each. NULL β on a degenerate design
    * (denominator 0). Empty prefixes (no tokens) drop; NULL ids drop.
    *
    * Scale shape: one tokenize pass; V_j from per-token FIRST-id
    * aggregates crossed with the ≤63-row broadcast cutoff table; n_j
    * from per-doc token counts crossed the same way (a ≤63× bounded
    * fan-out of two BOUNDED tables, never of raw text); one 1-row
    * normal-equation aggregate. No windows.
    *
    * Output: ONE row (n_points, beta_micro, lnk_micro).
    */
  def heapsLawFit(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val base = df.filter(col(idCol).isNotNull)
      .select(col(idCol).cast("long").as("_id"), col(textCol).as("_txt"))
    val maxId = base.agg(max(col("_id")).as("_mx"))
    val cutoffs = base.sparkSession.range(0, 63)
      .select(expr("CAST(1 AS BIGINT) << CAST(id AS INT)").as("_p"))
      .crossJoin(broadcast(maxId))
      .filter(col("_p") <= col("_mx") + 1L)
      .select(col("_p"))
    val docTok = base
      .select(col("_id"), TextFns.tokenCount(col("_txt")).as("_tk"))
    val nPer = docTok.crossJoin(broadcast(cutoffs))
      .filter(col("_id") < col("_p"))
      .groupBy(col("_p")).agg(sum(col("_tk")).as("_n"))
    val tokFirst = base
      .select(col("_id"), explode(TextFns.tokens(col("_txt"))).as("_t"))
      .groupBy(col("_t")).agg(min(col("_id")).as("_f"))
    val vPer = tokFirst.crossJoin(broadcast(cutoffs))
      .filter(col("_f") < col("_p"))
      .groupBy(col("_p")).agg(count(lit(1)).as("_v"))
    val pts = nPer.join(vPer, "_p")
      .filter(col("_n") > 0L)
      .select(round(log(col("_n").cast("double")) * 1.0e6).cast("long").as("_x"),
        round(log(col("_v").cast("double")) * 1.0e6).cast("long").as("_y"))
    val s = pts.agg(count(lit(1)).as("n_points"),
      sum(col("_x").cast(dec)).as("_sx"), sum(col("_y").cast(dec)).as("_sy"),
      sum(col("_x").cast(dec) * col("_x").cast(dec)).as("_sxx"),
      sum(col("_x").cast(dec) * col("_y").cast(dec)).as("_sxy"))
      .filter(col("n_points") >= 2L)
    val kD = col("n_points").cast("double")
    // parenthesized: a leading `-` on a continuation line would otherwise
    // close the statement at the newline (semicolon inference) and leave
    // num = sxy·k with a dangling unary-minus expression
    val num = (col("_sxy").cast("double") * kD
      - col("_sx").cast("double") * col("_sy").cast("double"))
    val den = (col("_sxx").cast("double") * kD
      - col("_sx").cast("double") * col("_sx").cast("double"))
    val beta = num / den
    s.select(col("n_points"),
      when(den =!= 0.0, round(beta * 1.0e6).cast("long")).as("beta_micro"),
      when(den =!= 0.0,
        round((col("_sy").cast("double") - beta * col("_sx").cast("double"))
          / kD).cast("long")).as("lnk_micro"))
  }

  /** Good–Turing frequency-of-frequencies table (Good, Biometrika '53)
    * — the vocabulary's OCCUPANCY spectrum: N_r = how many types occur
    * exactly r times. It answers the question every LM-data curator
    * asks of a new corpus: how much probability mass belongs to words
    * we have NOT seen (p₀ = N₁/N, the Good–Turing unseen estimate —
    * hapax share of tokens), and what the smoothed count r* =
    * (r+1)·N_{r+1}/N_r of a rank-r word should be. A heavy-hapax
    * corpus (high p₀) is under-crawled or noisy; r* ≪ r at low r is
    * the smoothing LM perplexity estimates need.
    *
    * Exact law: one token-count aggregate ([[wordFreq]]'s law), one
    * frequency-of-frequencies aggregate (bounded by DISTINCT count
    * values — the fv-table posture), a self-join on r+1 over that
    * bounded table for r*, and the corpus token total as a 1-row
    * broadcast. `r_star_micro = round((r+1)·N_{r+1}/N_r·10⁶)` and
    * `mass_ppm = round(r·N_r/N·10⁶)` are each ONE double chain over
    * exact integers; r* is NULL when N_{r+1} = 0 (the unsmoothable
    * tail Gale & Sampson '95 interpolate past — out of scope for the
    * exact table).
    *
    * Output: (r, n_types, mass_ppm, r_star_micro) for the `maxR`
    * smallest r values, ordered by r.
    */
  def goodTuring(df: DataFrame, textCol: String, maxR: Int = 15): DataFrame = {
    require(maxR >= 1, s"maxR must be >= 1, got $maxR")
    val counts = df.select(
        explode(TextFns.tokens(lower(col(textCol).cast("string")))).as("_t"))
      .groupBy(col("_t")).agg(count(lit(1)).as("_c"))
    val fof = counts.groupBy(col("_c").as("r"))
      .agg(count(lit(1)).as("n_types"))
    val tot = fof.agg(sum(col("r") * col("n_types")).as("_n"))
    val nxt = fof.select((col("r") - 1L).as("r"), col("n_types").as("_nr1"))
    fof.join(nxt, Seq("r"), "left")
      .crossJoin(broadcast(tot))
      .select(col("r"), col("n_types"),
        round(col("r").cast("double") * col("n_types").cast("double")
          / col("_n").cast("double") * lit(1.0e6)).cast("long").as("mass_ppm"),
        when(col("_nr1").isNotNull,
          round((col("r") + lit(1L)).cast("double") * col("_nr1").cast("double")
            / col("n_types").cast("double") * lit(1.0e6)).cast("long"))
          .as("r_star_micro"))
      .orderBy(col("r")).limit(maxR)
  }

  /** Burrows' Delta (Burrows, LLC '02) — the stylometric distance between
    * sources: z-score each source's usage RATE of the corpus's top-K
    * words against the across-source distribution of that word's rate,
    * then Δ(a, b) = mean_w |z_wa − z_wb|. The authorship-attribution
    * classic, and for a training corpus the "are these two crawls the
    * same REGISTER" screen that vocabulary-overlap measures
    * (q_source_overlap's Jaccard, q_js_matrix's divergence) miss —
    * Delta reads function-word STYLE, not content.
    *
    * Exact law: rates micro-quantize per (word, source) cell
    * (`round(c·10⁶/N_s)`) over the FULL K×S grid (a source that never
    * uses a word is a 0-rate cell, not a missing one); per-word moment
    * sums T1 = Σ_s r, T2 = Σ_s r² are exact integers, so
    * z = (S·r − T1)/√(S·T2 − T1²) is one pinned double chain (the
    * population-σ form, fractions cleared); words with zero across-source
    * variance drop (they carry no style signal and an undefined z); the
    * pair stage quantizes each |z_a − z_b| to nanos BEFORE the exact Σ.
    *
    * Scale shape: one token pass → (stratum, word) hash aggregate; the
    * grid, moments and S² pair stage live on ≤ K×S / ≤ K×S² cells —
    * bounded by configuration (the [[Drift.jsMatrix]] posture), never
    * the corpus.
    *
    * Output: (src_a, src_b, n_words, delta_micro) per unordered source
    * pair, ordered (src_a, src_b).
    */
  def burrowsDelta(df: DataFrame, stratumCol: String, textCol: String,
      topK: Int = 25): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val dec = "decimal(38,0)"
    val tok = df.filter(col(stratumCol).isNotNull)
      .select(col(stratumCol).as("_s"),
        explode(TextFns.tokens(lower(col(textCol).cast("string")))).as("_w"))
    val cws = tok.groupBy(col("_s"), col("_w")).agg(count(lit(1)).as("_c"))
    val ns = cws.groupBy(col("_s")).agg(sum(col("_c")).as("_ns"))
    val top = tok.groupBy(col("_w")).agg(count(lit(1)).as("_cw"))
      .orderBy(col("_cw").desc, col("_w").asc).limit(topK)
      .select(col("_w"))
    val grid = broadcast(top).crossJoin(ns)
      .join(cws, Seq("_s", "_w"), "left")
      .na.fill(0L, Seq("_c"))
      .select(col("_s"), col("_w"),
        round(col("_c").cast("double") / col("_ns").cast("double")
          * lit(1.0e6)).cast("long").as("_r"))
    val stats = grid.groupBy(col("_w"))
      .agg(count(lit(1)).as("_k"), sum(col("_r").cast(dec)).as("_t1"),
        sum(col("_r").cast(dec) * col("_r").cast(dec)).as("_t2"))
      .withColumn("_den",
        col("_k").cast(dec) * col("_t2") - col("_t1") * col("_t1"))
      .filter(col("_den") > lit(java.math.BigDecimal.ZERO).cast(dec))
    val z = grid.join(broadcast(stats), "_w")
      .select(col("_s"), col("_w"),
        ((col("_k").cast("double") * col("_r").cast("double")
          - col("_t1").cast("double")) / sqrt(col("_den").cast("double")))
          .as("_z"))
    val a = z.select(col("_w"), col("_s").as("src_a"), col("_z").as("_za"))
    val b = z.select(col("_w"), col("_s").as("src_b"), col("_z").as("_zb"))
    a.join(b, Seq("_w")).filter(col("src_a") < col("src_b"))
      .select(col("src_a"), col("src_b"),
        round(abs(col("_za") - col("_zb")) * lit(1.0e9)).cast("long")
          .as("_d"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_words"), sum(col("_d").cast(dec)).as("_sd"))
      .select(col("src_a"), col("src_b"), col("n_words"),
        round(col("_sd").cast("double") / col("n_words").cast("double")
          / lit(1000.0)).cast("long").as("delta_micro"))
      .orderBy(col("src_a"), col("src_b"))
  }
}
