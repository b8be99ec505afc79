package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFns

/** N-gram language-model quality scoring — the CCNet filter family (Wenzek
  * et al., "CCNet: Extracting High Quality Monolingual Datasets from Web
  * Crawl Data", LREC 2020): score every document by its negative
  * log-likelihood under a language model trained on a trusted slice; docs
  * that the model finds surprising (high per-token NLL ⇔ high perplexity)
  * are low-quality for that language. CCNet uses a 5-gram KenLM; the
  * engine's deterministic stand-in is an add-one smoothed conditional
  * BIGRAM model — the same filter signal with an oracle-expressible law.
  *
  * Law (shared verbatim with the SQL oracle):
  *  - words are [[TextFns.tokens]] of `lower(text)`; a document's events
  *    are its adjacent bigrams (w_i, w_{i+1});
  *  - c2(w1,w2) = bigram count in the training slice; c1(w1) = Σ_w2 c2 —
  *    PREFIX counts, so add-one conditionals normalize exactly;
  *  - V = (distinct training tokens) + 1 (the unknown-word slot);
  *  - per-bigram NLL = ln(c1+V) − ln(c2+1) ≥ 0, micro-quantized
  *    (HALF-AWAY to BIGINT, the [[Importance]] DSIR discipline — both
  *    engines quantize the same per-(c1,c2) value, so per-doc sums are
  *    EXACT integer sums);
  *  - avg_nll = nll_micro/10⁶/n_bigrams. Thresholding avg_nll is
  *    equivalent to thresholding perplexity (exp is monotone), without
  *    putting exp() between the engines.
  *
  * Cross-libm risk is the DSIR one: JVM ln vs DuckDB ln differ ≤1 ulp, so
  * a quantization flip needs a value within ~1e-9 micro-units of a .5
  * boundary; [[minBoundaryMarginMicro]] measures the actual margin so the
  * spec can pin it orders of magnitude above the flip zone.
  *
  * Scale shape: bigram extraction is ONE narrow object-boundary pass per
  * side; model counts are hash aggregates keyed on the bigram/prefix; the
  * scoring join is hash-keyed on (w1,w2) then (w1) — at scale the model
  * frames are corpus-vocabulary-sized and shuffle-join like any fact-dim
  * pair (or persist via the [[RefStore]] discipline); V is one bounded
  * scalar broadcast. No driver state, nothing quadratic.
  */
object LangModel {

  /** Score `df` docs under a bigram LM trained on `train`. Output:
    * (idCol, n_bigrams, nll_micro, avg_nll) for EVERY input doc —
    * sub-2-token docs score (0, 0, 0.0).
    */
  def bigramNllScore(df: DataFrame, idCol: String, textCol: String,
      train: DataFrame, trainTextCol: String): DataFrame = {
    val c2 = bigramCounts(train, trainTextCol)
      .withColumnRenamed("_c", "_c2")
    val c1 = c2.groupBy("_w1").agg(sum(col("_c2")).as("_c1"))
    val vFrame = vocabFrame(train, trainTextCol)
      .agg((count(lit(1)) + lit(1L)).as("_v"))
    scoreWithModel(df, idCol, textCol, c2, c1, vFrame)
  }

  /** [[bigramNllScore]] against a PERSISTED model
    * ([[RefStore.writeLmModel]] / mergeLmModel) — the incremental form:
    * the trusted slice trains once per store commit; each batch scores
    * only itself against the loaded count frames. The law version comes
    * from the store's meta, so model and scorer can never disagree.
    */
  def bigramNllScoreStored(df: DataFrame, idCol: String, textCol: String,
      storeDir: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val (c2, c1, v) = RefStore.loadLmModel(spark, storeDir)
    scoreWithModel(df, idCol, textCol, c2, c1,
      Seq(v).toDF("_v"))
  }

  /** One training batch's partial bigram counts (_w1, _w2, _c) — the
    * count-family commit unit ([[RefStore.mergeLmModel]]); partial counts
    * from different batches re-SUM to the whole-corpus model exactly.
    */
  private[ops] def bigramCounts(train: DataFrame, textCol: String): DataFrame = {
    val spark = train.sparkSession
    import spark.implicits._
    train.select(lower(col(textCol).cast("string")).as("_t")).as[String]
      .mapPartitions(_.flatMap(bigramsScala))
      .toDF("_w1", "_w2")
      .groupBy("_w1", "_w2").agg(count(lit(1)).as("_c"))
  }

  /** One training batch's distinct tokens (_tk) — the V-law append family. */
  private[ops] def vocabFrame(train: DataFrame, textCol: String): DataFrame = {
    val spark = train.sparkSession
    import spark.implicits._
    train.select(lower(col(textCol).cast("string")).as("_t")).as[String]
      .flatMap(t => TextFns.tokensScala(t))
      .distinct().toDF("_tk")
  }

  /** The shared scoring join of the live and stored forms: doc bigrams
    * left-join the model counts, quantize, sum per document.
    */
  private def scoreWithModel(df: DataFrame, idCol: String, textCol: String,
      c2: DataFrame, c1: DataFrame, vFrame: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val docBi = df
      .select(col(idCol).cast("long").as("_id"),
        lower(col(textCol).cast("string")).as("_t"))
      .as[(Long, String)]
      .mapPartitions(_.flatMap { case (id, t) =>
        bigramsScala(t).map { case (a, b) => (id, a, b) }
      })
      .toDF("_id", "_w1", "_w2")
    val scored = docBi
      .join(c2, Seq("_w1", "_w2"), "left")
      .join(c1, Seq("_w1"), "left")
      .crossJoin(broadcast(vFrame))
      // integer additions BEFORE the double cast, mirroring the oracle's
      // CAST(c + v AS DOUBLE) — exact below 2^53 either way, but byte-for-
      // byte the same expression shape on both engines
      .select(col("_id"),
        round((log((coalesce(col("_c1"), lit(0L)) + col("_v")).cast("double")) -
          log((coalesce(col("_c2"), lit(0L)) + lit(1L)).cast("double"))) * lit(1000000.0), 0)
          .cast("long").as("_nll"))
      .groupBy("_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("_nll")).as("nll_micro"))
    df.select(col(idCol).cast("long").as(idCol))
      .join(scored, col(idCol) === col("_id"), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("nll_micro"), lit(0L)).as("nll_micro"),
        when(coalesce(col("n_bigrams"), lit(0L)) > 0,
          col("nll_micro").cast("double") / lit(1000000.0) /
            col("n_bigrams").cast("double"))
          .otherwise(lit(0.0)).as("avg_nll"))
  }

  /** Adjacent-bigram law over the shared token law. */
  private[ops] def bigramsScala(text: String): Iterator[(String, String)] = {
    val toks = TextFns.tokensScala(text)
    if (toks.length < 2) Iterator.empty
    else (0 until toks.length - 1).iterator.map(i => (toks(i), toks(i + 1)))
  }

  /** DSIR-style cross-libm diagnostic: the minimum distance, in micro
    * units, of any DISTINCT (c1+V, c2+1) pair's unquantized NLL·10⁶ from
    * its nearest HALF-AWAY boundary, over the pairs actually scored.
    * Bounded input: callers pass the distinct integer pairs.
    */
  private[ops] def minBoundaryMarginMicro(pairs: Seq[(Long, Long)]): Double =
    pairs.map { case (a, b) =>
      val x = math.abs((math.log(a.toDouble) - math.log(b.toDouble)) * 1000000.0)
      math.abs((x - math.floor(x)) - 0.5)
    }.min
}
