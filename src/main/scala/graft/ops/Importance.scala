package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFns

/** DSIR-style importance weighting for target-distribution data selection
  * (Data Selection with Importance Resampling, Xie et al. 2023,
  * arXiv:2302.03169): score every raw document by how much its hashed
  * bag-of-words distribution looks like a TARGET corpus (the "quality"
  * exemplar — curated text, a domain, a language) relative to the raw
  * corpus, then keep the top-scoring documents. This is the standard
  * pretraining-data selection move when a small trusted corpus should
  * steer what survives from a large crawl.
  *
  * The law, engine-portably pinned:
  *
  *  - feature = hashed token bucket: the first two bytes of `md5(token)` mod
  *    `buckets` (md5 hex is identical in every engine; no engine-native
  *    hash leaks into the law).
  *  - per-bucket log-ratio, Laplace-smoothed, evaluated left-to-right:
  *    `((ln(t_b+1) - ln(T+B)) - ln(s_b+1)) + ln(S+B)` where t/s are
  *    target/source occurrence counts, T/S the totals, B the bucket count.
  *  - the ratio is then QUANTIZED to integer micro-log units
  *    (`round(lr * 1e6)` as BIGINT). Quantization is part of the LAW, not
  *    an oracle convenience: document weights become exact integer sums,
  *    so they are independent of summation order (float addition is not
  *    associative — a shuffle-order change or another engine would
  *    otherwise flip low bits) and hash-comparable bit-exactly.
  *  - document weight = Σ over token OCCURRENCES of the bucket's
  *    micro-log-ratio; a document with no tokens weighs 0.
  *
  * Scale shape: the ratio table is at most `buckets` rows —
  * computed by two map-side-combined aggregations over exploded tokens
  * (the shuffle carries ≤ `buckets` rows per partition), then BROADCAST
  * to the scorer. Scoring is explode → broadcast-hash-join → one
  * hash-aggregate shuffle keyed by document id with partial sums. No
  * all-pairs stage, no driver-side data beyond the bounded table.
  * Features default to unigrams; pass `ngrams = Seq(1, 2)` for DSIR's
  * hashed unigram+bigram stream (see [[Importance.featuresCol]]'s cost
  * note).
  */
object Importance {

  /** Hashed feature bucket of a token: first TWO md5 bytes mod `buckets`,
    * SQL-replayable in any engine with md5 + string ops. Two bytes give
    * 65536 distinct hash values, so bucket counts up to DSIR's usual 10k
    * stay meaningful (a one-byte hash would silently alias everything
    * above 256 buckets); `buckets` beyond that is a contract error.
    */
  def bucketOf(tok: Column, buckets: Int): Column = {
    require(buckets >= 1 && buckets <= 65536,
      s"buckets must be in 1..65536 (two md5 bytes of hash range), got $buckets")
    (conv(substring(md5(tok), 1, 4), 16, 10).cast("int") % buckets).as("bucket")
  }

  /** Feature stream of a document: token occurrences for each requested
    * n-gram order, concatenated (DSIR proper uses unigrams+bigrams,
    * `Seq(1, 2)`). Position n-grams are space-joined token windows WITHOUT
    * dedup — occurrence counts are the law. Orders > 1 go through an
    * interpreted transform/slice lambda chain (CodegenFallback — see the
    * [[graft.ops.Dedup.minhashSignatureFromHashes]] cost note), so the
    * unigram default keeps the hot scorer fully codegen'd; reach for
    * bigrams when word order matters more than throughput.
    */
  private[ops] def featuresCol(c: Column, ngrams: Seq[Int]): Column = {
    require(ngrams.nonEmpty && ngrams.forall(_ >= 1), "ngram orders must be ≥ 1")
    def order(n: Int): Column = {
      val t = TextFns.tokens(c)
      if (n == 1) t
      else when(size(t) < n, array().cast("array<string>"))
        .otherwise(transform(sequence(lit(0), size(t) - n),
          i => concat_ws(" ", slice(t, i + 1, lit(n)))))
    }
    if (ngrams == Seq(1)) TextFns.tokens(c) else concat(ngrams.map(order): _*)
  }

  /** The per-document hashed-bucket stream, strategy-switched on the
    * n-gram orders: unigrams stay on the fully codegen'd SQL path
    * (regex tokenize → md5 → mod); orders > 1 go through ONE
    * object-boundary UDF built on the Scala law twins
    * ([[featuresScala]] + [[bucketScala]]) instead of the interpreted
    * transform/slice lambda chain — the same mapPartitions-not-HOF
    * escape the narrow scorer and the Dedup signature pass use
    * (measured ~500× on per-token work). The two laws are equal by
    * construction (same md5, same window join) and cross-pinned in
    * ImportanceSpec, so DSIR's paper configuration `Seq(1, 2)` is usable
    * at corpus scale on every path.
    */
  private def bucketStream(df: DataFrame, textCol: String, buckets: Int,
      ngrams: Seq[Int], keep: Seq[Column]): DataFrame =
    if (ngrams == Seq(1))
      df.select((keep :+ explode(featuresCol(col(textCol), ngrams)).as("_tok")): _*)
        .select((keep :+ bucketOf(col("_tok"), buckets).as("bucket")): _*)
    else {
      val ng = ngrams
      val nb = buckets
      val stream = udf { text: String =>
        val md = Importance.md5Local.get()
        featuresScala(if (text == null) "" else text, ng)
          .map(f => bucketScala(f, nb, md)).toArray
      }.withName("graft_dsir_buckets")
      df.select((keep :+
        explode(stream(coalesce(col(textCol), lit("")))).as("bucket")): _*)
    }

  /** Feature-occurrence counts per hashed bucket. */
  private[ops] def bucketCounts(df: DataFrame, textCol: String, buckets: Int,
      ngrams: Seq[Int]): DataFrame =
    bucketStream(df, textCol, buckets, ngrams, Seq.empty)
      .select(col("bucket").as("_b"))
      .groupBy(col("_b")).agg(count(lit(1)).as("_n"))

  /** The quantized log-ratio table: one row per bucket,
    * (bucket, lr_micro: BIGINT). Missing buckets get the pure-smoothing
    * ratio (counts 0), so the table ALWAYS has exactly `buckets` rows —
    * the broadcast side of the scorer is bounded by construction.
    *
    * The ln → quantize step runs ONCE on the DRIVER JVM over the two
    * collected count frames (bounded: ≤ `buckets` rows each — the collect
    * is the same bounded-table discipline as the narrow scorer), not
    * inside a distributed expression. `Math.log` is only 1-ulp-accurate
    * and platform-dependent, so evaluating it per-executor on a
    * heterogeneous cluster could quantize the same bucket differently on
    * different machines; one driver-side evaluation makes the table a
    * plain integer literal everywhere downstream. Residual cross-ENGINE
    * risk (documented, not eliminable while the DuckDB oracle takes its
    * own `ln`): a libm-vs-JVM ulp difference can flip a micro-unit only
    * when `lr·1e6` lands within ~1e-7 of a .5 boundary —
    * [[minBoundaryMarginMicro]] measures the actual distance, and
    * ImportanceSpec pins the gate fixture's margin orders of magnitude
    * above it. Quantization matches BOTH engines' `round` (HALF_UP, away
    * from zero — NOT `Math.round`, which rounds negative halves up).
    */
  def hashedRatioTable(target: DataFrame, source: DataFrame, textCol: String,
      buckets: Int = 256, ngrams: Seq[Int] = Seq(1)): DataFrame = {
    def counts(df: DataFrame): Map[Int, Long] =
      bucketCounts(df, textCol, buckets, ngrams)
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    ratioFrame(target.sparkSession, counts(target), counts(source), buckets)
  }

  /** Counts → quantized ratio-table frame, ONE definition shared with the
    * persisted count store ([[RefStore.loadDsirRatios]]) so the stored
    * path can never drift from the live one.
    */
  private[ops] def ratioFrame(spark: org.apache.spark.sql.SparkSession,
      tc: Map[Int, Long], sc: Map[Int, Long], buckets: Int): DataFrame = {
    import spark.implicits._
    ratioMicroScala(tc, sc, buckets).toSeq.zipWithIndex
      .map { case (lr, b) => (b, lr) }
      .toDF("bucket", "lr_micro")
  }

  /** Driver-side twin of the ratio law — the exact left-to-right ln
    * association IS the law; the oracle mirrors it token for token so the
    * doubles agree (to libm accuracy) before quantization.
    */
  private[ops] def ratioMicroScala(tc: Map[Int, Long], sc: Map[Int, Long],
      buckets: Int): Array[Long] =
    rawLrTable(tc, sc, buckets).map(lr =>
      java.math.BigDecimal.valueOf(lr * 1000000.0)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact())

  private def rawLrTable(tc: Map[Int, Long], sc: Map[Int, Long],
      buckets: Int): Array[Double] = {
    val tt = tc.values.sum; val st = sc.values.sum
    Array.tabulate(buckets) { b =>
      ((math.log((tc.getOrElse(b, 0L) + 1L).toDouble) -
        math.log((tt + buckets).toDouble)) -
        math.log((sc.getOrElse(b, 0L) + 1L).toDouble)) +
        math.log((st + buckets).toDouble)
    }
  }

  /** Diagnostic for the residual cross-libm risk: the minimum distance, in
    * micro-units, of any bucket's unquantized `lr·1e6` from its nearest
    * HALF_UP rounding boundary (|x| = k + 0.5). A margin far above ~1e-7
    * (the worst plausible JVM-vs-libm ln divergence at these magnitudes)
    * proves the DuckDB oracle must quantize every bucket identically.
    */
  private[ops] def minBoundaryMarginMicro(tc: Map[Int, Long],
      sc: Map[Int, Long], buckets: Int): Double =
    rawLrTable(tc, sc, buckets).map { lr =>
      val x = math.abs(lr * 1000000.0)
      math.abs((x - math.floor(x)) - 0.5)
    }.min

  /** Per-document importance weight in micro-log units: exact BIGINT sum
    * of the bucket ratios of every token occurrence. Documents with no
    * tokens (blank/NULL text) weigh 0. Input columns are preserved.
    */
  def importanceWeights(df: DataFrame, idCol: String, textCol: String,
      ratios: DataFrame, buckets: Int = 256, ngrams: Seq[Int] = Seq(1)): DataFrame = {
    val sums = bucketStream(
        df.select(col(idCol).as("_wid"), col(textCol)),
        textCol, buckets, ngrams, Seq(col("_wid")))
      .join(broadcast(ratios), "bucket")
      .groupBy(col("_wid")).agg(sum(col("lr_micro")).as("_w"))
    df.join(sums, col(idCol) === col("_wid"), "left")
      .withColumn("weight_micro", coalesce(col("_w"), lit(0L)))
      .drop("_wid", "_w")
  }

  /** Scala twin of the feature law for the narrow scorer: token (and
    * optional n-gram) occurrences, same token law as [[TextFns.tokens]].
    */
  private[ops] def featuresScala(text: String, ngrams: Seq[Int]): Iterator[String] = {
    val toks = TextFns.tokensScala(text)
    ngrams.iterator.flatMap { n =>
      if (n == 1) toks.iterator
      else if (toks.length < n) Iterator.empty
      else (0 to toks.length - n).iterator.map(i => toks.slice(i, i + n).mkString(" "))
    }
  }

  /** Scala twin of [[bucketOf]]: first two bytes of the md5 digest (== the
    * first four hex chars of the SQL `md5`) mod `buckets`.
    */
  private[ops] def bucketScala(feature: String, buckets: Int,
      md: java.security.MessageDigest): Int = {
    md.reset()
    val d = md.digest(feature.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    (((d(0) & 0xFF) << 8) | (d(1) & 0xFF)) % buckets
  }

  /** NARROW scorer — the same weight law as [[importanceWeights]] with a
    * different physical strategy (the [[Contamination]] broadcast/shuffle
    * precedent): the ≤`buckets`-row ratio table is collected (bounded by
    * construction) and broadcast into one object-boundary pass that sums
    * each document's bucket ratios in place. Zero shuffle, no explode
    * fanout, stateless — safe inside a streaming micro-batch, and the
    * batch fast path when the corpus is wide. Integer weights make the
    * two strategies agree EXACTLY (equivalence-pinned in ImportanceSpec),
    * not just approximately. Output schema matches `df` +
    * (weight_micro BIGINT); building the frame runs the ratio-table jobs
    * eagerly (the collect).
    */
  def importanceWeightsNarrow(df: DataFrame, idCol: String, textCol: String,
      ratios: DataFrame, buckets: Int = 256, ngrams: Seq[Int] = Seq(1)): DataFrame = {
    val table = new Array[Long](buckets)
    ratios.select(col("bucket").cast("int"), col("lr_micro").cast("long"))
      .collect().foreach(r => table(r.getInt(0)) = r.getLong(1))
    val bc = df.sparkSession.sparkContext.broadcast(table)
    val ng = ngrams
    val nb = buckets
    val score = udf { text: String =>
      val md = Importance.md5Local.get()
      val t = bc.value
      var acc = 0L
      featuresScala(text, ng).foreach(f => acc += t(bucketScala(f, nb, md)))
      acc
    }
    df.withColumn("weight_micro", score(coalesce(col(textCol), lit(""))))
  }

  /** Executor-side digest reuse for the narrow scorer: the UDF body runs
    * per ROW, so `MessageDigest.getInstance` there would allocate per row;
    * a module-held ThreadLocal serializes by module reference and hands
    * each task thread one long-lived instance.
    */
  private lazy val md5Local: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))

  /** DSIR selection composed end-to-end: weight raw `df` against the
    * `target` exemplar corpus and keep the `k` highest-weight documents
    * (deterministic id tie-break).
    */
  def dsirSelect(df: DataFrame, target: DataFrame, idCol: String,
      textCol: String, k: Int, buckets: Int = 256,
      ngrams: Seq[Int] = Seq(1)): DataFrame = {
    val ratios = hashedRatioTable(target, df, textCol, buckets, ngrams)
    importanceWeights(df, idCol, textCol, ratios, buckets, ngrams)
      .orderBy(col("weight_micro").desc, col(idCol))
      .limit(k)
  }
}
