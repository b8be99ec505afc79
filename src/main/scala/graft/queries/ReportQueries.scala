package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.ExcelSerial
import graft.model.PathOps
import graft.ops.{Hierarchy, Parents, Upsert}
import graft.views.Analytic

/** Composed corpus reports: profile, curation summary, per-source scorecard.
  *
  * Split from the monolithic `Registry` object (round 15): members are
  * unchanged; `Registry` mixes every family trait in, so the public
  * surface (`Registry.queries` / `Registry.oracle` / each q* member) is
  * identical. Cross-family helpers are `private[queries]`; vals are lazy
  * so trait-linearization order can never null-init a shared fragment.
  */
trait ReportQueries { self: RegistryAll =>

  /** Corpus profile (the "dataset card" table a curation run publishes):
    * per language — document count, exact token mass (shared tokens law),
    * median char length (bit-exact interpolated percentile), and the
    * duplicate-document rate under the exact-dedup fingerprint law. One
    * composed query over three already-oracled laws; the scale shape is
    * two hash aggregates (fingerprint, then language) — no window, no join
    * wider than the per-language rollup.
    */
  def qCorpusProfile(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val fp = docs.select(col("lang"), col("n_chars"),
      graft.functions.TextFns.tokenCount(col("text")).as("_nt"),
      graft.functions.TextFns.fingerprintMd5(col("text")).as("_h"))
    val dupHashes = fp.groupBy("_h").agg(count(lit(1)).as("_c"))
      .filter(col("_c") > 1).select("_h")
    fp.join(dupHashes.withColumn("_dup", lit(1L)), Seq("_h"), "left")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("_nt")).as("total_tokens"),
        expr("percentile(n_chars, 0.5)").as("p50_chars"),
        count(col("_dup")).as("n_dup_docs"))
      .orderBy("lang")
  }

  lazy val qCorpusProfileSql: String =
    s"""WITH fp AS (SELECT lang, n_chars, $nTokensSqlExpr AS _nt,
      |   md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS _h
      |  FROM documents),
      | d AS (SELECT _h FROM fp GROUP BY _h HAVING COUNT(*) > 1)
      | SELECT lang, COUNT(*) AS n_docs,
      |  CAST(SUM(_nt) AS BIGINT) AS total_tokens,
      |  quantile_cont(n_chars, 0.5) AS p50_chars,
      |  CAST(COUNT(CASE WHEN _h IN (SELECT _h FROM d) THEN 1 END) AS BIGINT)
      |    AS n_dup_docs
      | FROM fp GROUP BY lang ORDER BY lang""".stripMargin.replace("\n", " ")

  /** The curation pipeline as ONE oracled row — the end-to-end composition
    * proof for the curation story: quality gate → PII scrub → exact
    * dedup (on the scrubbed text) → benchmark decontamination → fixed-k
    * eval carve → sequence packing → train/val/test split, each stage
    * feeding the next, with a per-stage count in the output. Every stage
    * law is individually oracled elsewhere (q_quality_filter, q_pii_scrub,
    * q_dedup_exact, q_contamination, q_fixed_sample, q_sequence_packing,
    * q_train_split); this query pins that they compose — the oracle
    * replays the whole chain as one CTE pipeline, so a drift in ANY stage
    * (or in how stages hand off) breaks the hash.
    *
    * Two `localCheckpoint` barriers (post-scrub, post-decontamination)
    * give the multi-consumer reuse: without them every stage
    * count would replay the full upstream chain (the exchange-reuse
    * pitfall); with them the expensive passes run once.
    */
  def qCurateSummary(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = t(spark, dir, "documents")
      .select(col("doc_id").cast("long").as("doc_id"), col("lang"), col("text"))
    val scored = docs.as[(Long, String, String)]
      .mapPartitions(_.map { case (id, lang, text) =>
        val s = graft.functions.TextFns.statsScala(text)
        (id, lang, text, s.nTokens, s.quality)
      })
      .toDF("doc_id", "lang", "text", "n_tokens", "quality")
    val quality = scored.filter(col("quality") >= 0.5 && col("n_tokens").between(20, 1000))
    val scrubbed = quality
      .withColumn("scrubbed", graft.ops.Scrub.maskPii(col("text")))
      .localCheckpoint()
    val exact = graft.ops.Dedup.exact(
      scrubbed.select(col("doc_id"), col("scrubbed").as("text")), "doc_id", "text")
    val surv = scrubbed.join(
      exact.select(col("survivor_id").as("doc_id")), Seq("doc_id"), "left_semi")
    val cand = surv.filter(col("doc_id") % 10 =!= 0)
    val contam = graft.ops.Contamination.check(
        cand.select(col("doc_id"), col("scrubbed").as("text")),
        docs.filter(col("doc_id") % 10 === 0), "doc_id", "text", n = 5)
      .filter(col("contaminated")).select("doc_id")
    val clean = cand.join(contam, Seq("doc_id"), "left_anti").localCheckpoint()
    val eval = graft.ops.Sampling.fixedKPerStratum(clean, "doc_id", "lang", k = 25)
    val pool = clean.join(eval.select("doc_id"), Seq("doc_id"), "left_anti")
    val packed = graft.ops.Packing.packGreedy(pool, "doc_id",
      col("n_tokens").cast("long"), budget = 2000L,
      pmod(col("doc_id"), lit(4)), nRanges = 4)
    val split = graft.ops.Splits.withSplit(pool, "doc_id")
    def c1(df: DataFrame, name: String): DataFrame =
      df.agg(count(lit(1)).cast("bigint").as(name))
    c1(docs, "n_total")
      .crossJoin(c1(quality, "n_quality"))
      .crossJoin(scrubbed.agg(count(when(col("scrubbed") =!= col("text"), 1))
        .cast("bigint").as("n_pii_docs")))
      .crossJoin(c1(surv, "n_exact_survivors"))
      .crossJoin(c1(cand, "n_candidates"))
      .crossJoin(c1(contam, "n_contaminated"))
      .crossJoin(c1(clean, "n_clean"))
      .crossJoin(c1(eval, "n_eval"))
      .crossJoin(c1(pool, "n_train_pool"))
      .crossJoin(packed.agg(count_distinct(col("pack_id")).cast("bigint").as("n_packs")))
      .crossJoin(split.agg(
        count(when(col("split") === "train", 1)).cast("bigint").as("n_train"),
        count(when(col("split") === "val", 1)).cast("bigint").as("n_val"),
        count(when(col("split") === "test", 1)).cast("bigint").as("n_test")))
  }

  lazy val qCurateSummarySql: String = {
    val shingle5 = "list_distinct(list_transform(generate_series(1, len(tk)-4), " +
      "i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' || tk[i+4]))"
    s"""WITH RECURSIVE stats AS (SELECT doc_id, lang, text,
      |   $nTokensSqlExpr AS n_tokens, $qualitySqlExpr AS quality FROM documents),
      | q AS (SELECT doc_id, lang, text, n_tokens FROM stats
      |  WHERE n_tokens BETWEEN 20 AND 1000 AND quality >= 0.5),
      | sc AS (SELECT doc_id, lang, n_tokens, text,
      |  regexp_replace(regexp_replace(text,
      |   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
      |   '\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b', '[PHONE]', 'g') AS scrubbed FROM q),
      | fp AS (SELECT sc.*, md5(regexp_replace(lower(trim(scrubbed)), '\\s+', ' ', 'g')) AS f FROM sc),
      | surv AS (SELECT fp.* FROM fp
      |  JOIN (SELECT f, min(doc_id) AS sid FROM fp GROUP BY f) m ON fp.doc_id = m.sid),
      | cand AS (SELECT * FROM surv WHERE doc_id % 10 != 0),
      | ctoks AS (SELECT doc_id, ${tokensSqlOf("scrubbed")} AS tk FROM cand),
      | csh AS (SELECT doc_id, unnest($shingle5) AS s FROM ctoks WHERE len(tk) >= 5),
      | btoks AS (SELECT doc_id, $tokensSql AS tk FROM documents WHERE doc_id % 10 = 0),
      | bsh AS (SELECT DISTINCT unnest($shingle5) AS s FROM btoks WHERE len(tk) >= 5),
      | contam AS (SELECT DISTINCT csh.doc_id FROM csh JOIN bsh USING (s)),
      | clean AS (SELECT * FROM cand c
      |  WHERE NOT EXISTS (SELECT 1 FROM contam x WHERE x.doc_id = c.doc_id)),
      | ev AS (SELECT doc_id FROM (SELECT doc_id, row_number() OVER (PARTITION BY lang
      |   ORDER BY md5('graft' || CAST(doc_id AS VARCHAR)), doc_id) AS rk FROM clean)
      |  WHERE rk <= 25),
      | pool AS (SELECT * FROM clean c
      |  WHERE NOT EXISTS (SELECT 1 FROM ev x WHERE x.doc_id = c.doc_id)),
      | pd AS (SELECT doc_id, CAST(n_tokens AS BIGINT) AS cost,
      |   CAST(doc_id % 4 AS BIGINT) AS range_id,
      |   row_number() OVER (PARTITION BY doc_id % 4 ORDER BY doc_id) AS rn FROM pool),
      | walk(range_id, rn, doc_id, cost, pack_no, acc) AS (
      |  SELECT range_id, rn, doc_id, cost, CAST(0 AS BIGINT), cost FROM pd WHERE rn = 1
      |  UNION ALL
      |  SELECT pd.range_id, pd.rn, pd.doc_id, pd.cost,
      |   CASE WHEN w.acc + pd.cost > 2000 THEN w.pack_no + 1 ELSE w.pack_no END,
      |   CASE WHEN w.acc + pd.cost > 2000 THEN pd.cost ELSE w.acc + pd.cost END
      |  FROM walk w JOIN pd ON pd.range_id = w.range_id AND pd.rn = w.rn + 1),
      | sp AS (SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 32, 1) <= 'c' THEN 'train'
      |   WHEN substr(md5(CAST(doc_id AS VARCHAR)), 32, 1) <= 'e' THEN 'val'
      |   ELSE 'test' END AS split FROM pool)
      | SELECT
      |  CAST((SELECT COUNT(*) FROM documents) AS BIGINT) AS n_total,
      |  CAST((SELECT COUNT(*) FROM q) AS BIGINT) AS n_quality,
      |  CAST((SELECT COUNT(CASE WHEN scrubbed != text THEN 1 END) FROM sc) AS BIGINT) AS n_pii_docs,
      |  CAST((SELECT COUNT(*) FROM surv) AS BIGINT) AS n_exact_survivors,
      |  CAST((SELECT COUNT(*) FROM cand) AS BIGINT) AS n_candidates,
      |  CAST((SELECT COUNT(*) FROM contam) AS BIGINT) AS n_contaminated,
      |  CAST((SELECT COUNT(*) FROM clean) AS BIGINT) AS n_clean,
      |  CAST((SELECT COUNT(*) FROM ev) AS BIGINT) AS n_eval,
      |  CAST((SELECT COUNT(*) FROM pool) AS BIGINT) AS n_train_pool,
      |  CAST((SELECT COUNT(DISTINCT range_id * 1000000000 + pack_no) FROM walk) AS BIGINT) AS n_packs,
      |  CAST((SELECT COUNT(CASE WHEN split = 'train' THEN 1 END) FROM sp) AS BIGINT) AS n_train,
      |  CAST((SELECT COUNT(CASE WHEN split = 'val' THEN 1 END) FROM sp) AS BIGINT) AS n_val,
      |  CAST((SELECT COUNT(CASE WHEN split = 'test' THEN 1 END) FROM sp) AS BIGINT) AS n_test
      |""".stripMargin.replace("\n", " ")
  }

  /** Per-source quality SCORECARD — five independent corpus signals
    * composed into the one dashboard row set an operator reads before
    * weighting a source: lexical TV drift, numeric KS drift, token-Gini
    * concentration + head share, KL-to-rest, and MAD outlier fraction.
    * Engine side joins the five operator frames; the oracle embeds each
    * signal's FULL existing SQL law as a subquery — so a drift in any
    * component, or in the composition, breaks the hash (the
    * q_curate_summary posture applied to monitoring).
    */
  def qSourceScorecard(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val nd = docs.filter(col("source").isNotNull)
      .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    val tv = graft.ops.Drift.tvDrift(docs, "source", "text")
      .select(col("source").as("_s1"), col("tv_drift"))
    val ks = graft.ops.Drift.ksDrift(docs, "source", "n_chars")
      .select(col("stratum").as("_s2"), col("ks"))
    val g = graft.ops.Vocab.tokenGini(docs, "source", "text")
      .select(col("stratum").as("_s3"), col("gini"), col("top10_share"))
    val kl = graft.ops.Drift.sourceKlReport(docs, "source", "text")
      .select(col("stratum").as("_s4"), col("kl_pico"))
    val m = graft.ops.Quantiles.madOutliers(docs, "n_chars", "source")
      .select(col("stratum").as("_s5"), col("outlier_frac"))
    nd.join(tv, col("source") === col("_s1"))
      .join(ks, col("source") === col("_s2"))
      .join(g, col("source") === col("_s3"))
      .join(kl, col("source") === col("_s4"))
      .join(m, col("source") === col("_s5"))
      .select(col("source"), col("n_docs"), col("tv_drift"), col("ks"),
        col("gini"), col("top10_share"), col("kl_pico"), col("outlier_frac"))
      .orderBy("source")
  }

  lazy val qSourceScorecardSql: String =
    s"""SELECT d.source, d.n_docs, tv.tv_drift, ks.ks, g.gini,
      |  g.top10_share, kl.kl_pico, m.outlier_frac
      | FROM (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents
      |   WHERE source IS NOT NULL GROUP BY 1) d
      | JOIN ($qTvDriftSql) tv ON tv.source = d.source
      | JOIN ($qKsDriftSql) ks ON ks.stratum = d.source
      | JOIN ($qTokenGiniSql) g ON g.stratum = d.source
      | JOIN ($qSourceKlSql) kl ON kl.stratum = d.source
      | JOIN ($qMadOutliersSql) m ON m.stratum = d.source
      | ORDER BY d.source""".stripMargin.replace("\n", " ")
}
