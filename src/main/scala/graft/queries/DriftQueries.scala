package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.ExcelSerial
import graft.model.PathOps
import graft.ops.{Hierarchy, Parents, Upsert}
import graft.views.Analytic

/** Distribution drift and robust statistics: TV/KS/PSI/JS/W1/KL, quantiles, winsorize, tail index, Lorenz, sketches.
  *
  * Split from the monolithic `Registry` object (round 15): members are
  * unchanged; `Registry` mixes every family trait in, so the public
  * surface (`Registry.queries` / `Registry.oracle` / each q* member) is
  * identical. Cross-family helpers are `private[queries]`; vals are lazy
  * so trait-linearization order can never null-init a shared fragment.
  */
trait DriftQueries { self: RegistryAll =>

  /** Exact grouped percentiles (linear interpolation): Spark's `percentile`
    * vs DuckDB's `quantile_cont` — both interpolate linearly on the sorted
    * values, so the doubles match bit-for-bit. The exact form is the
    * oracle-able one; `approx_percentile` (t-digest) is the scale path and
    * is deliberately not in the gate (approximation is engine-specific).
    */
  def qPercentiles(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events").groupBy("event_type")
      .agg(expr("percentile(value, 0.5)").as("p50"),
        expr("percentile(value, 0.9)").as("p90"),
        expr("percentile(value, 0.99)").as("p99"))
      .orderBy("event_type")

  lazy val qPercentilesSql: String =
    """SELECT event_type,
      | quantile_cont(value, 0.5) AS p50,
      | quantile_cont(value, 0.9) AS p90,
      | quantile_cont(value, 0.99) AS p99
      | FROM events GROUP BY event_type ORDER BY event_type""".stripMargin.replace("\n", " ")

  /** Per-source total-variation drift from the pooled corpus unigram
    * distribution ([[graft.ops.Drift.tvDrift]]): the exact no-libm
    * distribution-shift monitor. The numerator is a BIGINT/HUGEINT-exact
    * integer sum on both engines; one double division renders the
    * statistic, so the double hash-matches.
    */
  def qTvDrift(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Drift.tvDrift(t(spark, dir, "documents"), "source", "text")
      .orderBy("source")

  lazy val qTvDriftSql: String =
    s"""WITH tok AS (SELECT CAST(source AS VARCHAR) AS s, unnest($tokensSql) AS t
      |   FROM documents),
      | cst AS (SELECT s, t, CAST(COUNT(*) AS BIGINT) AS c_st FROM tok GROUP BY 1, 2),
      | ct AS (SELECT t, CAST(SUM(c_st) AS BIGINT) AS c_t FROM cst GROUP BY 1),
      | ns AS (SELECT s, CAST(SUM(c_st) AS BIGINT) AS n_s FROM cst GROUP BY 1),
      | nt AS (SELECT CAST(SUM(c_st) AS BIGINT) AS n_tot FROM cst),
      | agg AS (SELECT cst.s, ns.n_s, nt.n_tot,
      |   SUM(abs(CAST(cst.c_st AS HUGEINT) * nt.n_tot
      |           - CAST(ct.c_t AS HUGEINT) * ns.n_s)) AS pnum,
      |   SUM(CAST(ct.c_t AS HUGEINT)) AS ctp,
      |   CAST(COUNT(*) AS BIGINT) AS vocab_s
      |  FROM cst JOIN ct USING (t) JOIN ns USING (s) CROSS JOIN nt
      |  GROUP BY 1, 2, 3)
      | SELECT s AS source, n_s AS n_tokens, vocab_s,
      |  CAST(pnum + CAST(n_s AS HUGEINT) * (n_tot - ctp) AS DOUBLE)
      |    / (2.0 * CAST(n_s AS DOUBLE) * CAST(n_tot AS DOUBLE)) AS tv_drift
      | FROM agg ORDER BY source""".stripMargin.replace("\n", " ")

  /** [[qTvDrift]] against a PERSISTED baseline distribution: the corpus's
    * token counts commit in two batches plus a crashed-commit retry of the
    * second (count-family `batch=<id>/` overwrite — an append would double
    * the counts and shift every distance); scoring runs
    * [[graft.ops.Drift.tvDriftStored]]. With the whole corpus committed,
    * the stored form equals the live pooled form exactly, so the store is
    * an implementation detail and the oracle is shared.
    */
  def qTvDriftStore(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val store = storeOnce(dir, "driftstore") { s =>
      graft.ops.RefStore.writeTokenCounts(
        docs.filter(col("doc_id") % 2 === 0), "text", s)
      graft.ops.RefStore.mergeTokenCounts(
        docs.filter(col("doc_id") % 2 =!= 0), "text", s, batchId = "b1")
      graft.ops.RefStore.mergeTokenCounts( // crashed-commit retry, same id
        docs.filter(col("doc_id") % 2 =!= 0), "text", s, batchId = "b1")
    }
    graft.ops.Drift.tvDriftStored(docs, "source", "text", store)
      .orderBy("source")
  }

  /** Same law as q_tv_drift: the store is an implementation detail. */
  lazy val qTvDriftStoreSql: String = qTvDriftSql

  /** Winsorization (percentile clipping — the standard outlier guard before
    * a value feeds loss weighting or mixture math): per event type, clamp
    * `value` into its exact [p05, p95] band and compare clipped vs raw
    * mass. The exact-interpolation percentile is bit-equal to DuckDB's
    * quantile_cont (proven by q_percentiles), so the clip thresholds — and
    * therefore every clipped value — are engine-exact. Scale shape: one
    * tiny per-group percentile aggregate broadcast back onto the stream;
    * at scale swap the exact percentile for `approx_percentile` exactly
    * as [[graft.ops.Quantiles.topFractionByStratum]] does.
    */
  def qWinsorize(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
    val bands = ev.groupBy(col("event_type").as("_et"))
      .agg(expr("percentile(value, 0.05)").as("_lo"),
        expr("percentile(value, 0.95)").as("_hi"))
    // NULL guard pinned on both sides: least/greatest SKIP NULLs, so a bare
    // clip would clamp a NULL value to _lo and silently add p05 mass —
    // when(isNotNull) keeps NULL out of the sum (mirrored by the oracle's
    // CASE WHEN value IS NULL THEN NULL)
    ev.join(broadcast(bands), col("event_type") === col("_et"))
      .select(col("event_type"),
        when(col("value").isNotNull,
          least(greatest(col("value"), col("_lo")), col("_hi"))).as("_cv"),
        col("value"), col("_lo"), col("_hi"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        count(when(col("value") < col("_lo") || col("value") > col("_hi"), 1))
          .as("n_clipped"),
        sum(col("_cv").cast("decimal(18,4)")).cast("decimal(18,4)")
          .cast("double").as("clipped_sum"),
        first(col("_lo")).as("p05"), first(col("_hi")).as("p95"))
      .orderBy("event_type")
  }

  lazy val qWinsorizeSql: String =
    """WITH b AS (SELECT event_type AS _et,
      |   quantile_cont(value, 0.05) AS _lo, quantile_cont(value, 0.95) AS _hi
      |  FROM events GROUP BY 1)
      | SELECT event_type, COUNT(*) AS n,
      |  COUNT(CASE WHEN value < _lo OR value > _hi THEN 1 END) AS n_clipped,
      |  CAST(CAST(SUM(CASE WHEN value IS NULL THEN NULL
      |    ELSE CAST(least(greatest(value, _lo), _hi) AS DECIMAL(18,4)) END)
      |    AS DECIMAL(18,4)) AS DOUBLE) AS clipped_sum,
      |  any_value(_lo) AS p05, any_value(_hi) AS p95
      | FROM events JOIN b ON event_type = _et
      | GROUP BY event_type ORDER BY event_type""".stripMargin.replace("\n", " ")

  /** The scale-path winsorize twin ([[graft.ops.Quantiles.winsorizeApprox]]):
    * thresholds from the mergeable `approx_percentile` sketch (one
    * map-side-combinable aggregate, broadcast clip, corpus never shuffles)
    * instead of the one-task-per-stratum exact sort. The sketch threshold
    * is the DISCRETE percentile — an actual data value, the smallest with
    * cumulative frequency ≥ q — which DuckDB spells `quantile_disc`
    * (equality verified value-for-value on the fixture), so this form is
    * fully hash-oracled too, not just agreement-tested against
    * [[qWinsorize]].
    */
  def qWinsorizeApprox(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Quantiles.winsorizeApprox(
      t(spark, dir, "events"), "value", "event_type")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        count(when(col("value") < col("band_lo") || col("value") > col("band_hi"), 1))
          .as("n_clipped"),
        sum(col("winsorized").cast("decimal(18,4)")).cast("decimal(18,4)")
          .cast("double").as("clipped_sum"),
        first(col("band_lo")).as("p05"), first(col("band_hi")).as("p95"))
      .orderBy("event_type")

  lazy val qWinsorizeApproxSql: String =
    """WITH b AS (SELECT event_type AS _et,
      |   quantile_disc(value, 0.05) AS _lo, quantile_disc(value, 0.95) AS _hi
      |  FROM events GROUP BY 1)
      | SELECT event_type, COUNT(*) AS n,
      |  COUNT(CASE WHEN value < _lo OR value > _hi THEN 1 END) AS n_clipped,
      |  CAST(CAST(SUM(CASE WHEN value IS NULL THEN NULL
      |    ELSE CAST(least(greatest(value, _lo), _hi) AS DECIMAL(18,4)) END)
      |    AS DECIMAL(18,4)) AS DOUBLE) AS clipped_sum,
      |  any_value(_lo) AS p05, any_value(_hi) AS p95
      | FROM events JOIN b ON event_type = _et
      | GROUP BY event_type ORDER BY event_type""".stripMargin.replace("\n", " ")

  /** Robust per-source outlier report ([[graft.ops.Quantiles.madOutliers]]):
    * exact discrete lower medians, integer MAD, `dev > 3·mad` flags —
    * every number but the final fraction is a BIGINT.
    */
  def qMadOutliers(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Quantiles.madOutliers(
        t(spark, dir, "documents"), "n_chars", "source", k = 3L)
      .orderBy("stratum")

  lazy val qMadOutliersSql: String =
    """WITH v AS (SELECT source AS stratum, CAST(n_chars AS BIGINT) AS v
      |  FROM documents WHERE n_chars IS NOT NULL AND source IS NOT NULL),
      | ranked AS (SELECT stratum, v,
      |   row_number() OVER (PARTITION BY stratum ORDER BY v) AS rn,
      |   COUNT(*) OVER (PARTITION BY stratum) AS n FROM v),
      | med AS (SELECT stratum, v AS med FROM ranked WHERE rn = (n + 1) // 2),
      | dev AS (SELECT v.stratum, abs(v.v - m.med) AS dev, m.med
      |  FROM v JOIN med m USING (stratum)),
      | rd AS (SELECT stratum, dev,
      |   row_number() OVER (PARTITION BY stratum ORDER BY dev) AS rn,
      |   COUNT(*) OVER (PARTITION BY stratum) AS n FROM dev),
      | mad AS (SELECT stratum, dev AS mad FROM rd WHERE rn = (n + 1) // 2)
      | SELECT d.stratum, CAST(COUNT(*) AS BIGINT) AS n, MIN(d.med) AS med,
      |  MIN(m.mad) AS mad,
      |  CAST(COUNT(CASE WHEN d.dev > 3 * m.mad THEN 1 END) AS BIGINT) AS n_outliers,
      |  CAST(COUNT(CASE WHEN d.dev > 3 * m.mad THEN 1 END) AS DOUBLE)
      |    / CAST(COUNT(*) AS DOUBLE) AS outlier_frac
      | FROM dev d JOIN mad m USING (stratum) GROUP BY d.stratum
      | ORDER BY stratum""".stripMargin.replace("\n", " ")

  /** Hash-shard balance report ([[graft.ops.Layout.shardBalance]]) for the
    * 32-shard layout of `documents` keyed on doc_id — the pre-write skew
    * check, two-md5-byte law (the [[graft.ops.Importance.bucketOf]]
    * bucket law on the id rendered as a string).
    */
  def qShardBalance(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Layout.shardBalance(
        t(spark, dir, "documents"), "doc_id", "n_chars", nShards = 32)
      .orderBy("shard")

  lazy val qShardBalanceSql: String = {
    s"""WITH h AS (SELECT md5(CAST(doc_id AS VARCHAR)) AS m,
      |   CAST(n_chars AS BIGINT) AS w FROM documents),
      | b AS (SELECT (4096 * ${nibSql(1)} + 256 * ${nibSql(2)} + 16 * ${nibSql(3)}
      |   + ${nibSql(4)}) % 32 AS shard, w FROM h),
      | s AS (SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_rows,
      |   CAST(COALESCE(SUM(w), 0) AS BIGINT) AS weight FROM b GROUP BY shard),
      | t AS (SELECT CAST(SUM(n_rows) AS BIGINT) AS total FROM s)
      | SELECT CAST(shard AS BIGINT) AS shard, n_rows, weight,
      |  CAST(n_rows * 32 AS DOUBLE) / CAST(t.total AS DOUBLE) AS skew_ratio
      | FROM s CROSS JOIN t ORDER BY shard""".stripMargin.replace("\n", " ")
  }

  /** Population Stability Index per source over the n_chars length
    * distribution ([[graft.ops.Drift.psiDrift]], 100-char bins): the
    * industry-standard drift screen beside the KS sup-law — PSI weights
    * the WHOLE distribution shift, with the conventional 0.1/0.25 alarm
    * thresholds. Floor-division binning (exact for negative metrics, the
    * cohort-week law), add-one smoothing over observed bins, every
    * `(p−q)·(ln p − ln q)` term pico-quantized before the exact integer
    * Σ — the oracle replays the whole law bit-for-bit.
    */
  def qPsiDrift(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Drift.psiDrift(t(spark, dir, "documents"), "source", "n_chars",
      binWidth = 100L)
      .orderBy("stratum")

  lazy val qPsiDriftSql: String = {
    val p = "(CAST(c + 1 AS DOUBLE) / CAST(ns + nb AS DOUBLE))"
    val q = "(CAST((cb - c) + 1 AS DOUBLE) / CAST((n - ns) + nb AS DOUBLE))"
    s"""WITH vb AS (SELECT source AS stratum,
      |   (CAST(n_chars AS BIGINT) - (((n_chars % 100) + 100) % 100)) // 100 AS b
      |  FROM documents WHERE source IS NOT NULL AND n_chars IS NOT NULL),
      | csb AS (SELECT stratum, b, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM vb GROUP BY 1, 2),
      | cb AS (SELECT b, CAST(SUM(c) AS BIGINT) AS cb FROM csb GROUP BY 1),
      | ns AS (SELECT stratum, CAST(SUM(c) AS BIGINT) AS ns FROM csb GROUP BY 1),
      | gl AS (SELECT CAST(SUM(cb) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS nb
      |  FROM cb),
      | sup AS (SELECT ns.stratum, ns.ns, cb.b, cb.cb,
      |   COALESCE(csb.c, 0) AS c, gl.n, gl.nb
      |  FROM ns CROSS JOIN cb
      |  LEFT JOIN csb ON csb.stratum = ns.stratum AND csb.b = cb.b
      |  CROSS JOIN gl),
      | terms AS (SELECT stratum, ns, n, nb,
      |   CAST(round((($p - $q) * (ln($p) - ln($q))) * 1000000000000.0) AS BIGINT) AS term
      |  FROM sup)
      | SELECT stratum, MIN(ns) AS n, MIN(n - ns) AS n_rest, MIN(nb) AS n_bins,
      |  CASE WHEN MIN(n - ns) > 0 THEN CAST(SUM(term) AS BIGINT) END AS psi_pico
      | FROM terms GROUP BY stratum ORDER BY stratum""".stripMargin.replace("\n", " ")
  }

  /** Bhattacharyya coefficient + Hellinger distance per source
    * ([[graft.ops.Drift.bhattacharyyaDrift]], '43): the mass-OVERLAP
    * view of the PSI/JS family, with Hellinger the bounded metric form.
    * Same smoothing scaffold, √(p·q) terms pico-quantized pre-Σ.
    */
  def qBhattacharyya(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Drift.bhattacharyyaDrift(t(spark, dir, "documents"),
      "source", "n_chars", binWidth = 100L)
      .orderBy("stratum")

  lazy val qBhattacharyyaSql: String = {
    val p = "(CAST(c + 1 AS DOUBLE) / CAST(ns + nb AS DOUBLE))"
    val q = "(CAST((cb - c) + 1 AS DOUBLE) / CAST((n - ns) + nb AS DOUBLE))"
    s"""WITH vb AS (SELECT source AS stratum,
      |   (CAST(n_chars AS BIGINT) - (((n_chars % 100) + 100) % 100)) // 100 AS b
      |  FROM documents WHERE source IS NOT NULL AND n_chars IS NOT NULL),
      | csb AS (SELECT stratum, b, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM vb GROUP BY 1, 2),
      | cb AS (SELECT b, CAST(SUM(c) AS BIGINT) AS cb FROM csb GROUP BY 1),
      | ns AS (SELECT stratum, CAST(SUM(c) AS BIGINT) AS ns FROM csb GROUP BY 1),
      | gl AS (SELECT CAST(SUM(cb) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS nb
      |  FROM cb),
      | sup AS (SELECT ns.stratum, ns.ns, cb.b, cb.cb,
      |   COALESCE(csb.c, 0) AS c, gl.n, gl.nb
      |  FROM ns CROSS JOIN cb
      |  LEFT JOIN csb ON csb.stratum = ns.stratum AND csb.b = cb.b
      |  CROSS JOIN gl),
      | terms AS (SELECT stratum, ns, n, nb,
      |   CAST(round(sqrt($p * $q) * 1000000000000.0) AS BIGINT) AS term
      |  FROM sup),
      | ag AS (SELECT stratum, MIN(ns) AS n, MIN(n - ns) AS n_rest,
      |   MIN(nb) AS n_bins,
      |   CASE WHEN MIN(n - ns) > 0 THEN CAST(SUM(term) AS BIGINT) END
      |    AS bc_pico
      |  FROM terms GROUP BY stratum)
      | SELECT stratum, n, n_rest, n_bins, bc_pico,
      |  CASE WHEN bc_pico IS NOT NULL THEN
      |   CAST(round(sqrt(greatest(1.0 - CAST(bc_pico AS DOUBLE) / 1.0e12,
      |     0.0)) * 1.0e12) AS BIGINT) END AS hellinger_pico
      | FROM ag ORDER BY stratum""".stripMargin.replace("\n", " ")
  }

  /** Jensen-Shannon divergence per source over the n_chars distribution
    * ([[graft.ops.Drift.jsDrift]], Lin '91, 100-char bins): PSI's
    * symmetric bounded companion — always in [0, ln 2], √JSD a metric.
    * Same exact scaffold (floor-division bins, add-one smoothing over
    * observed support, per-bin pico quantization before the integer Σ),
    * so the oracle replays the whole law bit-for-bit.
    */
  def qJsDrift(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Drift.jsDrift(t(spark, dir, "documents"), "source", "n_chars",
      binWidth = 100L)
      .orderBy("stratum")

  lazy val qJsDriftSql: String = {
    val p = "(CAST(c + 1 AS DOUBLE) / CAST(ns + nb AS DOUBLE))"
    val q = "(CAST((cb - c) + 1 AS DOUBLE) / CAST((n - ns) + nb AS DOUBLE))"
    s"""WITH vb AS (SELECT source AS stratum,
      |   (CAST(n_chars AS BIGINT) - (((n_chars % 100) + 100) % 100)) // 100 AS b
      |  FROM documents WHERE source IS NOT NULL AND n_chars IS NOT NULL),
      | csb AS (SELECT stratum, b, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM vb GROUP BY 1, 2),
      | cb AS (SELECT b, CAST(SUM(c) AS BIGINT) AS cb FROM csb GROUP BY 1),
      | ns AS (SELECT stratum, CAST(SUM(c) AS BIGINT) AS ns FROM csb GROUP BY 1),
      | gl AS (SELECT CAST(SUM(cb) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS nb
      |  FROM cb),
      | sup AS (SELECT ns.stratum, ns.ns, cb.b, cb.cb,
      |   COALESCE(csb.c, 0) AS c, gl.n, gl.nb
      |  FROM ns CROSS JOIN cb
      |  LEFT JOIN csb ON csb.stratum = ns.stratum AND csb.b = cb.b
      |  CROSS JOIN gl),
      | terms AS (SELECT stratum, ns, n, nb,
      |   CAST(round((0.5 * ($p * (ln(2.0 * $p) - ln($p + $q)))
      |     + 0.5 * ($q * (ln(2.0 * $q) - ln($p + $q)))) * 1000000000000.0) AS BIGINT) AS term
      |  FROM sup)
      | SELECT stratum, MIN(ns) AS n, MIN(n - ns) AS n_rest, MIN(nb) AS n_bins,
      |  CASE WHEN MIN(n - ns) > 0 THEN CAST(SUM(term) AS BIGINT) END AS jsd_pico
      | FROM terms GROUP BY stratum ORDER BY stratum""".stripMargin.replace("\n", " ")
  }

  /** 1-Wasserstein drift of each source's n_chars distribution vs the
    * rest ([[graft.ops.Drift.wasserstein1]], same 100-char bins as
    * PSI/JS): the distance-aware companion — reports HOW FAR (in chars)
    * the length mass moved, not just that it moved. Exact
    * DECIMAL(38,0) CDF-difference integrals, one fixed double chain.
    */
  def qW1Drift(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Drift.wasserstein1(t(spark, dir, "documents"), "source",
        "n_chars", binWidth = 100L)
      .orderBy("stratum")

  lazy val qW1DriftSql: String =
    s"""WITH vb AS (SELECT source AS stratum,
      |   (CAST(n_chars AS BIGINT) - (((n_chars % 100) + 100) % 100)) // 100 AS b
      |  FROM documents WHERE source IS NOT NULL AND n_chars IS NOT NULL),
      | csb AS (SELECT stratum, b, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM vb GROUP BY 1, 2),
      | cb AS (SELECT b, CAST(SUM(c) AS BIGINT) AS cb FROM csb GROUP BY 1),
      | ns AS (SELECT stratum, CAST(SUM(c) AS BIGINT) AS ns FROM csb GROUP BY 1),
      | gl AS (SELECT CAST(SUM(cb) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS nb
      |  FROM cb),
      | sup AS (SELECT ns.stratum, ns.ns, cb.b, cb.cb,
      |   COALESCE(csb.c, 0) AS c, gl.n, gl.nb
      |  FROM ns CROSS JOIN cb
      |  LEFT JOIN csb ON csb.stratum = ns.stratum AND csb.b = cb.b
      |  CROSS JOIN gl),
      | cum AS (SELECT stratum, ns, n, nb, b,
      |   SUM(c) OVER (PARTITION BY stratum ORDER BY b) AS cum_s,
      |   SUM(cb - c) OVER (PARTITION BY stratum ORDER BY b) AS cum_r,
      |   LEAD(b) OVER (PARTITION BY stratum ORDER BY b) AS next_b
      |  FROM sup),
      | terms AS (SELECT stratum, ns, n, nb,
      |   CASE WHEN next_b IS NOT NULL THEN
      |     abs(CAST(cum_s AS HUGEINT) * (n - ns) - CAST(cum_r AS HUGEINT) * ns)
      |       * (next_b - b) * 100
      |   ELSE CAST(0 AS HUGEINT) END AS term
      |  FROM cum)
      | SELECT stratum, MIN(ns) AS n, MIN(n - ns) AS n_rest, MIN(nb) AS n_bins,
      |  CASE WHEN MIN(n - ns) > 0 THEN
      |   CAST(round(CAST(SUM(term) AS DOUBLE)
      |     / (CAST(MIN(ns) AS DOUBLE) * CAST(MIN(n - ns) AS DOUBLE))
      |     * 1000000.0) AS BIGINT)
      |  END AS w1_micro
      | FROM terms GROUP BY stratum ORDER BY stratum"""
      .stripMargin.replace("\n", " ")

  /** Per-source vocabulary-coverage report
    * ([[graft.ops.Vocab.coverageReport]], Good '53 + Chao '84): the
    * Good–Turing unseen-mass estimate (1 − n₁/N) and the Chao1 total-
    * vocabulary estimate from the singleton/doubleton tail — the
    * "have we scraped enough of this source?" curation screen. Exact
    * integer frequency-of-frequencies, one fixed double chain each.
    */
  def qCoverage(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Vocab.coverageReport(t(spark, dir, "documents"), "source", "text")
      .orderBy("stratum")

  lazy val qCoverageSql: String =
    s"""WITH tok AS (SELECT source AS stratum, unnest($tokensSql) AS t
      |  FROM documents WHERE source IS NOT NULL),
      | tc AS (SELECT stratum, t, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM tok GROUP BY 1, 2),
      | agg AS (SELECT stratum, CAST(SUM(c) AS BIGINT) AS n_tokens,
      |   CAST(COUNT(*) AS BIGINT) AS vocab,
      |   CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |   CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2
      |  FROM tc GROUP BY 1)
      | SELECT stratum, n_tokens, vocab, n1, n2,
      |  CAST(round((1.0 - CAST(n1 AS DOUBLE) / CAST(n_tokens AS DOUBLE))
      |    * 1000000000000.0) AS BIGINT) AS coverage_pico,
      |  CAST(round((CAST(vocab AS DOUBLE)
      |    + (CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) - 1.0))
      |      / (2.0 * (CAST(n2 AS DOUBLE) + 1.0))) * 1000000.0) AS BIGINT)
      |   AS chao1_micro
      | FROM agg ORDER BY stratum""".stripMargin.replace("\n", " ")

  /** KMV distinct-cardinality estimate of the order–part interaction
    * set ([[graft.ops.Sketches.kmvDistinct]], Bar-Yossef et al. '02,
    * k = 256): the order-statistics cardinality sketch — one top-k of
    * md5 images instead of a corpus-wide COUNT(DISTINCT) shuffle over
    * the fact table. The estimate is a deterministic function of the
    * item set (fixed-width hex sorts numerically), so it hash-oracles
    * exactly; ~60k true distinct at sf0.01 exercises the ESTIMATOR
    * path (the exact-below-k path is spec-pinned).
    */
  def qKmvDistinct(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Sketches.kmvDistinct(
      t(spark, dir, "lineitem")
        .select(concat(col("l_orderkey").cast("string"), lit(":"),
          col("l_partkey").cast("string")).as("pair")),
      col("pair"), k = 256)

  lazy val qKmvDistinctSql: String = {
    // first 15 hex nibbles of column m as a BIGINT polynomial (16^14 max
    // term ≈ 7.2·10¹⁶ — safely inside BIGINT)
    val poly = (1 to 15).map(i =>
      s"CAST(${1L << (4 * (15 - i))} AS BIGINT) * ${nibSql(i)}")
      .mkString(" + ")
    s"""WITH toks AS (SELECT CAST(l_orderkey AS VARCHAR) || ':'
      |   || CAST(l_partkey AS VARCHAR) AS tok FROM lineitem),
      | h AS (SELECT DISTINCT md5('graft' || tok) AS m FROM toks
      |  WHERE tok IS NOT NULL),
      | kk AS (SELECT m FROM h ORDER BY m LIMIT 256),
      | agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_kept, MAX(m) AS m
      |  FROM kk),
      | pv AS (SELECT n_kept, m, CAST($poly AS BIGINT) AS hv FROM agg)
      | SELECT CAST(256 AS BIGINT) AS k, n_kept, m AS kth_hash,
      |  CASE WHEN n_kept < 256 THEN n_kept WHEN hv > 0 THEN
      |   CAST(round(255.0 / (CAST(hv AS DOUBLE) / 1152921504606846976.0))
      |    AS BIGINT) END AS est_distinct
      | FROM pv WHERE n_kept > 0""".stripMargin.replace("\n", " ")
  }

  /** HyperLogLog distinct estimate of the same order–part interaction
    * set ([[graft.ops.Sketches.hllDistinct]], Flajolet et al. '07,
    * m = 256 registers): the FIXED-memory companion of q_kmv_distinct —
    * same md5-image discipline, the register/ρ law in exact integer
    * string ops, the harmonic denominator as an exact BIGINT, one
    * pinned double chain per estimate (the raw-numerator constant is
    * interpolated from the engine's own fold). ~60k true distinct puts
    * it on the RAW estimator branch; the linear-counting and all-zero
    * branches are spec-pinned.
    */
  def qHllDistinct(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Sketches.hllDistinct(
      t(spark, dir, "lineitem")
        .select(concat(col("l_orderkey").cast("string"), lit(":"),
          col("l_partkey").cast("string")).as("pair")),
      col("pair"), p = 8)

  lazy val qHllDistinctSql: String = {
    val poly8 = (1 to 8).map(i =>
      s"CAST(${1L << (4 * (8 - i))} AS BIGINT) * ${nibSql(i)}")
      .mkString(" + ")
    val rawNum = graft.ops.Sketches.hllRawNumerator(8)
    val largeCut = 4294967296.0 / 30.0
    s"""WITH toks AS (SELECT CAST(l_orderkey AS VARCHAR) || ':'
      |   || CAST(l_partkey AS VARCHAR) AS tok FROM lineitem),
      | h AS (SELECT md5('graft' || tok) AS m FROM toks
      |  WHERE tok IS NOT NULL),
      | hv AS (SELECT CAST($poly8 AS BIGINT) AS v FROM h),
      | rr AS (SELECT v // 16777216 AS b, v % 16777216 AS rest FROM hv),
      | rho AS (SELECT b, CASE WHEN rest = 0 THEN 25
      |    ELSE 25 - length(bin(rest)) END AS r FROM rr),
      | regs AS (SELECT b, CAST(MAX(r) AS BIGINT) AS mr FROM rho GROUP BY 1),
      | ag AS (SELECT CAST(COUNT(*) AS BIGINT) AS used,
      |   COALESCE(CAST(SUM(CAST(2**(40.0 - CAST(mr AS DOUBLE)) AS BIGINT))
      |     AS BIGINT), 0) AS bits_used FROM regs),
      | w AS (SELECT used, 256 - used AS zeros,
      |   bits_used + (256 - used) * 1099511627776 AS bits FROM ag),
      | e AS (SELECT used, zeros, bits,
      |   $rawNum / CAST(bits AS DOUBLE) AS raw FROM w)
      | SELECT CAST(256 AS BIGINT) AS m, used AS used_registers,
      |  CAST(zeros AS BIGINT) AS zero_registers,
      |  CAST(bits AS BIGINT) AS harmonic_bits,
      |  CAST(round(raw * 1000.0) AS BIGINT) AS raw_est_milli,
      |  CAST(round((CASE WHEN raw <= 640.0 AND zeros > 0
      |    THEN 256.0 * ln(256.0 / CAST(zeros AS DOUBLE))
      |    WHEN raw > $largeCut
      |    THEN -4294967296.0 * ln(1.0 - raw / 4294967296.0)
      |    ELSE raw END) * 1000.0) AS BIGINT) AS est_milli
      | FROM e""".stripMargin.replace("\n", " ")
  }

  /** Hill tail-index of the document-length distribution
    * ([[graft.ops.Quantiles.hillTailIndex]], Hill '75, k = 100): the
    * heavy-tail exponent a corpus sizing decision reads — α ≈ 1 means a
    * few giant documents carry the bytes. One TakeOrdered(k+1), per-term
    * ln-excess picos before the integer Σ, NULL α on a flat top.
    */
  def qTailIndex(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Quantiles.hillTailIndex(
      t(spark, dir, "documents"), "n_chars", "doc_id", k = 100)

  lazy val qTailIndexSql: String =
    """WITH tp AS (SELECT CAST(n_chars AS BIGINT) AS x, doc_id AS id
      |  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0
      |   AND doc_id IS NOT NULL ORDER BY x DESC, id LIMIT 101),
      | w AS (SELECT x, MIN(x) OVER () AS xt, COUNT(*) OVER () AS m,
      |   row_number() OVER (ORDER BY x DESC, id) AS rn FROM tp),
      | tm AS (SELECT xt, CAST(round(ln(CAST(x AS DOUBLE)
      |     / CAST(xt AS DOUBLE)) * 1e12) AS BIGINT) AS tv
      |  FROM w WHERE m = 101 AND rn <= 100),
      | a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, MAX(xt) AS x_tail,
      |   CAST(SUM(tv) AS BIGINT) AS s FROM tm)
      | SELECT CAST(100 AS BIGINT) AS k, x_tail, s AS sum_ln_excess_pico,
      |  CASE WHEN s > 0 THEN
      |   CAST(round(100.0 * 1e15 / CAST(s AS DOUBLE)) AS BIGINT)
      |  END AS alpha_milli
      | FROM a WHERE n = 100""".stripMargin.replace("\n", " ")

  /** Distribution-free 95% CI for the median document length
    * ([[graft.ops.Quantiles.quantileCi]]): the binomial
    * order-statistic interval — how sure the median point estimate is,
    * with NO distributional assumption; all three order statistics off
    * one value-table prefix-sum pass.
    */
  def qMedianCi(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Quantiles.quantileCi(
      t(spark, dir, "documents")
        .select(col("n_chars").cast("long").as("len")), "len")

  lazy val qMedianCiSql: String =
    """WITH vt AS (SELECT CAST(n_chars AS BIGINT) AS v,
      |   CAST(COUNT(*) AS HUGEINT) AS m FROM documents
      |  WHERE n_chars IS NOT NULL GROUP BY 1),
      | cum AS (SELECT v, SUM(m) OVER (ORDER BY v
      |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
      |   CAST(SUM(m) OVER () AS BIGINT) AS nn FROM vt),
      | ch AS (SELECT nn,
      |   CAST(ceil(CAST(nn AS DOUBLE) * 0.5) AS BIGINT) AS rp,
      |   GREATEST(CAST(floor(CAST(nn AS DOUBLE) * 0.5
      |     - 1.959963984540054 * sqrt(CAST(nn AS DOUBLE) * 0.5
      |       * (1.0 - 0.5))) AS BIGINT), 1) AS klo,
      |   LEAST(CAST(floor(CAST(nn AS DOUBLE) * 0.5
      |     + 1.959963984540054 * sqrt(CAST(nn AS DOUBLE) * 0.5
      |       * (1.0 - 0.5))) AS BIGINT) + 1, nn) AS khi
      |  FROM cum LIMIT 1)
      | SELECT nn AS n_rows, klo AS k_lo, khi AS k_hi,
      |  (SELECT MIN(v) FROM cum, ch WHERE cw >= rp) AS point_value,
      |  (SELECT MIN(v) FROM cum, ch WHERE cw >= klo) AS ci_lo,
      |  (SELECT MIN(v) FROM cum, ch WHERE cw >= khi) AS ci_hi
      | FROM ch""".stripMargin.replace("\n", " ")

  /** Lorenz concentration deciles of document length
    * ([[graft.ops.Quantiles.lorenzDeciles]]): "the top 10% of documents
    * carry X% of the bytes" — the curve behind q_token_gini's one
    * number. Ranks from the VALUE-FREQUENCY table (never a global row
    * sort), boundary-straddling values split by exact rank overlap.
    */
  def qLorenzDeciles(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Quantiles.lorenzDeciles(t(spark, dir, "documents"), "n_chars")

  lazy val qLorenzDecilesSql: String =
    """WITH f AS (SELECT CAST(n_chars AS BIGINT) AS v,
      |   CAST(COUNT(*) AS BIGINT) AS c FROM documents
      |  WHERE n_chars IS NOT NULL AND n_chars >= 0 GROUP BY 1),
      | r AS (SELECT v, c,
      |   CAST(SUM(c) OVER (ORDER BY v) AS BIGINT) AS hi,
      |   CAST(SUM(c) OVER () AS BIGINT) AS n FROM f),
      | cells AS (SELECT d.decile, r.v,
      |   greatest(0, least(r.hi, (d.decile * r.n) // 10)
      |     - greatest(r.hi - r.c, ((d.decile - 1) * r.n) // 10)) AS k
      |  FROM r CROSS JOIN (SELECT CAST(unnest(generate_series(1, 10))
      |    AS BIGINT) AS decile) d),
      | pd AS (SELECT decile, CAST(SUM(k) AS BIGINT) AS n_rows,
      |   CAST(SUM(CAST(k AS HUGEINT) * v) AS HUGEINT) AS mass
      |  FROM cells WHERE k > 0 GROUP BY 1),
      | cm AS (SELECT decile, n_rows, mass,
      |   CAST(SUM(mass) OVER (ORDER BY decile) AS HUGEINT) AS cum,
      |   CAST(SUM(mass) OVER () AS HUGEINT) AS tot FROM pd)
      | SELECT decile, n_rows, CAST(mass AS BIGINT) AS mass,
      |  CAST(cum AS BIGINT) AS cum_mass,
      |  CASE WHEN tot > 0 THEN CAST(round(CAST(cum AS DOUBLE)
      |    / CAST(tot AS DOUBLE) * 1000000.0) AS BIGINT)
      |  END AS cum_share_micro
      | FROM cm ORDER BY decile""".stripMargin.replace("\n", " ")

  /** Gini coefficient of document length ([[graft.ops.Quantiles.gini]]):
    * q_lorenz_deciles' curve as its single headline number, computed
    * over the same value-frequency table and distributed prefix sum —
    * doubled tied-block rank masses keep the law division-free until
    * one final pico-rounded double chain.
    */
  def qLengthGini(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Quantiles.gini(t(spark, dir, "documents"), "n_chars")

  lazy val qLengthGiniSql: String =
    """WITH f AS (SELECT CAST(n_chars AS BIGINT) AS v,
      |   CAST(COUNT(*) AS BIGINT) AS c FROM documents
      |  WHERE n_chars IS NOT NULL AND n_chars >= 0 GROUP BY 1),
      | r AS (SELECT v, c,
      |   CAST(SUM(c) OVER (ORDER BY v) AS BIGINT) AS hi FROM f),
      | t AS (SELECT COALESCE(CAST(SUM(c) AS BIGINT), 0) AS n,
      |   COALESCE(CAST(SUM(CAST(v AS HUGEINT) * CAST(c AS HUGEINT))
      |     AS HUGEINT), 0) AS s,
      |   COALESCE(CAST(SUM(CAST(v AS HUGEINT)
      |     * (CAST(hi AS HUGEINT) * (hi + 1)
      |       - CAST(hi - c AS HUGEINT) * (hi - c + 1))) AS HUGEINT), 0) AS r2
      |  FROM r)
      | SELECT n AS n_rows, CAST(s AS BIGINT) AS sum_value,
      |  CAST(r2 AS BIGINT) AS two_rank_mass,
      |  CASE WHEN n > 0 AND s > 0 THEN
      |   CAST(round(CAST(r2 - (n + 1) * s AS DOUBLE)
      |    / CAST(n * s AS DOUBLE) * 1.0e12) AS BIGINT)
      |  END AS gini_pico
      | FROM t""".stripMargin.replace("\n", " ")

  /** Per-source entropy + KL to the rest of the corpus
    * ([[graft.ops.Drift.sourceKlReport]]): add-one smoothing over the
    * corpus vocabulary, every term ln-quantized to pico-units before the
    * exact integer Σ — the information-theoretic complement to
    * q_tv_drift.
    */
  def qSourceKl(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Drift.sourceKlReport(t(spark, dir, "documents"), "source", "text")
      .orderBy("stratum")

  lazy val qSourceKlSql: String = {
    val lowTok = tokensSqlOf("lower(text)")
    val p = "(CAST(c + 1 AS DOUBLE) / CAST(ns + v AS DOUBLE))"
    val q = "(CAST((ct - c) + 1 AS DOUBLE) / CAST((n - ns) + v AS DOUBLE))"
    s"""WITH tk AS (SELECT source AS stratum, unnest($lowTok) AS t
      |  FROM documents WHERE source IS NOT NULL),
      | cst AS (SELECT stratum, t, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM tk GROUP BY 1, 2),
      | ct AS (SELECT t, CAST(SUM(c) AS BIGINT) AS ct FROM cst GROUP BY 1),
      | ns AS (SELECT stratum, CAST(SUM(c) AS BIGINT) AS ns FROM cst GROUP BY 1),
      | gl AS (SELECT CAST(SUM(ct) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS v
      |  FROM ct),
      | sup AS (SELECT ns.stratum, ns.ns, ct.t, ct.ct,
      |   COALESCE(cst.c, 0) AS c, gl.n, gl.v
      |  FROM ns CROSS JOIN ct
      |  LEFT JOIN cst ON cst.stratum = ns.stratum AND cst.t = ct.t
      |  CROSS JOIN gl),
      | terms AS (SELECT stratum, ns, v,
      |   CAST(round(((-$p) * ln($p)) * 1000000000000.0) AS BIGINT) AS ent,
      |   CAST(round(($p * (ln($p) - ln($q))) * 1000000000000.0) AS BIGINT) AS kl
      |  FROM sup)
      | SELECT stratum, MIN(ns) AS n_toks, MIN(v) AS v,
      |  CAST(SUM(ent) AS BIGINT) AS entropy_pico,
      |  CAST(SUM(kl) AS BIGINT) AS kl_pico
      | FROM terms GROUP BY stratum ORDER BY stratum""".stripMargin.replace("\n", " ")
  }

  /** Exact Kolmogorov–Smirnov drift ([[graft.ops.Drift.ksDrift]]): each
    * source's document-length distribution vs the rest — integer
    * cross-multiplied sup, one division, hash-oracled.
    */
  def qKsDrift(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Drift.ksDrift(t(spark, dir, "documents"), "source", "n_chars")
      .orderBy("stratum")

  lazy val qKsDriftSql: String =
    """WITH cnt AS (SELECT source AS stratum, CAST(n_chars AS BIGINT) AS v,
      |   CAST(COUNT(*) AS BIGINT) AS c
      |  FROM documents WHERE source IS NOT NULL AND n_chars IS NOT NULL
      |  GROUP BY 1, 2),
      | ns AS (SELECT stratum, CAST(SUM(c) AS BIGINT) AS ns FROM cnt GROUP BY 1),
      | vals AS (SELECT v, CAST(SUM(c) AS BIGINT) AS cv FROM cnt GROUP BY 1),
      | vc AS (SELECT v, CAST(SUM(cv) OVER (ORDER BY v) AS BIGINT) AS cumall FROM vals),
      | tot AS (SELECT CAST(SUM(ns) AS BIGINT) AS n FROM ns),
      | sup AS (SELECT ns.stratum, ns.ns, vc.v, vc.cumall,
      |   COALESCE(cnt.c, 0) AS c, tot.n
      |  FROM ns CROSS JOIN vc
      |  LEFT JOIN cnt ON cnt.stratum = ns.stratum AND cnt.v = vc.v
      |  CROSS JOIN tot),
      | cum AS (SELECT stratum, ns, n, cumall,
      |   CAST(SUM(c) OVER (PARTITION BY stratum ORDER BY v) AS BIGINT) AS cums
      |  FROM sup),
      | terms AS (SELECT stratum, ns, n - ns AS nr,
      |   abs(CAST(cums AS HUGEINT) * CAST(n - ns AS HUGEINT)
      |     - CAST(cumall - cums AS HUGEINT) * CAST(ns AS HUGEINT)) AS term
      |  FROM cum)
      | SELECT stratum, MIN(ns) AS n, MIN(nr) AS n_rest,
      |  CASE WHEN MIN(nr) > 0 THEN
      |   CAST(MAX(term) AS DOUBLE)
      |    / CAST(CAST(MIN(ns) AS HUGEINT) * CAST(MIN(nr) AS HUGEINT) AS DOUBLE)
      |  END AS ks
      | FROM terms GROUP BY stratum ORDER BY stratum""".stripMargin.replace("\n", " ")

  /** Kuiper drift per source vs the rest
    * ([[graft.ops.Drift.kuiperDrift]]): q_ks_drift's tail-sensitive
    * sibling — V = D⁺ + D⁻ over the same pooled support, catching the
    * spread-shift drift whose two excursions a single sup half-sees.
    */
  def qKuiperDrift(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Drift.kuiperDrift(t(spark, dir, "documents"), "source", "n_chars")
      .orderBy("stratum")

  lazy val qKuiperDriftSql: String =
    """WITH cnt AS (SELECT source AS stratum, CAST(n_chars AS BIGINT) AS v,
      |   CAST(COUNT(*) AS BIGINT) AS c
      |  FROM documents WHERE source IS NOT NULL AND n_chars IS NOT NULL
      |  GROUP BY 1, 2),
      | ns AS (SELECT stratum, CAST(SUM(c) AS BIGINT) AS ns FROM cnt GROUP BY 1),
      | vals AS (SELECT v, CAST(SUM(c) AS BIGINT) AS cv FROM cnt GROUP BY 1),
      | vc AS (SELECT v, CAST(SUM(cv) OVER (ORDER BY v) AS BIGINT) AS cumall FROM vals),
      | tot AS (SELECT CAST(SUM(ns) AS BIGINT) AS n FROM ns),
      | sup AS (SELECT ns.stratum, ns.ns, vc.v, vc.cumall,
      |   COALESCE(cnt.c, 0) AS c, tot.n
      |  FROM ns CROSS JOIN vc
      |  LEFT JOIN cnt ON cnt.stratum = ns.stratum AND cnt.v = vc.v
      |  CROSS JOIN tot),
      | cum AS (SELECT stratum, ns, n, cumall,
      |   CAST(SUM(c) OVER (PARTITION BY stratum ORDER BY v) AS BIGINT) AS cums
      |  FROM sup),
      | terms AS (SELECT stratum, ns, n - ns AS nr,
      |   CAST(cums AS HUGEINT) * CAST(n - ns AS HUGEINT)
      |     - CAST(cumall - cums AS HUGEINT) * CAST(ns AS HUGEINT) AS term
      |  FROM cum)
      | SELECT stratum, MIN(ns) AS n, MIN(nr) AS n_rest,
      |  CAST(MAX(term) AS BIGINT) AS d_plus,
      |  CAST(MAX(-term) AS BIGINT) AS d_minus,
      |  CASE WHEN MIN(nr) > 0 THEN
      |   CAST(MAX(term) + MAX(-term) AS DOUBLE)
      |    / CAST(CAST(MIN(ns) AS HUGEINT) * CAST(MIN(nr) AS HUGEINT) AS DOUBLE)
      |  END AS kuiper
      | FROM terms GROUP BY stratum ORDER BY stratum""".stripMargin.replace("\n", " ")

  /** Cramér–von Mises distance per source vs the rest
    * ([[graft.ops.Drift.cvmDrift]], Anderson '62): the whole-curve
    * companion of q_ks_drift — the squared CDF gap integrated over the
    * pooled sample, so slow everywhere-drift scores where the sup law
    * sees only the worst point. Same support, same distributed
    * prefix-sum cumulative, exact integers until one division.
    */
  def qCvmDrift(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Drift.cvmDrift(t(spark, dir, "documents"), "source", "n_chars")
      .orderBy("stratum")

  lazy val qCvmDriftSql: String =
    """WITH cnt AS (SELECT source AS stratum, CAST(n_chars AS BIGINT) AS v,
      |   CAST(COUNT(*) AS BIGINT) AS c
      |  FROM documents WHERE source IS NOT NULL AND n_chars IS NOT NULL
      |  GROUP BY 1, 2),
      | ns AS (SELECT stratum, CAST(SUM(c) AS BIGINT) AS ns FROM cnt GROUP BY 1),
      | vals AS (SELECT v, CAST(SUM(c) AS BIGINT) AS cv FROM cnt GROUP BY 1),
      | vc AS (SELECT v, cv, CAST(SUM(cv) OVER (ORDER BY v) AS BIGINT) AS cumall FROM vals),
      | tot AS (SELECT CAST(SUM(ns) AS BIGINT) AS n FROM ns),
      | sup AS (SELECT ns.stratum, ns.ns, vc.v, vc.cv, vc.cumall,
      |   COALESCE(cnt.c, 0) AS c, tot.n
      |  FROM ns CROSS JOIN vc
      |  LEFT JOIN cnt ON cnt.stratum = ns.stratum AND cnt.v = vc.v
      |  CROSS JOIN tot),
      | cum AS (SELECT stratum, ns, n, cv, cumall,
      |   CAST(SUM(c) OVER (PARTITION BY stratum ORDER BY v) AS BIGINT) AS cums
      |  FROM sup),
      | terms AS (SELECT stratum, ns, n, n - ns AS nr,
      |   CAST(cv AS HUGEINT)
      |    * (CAST(cums AS HUGEINT) * CAST(n - ns AS HUGEINT)
      |       - CAST(cumall - cums AS HUGEINT) * CAST(ns AS HUGEINT))
      |    * (CAST(cums AS HUGEINT) * CAST(n - ns AS HUGEINT)
      |       - CAST(cumall - cums AS HUGEINT) * CAST(ns AS HUGEINT)) AS t
      |  FROM cum)
      | SELECT stratum, MIN(ns) AS n, MIN(nr) AS n_rest,
      |  CASE WHEN MIN(nr) > 0 THEN
      |   CAST(SUM(t) AS DOUBLE)
      |    / CAST(CAST(MIN(ns) AS HUGEINT) * CAST(MIN(nr) AS HUGEINT)
      |       * CAST(MIN(n) AS HUGEINT) * CAST(MIN(n) AS HUGEINT) AS DOUBLE)
      |  END AS cvm
      | FROM terms GROUP BY stratum ORDER BY stratum""".stripMargin.replace("\n", " ")

  /** Anderson–Darling distance per source vs the rest
    * ([[graft.ops.Drift.adDrift]], Pettitt '76): the tail-weighted
    * member of the KS/CvM family — 1/(F(1−F)) weights make extreme-
    * value drift score hardest. Per-value micro terms before the exact
    * Σ; same prefix-sum scaffold.
    */
  def qAdDrift(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Drift.adDrift(t(spark, dir, "documents"), "source", "n_chars")
      .orderBy("stratum")

  lazy val qAdDriftSql: String =
    """WITH cnt AS (SELECT source AS stratum, CAST(n_chars AS BIGINT) AS v,
      |   CAST(COUNT(*) AS BIGINT) AS c
      |  FROM documents WHERE source IS NOT NULL AND n_chars IS NOT NULL
      |  GROUP BY 1, 2),
      | ns AS (SELECT stratum, CAST(SUM(c) AS BIGINT) AS ns FROM cnt GROUP BY 1),
      | vals AS (SELECT v, CAST(SUM(c) AS BIGINT) AS cv FROM cnt GROUP BY 1),
      | vc AS (SELECT v, cv, CAST(SUM(cv) OVER (ORDER BY v) AS BIGINT) AS cumall FROM vals),
      | tot AS (SELECT CAST(SUM(ns) AS BIGINT) AS n FROM ns),
      | sup AS (SELECT ns.stratum, ns.ns, vc.v, vc.cv, vc.cumall,
      |   COALESCE(cnt.c, 0) AS c, tot.n
      |  FROM ns CROSS JOIN vc
      |  LEFT JOIN cnt ON cnt.stratum = ns.stratum AND cnt.v = vc.v
      |  CROSS JOIN tot),
      | cum AS (SELECT stratum, ns, n, cv, cumall,
      |   CAST(SUM(c) OVER (PARTITION BY stratum ORDER BY v) AS BIGINT) AS cums
      |  FROM sup),
      | terms AS (SELECT stratum, ns, n - ns AS nr,
      |   CASE WHEN cumall < n AND n - ns > 0 THEN
      |    CAST(round(CAST(cv AS DOUBLE)
      |     * CAST(CAST(cums AS HUGEINT) * CAST(n - ns AS HUGEINT)
      |        - CAST(cumall - cums AS HUGEINT) * CAST(ns AS HUGEINT) AS DOUBLE)
      |     * CAST(CAST(cums AS HUGEINT) * CAST(n - ns AS HUGEINT)
      |        - CAST(cumall - cums AS HUGEINT) * CAST(ns AS HUGEINT) AS DOUBLE)
      |     / greatest(CAST(cumall AS DOUBLE)
      |        * (CAST(n AS DOUBLE) - CAST(cumall AS DOUBLE)), 1.0)
      |     / greatest(CAST(ns AS DOUBLE) * CAST(n - ns AS DOUBLE), 1.0)
      |     * 1.0e6) AS BIGINT)
      |   ELSE 0 END AS t
      |  FROM cum)
      | SELECT stratum, MIN(ns) AS n, MIN(nr) AS n_rest,
      |  CASE WHEN MIN(nr) > 0 THEN
      |   CAST(SUM(CAST(t AS HUGEINT)) AS BIGINT) END AS ad_micro
      | FROM terms GROUP BY stratum ORDER BY stratum""".stripMargin.replace("\n", " ")

  /** Decile QQ table: English vs the rest over document length
    * ([[graft.ops.Quantiles.qqTable]]): WHERE the distributions differ
    * — the diagnostic behind the q_ks/q_cvm/q_ad one-numbers. One
    * aggregate, both sides' exact interpolated deciles, 9 rows.
    */
  def qQqDeciles(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Quantiles.qqTable(
      t(spark, dir, "documents")
        .filter(col("lang").isNotNull && col("n_chars").isNotNull)
        .select(col("n_chars").cast("long").as("v"),
          (col("lang") === "en").as("fa")),
      "v", "fa")

  lazy val qQqDecilesSql: String = {
    val probs = (1 to 9).map(i => s"${i / 10.0}").mkString("[", ", ", "]")
    s"""WITH base AS (SELECT CAST(n_chars AS BIGINT) AS v, (lang = 'en') AS fa
      |  FROM documents WHERE n_chars IS NOT NULL AND lang IS NOT NULL),
      | agg AS (SELECT
      |   quantile_cont(CASE WHEN fa THEN v END, $probs) AS qa,
      |   quantile_cont(CASE WHEN NOT fa THEN v END, $probs) AS qb
      |  FROM base),
      | idx AS (SELECT unnest(range(1, 10)) AS i, qa, qb FROM agg)
      | SELECT CAST(i * 10 AS BIGINT) AS q_centi, qa[i] AS v_a, qb[i] AS v_b,
      |  qa[i] - qb[i] AS gap
      | FROM idx ORDER BY q_centi""".stripMargin.replace("\n", " ")
  }

  /** PERSISTED numeric drift baseline
    * ([[graft.ops.RefStore.writeValueCounts]] +
    * [[graft.ops.Drift.ksAgainstStored]]): the corpus commits its
    * n_chars histogram in two batches; the en-slice batch scores its KS
    * against the loaded baseline — re-summed counts are
    * batching-invariant, so the statistic must match the oracle's direct
    * two-sample computation exactly.
    */
  def qKsStore(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    graft.ops.Drift.ksAgainstStored(
      docs.filter(col("lang") === "en"), "n_chars", valueStore(spark, dir))
  }

  /** The shared n_chars histogram baseline of the two stored numeric
    * drift alarms (KS + PSI) — ONE committed artifact feeds both, which
    * is the operational point of the value-counts family.
    */
  private[queries] def valueStore(spark: SparkSession, dir: String): String = {
    val docs = t(spark, dir, "documents")
    storeOnce(dir, "valstore") { s =>
      graft.ops.RefStore.writeValueCounts(
        docs.filter(col("doc_id") % 2 === 0), "n_chars", s)
      graft.ops.RefStore.mergeValueCounts(
        docs.filter(col("doc_id") % 2 === 1), "n_chars", s, batchId = "b1")
    }
  }

  /** PERSISTED-baseline PSI ([[graft.ops.Drift.psiAgainstStored]]) of the
    * en slice against the SAME committed n_chars histogram q_ks_store
    * scores against — one stored baseline, two alarms (sup-law + whole-
    * distribution). The oracle recomputes the two-sample binned law
    * directly from the tables, so commit/merge/load must be exactly
    * batching-invariant for the pico hash to survive.
    */
  def qPsiStore(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    graft.ops.Drift.psiAgainstStored(
      docs.filter(col("lang") === "en"), "n_chars", valueStore(spark, dir),
      binWidth = 100L)
  }

  lazy val qPsiStoreSql: String = {
    val binOf = "(CAST(n_chars AS BIGINT) - (((n_chars % 100) + 100) % 100)) // 100"
    val p = "(CAST(ca + 1 AS DOUBLE) / CAST(na + nbins AS DOUBLE))"
    val q = "(CAST(cb + 1 AS DOUBLE) / CAST(nb + nbins AS DOUBLE))"
    s"""WITH a AS (SELECT $binOf AS b, CAST(COUNT(*) AS BIGINT) AS ca
      |  FROM documents WHERE lang = 'en' AND n_chars IS NOT NULL GROUP BY 1),
      | bb AS (SELECT $binOf AS b, CAST(COUNT(*) AS BIGINT) AS cb
      |  FROM documents WHERE n_chars IS NOT NULL GROUP BY 1),
      | m AS (SELECT COALESCE(a.b, bb.b) AS b, COALESCE(ca, 0) AS ca,
      |   COALESCE(cb, 0) AS cb FROM a FULL OUTER JOIN bb ON a.b = bb.b),
      | g AS (SELECT CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb,
      |   CAST(COUNT(*) AS BIGINT) AS nbins FROM m),
      | t AS (SELECT na, nb, nbins,
      |   CAST(round((($p - $q) * (ln($p) - ln($q))) * 1000000000000.0) AS BIGINT) AS term
      |  FROM m CROSS JOIN g)
      | SELECT CAST(COALESCE(MIN(na), 0) AS BIGINT) AS n_batch,
      |  CAST(COALESCE(MIN(nb), 0) AS BIGINT) AS n_ref,
      |  CAST(COALESCE(MIN(nbins), 0) AS BIGINT) AS n_bins,
      |  CAST(COALESCE(SUM(term), 0) AS BIGINT) AS psi_pico
      | FROM t""".stripMargin.replace("\n", " ")
  }

  lazy val qKsStoreSql: String =
    """WITH a AS (SELECT CAST(n_chars AS BIGINT) AS v, CAST(COUNT(*) AS BIGINT) AS ca
      |  FROM documents WHERE lang = 'en' AND n_chars IS NOT NULL GROUP BY 1),
      | b AS (SELECT CAST(n_chars AS BIGINT) AS v, CAST(COUNT(*) AS BIGINT) AS cb
      |  FROM documents WHERE n_chars IS NOT NULL GROUP BY 1),
      | m AS (SELECT COALESCE(a.v, b.v) AS v, COALESCE(ca, 0) AS ca,
      |   COALESCE(cb, 0) AS cb FROM a FULL OUTER JOIN b ON a.v = b.v),
      | c AS (SELECT v, ca, cb,
      |   CAST(SUM(ca) OVER (ORDER BY v) AS BIGINT) AS cuma,
      |   CAST(SUM(cb) OVER (ORDER BY v) AS BIGINT) AS cumb,
      |   CAST(SUM(ca) OVER () AS BIGINT) AS na,
      |   CAST(SUM(cb) OVER () AS BIGINT) AS nb FROM m),
      | t AS (SELECT na, nb,
      |   abs(CAST(cuma AS HUGEINT) * CAST(nb AS HUGEINT)
      |     - CAST(cumb AS HUGEINT) * CAST(na AS HUGEINT)) AS term FROM c)
      | SELECT CAST(COALESCE(MIN(na), 0) AS BIGINT) AS n_batch,
      |  CAST(COALESCE(MIN(nb), 0) AS BIGINT) AS n_ref,
      |  CASE WHEN COALESCE(MIN(na), 0) > 0 AND COALESCE(MIN(nb), 0) > 0 THEN
      |   CAST(MAX(term) AS DOUBLE)
      |    / CAST(CAST(MIN(na) AS HUGEINT) * CAST(MIN(nb) AS HUGEINT) AS DOUBLE)
      |  END AS ks FROM t""".stripMargin.replace("\n", " ")

  /** Herfindahl–Hirschman concentration of supplier revenue per nation:
    * HHI = 10000·Σ share² — the market-concentration index, here the
    * "is one supplier dominating this nation's volume" screen. Exact
    * law: each line's discounted price quantizes to integer CENTS with
    * `round(·)` (half-away-from-zero on both engines — a DECIMAL cast
    * would round half-even in one engine and half-up in the other at
    * product values), squares sum in DECIMAL(38,0)/HUGEINT, and the
    * index renders by one fixed double chain `(10000·num) / (tot·tot)`.
    */
  def qHhiConcentration(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
    val s = t(spark, dir, "supplier").select(col("s_suppkey"), col("s_nationkey"))
    val dec = "decimal(38,0)"
    val cents = li.join(s, col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_nationkey").as("nation"), col("l_suppkey"))
      .agg(sum(round((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        * 100.0).cast("long")).as("_c"))
    cents.groupBy(col("nation"))
      .agg(count(lit(1)).as("n_suppliers"),
        sum(col("_c")).as("_tot"),
        sum(col("_c").cast(dec) * col("_c").cast(dec)).as("_num"))
      .withColumn("hhi",
        (lit(10000.0) * col("_num").cast("double")) /
          (col("_tot").cast("double") * col("_tot").cast("double")))
      .select(col("nation").cast("long").as("nation"), col("n_suppliers"),
        col("_tot").as("revenue_cents"), col("hhi"))
      .orderBy("nation")
  }

  lazy val qHhiConcentrationSql: String =
    """WITH c AS (SELECT s.s_nationkey AS nation, l.l_suppkey,
      |   CAST(SUM(CAST(round((l.l_extendedprice * (1.0 - l.l_discount)) * 100.0)
      |     AS BIGINT)) AS BIGINT) AS c
      |  FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |  GROUP BY 1, 2)
      | SELECT CAST(nation AS BIGINT) AS nation,
      |  CAST(COUNT(*) AS BIGINT) AS n_suppliers,
      |  CAST(SUM(c) AS BIGINT) AS revenue_cents,
      |  (10000.0 * CAST(SUM(CAST(c AS HUGEINT) * CAST(c AS HUGEINT)) AS DOUBLE))
      |    / (CAST(SUM(c) AS DOUBLE) * CAST(SUM(c) AS DOUBLE)) AS hhi
      | FROM c GROUP BY nation ORDER BY nation""".stripMargin.replace("\n", " ")

  /** Theil T inequality of document bytes by source
    * ([[graft.ops.Quantiles.theilIndex]], Theil '67) with the
    * between/within decomposition — the report that says whether byte
    * concentration lives BETWEEN sources (reweighting helps) or inside
    * them (it can't). Value-table scaffold, ln quantized to picos
    * before the integer Σ, one division per row.
    */
  def qTheilIndex(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Quantiles.theilIndex(t(spark, dir, "documents"),
      "n_chars", "source")

  lazy val qTheilIndexSql: String =
    """WITH cells AS (SELECT source AS scope, CAST(n_chars AS BIGINT) AS v,
      |   CAST(count(*) AS BIGINT) AS c FROM documents
      |  WHERE source IS NOT NULL AND n_chars IS NOT NULL AND n_chars > 0
      |  GROUP BY 1, 2),
      | st AS (SELECT scope, CAST(SUM(c) AS BIGINT) AS n,
      |   CAST(SUM(CAST(c AS HUGEINT) * v) AS HUGEINT) AS x FROM cells GROUP BY 1),
      | per AS (SELECT cells.scope, MAX(st.n) AS n_rows, MAX(st.x) AS mass,
      |   CAST(round(CAST(SUM(CAST(c AS HUGEINT) * v *
      |     CAST(round(ln(CAST(v AS DOUBLE) * CAST(st.n AS DOUBLE)
      |       / CAST(st.x AS DOUBLE)) * 1e12) AS BIGINT)) AS DOUBLE)
      |    / CAST(MAX(st.x) AS DOUBLE)) AS BIGINT) AS theil_pico
      |  FROM cells JOIN st USING (scope) GROUP BY cells.scope),
      | acells AS (SELECT v, CAST(SUM(c) AS BIGINT) AS c FROM cells GROUP BY 1),
      | atot AS (SELECT CAST(SUM(c) AS BIGINT) AS n,
      |   CAST(SUM(CAST(c AS HUGEINT) * v) AS HUGEINT) AS x FROM acells),
      | arow AS (SELECT '__all' AS scope, MAX(atot.n) AS n_rows,
      |   MAX(atot.x) AS mass,
      |   CAST(round(CAST(SUM(CAST(c AS HUGEINT) * v *
      |     CAST(round(ln(CAST(v AS DOUBLE) * CAST(atot.n AS DOUBLE)
      |       / CAST(atot.x AS DOUBLE)) * 1e12) AS BIGINT)) AS DOUBLE)
      |    / CAST(MAX(atot.x) AS DOUBLE)) AS BIGINT) AS theil_pico
      |  FROM acells CROSS JOIN atot),
      | btw AS (SELECT '__between' AS scope, MAX(atot.n) AS n_rows,
      |   MAX(atot.x) AS mass,
      |   CAST(round(CAST(SUM(st.x *
      |     CAST(round(ln(CAST(st.x AS DOUBLE) * CAST(atot.n AS DOUBLE)
      |       / (CAST(atot.x AS DOUBLE) * CAST(st.n AS DOUBLE))) * 1e12)
      |      AS BIGINT)) AS DOUBLE)
      |    / CAST(MAX(atot.x) AS DOUBLE)) AS BIGINT) AS theil_pico
      |  FROM st CROSS JOIN atot),
      | wth AS (SELECT '__within' AS scope, MAX(atot.n) AS n_rows,
      |   MAX(atot.x) AS mass,
      |   CAST(round(CAST(SUM(per.mass * CAST(per.theil_pico AS HUGEINT))
      |      AS DOUBLE)
      |    / CAST(MAX(atot.x) AS DOUBLE)) AS BIGINT) AS theil_pico
      |  FROM per CROSS JOIN atot)
      | SELECT scope, n_rows, CAST(mass AS BIGINT) AS mass, theil_pico
      | FROM (SELECT * FROM per UNION ALL SELECT * FROM arow
      |   UNION ALL SELECT * FROM btw UNION ALL SELECT * FROM wth)
      | ORDER BY scope""".stripMargin.replace("\n", " ")

  /** Benford first-digit screen over lineitem extended prices
    * ([[graft.ops.Drift.benfordDigits]], Newcomb 1881 / Benford '38):
    * the fabricated-data detector. First digit reads from the FLOORED
    * integer's decimal string — no raw double→int cast (Spark truncates
    * where DuckDB rounds), no log10-at-a-boundary hazard.
    */
  def qBenford(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Drift.benfordDigits(t(spark, dir, "lineitem"),
      "l_extendedprice")

  lazy val qBenfordSql: String =
    """WITH v AS (SELECT CAST(floor(l_extendedprice) AS BIGINT) AS n
      |  FROM lineitem
      |  WHERE l_extendedprice IS NOT NULL AND l_extendedprice >= 1.0),
      | d AS (SELECT CAST(substr(CAST(n AS VARCHAR), 1, 1) AS BIGINT) AS digit,
      |   CAST(count(*) AS BIGINT) AS n_values FROM v GROUP BY 1),
      | t AS (SELECT CAST(SUM(n_values) AS BIGINT) AS nt FROM d),
      | s AS (SELECT digit, n_values,
      |   CAST(round(CAST(n_values AS DOUBLE) / CAST(nt AS DOUBLE) * 1e12)
      |    AS BIGINT) AS share_pico,
      |   CAST(round(log10(1.0 + 1.0 / CAST(digit AS DOUBLE)) * 1e12)
      |    AS BIGINT) AS benford_pico
      |  FROM d CROSS JOIN t)
      | SELECT digit, n_values, share_pico, benford_pico,
      |  share_pico - benford_pico AS dev_pico
      | FROM s ORDER BY digit""".stripMargin.replace("\n", " ")

  /** Pairwise Jensen–Shannon matrix between sources over binned document
    * lengths ([[graft.ops.Drift.jsMatrix]]): "which sources look alike"
    * for mixture design — the all-pairs companion of q_js_drift's
    * one-vs-rest. Add-one smoothing on the shared corpus-bin support,
    * per-cell picos before the integer Σ.
    */
  def qJsMatrix(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Drift.jsMatrix(t(spark, dir, "documents"),
      "source", "n_chars", binWidth = 100L)

  lazy val qJsMatrixSql: String =
    """WITH vb AS (SELECT source AS s,
      |   (CAST(n_chars AS BIGINT) - (CAST(n_chars AS BIGINT) % 100)) // 100
      |     AS b
      |  FROM documents WHERE source IS NOT NULL AND n_chars IS NOT NULL),
      | csb AS (SELECT s, b, CAST(count(*) AS BIGINT) AS c FROM vb GROUP BY 1, 2),
      | bins AS (SELECT DISTINCT b FROM csb),
      | nbt AS (SELECT CAST(count(*) AS BIGINT) AS nb FROM bins),
      | ns AS (SELECT s, CAST(SUM(c) AS BIGINT) AS n FROM csb GROUP BY 1),
      | cells AS (SELECT pa.s AS src_a, pb.s AS src_b, pa.n AS n_a, pb.n AS n_b,
      |   bins.b, COALESCE(ca.c, 0) AS ca, COALESCE(cb.c, 0) AS cb, nbt.nb
      |  FROM ns pa JOIN ns pb ON pa.s < pb.s
      |  CROSS JOIN bins CROSS JOIN nbt
      |  LEFT JOIN csb ca ON ca.s = pa.s AND ca.b = bins.b
      |  LEFT JOIN csb cb ON cb.s = pb.s AND cb.b = bins.b),
      | terms AS (SELECT src_a, src_b, n_a, n_b, nb,
      |   CAST(round((0.5 * (((ca + 1) / CAST(n_a + nb AS DOUBLE)) *
      |      (ln(2.0 * ((ca + 1) / CAST(n_a + nb AS DOUBLE)))
      |       - ln(((ca + 1) / CAST(n_a + nb AS DOUBLE))
      |         + ((cb + 1) / CAST(n_b + nb AS DOUBLE)))))
      |    + 0.5 * (((cb + 1) / CAST(n_b + nb AS DOUBLE)) *
      |      (ln(2.0 * ((cb + 1) / CAST(n_b + nb AS DOUBLE)))
      |       - ln(((ca + 1) / CAST(n_a + nb AS DOUBLE))
      |         + ((cb + 1) / CAST(n_b + nb AS DOUBLE))))))
      |    * 1000000000000.0) AS BIGINT) AS term
      |  FROM cells)
      | SELECT src_a, src_b, n_a, n_b, nb AS n_bins,
      |  CAST(SUM(term) AS BIGINT) AS jsd_pico
      | FROM terms GROUP BY 1, 2, 3, 4, 5
      | ORDER BY src_a, src_b""".stripMargin.replace("\n", " ")

  /** Pairwise source vocabulary similarity from bottom-k sketches
    * ([[graft.ops.Sketches.bottomKSimilarity]], Broder '97 bottom-k
    * Jaccard estimator, k = 64): each source is 64 md5 images, the pair
    * stage never touches the corpus. md5 is engine-replayable, so the
    * ESTIMATE itself hash-oracles exactly (the q_kmv_distinct posture,
    * pairwise).
    */
  def qBottomkSim(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Sketches.bottomKSimilarity(
      t(spark, dir, "documents")
        .select(col("source"),
          explode(graft.functions.TextFns.tokens(col("text"))).as("tok")),
      "source", col("tok"), k = 64)

  lazy val qBottomkSimSql: String =
    s"""WITH toks AS (SELECT source AS s, unnest($tokensSql) AS t
      |  FROM documents WHERE source IS NOT NULL),
      | h AS (SELECT DISTINCT s, md5('graft' || t) AS h FROM toks
      |  WHERE t IS NOT NULL),
      | sk AS (SELECT s, h FROM (SELECT s, h,
      |    row_number() OVER (PARTITION BY s ORDER BY h) AS rn FROM h)
      |  WHERE rn <= 64),
      | st AS (SELECT DISTINCT s FROM sk),
      | pairs AS (SELECT a.s AS sa, b.s AS sb FROM st a JOIN st b ON a.s < b.s),
      | uni AS (SELECT sa, sb, h, MAX(ina) AS ina, MAX(inb) AS inb FROM (
      |   SELECT p.sa, p.sb, k.h, 1 AS ina, 0 AS inb FROM pairs p
      |    JOIN sk k ON k.s = p.sa
      |   UNION ALL
      |   SELECT p.sa, p.sb, k.h, 0, 1 FROM pairs p JOIN sk k ON k.s = p.sb)
      |  GROUP BY 1, 2, 3),
      | vote AS (SELECT sa, sb, h, ina, inb,
      |   row_number() OVER (PARTITION BY sa, sb ORDER BY h) AS rn FROM uni)
      | SELECT sa AS src_a, sb AS src_b, CAST(count(*) AS BIGINT) AS k_used,
      |  CAST(SUM(ina * inb) AS BIGINT) AS shared,
      |  CAST(round(CAST(SUM(ina * inb) AS DOUBLE)
      |    / CAST(count(*) AS DOUBLE) * 1000000.0) AS BIGINT)
      |   AS est_jaccard_micro
      | FROM vote WHERE rn <= 64 GROUP BY sa, sb
      | ORDER BY src_a, src_b""".stripMargin.replace("\n", " ")
}
