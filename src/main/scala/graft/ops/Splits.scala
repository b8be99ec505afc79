package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Deterministic dataset splitting and training-order assignment.
  *
  * Training pipelines need two id-pure functions (same reproducibility
  * contract as [[Sampling]] — a re-run, a different partitioning, or a
  * different engine must produce byte-identical assignments):
  *
  *  - '''train/val/test split''': every document lands in exactly one split,
  *    decided only by its id, so later corpus additions never move an
  *    existing document across the contamination boundary between train and
  *    eval.
  *  - '''shuffle-shards''': a deterministic pseudo-random global training
  *    order, expressed as (shard, position-within-shard). Hashing IS the
  *    shuffle: ordering by a cryptographic fingerprint of the id is a
  *    reproducible permutation, and sharding first keeps the ordering
  *    window partitioned (no global single-task sort — the anti-pattern
  *    removed from the ingest path in round 2).
  *
  * Both laws are plain hex-string operations on `md5(id)` so a SQL oracle
  * can replay them exactly; no engine RNG is involved anywhere.
  */
object Splits {

  /** Document fingerprint: md5 of the id rendered as a string. */
  def fingerprint(id: Column): Column = md5(id.cast("string"))

  /** The split nibble: LAST hex digit of the fingerprint — independent of
    * [[Sampling.hashKey]]'s FIRST-4-digit survival key, so sampling and
    * splitting compose without correlation.
    */
  def splitNibble(id: Column): Column = substring(fingerprint(id), 32, 1)

  /** Adds a `split` column: 13/16 train, 2/16 val, 1/16 test, by
    * lexicographic nibble compare (hex digits sort numerically, so the
    * boundaries are exact and engine-independent).
    */
  def withSplit(df: DataFrame, idCol: String): DataFrame = {
    val nib = splitNibble(col(idCol))
    df.withColumn("split",
      when(nib <= "c", lit("train"))
        .when(nib <= "e", lit("val"))
        .otherwise(lit("test")))
  }

  /** [[withSplit]] keyed on a GROUP rather than the row id — the
    * leakage-safe split law: every row of a group (near-duplicate
    * cluster, source domain, conversation thread) lands in the SAME
    * split, because splitting correlated rows across train/test leaks the
    * test set into training (the group-wise split every honest eval
    * protocol demands; hashing the group key is how it stays a pure
    * function of the row). Same 13/2/1 nibble boundaries, same
    * independence from the sampling key.
    *
    * Scale shape: a narrow per-row hash — no shuffle, no join, no state;
    * group cardinality is irrelevant (nothing aggregates).
    */
  def withGroupSplit(df: DataFrame, groupCol: String): DataFrame = {
    val nib = splitNibble(col(groupCol))
    df.withColumn("split",
      when(nib <= "c", lit("train"))
        .when(nib <= "e", lit("val"))
        .otherwise(lit("test")))
  }

  /** Adds `shard` (0 until nShards) and `pos` (1-based position within the
    * shard's deterministic order). Shard is a pure key-hash; position orders
    * by (fingerprint, key) inside a hash-partitioned window — fingerprint
    * first for the pseudo-random permutation, the key as total-order
    * tiebreak (md5 collisions are unreachable, but the contract should not
    * rest on that).
    *
    * DETERMINISM CONTRACT: (idCol ++ keyCols) must uniquely identify a row.
    * If `idCol` alone is not unique — e.g. after
    * [[Mixture.upsampleEpochs]], where each document repeats per epoch —
    * pass the disambiguating columns (`keyCols = Seq("epoch")`): they join
    * the fingerprint AND the tiebreak, so the order stays a pure function
    * of the row (and epoch copies of one document scatter across the order
    * instead of sitting adjacent — exactly what epoch repetition wants).
    * With duplicate keys, `row_number` would break ties by physical row
    * order and re-runs could swap positions.
    *
    * Scale shape: one hash-partition shuffle on `shard` + a per-shard sort;
    * no global ordering task. At scale, pick nShards ≈ cluster parallelism
    * so each sort fits an executor (or range-split within shard by
    * fingerprint prefix if a single shard outgrows one).
    */
  def shuffleShards(df: DataFrame, idCol: String, nShards: Int = 8,
      keyCols: Seq[String] = Nil): DataFrame = {
    require(nShards > 0, "nShards must be positive")
    // unit-separator join so ("a", "1") and ("a1") can't collide; with no
    // keyCols this reduces to md5(id) exactly — the same law the SQL
    // oracle replays
    val key = (col(idCol) +: keyCols.map(col)).map(_.cast("string"))
    val fp = md5(concat_ws("\u001f", key: _*))
    val withShard = df
      .withColumn("_fp", fp)
      // ascii of the last nibble mod nShards: deterministic, SQL-replayable.
      // Slightly uneven for nShards that don't divide the 16 nibble codes —
      // fine for training shards (they only need rough balance).
      .withColumn("shard", ascii(substring(col("_fp"), 32, 1)) % nShards)
    val w = Window.partitionBy("shard")
      .orderBy(col("_fp") +: (col(idCol) +: keyCols.map(col)): _*)
    withShard
      .withColumn("pos", row_number().over(w).cast("long"))
      .drop("_fp")
  }

  /** Cross-split exact-duplicate leakage audit — the eval-integrity
    * check every honest benchmark protocol runs BEFORE trusting a score:
    * a row-level split (hashing the row id) sends two copies of the same
    * content to train and eval independently, so the model is graded on
    * text it memorized. This report counts exactly that: per content
    * fingerprint ([[graft.functions.TextFns.fingerprintMd5]] — the
    * q_dedup_exact law), how many fingerprints span BOTH the train side
    * and the eval side (anything ≠ 'train'), and how many eval rows are
    * thereby contaminated.
    *
    * Exact law: pure integer counts over one fingerprint hash aggregate;
    * NULL texts fingerprint as a NULL group (NULL content can't leak
    * itself — it groups alone and counts like any family).
    *
    * Scale shape: one hash aggregate keyed on the fingerprint (map-side
    * combine) + one 1-row report. No join, no window.
    *
    * Output: one row (n_train_rows, n_eval_rows, n_fingerprints,
    * n_leaked_fingerprints, n_leaked_eval_rows).
    */
  def leakageReport(df: DataFrame, textCol: String,
      splitCol: String): DataFrame = {
    val perFp = df
      .select(graft.functions.TextFns.fingerprintMd5(col(textCol)).as("_fp"),
        col(splitCol).as("_s"))
      .groupBy(col("_fp"))
      .agg(sum(when(col("_s") === "train", 1L).otherwise(0L)).as("_ntr"),
        sum(when(col("_s") =!= "train", 1L).otherwise(0L)).as("_nev"))
    perFp.agg(
      coalesce(sum(col("_ntr")), lit(0L)).as("n_train_rows"),
      coalesce(sum(col("_nev")), lit(0L)).as("n_eval_rows"),
      count(lit(1)).as("n_fingerprints"),
      coalesce(sum(when(col("_ntr") > 0L && col("_nev") > 0L, 1L)
        .otherwise(0L)), lit(0L)).as("n_leaked_fingerprints"),
      coalesce(sum(when(col("_ntr") > 0L && col("_nev") > 0L, col("_nev"))
        .otherwise(0L)), lit(0L)).as("n_leaked_eval_rows"))
  }
}
