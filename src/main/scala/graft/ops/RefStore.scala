package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

import graft.functions.TextFns

/** Persisted, MERGEABLE reference-corpus artifacts for the incremental
  * dedup guards — the missing piece that lets [[Dedup.exactAgainstBloom]]
  * and [[Dedup.minhashAgainst]] stop re-scanning the whole reference
  * corpus on every ingest batch. At scale the reference side IS the
  * corpus: its fingerprints, Bloom filter, and MinHash signatures must be
  * computed once when a batch commits and LOADED (not recomputed) by every
  * later batch's guard.
  *
  * Store layout under `dir` (all IO through the Hadoop FileSystem API, so
  * local/HDFS/s3a all work — the [[TrainExport]] posture):
  *
  *   - `fingerprints/`  parquet, one column `_rh` — the SOURCE OF TRUTH:
  *     distinct content fingerprints ([[TextFns.fingerprintMd5]] law).
  *     Batch commits APPEND (cross-batch duplicates are harmless — every
  *     consumer re-distincts, and a semi-/anti-join is multiplicity-blind).
  *   - `bloom.bin`      the serialized Bloom filter over the fingerprints —
  *     a CACHE, never the truth. The exactness law of the bloom path needs
  *     `bloom ⊇ fingerprints` (no false negative against the store), so
  *     merges write the bloom BEFORE appending fingerprints, and a missing/
  *     half-written bloom is rebuilt from the fingerprint parquet on load.
  *   - `signatures/`    parquet (_id, _sh, _sig) — per-document distinct
  *     shingle hashes + MinHash signature (the [[Dedup]] signature law),
  *     appended per batch. Document ids must be unique across batches
  *     (the caller's ingest contract — they already are corpus keys).
  *   - `meta.properties` the sketch parameters (bloom expectedItems/fpp,
  *     minhash numHashes/shingleSize). Loads FAIL FAST on a parameter
  *     mismatch: signatures built under a different law are silently
  *     wrong, which is worse than an error.
  *
  * Crash/concurrency contract: ONE writer at a time — ENFORCED, not just
  * documented: every mutation (the write/merge families and compact) runs under a
  * `_LEASE` file created-if-absent in the store dir and deleted on
  * completion, so a second concurrent writer fails fast instead of racing
  * the bloom/meta read-modify-write (the silent-corruption vector two
  * simultaneous ingest streams would otherwise hit). A lease left by a
  * CRASHED writer blocks the store until [[breakLease]] — merges are
  * idempotent on retry, so break-and-retry is always safe once the dead
  * writer is confirmed gone. Readers never take the lease.
  *
  * Every mutation is idempotent, by one of two mechanisms chosen per
  * family: families whose consumers re-distinct (fingerprints, minhash
  * signatures) simply re-append on retry; families whose rows CANNOT be
  * deduplicated after the fact (centroid partial sums, IVF/PQ
  * assigned/encoded corpus rows, postings, DSIR counts) commit each batch
  * under its own `batch=<id>/` subdir, overwritten on retry. The
  * bloom-before-fingerprints order means a crash between the two leaves
  * `bloom ⊇ fingerprints` intact (extra bits cost a little verify
  * traffic, never a wrong answer).
  *
  * GROWTH: every append family accumulates one parquet file set per
  * batch, and the bloom is sized once at [[writeExact]] — past
  * `expectedItems` its fpp degrades (more rows reach the exact verify
  * join; correct but increasingly expensive). [[compact]] is the
  * maintenance operation that re-establishes both: it rewrites each
  * family into a small bucketed file set (re-distincting / re-summing
  * where the family's law allows) and re-sizes + rebuilds the bloom from
  * the TRUE fingerprint count when the corpus outgrew the original
  * sizing. Run it on whatever cadence the store's file count warrants —
  * it holds the same write lease as a merge, so never concurrently with
  * one, and NEVER while a crashed batch commit might still be retried
  * (a post-compact retry of a pre-compact batch would re-add rows the
  * compacted artifact already folded in).
  */
object RefStore {

  /** Read a small protocol file (the lease token) fully as trimmed UTF-8. */
  private def readSmallText(f: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): String = {
    val in = f.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
    finally in.close()
  }

  private val FINGERPRINTS = "fingerprints"
  private val SIGNATURES = "signatures"
  private val BLOOM = "bloom.bin"
  private val META = "meta.properties"
  private val LEASE = "_LEASE"
  private val COMPACT_DONE = "_COMPACT_DONE"

  // ---- single-writer lease ----

  /** Run `body` holding the store's write lease: create `_LEASE`
    * fail-if-exists, release on completion (success OR failure — every
    * mutation is idempotent on retry, so a failed writer must not keep
    * the store locked). A held lease means a LIVE writer is mid-mutation,
    * so the second writer throws instead of interleaving. Entry also
    * completes any half-finished [[compact]] swap (see
    * [[recoverCompact]]) so mutations never touch a mid-swap artifact.
    *
    * Atomicity of the create-if-absent is per-filesystem: HDFS-like
    * stores give it natively; for `file:` URIs Hadoop's
    * RawLocalFileSystem implements overwrite=false as a NON-atomic
    * exists-then-create, so the local scheme routes through NIO's
    * `Files.createFile` (O_CREAT|O_EXCL) instead. Eventually-consistent
    * object stores without atomic create get best-effort exclusion —
    * pair them with an external scheduler that serializes writers.
    */
  private def withLease[T](spark: SparkSession, dir: String)(body: => T): T = {
    val f = fs(spark, dir)
    val base = new org.apache.hadoop.fs.Path(dir)
    f.mkdirs(base)
    val p = new org.apache.hadoop.fs.Path(base, LEASE)
    val token = java.lang.management.ManagementFactory.getRuntimeMXBean.getName +
      "/thread-" + Thread.currentThread().getId
    def leaseHeldError(): Nothing = {
      val holder = try readSmallText(f, p)
        catch { case _: java.io.IOException => "<unreadable>" }
      throw new IllegalStateException(
        s"store $dir is write-leased by '$holder' — RefStore mutations " +
          "are single-writer (a concurrent merge would race the bloom/meta " +
          "read-modify-write and lose updates silently); if that writer " +
          "crashed, clear it with RefStore.breakLease and retry — merges " +
          "are idempotent")
    }
    // one acquisition attempt: true = lease taken, false = held by another
    // writer; a failure AFTER the file exists must not leave an empty
    // lease wedging the store behind a transient I/O error
    def tryAcquire(): Boolean =
      if ("file" == f.getUri.getScheme) {
        val local = java.nio.file.Paths.get(base.toUri.getPath).resolve(LEASE)
        try {
          java.nio.file.Files.write(local, token.getBytes("UTF-8"),
            java.nio.file.StandardOpenOption.CREATE_NEW,
            java.nio.file.StandardOpenOption.WRITE)
          true
        } catch {
          case _: java.nio.file.FileAlreadyExistsException => false
          case e: Throwable =>
            try f.delete(p, false) catch { case _: java.io.IOException => () }
            throw e
        }
      } else {
        val created = try Option(f.create(p, false)) catch {
          case _: java.io.IOException if f.exists(p) => None
        }
        created match {
          case None => false
          case Some(out) =>
            try { try out.write(token.getBytes("UTF-8")) finally out.close(); true }
            catch {
              case e: Throwable =>
                try f.delete(p, false) catch { case _: java.io.IOException => () }
                throw e
            }
        }
      }
    if (!tryAcquire()) leaseHeldError()
    var bodyOk = false
    try {
      allArtifacts.foreach { a =>
        recoverCompact(spark, dir, a)
        gcStaleCompactTmp(spark, dir, a)
      }
      val r = body
      bodyOk = true
      r
    } finally {
      // release ONLY a lease still holding OUR token: a stalled-not-dead
      // writer whose lease was broken and re-acquired must not delete the
      // new holder's lease (that would re-open the interleaving race for
      // a THIRD writer). Distinguish the three non-ours states: absent
      // (broken, nobody re-acquired — our completed writes are intact,
      // warn only), foreign token (re-acquired mid-mutation — interleaved
      // writes may have corrupted sketch state, fail loudly), unreadable
      // after retries (can't verify ownership — fail with the ambiguity
      // spelled out rather than deleting what might be someone else's,
      // and NOT with a false corruption claim).
      sealed trait LeaseState
      case object Mine extends LeaseState
      case object Absent extends LeaseState
      case class Foreign(holder: String) extends LeaseState
      case object Unreadable extends LeaseState
      def readState(attempt: Int): LeaseState =
        try {
          if (!f.exists(p)) Absent
          else readSmallText(f, p) match {
            case t if t == token => Mine
            case other => Foreign(other)
          }
        } catch {
          case _: java.io.IOException if attempt < 3 =>
            Thread.sleep(50L << attempt); readState(attempt + 1)
          case _: java.io.IOException => Unreadable
        }
      readState(0) match {
        case Mine => f.delete(p, false); ()
        case Absent =>
          if (bodyOk) System.err.println(
            s"[refstore] WARNING: lease on $dir was broken while this " +
              "writer ran; its mutation completed intact, but serialize " +
              "breakLease with writer liveness checks")
        case Foreign(holder) =>
          if (bodyOk) throw new IllegalStateException(
            s"store $dir: this writer's lease was broken and re-acquired " +
              s"by '$holder' mid-mutation — the interleaved writes may have " +
              "corrupted sketch state; run RefStore.fsck and rebuild any " +
              "failing family")
        case Unreadable =>
          if (bodyOk) throw new java.io.IOException(
            s"store $dir: could not verify lease ownership at release " +
              "after retries — if the lease still holds this writer's " +
              "token, clear it with RefStore.breakLease (the mutation " +
              "itself completed)")
      }
      // when body already failed, the original exception propagates for
      // every non-Mine state
    }
  }

  /** Remove a lease left behind by a CRASHED writer. Only ever call this
    * after confirming the holder named in the thrown message is gone —
    * breaking a live writer's lease reopens the interleaving race the
    * lease exists to close.
    */
  def breakLease(spark: SparkSession, dir: String): Unit = {
    fs(spark, dir).delete(new org.apache.hadoop.fs.Path(dir, LEASE), false); ()
  }

  // ---- exact-dedup artifact (fingerprints + bloom) ----

  /** Create the exact-dedup artifact from the initial reference corpus:
    * one pass for the bloom (mergeable treeAggregate, zero shuffle), one
    * distinct for the fingerprint parquet. `expectedItems` should be sized
    * for the CORPUS the store will grow to, not the first batch — merged
    * batches reuse these bits, and an undersized filter degrades fpp (more
    * verify traffic), never correctness.
    */
  def writeExact(reference: DataFrame, textCol: String, dir: String,
      expectedItems: Long = 1000000L, fpp: Double = 0.01): Unit = {
    val spark = reference.sparkSession
    withLease(spark, dir) {
      val refFp = fingerprintsOf(reference, textCol)
      val bloom = bloomOf(refFp, expectedItems, fpp)
      writeMeta(spark, dir, Map(
        "version" -> "1",
        "expectedItems" -> expectedItems.toString,
        "fpp" -> fpp.toString))
      writeBloom(spark, dir, bloom)
      refFp.distinct().write.mode("overwrite").parquet(path(dir, FINGERPRINTS))
    }
  }

  /** Commit one ingest batch into the artifact: OR the batch's bloom into
    * the stored one (same parameters from meta → bit-compatible), then
    * append the batch's distinct fingerprints. Bloom first — see the
    * crash contract above.
    */
  def mergeExact(batch: DataFrame, textCol: String, dir: String): Unit = {
    val spark = batch.sparkSession
    withLease(spark, dir) {
      val meta = readMeta(spark, dir)
      val batchFp = fingerprintsOf(batch, textCol)
      val add = bloomOf(batchFp, meta("expectedItems").toLong, meta("fpp").toDouble)
      // loadOrRebuild, not loadBloom: the retry of a merge that crashed in
      // the bloom delete→rename window (or any missing-bloom state) must
      // rebuild from the fingerprint truth like loadExact does — otherwise
      // the documented crashed-commit retry fails forever on fs.open
      writeBloom(spark, dir, loadOrRebuildBloom(spark, dir, meta).mergeInPlace(add))
      batchFp.distinct().write.mode("append").parquet(path(dir, FINGERPRINTS))
    }
  }

  /** Load the exact-dedup artifact: (bloom, distinct-fingerprint frame).
    * A missing bloom (crash window, or a store created by hand from bare
    * fingerprints) is REBUILT from the fingerprint parquet — cheap (hashes
    * only, no text scan) — and written back for the next loader.
    */
  def loadExact(spark: SparkSession, dir: String): (BloomFilter, DataFrame) = {
    val bloom = loadOrRebuildBloom(spark, dir, readMeta(spark, dir))
    (bloom, artifactDf(spark, dir, FINGERPRINTS).select(col("_rh")).distinct())
  }

  private def loadOrRebuildBloom(spark: SparkSession, dir: String,
      meta: Map[String, String]): BloomFilter =
    if (exists(spark, dir, BLOOM)) loadBloom(spark, dir)
    else {
      val rebuilt = bloomOf(
        artifactDf(spark, dir, FINGERPRINTS).select(col("_rh")).distinct(),
        meta("expectedItems").toLong, meta("fpp").toDouble)
      writeBloom(spark, dir, rebuilt)
      rebuilt
    }

  /** `stat.bloomFilter` NPEs on a ZERO-ROW frame (its treeAggregate zero is
    * null); an empty reference/batch is legitimate — the continuous-ingest
    * loop starts from an empty corpus — so build the same-parameter (hence
    * still mergeable) empty filter directly.
    */
  private def bloomOf(fp: DataFrame, expectedItems: Long, fpp: Double): BloomFilter =
    if (fp.isEmpty) BloomFilter.create(expectedItems, fpp)
    else fp.stat.bloomFilter("_rh", expectedItems, fpp)

  // ---- minhash artifact (shingle hashes + signatures) ----

  /** Create the near-dup artifact: the reference side of
    * [[Dedup.minhashAgainst]] — per-document distinct shingle hashes and
    * MinHash signatures — computed ONCE and persisted. Banding is a query-
    * time parameter (any `bands` dividing `numHashes` works against the
    * same signatures), so it is deliberately NOT part of the artifact.
    */
  def writeMinhash(reference: DataFrame, idCol: String, textCol: String,
      dir: String, numHashes: Int = 64, shingleSize: Int = 3): Unit = {
    val spark = reference.sparkSession
    withLease(spark, dir) {
      writeMeta(spark, dir, Map(
        "version" -> "1",
        "numHashes" -> numHashes.toString,
        "shingleSize" -> shingleSize.toString))
      Dedup.shingleHashFrame(reference, idCol, textCol, shingleSize, numHashes)
        .write.mode("overwrite").parquet(path(dir, SIGNATURES))
    }
  }

  /** Append one batch's signatures (same law parameters, from meta). */
  def mergeMinhash(batch: DataFrame, idCol: String, textCol: String,
      dir: String): Unit = {
    val spark = batch.sparkSession
    withLease(spark, dir) {
      val meta = readMeta(spark, dir)
      Dedup.shingleHashFrame(batch, idCol, textCol,
          meta("shingleSize").toInt, meta("numHashes").toInt)
        .write.mode("append").parquet(path(dir, SIGNATURES))
    }
  }

  /** Load the signature frame + the law parameters it was built under.
    * `requireNumHashes`/`requireShingleSize` (when given) fail fast on a
    * store built under a different signature law.
    */
  def loadMinhash(spark: SparkSession, dir: String,
      requireNumHashes: Option[Int] = None,
      requireShingleSize: Option[Int] = None): (DataFrame, Int, Int) = {
    val meta = readMeta(spark, dir)
    val nh = meta("numHashes").toInt
    val ss = meta("shingleSize").toInt
    requireNumHashes.foreach(n => require(n == nh,
      s"minhash store $dir was built with numHashes=$nh, caller expects $n"))
    requireShingleSize.foreach(n => require(n == ss,
      s"minhash store $dir was built with shingleSize=$ss, caller expects $n"))
    (artifactDf(spark, dir, SIGNATURES), nh, ss)
  }

  // ---- simhash artifact (8-byte/doc near-dup signatures) ----

  private val SIMHASH = "simhash_signatures"

  /** Persist the [[Dedup.simhashFrame]] signatures of the starting corpus:
    * one (_id, _sh) row per document, 8 signature bytes each. The
    * signature law (tokenizer + per-token-hash bit votes) is FIXED per
    * store: the token-hash PROFILE ([[Dedup.Md5Profile]] oracle /
    * [[Dedup.XxProfile]] production — r11 verdict task 7) commits to meta
    * at write time, and every later merge and against-query hashes with
    * THE STORE'S profile (signatures under different hashes never
    * compare). The only query-time knob is the verify threshold
    * `maxHamming`. Same idempotency mechanism as minhash: replay
    * re-appends byte-identical rows and every consumer re-distincts.
    */
  def writeSimhash(reference: DataFrame, idCol: String, textCol: String,
      dir: String, profile: String = Dedup.Md5Profile): Unit = {
    val spark = reference.sparkSession
    withLease(spark, dir) {
      writeMeta(spark, dir, Map("version" -> "1", "simhashBits" -> "64",
        "simhashProfile" -> profile))
      Dedup.simhashFrame(reference, idCol, textCol, profile)
        .write.mode("overwrite").parquet(path(dir, SIMHASH))
    }
  }

  /** The token-hash profile this store's signatures committed under
    * (md5 for pre-profile stores — the only law that existed then).
    */
  def simhashProfile(spark: SparkSession, dir: String): String = {
    val meta = readMeta(spark, dir)
    require(meta.contains("simhashBits"),
      s"store $dir holds no simhash artifact")
    meta.getOrElse("simhashProfile", Dedup.Md5Profile)
  }

  /** Append one batch's signatures (fails fast on a dir that never saw
    * [[writeSimhash]] — the commit-into-a-foreign-store guard).
    */
  def mergeSimhash(batch: DataFrame, idCol: String, textCol: String,
      dir: String): Unit = {
    val spark = batch.sparkSession
    withLease(spark, dir) {
      require(readMeta(spark, dir).contains("simhashBits"),
        s"store $dir holds no simhash artifact — writeSimhash first")
      Dedup.simhashFrame(batch, idCol, textCol, simhashProfile(spark, dir))
        .write.mode("append").parquet(path(dir, SIMHASH))
    }
  }

  /** The distinct signature frame — [[Dedup.simhashAgainstStored]]'s
    * reference side.
    */
  def loadSimhash(spark: SparkSession, dir: String): DataFrame = {
    require(readMeta(spark, dir).contains("simhashBits"),
      s"store $dir holds no simhash artifact")
    artifactDf(spark, dir, SIMHASH).select(col("_id"), col("_sh")).distinct()
  }

  // ---- generic 64-bit signature artifact (law-tagged) ----

  private val HASHSIG = "hash_signatures"

  /** Persist an arbitrary 64-bit signature frame (_id, _sh) under an
    * explicit LAW TAG — the family image dHash persists through
    * ([[graft.multimodal.Multimodal.commitImageDhash]], law
    * `"dhash-9x8-v1"`) and any future Hamming-space fingerprint can share.
    * Unlike [[writeSimhash]] the signature law lives with the CALLER, so
    * `sigLaw` in meta is the cross-batch compatibility contract: merging
    * or loading under a different law fails fast (the param-mismatch
    * posture). Same idempotency as simhash — replays re-append
    * byte-identical rows, consumers re-distinct.
    */
  def writeHashSig(sig: DataFrame, dir: String, law: String): Unit = {
    val spark = sig.sparkSession
    withLease(spark, dir) {
      writeMeta(spark, dir, Map("version" -> "1", "sigLaw" -> law))
      sig.select(col("_id").cast("long"), col("_sh").cast("long"))
        .write.mode("overwrite").parquet(path(dir, HASHSIG))
    }
  }

  /** Append one batch's signatures under the SAME law tag. */
  def mergeHashSig(sig: DataFrame, dir: String, law: String): Unit = {
    val spark = sig.sparkSession
    withLease(spark, dir) {
      require(readMeta(spark, dir).get("sigLaw").contains(law),
        s"store $dir holds no '$law' signature artifact — writeHashSig first")
      sig.select(col("_id").cast("long"), col("_sh").cast("long"))
        .write.mode("append").parquet(path(dir, HASHSIG))
    }
  }

  /** The distinct signature frame, law-checked. */
  def loadHashSig(spark: SparkSession, dir: String, law: String): DataFrame = {
    require(readMeta(spark, dir).get("sigLaw").contains(law),
      s"store $dir holds no '$law' signature artifact")
    artifactDf(spark, dir, HASHSIG).select(col("_id"), col("_sh")).distinct()
  }

  // ---- CDC chunk-hash artifact (sub-document dedup fingerprints) ----

  private val CDC_CHUNKS = "cdc_chunks"

  /** Persist the reference corpus's qualifying CDC chunk hashes — the
    * sub-document fingerprint tier [[Dedup.cdcChunkOverlap]]'s scaladoc
    * promises at scale: the reference side's chunking runs ONCE per
    * commit, and every later batch's overlap check joins the loaded hash
    * set instead of re-chunking the whole reference corpus. Meta records
    * `cdcMinTokens` (the chunk-qualification law — a store built at
    * minTokens=5 silently served to a minTokens=3 query would miss real
    * overlaps, so loads fail fast on mismatch). Same idempotency
    * mechanism as the fingerprint family: batches append, replays
    * re-append byte-identical rows, every consumer re-distincts.
    */
  def writeCdcChunks(reference: DataFrame, idCol: String, textCol: String,
      dir: String, minTokens: Int = 5): Unit = {
    val spark = reference.sparkSession
    withLease(spark, dir) {
      writeMeta(spark, dir, Map(
        "version" -> "1", "cdcMinTokens" -> minTokens.toString))
      cdcHashFrame(reference, idCol, textCol, minTokens)
        .write.mode("overwrite").parquet(path(dir, CDC_CHUNKS))
    }
  }

  /** Append one batch's qualifying chunk hashes (law parameters from
    * meta; fails fast on a dir that never saw [[writeCdcChunks]]).
    */
  def mergeCdcChunks(batch: DataFrame, idCol: String, textCol: String,
      dir: String): Unit = {
    val spark = batch.sparkSession
    withLease(spark, dir) {
      val minTokens = readMeta(spark, dir).getOrElse("cdcMinTokens",
        sys.error(s"store $dir holds no CDC chunk artifact — writeCdcChunks first")).toInt
      cdcHashFrame(batch, idCol, textCol, minTokens)
        .write.mode("append").parquet(path(dir, CDC_CHUNKS))
    }
  }

  /** (distinct chunk-hash frame, minTokens law) — the reference side of
    * [[Dedup.cdcOverlapStored]]. `requireMinTokens` fails fast on a
    * store built under a different qualification law.
    */
  def loadCdcChunks(spark: SparkSession, dir: String,
      requireMinTokens: Option[Int] = None): (DataFrame, Int) = {
    val minTokens = readMeta(spark, dir).getOrElse("cdcMinTokens",
      sys.error(s"store $dir holds no CDC chunk artifact")).toInt
    requireMinTokens.foreach(m => require(m == minTokens,
      s"CDC store $dir was built with minTokens=$minTokens, caller expects $m"))
    (artifactDf(spark, dir, CDC_CHUNKS)
       .select(col("chunk_hash")).distinct(), minTokens)
  }

  private def cdcHashFrame(df: DataFrame, idCol: String, textCol: String,
      minTokens: Int): DataFrame =
    Chunking.cdcChunks(df, idCol, textCol)
      .filter(col("n_toks") >= minTokens)
      .select(col("chunk_hash")).distinct()

  // ---- bigram-LM model artifact (CCNet-style quality scoring) ----

  private val LM_BIGRAMS = "lm_bigrams"
  private val LM_VOCAB = "lm_vocab"

  /** Persist a bigram-LM training corpus's model counts — the incremental
    * form [[LangModel.bigramNllScore]]'s scaladoc promises at scale: the
    * trusted slice trains ONCE per commit; each ingest batch scores only
    * ITSELF against the loaded count frames. Two artifacts:
    *
    *   - `lm_bigrams`: (w1, w2, c) partial counts. A COUNT family, so the
    *     commit unit is a `batch=<id>/` subdir (the centroid/DSIR
    *     discipline — identical partial-count rows from different batches
    *     are legitimate, so consumers re-SUM and a crashed-commit retry
    *     must overwrite its own batch dir, never append);
    *   - `lm_vocab`: distinct training tokens (the V law — the +1 unknown
    *     slot is added at load). Re-distinctable, so it is a plain append
    *     family like the CDC chunk hashes.
    *
    * Meta pins `lmLaw` so a store written under a different token/
    * smoothing law fails fast at load instead of silently mis-scoring.
    */
  def writeLmModel(train: DataFrame, textCol: String, dir: String): Unit = {
    val spark = train.sparkSession
    withLease(spark, dir) {
      writeMeta(spark, dir, Map("version" -> "1", "lmLaw" -> LM_LAW))
      lmCommitLocked(train, textCol, dir, "init")
    }
  }

  /** Commit one training batch's counts under `batch=<batchId>/` (ids
    * unique per batch, stable across retries — the count-family retry
    * contract) and append its vocabulary.
    */
  def mergeLmModel(batch: DataFrame, textCol: String, dir: String,
      batchId: String): Unit = {
    val spark = batch.sparkSession
    withLease(spark, dir) {
      require(readMeta(spark, dir).get("lmLaw").contains(LM_LAW),
        s"store $dir holds no bigram-LM artifact — writeLmModel first")
      lmCommitLocked(batch, textCol, dir, batchId)
    }
  }

  /** (bigram counts (_w1,_w2,_c2), prefix counts (_w1,_c1), V) — the model
    * [[LangModel.bigramNllScoreStored]] scores against. The count frames
    * re-aggregate the whole batch tree (integer sums are batching-
    * independent, the centroid law); V counts the distinct vocabulary plus
    * the unknown slot — one bounded action at load.
    */
  def loadLmModel(spark: SparkSession, dir: String): (DataFrame, DataFrame, Long) = {
    require(readMeta(spark, dir).get("lmLaw").contains(LM_LAW),
      s"store $dir holds no bigram-LM artifact (or a different law version)")
    val c2 = artifactDf(spark, dir, LM_BIGRAMS).drop("batch")
      .groupBy(col("_w1"), col("_w2")).agg(sum(col("_c")).as("_c2"))
    val c1 = c2.groupBy(col("_w1")).agg(sum(col("_c2")).as("_c1"))
    val v = artifactDf(spark, dir, LM_VOCAB)
      .select(col("_tk")).distinct().count() + 1L
    (c2, c1, v)
  }

  /** The distinct persisted vocabulary alone (`_tk`) — the reference side
    * of [[graft.ops.Vocab.oovRate]]. Same law gate as [[loadLmModel]]; the
    * append-family re-distinct makes crashed vocab appends invisible.
    */
  def loadLmVocab(spark: SparkSession, dir: String): DataFrame = {
    require(readMeta(spark, dir).get("lmLaw").contains(LM_LAW),
      s"store $dir holds no bigram-LM artifact (or a different law version)")
    artifactDf(spark, dir, LM_VOCAB).select(col("_tk")).distinct()
  }

  private val LM_LAW = "bigram-add1-lower-v1"

  private def lmCommitLocked(batch: DataFrame, textCol: String, dir: String,
      batchId: String): Unit = {
    val spark = batch.sparkSession
    LangModel.bigramCounts(batch, textCol)
      .write.mode("overwrite").parquet(batchPath(dir, LM_BIGRAMS, batchId))
    LangModel.vocabFrame(batch, textCol)
      .write.mode("append").parquet(path(dir, LM_VOCAB))
  }

  // ---- token-count artifact (corpus distribution / drift baseline) ----

  private val TOKEN_COUNTS = "token_counts"
  private val DRIFT_LAW = "tokens-raw-v1"

  /** Persist a corpus's unigram token counts — the DRIFT BASELINE
    * [[Drift.tvDriftStored]] scores ingest batches against: the reference
    * distribution commits once (and grows by merges), so per-batch drift
    * monitoring never re-tokenizes the corpus. A COUNT family
    * (`batch=<id>/` commit units, the lm_bigrams/centroid discipline —
    * partial counts re-SUM; retries overwrite their own batch dir).
    */
  def writeTokenCounts(corpus: DataFrame, textCol: String, dir: String): Unit = {
    val spark = corpus.sparkSession
    withLease(spark, dir) {
      writeMeta(spark, dir, Map("version" -> "1", "driftLaw" -> DRIFT_LAW))
      Drift.tokenCounts(corpus, textCol)
        .write.mode("overwrite").parquet(batchPath(dir, TOKEN_COUNTS, "init"))
    }
  }

  /** Commit one batch's token counts under `batch=<batchId>/` (unique per
    * batch, stable across retries).
    */
  def mergeTokenCounts(batch: DataFrame, textCol: String, dir: String,
      batchId: String): Unit = {
    val spark = batch.sparkSession
    withLease(spark, dir) {
      require(readMeta(spark, dir).get("driftLaw").contains(DRIFT_LAW),
        s"store $dir holds no token-count artifact — writeTokenCounts first")
      Drift.tokenCounts(batch, textCol)
        .write.mode("overwrite").parquet(batchPath(dir, TOKEN_COUNTS, batchId))
    }
  }

  /** The re-summed (_t, c_t) reference distribution — batching-independent
    * integer sums, the centroid law.
    */
  def loadTokenCounts(spark: SparkSession, dir: String): DataFrame = {
    require(readMeta(spark, dir).get("driftLaw").contains(DRIFT_LAW),
      s"store $dir holds no token-count artifact (or a different law version)")
    artifactDf(spark, dir, TOKEN_COUNTS).drop("batch")
      .groupBy(col("_t")).agg(sum(col("_c")).as("c_t"))
  }

  // ---- link-graph edge artifact (incremental crawl graph) ----

  private val GRAPH_EDGES = "graph_edges"
  private val GRAPH_LAW = "edges-long-pairs-v1"

  /** Persist a link graph's directed edge list — the incremental side of
    * [[Graph.pageRankMicro]]: each crawl batch contributes the edges it
    * discovered, and ranking runs over the LOADED union instead of
    * re-deriving the whole graph per run. A plain append family: the rank
    * laws re-distinct edges anyway (parallel edges collapse by contract),
    * so replay re-appends are invisible — the fingerprint-family
    * idempotency mechanism.
    */
  def writeEdges(edges: DataFrame, srcCol: String, dstCol: String,
      dir: String): Unit = {
    val spark = edges.sparkSession
    withLease(spark, dir) {
      writeMeta(spark, dir, Map("version" -> "1", "graphLaw" -> GRAPH_LAW))
      edgeFrame(edges, srcCol, dstCol)
        .write.mode("overwrite").parquet(path(dir, GRAPH_EDGES))
    }
  }

  /** Append one batch's edges (fails fast on a dir that never saw
    * [[writeEdges]]).
    */
  def mergeEdges(edges: DataFrame, srcCol: String, dstCol: String,
      dir: String): Unit = {
    val spark = edges.sparkSession
    withLease(spark, dir) {
      require(readMeta(spark, dir).get("graphLaw").contains(GRAPH_LAW),
        s"store $dir holds no edge artifact — writeEdges first")
      edgeFrame(edges, srcCol, dstCol)
        .write.mode("append").parquet(path(dir, GRAPH_EDGES))
    }
  }

  /** The distinct (src, dst) edge frame — feed it to
    * [[Graph.pageRankMicro]] / [[Graph.symmetrized]]; batching is
    * invisible because every consumer re-distincts.
    */
  def loadEdges(spark: SparkSession, dir: String): DataFrame = {
    require(readMeta(spark, dir).get("graphLaw").contains(GRAPH_LAW),
      s"store $dir holds no edge artifact")
    artifactDf(spark, dir, GRAPH_EDGES)
      .select(col("src"), col("dst")).distinct()
  }

  private def edgeFrame(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame =
    edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .distinct()

  // ---- canonical-map artifact (dedup survivor remapping) ----

  private val CANONICAL_MAP = "canonical_map"
  private val CANON_LAW = "canon-min-closure-v1"

  /** Persist the duplicate→survivor pair set dedup produces — the REMAP
    * artifact an incremental pipeline applies at every later ingest
    * (rewrite references to collapsed documents onto their canonical
    * survivor). Batches append raw (dup_id, canon_id) pairs; the
    * CLOSURE is a LOAD-time law, because cross-batch pairs chain (batch
    * 1 learns B→A, batch 2 learns C→B: C's canonical is A) and no
    * append-time state could keep that transitive without re-reading
    * everything anyway. [[loadCanonicalMap]] closes the union with the
    * [[Clusters.connectedComponents]] min-label law — so the map is
    * exactly "every member points at its component minimum", idempotent
    * under replay (re-appended pairs are re-distincted) and
    * batching-invariant (components of a union don't depend on the
    * split).
    */
  def writeCanonicalMap(pairs: DataFrame, dupCol: String, canonCol: String,
      dir: String): Unit = {
    val spark = pairs.sparkSession
    withLease(spark, dir) {
      writeMeta(spark, dir, Map("version" -> "1", "canonLaw" -> CANON_LAW))
      canonPairFrame(pairs, dupCol, canonCol)
        .write.mode("overwrite").parquet(path(dir, CANONICAL_MAP))
    }
  }

  /** Append one batch's pairs (fails fast on a dir that never saw
    * [[writeCanonicalMap]]).
    */
  def mergeCanonicalMap(pairs: DataFrame, dupCol: String, canonCol: String,
      dir: String): Unit = {
    val spark = pairs.sparkSession
    withLease(spark, dir) {
      require(readMeta(spark, dir).get("canonLaw").contains(CANON_LAW),
        s"store $dir holds no canonical-map artifact — writeCanonicalMap first")
      canonPairFrame(pairs, dupCol, canonCol)
        .write.mode("append").parquet(path(dir, CANONICAL_MAP))
    }
  }

  /** The CLOSED map: (dup_id, canon_id), one row per non-canonical member
    * (canonical ids map to themselves implicitly and are omitted, so a
    * left join + coalesce is the remap idiom). The canonical of a
    * component is its ROOT — the member that never appears on the dup
    * side of any pair. Pairs are always oriented dup → absorber, and
    * absorbers are the documents that actually SURVIVED, so the root is
    * the one id it is safe to remap onto; a bare min-label would instead
    * crown the smallest id even when that id was itself dropped (a
    * later-ingested duplicate with a smaller id than the registered
    * owner) and remapping would point at a document that is in no sink.
    * Components with several roots (parallel owners of one fingerprint —
    * legal, both survived) take the smallest root; a component with NO
    * root (a pair cycle, legal parquet) falls back to its min member. `maxIter` bounds the
    * pointer-jumping closure; it throws rather than returning a partial
    * map (the [[Clusters]] contract — a partial map would silently remap
    * onto a non-survivor).
    *
    * PARALLEL-OWNER caveat (consumer contract): a multi-root component
    * means SEVERAL documents genuinely survived into sinks with the same
    * content (a retry window or out-of-order batch registered two
    * owners). The smallest root wins the map, so every LARGER root
    * appears on the dup side even though its document still physically
    * exists — a mapped id that is still present in a sink is a PENDING
    * PHYSICAL MERGE, not a dangling reference: until a pipeline
    * deletes/merges them, consumers must treat such entries as "two live
    * copies, canonical chosen" rather than "dup was dropped".
    */
  def loadCanonicalMap(spark: SparkSession, dir: String,
      maxIter: Int = 32): DataFrame = {
    val (comps, rootsAll) = closedComponents(spark, dir, maxIter)
    val roots = rootsAll
      .groupBy(col("component")).agg(min(col("id")).as("_root"))
    comps.join(roots, Seq("component"), "left")
      .withColumn("_canon", coalesce(col("_root"), col("component")))
      .filter(col("id") =!= col("_canon"))
      .select(col("id").as("dup_id"), col("_canon").as("canon_id"))
  }

  /** Shared closure of the pair union: (member components, ALL roots) —
    * a root is a member never on the dup side of any pair, i.e. a
    * document that actually survived.
    */
  private def closedComponents(spark: SparkSession, dir: String,
      maxIter: Int): (DataFrame, DataFrame) = {
    require(readMeta(spark, dir).get("canonLaw").contains(CANON_LAW),
      s"store $dir holds no canonical-map artifact")
    val pairs = artifactDf(spark, dir, CANONICAL_MAP)
      .select(col("dup_id"), col("canon_id")).distinct()
    val comps = Clusters.connectedComponents(pairs, "dup_id", "canon_id", maxIter)
    val dupSide = pairs.select(col("dup_id").as("_d")).distinct()
    val rootsAll = comps
      .join(dupSide, comps("id") === dupSide("_d"), "left_anti")
      .select(col("component"), col("id"))
    (comps, rootsAll)
  }

  private def canonPairFrame(pairs: DataFrame, dupCol: String,
      canonCol: String): DataFrame =
    pairs.select(col(dupCol).cast("long").as("dup_id"),
        col(canonCol).cast("long").as("canon_id"))
      .filter(col("dup_id").isNotNull && col("canon_id").isNotNull &&
        col("dup_id") =!= col("canon_id"))
      .distinct()

  // ---- value-count artifact (numeric drift baseline) ----

  private val VALUE_COUNTS = "value_counts"
  private val VALUES_LAW = "long-value-counts-v1"

  /** Persist a corpus metric's value histogram — the numeric twin of the
    * token-count drift baseline: [[Drift.ksAgainstStored]] scores each
    * ingest batch's distribution against the persisted corpus without
    * rescanning it. A COUNT family (`batch=<id>/` commit units — partial
    * counts re-SUM exactly, retries overwrite their own dir).
    */
  def writeValueCounts(corpus: DataFrame, valueCol: String, dir: String): Unit = {
    val spark = corpus.sparkSession
    withLease(spark, dir) {
      writeMeta(spark, dir, Map("version" -> "1", "valuesLaw" -> VALUES_LAW))
      Drift.valueCounts(corpus, valueCol)
        .write.mode("overwrite").parquet(batchPath(dir, VALUE_COUNTS, "init"))
    }
  }

  /** Commit one batch's value counts under `batch=<batchId>/`. */
  def mergeValueCounts(batch: DataFrame, valueCol: String, dir: String,
      batchId: String): Unit = {
    val spark = batch.sparkSession
    withLease(spark, dir) {
      require(readMeta(spark, dir).get("valuesLaw").contains(VALUES_LAW),
        s"store $dir holds no value-count artifact — writeValueCounts first")
      Drift.valueCounts(batch, valueCol)
        .write.mode("overwrite").parquet(batchPath(dir, VALUE_COUNTS, batchId))
    }
  }

  /** The re-summed (_v, _c) corpus histogram — batching-independent
    * integer sums, the centroid law.
    */
  def loadValueCounts(spark: SparkSession, dir: String): DataFrame = {
    require(readMeta(spark, dir).get("valuesLaw").contains(VALUES_LAW),
      s"store $dir holds no value-count artifact (or a different law version)")
    artifactDf(spark, dir, VALUE_COUNTS).drop("batch")
      .groupBy(col("_v")).agg(sum(col("_c")).as("_c"))
  }

  // ---- centroid artifact (semantic-dedup cluster accumulators) ----

  private val CENTROIDS = "centroids"

  /** Persist [[Similarity.clusterCentroidSums]] accumulators. The frame is
    * (cluster_id, dim, sum_micro, n_members) — exact BIGINTs, so batches
    * merge by plain integer addition: each batch lands under its OWN
    * `batch=<id>/` subdir and [[loadCentroidSums]] re-aggregates the whole
    * tree. The per-batch subdir (overwritten, never appended) is what
    * makes a crashed-commit RETRY idempotent: partial sums cannot be
    * deduplicated after the fact (two batches may legitimately produce
    * identical rows), so a bare parquet append would double-count the
    * retried batch and silently skew every centroid.
    */
  def writeCentroids(sums: DataFrame, dir: String): Unit =
    mergeCentroids(sums, dir, "init")

  /** Commit one batch's partial accumulators under `batch=<batchId>/`
    * (same cluster-id space — the caller's assignment contract; batch ids
    * must be unique per batch and stable across retries).
    */
  def mergeCentroids(sums: DataFrame, dir: String, batchId: String): Unit =
    withLease(sums.sparkSession, dir) {
      sums.select(col("cluster_id"), col("dim"), col("sum_micro"), col("n_members"))
        .write.mode("overwrite")
        .parquet(batchPath(dir, CENTROIDS, batchId))
    }

  /** The re-aggregated exact accumulator frame — bit-identical to running
    * [[Similarity.clusterCentroidSums]] over the union of every committed
    * batch (integer sums are order- and batching-independent). Feeds
    * [[Similarity.assignNearestCentroid]] directly: the incremental
    * semantic-dedup path with a PERSISTED codebook.
    */
  def loadCentroidSums(spark: SparkSession, dir: String): DataFrame =
    artifactDf(spark, dir, CENTROIDS)
      .groupBy(col("cluster_id"), col("dim"))
      .agg(sum(col("sum_micro")).as("sum_micro"),
        sum(col("n_members")).as("n_members"))

  /** Batch-scoped subdir inside an artifact directory: overwriting it is
    * the idempotent commit unit for artifacts whose rows cannot be
    * re-distincted by consumers (partial sums, assigned/encoded corpus
    * rows). The `batch=` prefix doubles as a partition column on read;
    * loaders drop it.
    */
  private def batchPath(dir: String, artifact: String, batchId: String): String = {
    require(batchId.nonEmpty && !batchId.exists(c => c == '/' || c == '='),
      s"batch id must be a plain token, got '$batchId'")
    new org.apache.hadoop.fs.Path(path(dir, artifact), s"batch=$batchId").toString
  }

  // ---- IVF index artifact (coarse centroids + assigned corpus) ----

  private val IVF_CENTROIDS = "ivf_centroids"
  private val IVF_ASSIGNED = "ivf_assigned"

  /** Build and persist an IVF index: train coarse centroids once
    * ([[Similarity.trainIvfCentroids]], bounded seeded sample) and run the
    * whole-corpus cell-assignment pass once, instead of per query batch.
    * The centroids are the IMMUTABLE half of the index (the standard IVF
    * contract — new vectors quantize into the existing cells; retrain by
    * rebuilding the store when drift warrants it); the assigned corpus is
    * the growable half.
    */
  def writeIvf(corpus: DataFrame, idCol: String, vecCol: String, dir: String,
      nlist: Int = 16, maxTrainRows: Int = 100000): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    withLease(spark, dir) {
      val centroids = Similarity.trainIvfCentroids(corpus, vecCol, nlist, maxTrainRows)
      writeMeta(spark, dir, Map("version" -> "1", "ivfNlist" -> nlist.toString))
      centroids.toSeq.map { case (cell, c) => (cell, c.toSeq) }
        .toDF("cell", "cvec")
        .write.mode("overwrite").parquet(path(dir, IVF_CENTROIDS))
      Similarity.assignIvfCells(corpus, idCol, vecCol, centroids)
        .write.mode("overwrite").parquet(batchPath(dir, IVF_ASSIGNED, "init"))
    }
  }

  /** Quantize one ingest batch into the EXISTING cells and commit it under
    * `batch=<batchId>/` — overwritten on a crashed-commit retry, never
    * appended, so a retry cannot double the batch's rows (duplicates would
    * silently eat top-k slots in the probe). Ids must be unique across
    * batches (the ingest key contract); batch ids stable across retries.
    */
  def mergeIvf(batch: DataFrame, idCol: String, vecCol: String, dir: String,
      batchId: String): Unit =
    withLease(batch.sparkSession, dir) {
      val (centroids, _) = loadIvf(batch.sparkSession, dir)
      Similarity.assignIvfCells(batch, idCol, vecCol, centroids)
        .write.mode("overwrite").parquet(batchPath(dir, IVF_ASSIGNED, batchId))
    }

  /** (centroids, assigned-corpus frame) — [[Similarity.ivfTopKStored]]'s
    * input. Centroids are ≤nlist rows: collected, validated against meta.
    */
  def loadIvf(spark: SparkSession, dir: String)
      : (Array[(Int, Array[Double])], DataFrame) = {
    val meta = readMeta(spark, dir)
    val nlist = meta.getOrElse("ivfNlist",
      sys.error(s"store $dir holds no IVF artifact (missing ivfNlist)")).toInt
    val centroids = artifactDf(spark, dir, IVF_CENTROIDS)
      .select(col("cell").cast("int"), col("cvec"))
      .collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray)
      .sortBy(_._1)
    require(centroids.nonEmpty && centroids.length <= nlist,
      s"IVF centroid artifact in $dir is inconsistent with meta nlist=$nlist")
    (centroids,
      artifactDf(spark, dir, IVF_ASSIGNED).drop("batch"))
  }

  // ---- PQ index artifact (codebooks + encoded corpus) ----

  private val PQ_BOOKS = "pq_codebooks"
  private val PQ_ENCODED = "pq_encoded"

  /** Build and persist a PQ index: train the per-subspace codebooks once
    * and encode the corpus to its `m` code bytes once — the compressed
    * representation IS the artifact a large deployment scans. Raw vectors
    * ride along for the exact shortlist rerank. Same immutable-quantizer
    * contract as [[writeIvf]].
    */
  def writePq(corpus: DataFrame, idCol: String, vecCol: String, dir: String,
      m: Int = 16, nbits: Int = 6, maxTrainRows: Int = 100000): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    withLease(spark, dir) {
      val books = Similarity.trainPqCodebooks(corpus, vecCol, m, nbits, maxTrainRows)
      writeMeta(spark, dir, Map("version" -> "1",
        "pqM" -> m.toString, "pqNbits" -> nbits.toString))
      books.zipWithIndex.toSeq.flatMap { case (book, j) =>
        book.zipWithIndex.map { case (c, ci) => (j, ci, c.toSeq) }
      }.toDF("subspace", "code", "subvec")
        .write.mode("overwrite").parquet(path(dir, PQ_BOOKS))
      Similarity.pqEncodeFrame(corpus, idCol, vecCol, books)
        .write.mode("overwrite").parquet(batchPath(dir, PQ_ENCODED, "init"))
    }
  }

  /** Encode one ingest batch with the EXISTING codebooks and commit it
    * under `batch=<batchId>/` (idempotent on retry — see [[mergeIvf]]).
    */
  def mergePq(batch: DataFrame, idCol: String, vecCol: String, dir: String,
      batchId: String): Unit =
    withLease(batch.sparkSession, dir) {
      val (books, _) = loadPq(batch.sparkSession, dir)
      Similarity.pqEncodeFrame(batch, idCol, vecCol, books)
        .write.mode("overwrite").parquet(batchPath(dir, PQ_ENCODED, batchId))
    }

  /** (codebooks, encoded-corpus frame) — [[Similarity.pqTopKStored]]'s
    * input. Codebooks are m × 2^nbits rows: collected, validated.
    */
  def loadPq(spark: SparkSession, dir: String)
      : (Array[Array[Array[Double]]], DataFrame) = {
    val meta = readMeta(spark, dir)
    val m = meta.getOrElse("pqM",
      sys.error(s"store $dir holds no PQ artifact (missing pqM)")).toInt
    val rows = artifactDf(spark, dir, PQ_BOOKS)
      .select(col("subspace").cast("int"), col("code").cast("int"), col("subvec"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
    require(rows.nonEmpty && rows.map(_._1).distinct.length == m,
      s"PQ codebook artifact in $dir is inconsistent with meta m=$m")
    val books = rows.groupBy(_._1).toArray.sortBy(_._1)
      .map { case (_, cs) => cs.sortBy(_._2).map(_._3) }
    (books, artifactDf(spark, dir, PQ_ENCODED).drop("batch"))
  }

  // ---- search-index artifact (postings + document lengths) ----

  private val POSTINGS = "postings"
  private val LENGTHS = "lengths"

  /** Build and persist an inverted index for [[Relevance.bm25TopDocsStored]]:
    * per-(doc, token) term frequencies laid out range-partitioned and
    * sorted by token — so a term query prunes parquet row groups down to
    * its vocabulary — plus the (doc_id, len) frame the corpus scalars
    * re-derive from. The whole-corpus tokenize + aggregate runs once per
    * COMMIT, not per query.
    */
  def writeSearchIndex(df: DataFrame, idCol: String, textCol: String,
      dir: String): Unit = {
    writeMeta(df.sparkSession, dir, Map("version" -> "1", "searchIndex" -> "1"))
    commitSearchBatch(df, idCol, textCol, dir, "init")
  }

  /** Commit one batch under `batch=<batchId>/` (idempotent on retry; ids
    * unique across batches, so per-batch tf IS corpus tf per document).
    */
  def mergeSearchIndex(batch: DataFrame, idCol: String, textCol: String,
      dir: String, batchId: String): Unit =
    commitSearchBatch(batch, idCol, textCol, dir, batchId)

  private def commitSearchBatch(df: DataFrame, idCol: String, textCol: String,
      dir: String, batchId: String): Unit =
      withLease(df.sparkSession, dir) {
    // fail loudly on an uninitialized / wrong-family dir BEFORE writing
    // anything — a silent commit into a foreign store would corrupt its
    // corpus scalars (the mergeExact/mergeMinhash posture)
    require(readMeta(df.sparkSession, dir).contains("searchIndex"),
      s"store $dir holds no search-index artifact — writeSearchIndex first")
    df.select(col(idCol).as("doc_id"),
        explode(TextFns.tokens(col(textCol))).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      .repartitionByRange(col("token"))
      .sortWithinPartitions("token", "doc_id")
      .write.mode("overwrite").parquet(batchPath(dir, POSTINGS, batchId))
    df.select(col(idCol).as("doc_id"),
        TextFns.tokenCount(col(textCol)).as("len"))
      .write.mode("overwrite").parquet(batchPath(dir, LENGTHS, batchId))
  }

  /** (postings, lengths) frames of the whole committed index. */
  def loadSearchIndex(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val meta = readMeta(spark, dir)
    require(meta.contains("searchIndex"),
      s"store $dir holds no search-index artifact")
    (artifactDf(spark, dir, POSTINGS)
       .select(col("doc_id"), col("token"), col("tf")),
     artifactDf(spark, dir, LENGTHS)
       .select(col("doc_id"), col("len")))
  }

  // ---- DSIR bucket-count artifact (mergeable integer count tables) ----

  private val DSIR_COUNTS = "dsir_counts"

  /** Persist DSIR's hashed-bucket occurrence counts — the whole-corpus
    * pass behind [[Importance.hashedRatioTable]]. Counts for the TARGET
    * and SOURCE sides store as (side, bucket, n) rows; batches merge
    * under `batch=<id>/` subdirs and [[loadDsirRatios]] re-sums — exact
    * integers, so the re-derived ratio table is BIT-IDENTICAL to
    * computing it over the union corpus (the same batching-invariance
    * law as the centroid store). The ln → quantize step still runs once
    * on the driver at load ([[Importance.ratioMicroScala]]).
    */
  def writeDsirCounts(target: DataFrame, source: DataFrame, textCol: String,
      dir: String, buckets: Int = 256, ngrams: Seq[Int] = Seq(1)): Unit = {
    writeMeta(target.sparkSession, dir, Map("version" -> "1",
      "dsirBuckets" -> buckets.toString,
      "dsirNgrams" -> ngrams.mkString(",")))
    commitDsirBatch(target, source, textCol, dir, "init")
  }

  /** Commit one batch's counts (either side may be empty — e.g. a pure
    * source-corpus growth batch passes an empty target frame).
    */
  def mergeDsirCounts(target: DataFrame, source: DataFrame, textCol: String,
      dir: String, batchId: String): Unit =
    commitDsirBatch(target, source, textCol, dir, batchId)

  private def commitDsirBatch(target: DataFrame, source: DataFrame,
      textCol: String, dir: String, batchId: String): Unit = {
    val spark = target.sparkSession
    withLease(spark, dir) {
    val meta = readMeta(spark, dir)
    val buckets = meta("dsirBuckets").toInt
    val ngrams = meta("dsirNgrams").split(",").map(_.toInt).toSeq
    def side(df: DataFrame, tag: String): DataFrame =
      Importance.bucketCounts(df, textCol, buckets, ngrams)
        .select(lit(tag).as("side"), col("_b").as("bucket"), col("_n").as("n"))
    side(target, "t").unionByName(side(source, "s"))
      .write.mode("overwrite").parquet(batchPath(dir, DSIR_COUNTS, batchId))
    }
  }

  /** The quantized ratio table re-derived from every committed batch's
    * counts, plus the law parameters it was built under — the scorer MUST
    * be called with the same buckets/ngrams (a 64-bucket table scored mod
    * 256 silently drops three quarters of all token occurrences in the
    * join), so the fail-fast options mirror [[loadMinhash]].
    */
  def loadDsirRatios(spark: SparkSession, dir: String,
      requireBuckets: Option[Int] = None,
      requireNgrams: Option[Seq[Int]] = None): (DataFrame, Int, Seq[Int]) = {
    val meta = readMeta(spark, dir)
    val buckets = meta.getOrElse("dsirBuckets",
      sys.error(s"store $dir holds no DSIR artifact")).toInt
    val ngrams = meta("dsirNgrams").split(",").map(_.toInt).toSeq
    requireBuckets.foreach(b => require(b == buckets,
      s"DSIR store $dir was built with buckets=$buckets, caller expects $b"))
    requireNgrams.foreach(n => require(n == ngrams,
      s"DSIR store $dir was built with ngrams=$ngrams, caller expects $n"))
    val merged = artifactDf(spark, dir, DSIR_COUNTS)
      .groupBy(col("side"), col("bucket"))
      .agg(sum(col("n")).as("n"))
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
    def cmap(tag: String): Map[Int, Long] =
      merged.collect { case (`tag`, b, n) => b -> n }.toMap
    (Importance.ratioFrame(spark, cmap("t"), cmap("s"), buckets), buckets, ngrams)
  }

  // ---- compaction (the store's growth story) ----

  /** Rewrite every artifact the store holds into a bounded bucketed file
    * set, and re-size the bloom when the corpus outgrew its sizing. After
    * thousands of micro-batch merges a store is thousands of small files;
    * every load then pays the full file listing plus a wide re-distinct /
    * re-sum. Compaction folds each family down under its OWN law, so the
    * compacted store is observably IDENTICAL to the uncompacted one:
    *
    *   - `fingerprints/`: re-distinct into `numFiles` hash-bucketed files
    *     (consumers re-distinct anyway — this just makes it cheap). When
    *     the true count exceeds meta's `expectedItems`, the bloom is
    *     re-sized to 2× the count and rebuilt from the fingerprint truth
    *     (delete → re-point meta → rebuild, so any crash mid-sequence
    *     rebuilds from truth on next load and `bloom ⊇ fingerprints`
    *     never breaks).
    *   - `signatures/`: re-distinct (replay re-appends are byte-identical
    *     rows), bucketed by document id.
    *   - `centroids/`, `dsir_counts/`: per-batch partial sums fold to ONE
    *     row per key — exact integer addition, so the folded table is
    *     bit-identical to re-summing the batch tree.
    *   - `ivf_assigned/`, `pq_encoded/`: batch subdirs coalesce into one
    *     `batch=compacted/` set (rows are unique by ingest contract; IVF
    *     rows re-cluster by cell so probe filters skip row groups).
    *   - `postings/` + `lengths/`: re-laid out token-range-sorted across
    *     the WHOLE corpus, restoring the `PushedFilters: [In(token` prune
    *     that per-batch layout only gives per file.
    *
    * Each swap writes the compacted artifact beside the live one, marks
    * it complete, and only then replaces the live dir; a crash anywhere
    * leaves either the old artifact or a marked-complete new one, and
    * every load/merge entry point finishes a half-done swap
    * ([[recoverCompact]]). Holds the write lease: never run concurrently
    * with a merge, and never while a crashed pre-compact batch commit
    * might still be retried (the retry would re-add folded rows).
    */
  def compact(spark: SparkSession, dir: String, numFiles: Int = 8): Unit = {
    require(numFiles > 0, s"numFiles must be positive, got $numFiles")
    withLease(spark, dir) {
      val f = fs(spark, dir)
      // centroid-only stores carry no meta.properties (no law parameters);
      // the meta-gated families just don't fire there
      val meta = if (exists(spark, dir, META)) readMeta(spark, dir)
        else Map.empty[String, String]
      def has(name: String): Boolean =
        f.exists(new org.apache.hadoop.fs.Path(dir, name))
      if (has(FINGERPRINTS)) {
        val fp = spark.read.parquet(path(dir, FINGERPRINTS))
          .select(col("_rh")).distinct()
        val n = fp.count()
        swapArtifact(spark, dir, FINGERPRINTS)(tmp =>
          fp.repartition(numFiles, col("_rh"))
            .write.mode("overwrite").parquet(tmp))
        meta.get("expectedItems").map(_.toLong).filter(_ < n).foreach { _ =>
          f.delete(new org.apache.hadoop.fs.Path(dir, BLOOM), false)
          writeMeta(spark, dir, Map("expectedItems" -> (n * 2L).toString))
          loadOrRebuildBloom(spark, dir, readMeta(spark, dir))
          ()
        }
      }
      if (has(SIGNATURES)) {
        val sig = spark.read.parquet(path(dir, SIGNATURES)).distinct()
        swapArtifact(spark, dir, SIGNATURES)(tmp =>
          sig.repartition(numFiles, col("_id"))
            .write.mode("overwrite").parquet(tmp))
      }
      if (has(SIMHASH)) {
        val sig = spark.read.parquet(path(dir, SIMHASH)).distinct()
        swapArtifact(spark, dir, SIMHASH)(tmp =>
          sig.repartition(numFiles, col("_id"))
            .write.mode("overwrite").parquet(tmp))
      }
      if (has(HASHSIG)) {
        val sig = spark.read.parquet(path(dir, HASHSIG)).distinct()
        swapArtifact(spark, dir, HASHSIG)(tmp =>
          sig.repartition(numFiles, col("_id"))
            .write.mode("overwrite").parquet(tmp))
      }
      if (has(CDC_CHUNKS)) {
        val ch = spark.read.parquet(path(dir, CDC_CHUNKS))
          .select(col("chunk_hash")).distinct()
        swapArtifact(spark, dir, CDC_CHUNKS)(tmp =>
          ch.repartition(numFiles, col("chunk_hash"))
            .write.mode("overwrite").parquet(tmp))
      }
      if (has(CENTROIDS)) {
        val sums = loadCentroidSums(spark, dir)
        swapArtifact(spark, dir, CENTROIDS)(tmp =>
          sums.coalesce(1).write.mode("overwrite")
            .parquet(new org.apache.hadoop.fs.Path(tmp, "batch=compacted").toString))
      }
      if (meta.contains("ivfNlist") && has(IVF_ASSIGNED)) {
        val assigned = spark.read.parquet(path(dir, IVF_ASSIGNED)).drop("batch")
        swapArtifact(spark, dir, IVF_ASSIGNED)(tmp =>
          assigned.repartition(numFiles, col("cell")).sortWithinPartitions("cell")
            .write.mode("overwrite")
            .parquet(new org.apache.hadoop.fs.Path(tmp, "batch=compacted").toString))
      }
      if (meta.contains("pqM") && has(PQ_ENCODED)) {
        val enc = spark.read.parquet(path(dir, PQ_ENCODED)).drop("batch")
        swapArtifact(spark, dir, PQ_ENCODED)(tmp =>
          enc.repartition(numFiles)
            .write.mode("overwrite")
            .parquet(new org.apache.hadoop.fs.Path(tmp, "batch=compacted").toString))
      }
      if (meta.contains("searchIndex") && has(POSTINGS)) {
        val p = spark.read.parquet(path(dir, POSTINGS))
          .select(col("doc_id"), col("token"), col("tf"))
        swapArtifact(spark, dir, POSTINGS)(tmp =>
          p.repartitionByRange(numFiles, col("token"))
            .sortWithinPartitions("token", "doc_id")
            .write.mode("overwrite")
            .parquet(new org.apache.hadoop.fs.Path(tmp, "batch=compacted").toString))
      }
      if (meta.contains("searchIndex") && has(LENGTHS)) {
        val l = spark.read.parquet(path(dir, LENGTHS))
          .select(col("doc_id"), col("len"))
        swapArtifact(spark, dir, LENGTHS)(tmp =>
          l.repartition(numFiles)
            .write.mode("overwrite")
            .parquet(new org.apache.hadoop.fs.Path(tmp, "batch=compacted").toString))
      }
      if (meta.contains("lmLaw") && has(LM_BIGRAMS)) {
        val c = spark.read.parquet(path(dir, LM_BIGRAMS)).drop("batch")
          .groupBy(col("_w1"), col("_w2")).agg(sum(col("_c")).as("_c"))
        swapArtifact(spark, dir, LM_BIGRAMS)(tmp =>
          c.repartition(numFiles, col("_w1"))
            .write.mode("overwrite")
            .parquet(new org.apache.hadoop.fs.Path(tmp, "batch=compacted").toString))
      }
      if (has(LM_VOCAB)) {
        val vv = spark.read.parquet(path(dir, LM_VOCAB))
          .select(col("_tk")).distinct()
        swapArtifact(spark, dir, LM_VOCAB)(tmp =>
          vv.repartition(numFiles, col("_tk"))
            .write.mode("overwrite").parquet(tmp))
      }
      if (meta.contains("graphLaw") && has(GRAPH_EDGES)) {
        val ed = spark.read.parquet(path(dir, GRAPH_EDGES))
          .select(col("src"), col("dst")).distinct()
        swapArtifact(spark, dir, GRAPH_EDGES)(tmp =>
          ed.repartition(numFiles, col("src"))
            .write.mode("overwrite").parquet(tmp))
      }
      if (meta.contains("canonLaw") && has(CANONICAL_MAP)) {
        val cp = spark.read.parquet(path(dir, CANONICAL_MAP))
          .select(col("dup_id"), col("canon_id")).distinct()
        swapArtifact(spark, dir, CANONICAL_MAP)(tmp =>
          cp.repartition(numFiles, col("dup_id"))
            .write.mode("overwrite").parquet(tmp))
      }
      if (meta.contains("valuesLaw") && has(VALUE_COUNTS)) {
        val c = spark.read.parquet(path(dir, VALUE_COUNTS)).drop("batch")
          .groupBy(col("_v")).agg(sum(col("_c")).as("_c"))
        swapArtifact(spark, dir, VALUE_COUNTS)(tmp =>
          c.repartition(numFiles, col("_v"))
            .write.mode("overwrite")
            .parquet(new org.apache.hadoop.fs.Path(tmp, "batch=compacted").toString))
      }
      if (meta.contains("driftLaw") && has(TOKEN_COUNTS)) {
        val c = spark.read.parquet(path(dir, TOKEN_COUNTS)).drop("batch")
          .groupBy(col("_t")).agg(sum(col("_c")).as("_c"))
        swapArtifact(spark, dir, TOKEN_COUNTS)(tmp =>
          c.repartition(numFiles, col("_t"))
            .write.mode("overwrite")
            .parquet(new org.apache.hadoop.fs.Path(tmp, "batch=compacted").toString))
      }
      if (meta.contains("dsirBuckets") && has(DSIR_COUNTS)) {
        val c = spark.read.parquet(path(dir, DSIR_COUNTS))
          .groupBy(col("side"), col("bucket"))
          .agg(sum(col("n")).as("n"))
        swapArtifact(spark, dir, DSIR_COUNTS)(tmp =>
          c.coalesce(1).write.mode("overwrite")
            .parquet(new org.apache.hadoop.fs.Path(tmp, "batch=compacted").toString))
      }
    }
  }

  /** Every parquet artifact a store can hold — the compact-swap recovery
    * sweep at mutation entry walks this list.
    */
  private val allArtifacts = Seq(FINGERPRINTS, SIGNATURES, SIMHASH, HASHSIG,
    CDC_CHUNKS, LM_BIGRAMS, LM_VOCAB, TOKEN_COUNTS, CENTROIDS, IVF_CENTROIDS,
    IVF_ASSIGNED, PQ_BOOKS, PQ_ENCODED, POSTINGS, LENGTHS, DSIR_COUNTS,
    GRAPH_EDGES, VALUE_COUNTS, CANONICAL_MAP)

  /** Store integrity check: re-verify every family-law invariant the guards RELY on but never re-check on
    * the hot path. One row per executed check; `ok=false` rows mean the
    * store violates its own contract (a hand-edited artifact, a foreign
    * parquet dropped into the dir, a partial copy) and the affected
    * family must be rebuilt rather than trusted. Checks, per present
    * family:
    *
    *   - exact: `bloom ⊇ fingerprints` (a false negative breaks the
    *     prefilter's exactness law — THE invariant the crash contract
    *     orders writes around); a missing bloom is legal (rebuilt on
    *     load) and reported ok.
    *   - minhash: every signature has meta's `numHashes` entries.
    *   - centroids: accumulator rows carry positive member counts.
    *   - ivf: assigned cells ⊆ the persisted centroid cells.
    *   - pq: codebook subspaces = meta m; encoded code arrays all length m.
    *   - search index: postings tf ≥ 1; every postings doc has a length row.
    *   - dsir: sides ⊆ {t, s}; buckets within meta's modulus; counts ≥ 0.
    *   - all `batch=<id>/` commit dirs carry parquet's `_SUCCESS` marker.
    *
    * Read-only (families mid-swap are skipped rather than recovered); aggregate jobs over the store's own
    * artifacts — maintenance cost, run on the compaction cadence.
    */
  def fsck(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val f = fs(spark, dir)
    def has(name: String): Boolean =
      f.exists(new org.apache.hadoop.fs.Path(dir, name))
    // NOT artifactDf: that would recoverCompact (a rename) — fsck must
    // stay genuinely read-only so it can run beside a live compactor.
    // A family mid-swap has no live dir and its checks simply skip.
    def ro(name: String): DataFrame = spark.read.parquet(path(dir, name))
    val meta = if (exists(spark, dir, META)) readMeta(spark, dir)
      else Map.empty[String, String]
    val rows = scala.collection.mutable.ArrayBuffer.empty[(String, String, Boolean, String)]
    // the has()-then-read sequence can race a live compactor's
    // delete→rename window (the price of being lock-free): a scan that
    // loses the race reports ok=false with a re-run hint instead of
    // aborting the whole report — an honest signal either way
    def checked(family: String, check: String)(body: => (Boolean, String)): Unit =
      try { val (ok, d) = body; rows += ((family, check, ok, d)) }
      catch { case e: Exception => rows += ((family, check, false,
        s"check errored (${e.getClass.getSimpleName}) - re-run fsck; a live compact may have raced the scan")) }

    if (has(FINGERPRINTS)) {
      if (has(BLOOM)) checked("exact", "bloom_superset_of_fingerprints") {
        val bloom = spark.sparkContext.broadcast(loadBloom(spark, dir))
        val might = udf((h: String) => h != null && bloom.value.mightContainString(h))
        val misses = ro(FINGERPRINTS)
          .select(col("_rh")).distinct()
          .filter(!might(col("_rh")))
          .count()
        (misses == 0L, s"misses=$misses")
      } else rows += (("exact", "bloom_superset_of_fingerprints", true,
        "bloom absent - rebuilt from truth on next load"))
      rows += (("exact", "meta_sizing_present",
        meta.contains("expectedItems") && meta.contains("fpp"), ""))
    }
    if (has(SIGNATURES)) checked("minhash", "signature_arity_matches_meta") {
      val nh = meta.get("numHashes").map(_.toInt)
      val bad = nh.map(n => ro(SIGNATURES)
        .filter(size(col("_sig")) =!= n).count())
      (nh.nonEmpty && bad.contains(0L),
        nh.fold("numHashes missing from meta")(n => s"numHashes=$n bad=${bad.get}"))
    }
    if (has(SIMHASH)) checked("simhash", "signatures_non_null") {
      val bad = ro(SIMHASH)
        .filter(col("_id").isNull || col("_sh").isNull).count()
      (bad == 0L, s"bad=$bad")
    }
    if (has(HASHSIG)) checked("hashsig", "signatures_non_null_and_law_tagged") {
      val bad = ro(HASHSIG)
        .filter(col("_id").isNull || col("_sh").isNull).count()
      (meta.contains("sigLaw") && bad == 0L,
        s"law=${meta.getOrElse("sigLaw", "MISSING")} bad=$bad")
    }
    if (has(CDC_CHUNKS)) checked("cdc", "chunk_hashes_are_md5_hex") {
      // the chunk hash IS the join key; a truncated copy or foreign
      // parquet breaks the law silently (non-hex never matches → missed
      // overlaps), so fsck pins the witness format
      val bad = ro(CDC_CHUNKS)
        .filter(col("chunk_hash").isNull ||
          !col("chunk_hash").rlike("^[0-9a-f]{32}$")).count()
      (meta.contains("cdcMinTokens") && bad == 0L, s"bad=$bad")
    }
    if (has(LM_BIGRAMS)) {
      checked("lm", "bigram_counts_positive") {
        val bad = ro(LM_BIGRAMS)
          .filter(col("_c").isNull || col("_c") < 1L ||
            col("_w1").isNull || col("_w2").isNull).count()
        (meta.get("lmLaw").nonEmpty && bad == 0L, s"bad=$bad")
      }
      if (has(LM_VOCAB)) checked("lm", "vocab_covers_bigram_words") {
        // V comes from lm_vocab while the conditionals come from
        // lm_bigrams; a vocab missing a bigram word means the two
        // artifacts were written under different corpora — scores would
        // silently use a too-small V
        val vocab = ro(LM_VOCAB).select(col("_tk")).distinct()
        val words = ro(LM_BIGRAMS).select(col("_w1").as("_tk"))
          .union(ro(LM_BIGRAMS).select(col("_w2").as("_tk"))).distinct()
        val orphans = words.join(vocab, Seq("_tk"), "left_anti").count()
        (orphans == 0L, s"orphans=$orphans")
      } else rows += (("lm", "vocab_covers_bigram_words", false,
        "lm_vocab missing beside lm_bigrams"))
    }
    if (has(TOKEN_COUNTS)) checked("drift", "token_counts_positive") {
      val bad = ro(TOKEN_COUNTS)
        .filter(col("_c").isNull || col("_c") < 1L || col("_t").isNull).count()
      (meta.get("driftLaw").nonEmpty && bad == 0L, s"bad=$bad")
    }
    if (has(GRAPH_EDGES)) checked("graph", "edges_non_null_no_selfloop_law") {
      // self-loops are LEGAL store content (rank laws drop them at use);
      // the fsck invariant is non-null long endpoints under the law tag
      val bad = ro(GRAPH_EDGES)
        .filter(col("src").isNull || col("dst").isNull).count()
      (meta.get("graphLaw").nonEmpty && bad == 0L, s"bad=$bad")
    }
    if (has(CANONICAL_MAP)) checked("canon", "pairs_non_null_no_selfmap") {
      val bad = ro(CANONICAL_MAP)
        .filter(col("dup_id").isNull || col("canon_id").isNull ||
          col("dup_id") === col("canon_id")).count()
      (meta.get("canonLaw").nonEmpty && bad == 0L, s"bad=$bad")
    }
    if (has(VALUE_COUNTS)) checked("values", "value_counts_positive") {
      val bad = ro(VALUE_COUNTS)
        .filter(col("_c").isNull || col("_c") < 1L || col("_v").isNull).count()
      (meta.get("valuesLaw").nonEmpty && bad == 0L, s"bad=$bad")
    }
    if (has(CENTROIDS)) checked("centroids", "positive_member_counts") {
      val bad = ro(CENTROIDS)
        .filter(col("n_members") <= 0L).count()
      (bad == 0L, s"bad=$bad")
    }
    if (has(IVF_ASSIGNED) && has(IVF_CENTROIDS)) checked("ivf", "assigned_cells_have_centroids") {
      val cells = ro(IVF_CENTROIDS).select(col("cell"))
      val orphans = ro(IVF_ASSIGNED)
        .join(broadcast(cells), Seq("cell"), "left_anti").count()
      (orphans == 0L, s"orphans=$orphans")
    }
    if (has(PQ_ENCODED) && has(PQ_BOOKS)) checked("pq", "codebook_and_code_arity_match_meta") {
      val m = meta.get("pqM").map(_.toInt)
      val subspaces = ro(PQ_BOOKS)
        .select(col("subspace")).distinct().count()
      val badLen = m.map(mm => ro(PQ_ENCODED)
        .filter(size(col("codes")) =!= mm).count())
      (m.nonEmpty && subspaces == m.get.toLong && badLen.contains(0L),
        m.fold("pqM missing from meta")(mm =>
          s"m=$mm subspaces=$subspaces badCodes=${badLen.get}"))
    }
    if (meta.contains("searchIndex") && has(POSTINGS) && has(LENGTHS)) {
      checked("search", "postings_tf_positive") {
        val badTf = ro(POSTINGS).filter(col("tf") < 1L).count()
        (badTf == 0L, s"bad=$badTf")
      }
      checked("search", "postings_docs_have_lengths") {
        val lens = ro(LENGTHS).select(col("doc_id")).distinct()
        val orphanDocs = ro(POSTINGS).select(col("doc_id")).distinct()
          .join(lens, Seq("doc_id"), "left_anti").count()
        (orphanDocs == 0L, s"orphans=$orphanDocs")
      }
    }
    if (meta.contains("dsirBuckets") && has(DSIR_COUNTS)) checked("dsir", "sides_buckets_counts_lawful") {
      val b = meta("dsirBuckets").toInt
      val bad = ro(DSIR_COUNTS)
        .filter(!col("side").isin("t", "s") ||
          col("bucket") < 0 || col("bucket") >= b || col("n") < 0L)
        .count()
      (bad == 0L, s"bad=$bad")
    }
    // every batch commit dir must be a completed parquet write
    allArtifacts.filter(has).foreach { a =>
      checked(a, "batch_commits_marked") {
        val batchDirs = f.listStatus(new org.apache.hadoop.fs.Path(dir, a))
          .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch="))
        if (batchDirs.isEmpty) (true, "no batch dirs")
        else {
          val unmarked = batchDirs.filterNot(s =>
            f.exists(new org.apache.hadoop.fs.Path(s.getPath, "_SUCCESS")))
            .map(_.getPath.getName)
          (unmarked.isEmpty,
            if (unmarked.isEmpty) "" else unmarked.mkString(","))
        }
      }
    }
    rows.toSeq.toDF("family", "check", "ok", "detail")
  }

  /** Atomic-enough artifact replacement: write the compacted set to a
    * dot-hidden sibling, stamp a completeness marker at its ROOT (the
    * batch-subdir families put parquet's own `_SUCCESS` one level down),
    * then delete-and-rename. A crash before the marker leaves the live
    * artifact untouched (a later compact restarts from scratch); a crash
    * between delete and rename leaves a marked tmp that [[recoverCompact]]
    * promotes on the next load or mutation.
    */
  private def swapArtifact(spark: SparkSession, dir: String, name: String)(
      write: String => Unit): Unit = {
    val f = fs(spark, dir)
    val live = new org.apache.hadoop.fs.Path(dir, name)
    val tmp = new org.apache.hadoop.fs.Path(dir, s".$name.compact")
    f.delete(tmp, true)
    write(tmp.toString)
    val out = f.create(new org.apache.hadoop.fs.Path(tmp, COMPACT_DONE), true)
    out.close()
    f.delete(live, true)
    if (!f.rename(tmp, live)) {
      // benign iff a concurrent reader promoted our marked tmp in the
      // delete→rename window (the recoverCompact race): the compacted
      // artifact is live either way. Anything else is a real failure.
      if (!(f.exists(live) && !f.exists(tmp)))
        throw new java.io.IOException(s"RefStore.compact: rename $tmp -> $live failed")
    }
    f.delete(new org.apache.hadoop.fs.Path(live, COMPACT_DONE), false)
    ()
  }

  /** Finish a [[swapArtifact]] interrupted between delete and rename:
    * live dir missing + marked-complete tmp present → promote the tmp.
    * Any other state is left alone (unmarked tmps are garbage a future
    * compact clears).
    */
  private def recoverCompact(spark: SparkSession, dir: String, name: String): Unit = {
    val f = fs(spark, dir)
    val live = new org.apache.hadoop.fs.Path(dir, name)
    val tmp = new org.apache.hadoop.fs.Path(dir, s".$name.compact")
    if (!f.exists(live) &&
        f.exists(new org.apache.hadoop.fs.Path(tmp, COMPACT_DONE))) {
      if (!f.rename(tmp, live)) {
        // lost the promotion race to a concurrent recoverer (or the live
        // compactor finishing its own swap) — benign iff live now exists
        if (!f.exists(live))
          throw new java.io.IOException(
            s"RefStore: recovering interrupted compact failed: $tmp -> $live")
      }
      f.delete(new org.apache.hadoop.fs.Path(live, COMPACT_DONE), false)
      ()
    }
  }

  /** Retention GC for a compact that crashed BEFORE its completeness
    * marker: an UNMARKED `.name.compact` tmp beside a live artifact is
    * dead weight (the interrupted compact restarts from scratch; nothing
    * ever reads the tmp) — delete it so the store's footprint stays
    * bounded between maintenance runs. ONLY called from the [[withLease]]
    * entry sweep: under the held lease no compactor can be live, so an
    * unmarked tmp is provably garbage — a lock-free reader must never do
    * this (it could race a LIVE compactor's mid-write tmp), which is why
    * [[recoverCompact]] (also run by reads) does not.
    */
  private def gcStaleCompactTmp(spark: SparkSession, dir: String,
      name: String): Unit = {
    val f = fs(spark, dir)
    val tmp = new org.apache.hadoop.fs.Path(dir, s".$name.compact")
    if (f.exists(tmp) &&
        !f.exists(new org.apache.hadoop.fs.Path(tmp, COMPACT_DONE))) {
      f.delete(tmp, true)
      ()
    }
  }

  /** Read a parquet artifact, first completing any interrupted compact
    * swap — the read-side half of the crash contract.
    */
  private def artifactDf(spark: SparkSession, dir: String, name: String): DataFrame = {
    recoverCompact(spark, dir, name)
    spark.read.parquet(path(dir, name))
  }

  // ---- shared plumbing ----

  private def fingerprintsOf(df: DataFrame, textCol: String): DataFrame =
    df.select(TextFns.fingerprintMd5(col(textCol)).as("_rh"))
      .filter(col("_rh").isNotNull)

  private def path(dir: String, name: String): String =
    new org.apache.hadoop.fs.Path(dir, name).toString

  private def fs(spark: SparkSession, dir: String): org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def exists(spark: SparkSession, dir: String, name: String): Boolean =
    fs(spark, dir).exists(new org.apache.hadoop.fs.Path(dir, name))

  /** Driver-side small-file write: temp, delete old, rename. The missing-
    * file window between delete and rename only ever hits `bloom.bin`
    * (rebuilt on load) under the single-writer contract; `meta.properties`
    * is written once at store creation.
    */
  private def writeSmallFile(spark: SparkSession, dir: String, name: String)(
      body: java.io.OutputStream => Unit): Unit = {
    val f = fs(spark, dir)
    val base = new org.apache.hadoop.fs.Path(dir)
    f.mkdirs(base)
    val tmp = new org.apache.hadoop.fs.Path(base, s".$name.tmp")
    val dst = new org.apache.hadoop.fs.Path(base, name)
    val out = f.create(tmp, true)
    try body(out) finally out.close()
    if (f.exists(dst)) f.delete(dst, false)
    if (!f.rename(tmp, dst))
      throw new java.io.IOException(s"RefStore: rename $tmp -> $dst failed")
  }

  private def writeBloom(spark: SparkSession, dir: String, bloom: BloomFilter): Unit =
    writeSmallFile(spark, dir, BLOOM)(bloom.writeTo)

  private def loadBloom(spark: SparkSession, dir: String): BloomFilter = {
    val in = fs(spark, dir).open(new org.apache.hadoop.fs.Path(dir, BLOOM))
    try BloomFilter.readFrom(in) finally in.close()
  }

  /** MERGE the given keys into meta.properties (never replace the file):
    * the exact-dedup and minhash families share one store dir by design,
    * and a `writeMinhash` that clobbered the bloom's expectedItems/fpp
    * would brick the exact artifact's merge and crash-recovery loads.
    */
  private def writeMeta(spark: SparkSession, dir: String,
      kv: Map[String, String]): Unit = {
    val existing =
      if (exists(spark, dir, META)) readMeta(spark, dir) else Map.empty[String, String]
    writeSmallFile(spark, dir, META) { out =>
      val p = new java.util.Properties()
      (existing ++ kv).foreach { case (k, v) => p.setProperty(k, v) }
      p.store(out, null)
    }
  }

  private def readMeta(spark: SparkSession, dir: String): Map[String, String] = {
    val in = fs(spark, dir).open(new org.apache.hadoop.fs.Path(dir, META))
    val p = new java.util.Properties()
    try p.load(in) finally in.close()
    import scala.jdk.CollectionConverters._
    p.stringPropertyNames().asScala.map(k => k -> p.getProperty(k)).toMap
  }
}
