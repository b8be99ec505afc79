package graft.ops

import java.nio.file.{Files, Paths}

import graft.SparkSpec

class RefStoreSpec extends SparkSpec {
  import spark.implicits._

  // reference arrives in two batches; incoming carries exact dups of both
  // batches, a near-dup (one-word edit), and genuinely new rows
  private lazy val batch1 = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again"),
    (2L, "pack my box with five dozen liquor jugs every single day")
  ).toDF("doc_id", "text")
  private lazy val batch2 = Seq(
    (3L, "sphinx of black quartz judge my vow said the old inscription"),
    (4L, "how vexingly quick daft zebras jump around the quiet paddock")
  ).toDF("doc_id", "text")
  private lazy val incoming = Seq(
    (10L, "the quick brown fox jumps over the lazy dog again and again"), // dup of b1
    (11L, "sphinx of black quartz judge my vow said the old inscription"), // dup of b2
    (12L, "sphinx of black quartz judge my vow said the old carving"),    // near-dup
    (13L, "a genuinely new document that matches nothing in the corpus"),
    (14L, null.asInstanceOf[String])                                      // NULL text: kept
  ).toDF("doc_id", "text")

  private def survivors(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select("doc_id").as[Long].collect().toSet

  test("exact store: write + merge ≡ rebuild against the union; batch N+1 never scans the reference") {
    val dir = Files.createTempDirectory("refstore-exact").toString
    RefStore.writeExact(batch1, "text", dir, expectedItems = 1000L)
    RefStore.mergeExact(batch2, "text", dir)
    val stored = survivors(
      Dedup.exactAgainstBloomStored(incoming, dir, "doc_id", "text"))
    val rebuilt = survivors(
      Dedup.exactAgainst(incoming, batch1.union(batch2), "doc_id", "text"))
    assert(stored === rebuilt, "stored artifact must reproduce the rebuild exactly")
    assert(stored === Set(12L, 13L, 14L),
      "exact dups dropped; near-dup, new and NULL-text rows kept")
  }

  test("exact store: merge is idempotent (re-running a crashed commit is safe)") {
    val dir = Files.createTempDirectory("refstore-idem").toString
    RefStore.writeExact(batch1, "text", dir, expectedItems = 1000L)
    RefStore.mergeExact(batch2, "text", dir)
    RefStore.mergeExact(batch2, "text", dir) // the retry after a crash
    val stored = survivors(
      Dedup.exactAgainstBloomStored(incoming, dir, "doc_id", "text"))
    assert(stored === Set(12L, 13L, 14L))
  }

  test("exact store: a missing bloom is rebuilt from the fingerprint truth") {
    val dir = Files.createTempDirectory("refstore-rebuild").toString
    RefStore.writeExact(batch1.union(batch2), "text", dir, expectedItems = 1000L)
    Files.delete(Paths.get(dir, "bloom.bin")) // the crash window
    val stored = survivors(
      Dedup.exactAgainstBloomStored(incoming, dir, "doc_id", "text"))
    assert(stored === Set(12L, 13L, 14L), "rebuilt bloom must behave identically")
    assert(Files.exists(Paths.get(dir, "bloom.bin")),
      "load must write the rebuilt bloom back for the next reader")
  }

  test("minhash store: write + merge ≡ rebuild against the union (near-dups caught)") {
    val dir = Files.createTempDirectory("refstore-mh").toString
    RefStore.writeMinhash(batch1, "doc_id", "text", dir)
    RefStore.mergeMinhash(batch2, "doc_id", "text", dir)
    val stored = survivors(Dedup.minhashAgainstStored(
      incoming, dir, "doc_id", "text", threshold = 0.5))
    val rebuilt = survivors(Dedup.minhashAgainst(
      incoming, batch1.union(batch2), "doc_id", "text", threshold = 0.5))
    assert(stored === rebuilt, "stored signatures must reproduce the rebuild exactly")
    assert(!stored.contains(12L), "the near-dup must be caught from stored signatures")
    assert(stored.contains(13L) && stored.contains(14L))
  }

  test("both families share one store dir: meta keys merge, never clobber") {
    val dir = Files.createTempDirectory("refstore-both").toString
    RefStore.writeExact(batch1, "text", dir, expectedItems = 1000L)
    // writing the minhash family must MERGE into meta.properties — a
    // replace would brick the exact family's merge + crash-recovery loads
    RefStore.writeMinhash(batch1, "doc_id", "text", dir)
    RefStore.mergeExact(batch2, "text", dir)
    RefStore.mergeMinhash(batch2, "doc_id", "text", dir)
    assert(survivors(Dedup.exactAgainstBloomStored(incoming, dir, "doc_id", "text"))
      === Set(12L, 13L, 14L))
    assert(survivors(Dedup.minhashAgainstStored(
      incoming, dir, "doc_id", "text", threshold = 0.5)) === Set(13L, 14L))
  }

  test("exact store: a merge retried from the missing-bloom crash window succeeds") {
    val dir = Files.createTempDirectory("refstore-mergecrash").toString
    RefStore.writeExact(batch1, "text", dir, expectedItems = 1000L)
    Files.delete(Paths.get(dir, "bloom.bin")) // crashed mid-merge, bloom gone
    RefStore.mergeExact(batch2, "text", dir)  // the retry must rebuild, not throw
    assert(survivors(Dedup.exactAgainstBloomStored(incoming, dir, "doc_id", "text"))
      === Set(12L, 13L, 14L))
  }

  test("centroid store: partial-sum merge ≡ whole-corpus accumulators; assignment from store ≡ direct") {
    val emb = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.9f, 0.1f)),
      (3L, Array(0.0f, 1.0f)), (4L, Array(0.1f, 0.9f)),
      (5L, Array(-1.0f, 0.0f))).toDF("vec_id", "embedding")
    val assign = Seq((1L, 1L), (2L, 1L), (3L, 3L), (4L, 3L), (5L, 5L))
      .toDF("doc_id", "cluster_id")
    val dir = Files.createTempDirectory("refstore-cent").toString
    RefStore.writeCentroids(Similarity.clusterCentroidSums(
      emb.filter($"vec_id" % 2 === 0), assign, "vec_id", "embedding"), dir)
    RefStore.mergeCentroids(Similarity.clusterCentroidSums(
      emb.filter($"vec_id" % 2 === 1), assign, "vec_id", "embedding"), dir, "b1")
    // crash-retry idempotency: re-committing the same batch id OVERWRITES
    // its subdir — partial sums must never double-count
    RefStore.mergeCentroids(Similarity.clusterCentroidSums(
      emb.filter($"vec_id" % 2 === 1), assign, "vec_id", "embedding"), dir, "b1")
    val loaded = RefStore.loadCentroidSums(spark, dir)
    val direct = Similarity.clusterCentroidSums(emb, assign, "vec_id", "embedding")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("cluster_id", "dim", "sum_micro", "n_members")
        .as[(Long, Long, Long, Long)].collect().toSet
    assert(rows(loaded) === rows(direct),
      "batched integer merge must be invisible — bit-identical accumulators")
    // the persisted codebook drives incremental assignment identically
    val incoming = Seq((10L, Array(0.95f, 0.05f)), (11L, Array(0.05f, 0.95f)))
      .toDF("vec_id", "embedding")
    def assigned(sums: org.apache.spark.sql.DataFrame) =
      Similarity.assignNearestCentroid(incoming, sums, "vec_id", "embedding")
        .select("vec_id", "cluster_id").as[(Long, Long)].collect().toMap
    assert(assigned(loaded) === assigned(direct))
    assert(assigned(loaded) === Map(10L -> 1L, 11L -> 3L))
  }

  test("ivf store: stored probe ≡ direct ivfTopK; merge quantizes into fixed cells") {
    val rnd = new scala.util.Random(5)
    // two tight planted clusters + noise, so top-k is stable
    val emb = (0 until 60).map { i =>
      val base = if (i % 2 == 0) Array(1.0f, 0.0f, 0.0f, 0.0f)
        else Array(0.0f, 0.0f, 1.0f, 0.0f)
      (i.toLong, base.map(_ + rnd.nextFloat() * 0.05f))
    }.toDF("vec_id", "embedding")
    val queries = emb.filter($"vec_id" < 4)
    val dir = Files.createTempDirectory("refstore-ivf").toString
    RefStore.writeIvf(emb, "vec_id", "embedding", dir, nlist = 4)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "rank", "neighbor_id", "sim")
        .as[(Long, Int, Long, Double)].collect().toSet
    val stored = rows(Similarity.ivfTopKStored(queries, dir, "vec_id", "embedding", k = 5))
    val direct = rows(Similarity.ivfTopK(emb, queries, "vec_id", "embedding", k = 5, nlist = 4))
    assert(stored === direct, "persisted index must reproduce the per-call build exactly")

    // incremental: build on half, merge the rest into the FIXED cells —
    // every id must be probe-able afterwards
    val dir2 = Files.createTempDirectory("refstore-ivf2").toString
    RefStore.writeIvf(emb.filter($"vec_id" % 2 === 0), "vec_id", "embedding", dir2, nlist = 4)
    RefStore.mergeIvf(emb.filter($"vec_id" % 2 === 1), "vec_id", "embedding", dir2, "b1")
    // retried commit of the same batch id must not double rows (duplicate
    // neighbors would eat top-k slots in the probe)
    RefStore.mergeIvf(emb.filter($"vec_id" % 2 === 1), "vec_id", "embedding", dir2, "b1")
    val (_, assigned) = RefStore.loadIvf(spark, dir2)
    assert(assigned.count() === 60L, "merged batch must join the index exactly once")
    val got = Similarity.ivfTopKStored(queries, dir2, "vec_id", "embedding",
      k = 5, nprobe = 4).select("neighbor_id").as[Long].collect().toSet
    assert(got.exists(_ % 2 == 1L), "merged (odd-id) vectors must be retrievable")
  }

  test("pq store: stored ADC scan + rerank ≡ direct pqTopK; merged vectors retrievable") {
    val rnd = new scala.util.Random(9)
    val emb = (0 until 80).map { i =>
      val base = if (i % 2 == 0) Array(1.0f, 0.0f, 0.0f, 0.0f)
        else Array(0.0f, 0.0f, 1.0f, 0.0f)
      (i.toLong, base.map(_ + rnd.nextFloat() * 0.05f))
    }.toDF("vec_id", "embedding")
    val queries = emb.filter($"vec_id" < 4)
    val dir = Files.createTempDirectory("refstore-pq").toString
    RefStore.writePq(emb, "vec_id", "embedding", dir, m = 2, nbits = 4)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "rank", "neighbor_id", "sim")
        .as[(Long, Int, Long, Double)].collect().toSet
    val stored = rows(Similarity.pqTopKStored(queries, dir, "vec_id", "embedding", k = 5))
    val direct = rows(Similarity.pqTopK(emb, queries, "vec_id", "embedding",
      k = 5, m = 2, nbits = 4))
    assert(stored === direct, "persisted PQ index must reproduce the per-call scan")

    val dir2 = Files.createTempDirectory("refstore-pq2").toString
    RefStore.writePq(emb.filter($"vec_id" % 2 === 0), "vec_id", "embedding",
      dir2, m = 2, nbits = 4)
    RefStore.mergePq(emb.filter($"vec_id" % 2 === 1), "vec_id", "embedding", dir2, "b1")
    RefStore.mergePq(emb.filter($"vec_id" % 2 === 1), "vec_id", "embedding", dir2, "b1")
    val (_, encoded) = RefStore.loadPq(spark, dir2)
    assert(encoded.count() === 80L, "merged batch must join the encoded index exactly once")
    val got = Similarity.pqTopKStored(queries, dir2, "vec_id", "embedding", k = 5)
      .select("neighbor_id").as[Long].collect().toSet
    assert(got.exists(_ % 2 == 1L), "merged (odd-id) vectors must be retrievable")
  }

  test("search index: stored BM25 ≡ live scoring; retried commit is a no-op") {
    val docs = Seq(
      (1L, "spark merge vector spark"),
      (2L, "vector vector merge data"),
      (3L, "spark pipeline"),
      (4L, "unrelated words entirely"),
      (5L, "")).toDF("doc_id", "text")
    val dir = Files.createTempDirectory("refstore-search").toString
    RefStore.writeSearchIndex(docs.filter($"doc_id" <= 2), "doc_id", "text", dir)
    RefStore.mergeSearchIndex(docs.filter($"doc_id" > 2), "doc_id", "text", dir, "b1")
    // crash retry of the same batch id must not double postings or lengths
    RefStore.mergeSearchIndex(docs.filter($"doc_id" > 2), "doc_id", "text", dir, "b1")
    val terms = Seq("spark", "merge", "vector")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "score").as[(Long, Double)].collect().toSeq
        .sortBy(r => (-r._2, r._1))
    val stored = rows(Relevance.bm25TopDocsStored(spark, dir, terms, k = 10))
    val live = rows(Relevance.bm25TopDocs(docs, "doc_id", "text", terms, k = 10))
    assert(stored === live, "stored index must reproduce the live scores bit-for-bit")
    assert(stored.map(_._1).toSet === Set(1L, 2L, 3L))
  }

  test("dsir count store: merged ratios ≡ one-shot table; empty-side batches legal") {
    val corpus = Seq(
      (1L, "alpha beta gamma alpha"),
      (2L, "alpha gamma beta gamma"),
      (3L, "umber vermilion woad"),
      (4L, "woad umber vermilion woad")).toDF("doc_id", "text")
    val target = corpus.filter($"doc_id" <= 2)
    val dir = Files.createTempDirectory("refstore-dsir").toString
    RefStore.writeDsirCounts(target, corpus.filter($"doc_id" % 2 === 0), "text",
      dir, buckets = 64)
    // source grows by a batch with NO new target docs (empty target side)
    RefStore.mergeDsirCounts(target.limit(0), corpus.filter($"doc_id" % 2 === 1),
      "text", dir, "b1")
    // retried commit: no double counts
    RefStore.mergeDsirCounts(target.limit(0), corpus.filter($"doc_id" % 2 === 1),
      "text", dir, "b1")
    def table(df: org.apache.spark.sql.DataFrame) =
      df.as[(Int, Long)].collect().toMap
    val (frame, buckets, ngrams) = RefStore.loadDsirRatios(spark, dir)
    assert(buckets === 64 && ngrams === Seq(1),
      "load must hand back the store's law parameters")
    val stored = table(frame)
    val direct = table(Importance.hashedRatioTable(target, corpus, "text", buckets = 64))
    assert(stored === direct,
      "summed batch counts must re-derive the one-shot ratio table bit-for-bit")
    // a caller expecting different law params must fail fast, not silently
    // drop three quarters of the bucket space in the scorer join
    val err = intercept[IllegalArgumentException] {
      RefStore.loadDsirRatios(spark, dir, requireBuckets = Some(256))
    }
    assert(err.getMessage.contains("buckets=64"))
  }

  test("ivf store: a non-IVF store dir fails fast on load") {
    val dir = Files.createTempDirectory("refstore-noivf").toString
    RefStore.writeExact(batch1, "text", dir, expectedItems = 100L)
    val err = intercept[RuntimeException] {
      RefStore.loadIvf(spark, dir)
    }
    assert(err.getMessage.contains("ivfNlist"))
  }

  test("minhash store: signature-law parameter mismatch fails fast") {
    val dir = Files.createTempDirectory("refstore-meta").toString
    RefStore.writeMinhash(batch1, "doc_id", "text", dir, numHashes = 64, shingleSize = 3)
    val err = intercept[IllegalArgumentException] {
      RefStore.loadMinhash(spark, dir, requireNumHashes = Some(32))
    }
    assert(err.getMessage.contains("numHashes=64"))
  }

  private def partFiles(dir: String, artifact: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else Seq(f)
    walk(Paths.get(dir, artifact).toFile).filter(_.getName.startsWith("part-"))
  }

  test("compact: exact+minhash shared store — observably identical, bucketed files, bloom re-sized past expectedItems") {
    val dir = Files.createTempDirectory("refstore-compact").toString
    // expectedItems deliberately UNDERSIZED (3 < the 4 distinct contents the
    // store grows to) so compaction must re-size the bloom from the truth
    RefStore.writeExact(batch1, "text", dir, expectedItems = 3L)
    RefStore.writeMinhash(batch1, "doc_id", "text", dir)
    RefStore.mergeExact(batch2, "text", dir)
    RefStore.mergeMinhash(batch2, "doc_id", "text", dir)
    // replayed merges: duplicate appended rows compaction must re-distinct
    RefStore.mergeExact(batch2, "text", dir)
    RefStore.mergeMinhash(batch2, "doc_id", "text", dir)
    val exactPre = survivors(Dedup.exactAgainstBloomStored(incoming, dir, "doc_id", "text"))
    val mhPre = survivors(Dedup.minhashAgainstStored(incoming, dir, "doc_id", "text", threshold = 0.5))
    val filesPre = partFiles(dir, "fingerprints").size
    RefStore.compact(spark, dir, numFiles = 2)
    assert(survivors(Dedup.exactAgainstBloomStored(incoming, dir, "doc_id", "text")) === exactPre,
      "compacted exact store must answer identically")
    assert(survivors(Dedup.minhashAgainstStored(incoming, dir, "doc_id", "text", threshold = 0.5)) === mhPre,
      "compacted minhash store must answer identically")
    // ≤ not ==: an empty hash bucket writes no part file at fixture scale
    assert(partFiles(dir, "fingerprints").size <= 2 && filesPre > 2,
      s"compaction must fold $filesPre fingerprint files into ≤2 buckets")
    assert(partFiles(dir, "signatures").size <= 2)
    // bloom growth: 4 distinct contents > expectedItems=3 → re-sized to 2×count
    val meta = new java.util.Properties()
    val in = Files.newInputStream(Paths.get(dir, "meta.properties"))
    try meta.load(in) finally in.close()
    assert(meta.getProperty("expectedItems").toLong === 8L,
      "compaction must re-point expectedItems at 2x the true fingerprint count")
    // post-compact merges keep working (new bloom and meta stay bit-compatible)
    RefStore.mergeExact(incoming.filter($"doc_id" === 13L), "text", dir)
    assert(survivors(Dedup.exactAgainstBloomStored(incoming, dir, "doc_id", "text"))
      === exactPre - 13L, "a post-compact merge must dedup against the compacted store")
  }

  test("fsck: clean store passes every check; hand-corrupted artifacts are flagged") {
    val dir = Files.createTempDirectory("refstore-fsck").toString
    RefStore.writeExact(batch1, "text", dir, expectedItems = 100L)
    RefStore.writeMinhash(batch1, "doc_id", "text", dir)
    RefStore.mergeExact(batch2, "text", dir)
    def checks() = RefStore.fsck(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getBoolean(2)).toMap
    val clean = checks()
    assert(clean.nonEmpty && clean.values.forall(identity), s"clean store must pass: $clean")
    assert(clean.contains(("exact", "bloom_superset_of_fingerprints")))
    assert(clean.contains(("minhash", "signature_arity_matches_meta")))

    // corruption 1: a fingerprint the bloom never saw (hand-dropped parquet
    // beside the committed ones — the partial-copy / foreign-file scenario)
    Seq("deadbeef" * 4).toDF("_rh").write.mode("append")
      .parquet(s"$dir/fingerprints")
    val c1 = checks()
    assert(c1(("exact", "bloom_superset_of_fingerprints")) === false,
      "a fingerprint outside the bloom must fail the superset law")

    // corruption 2: a signature row with the wrong arity
    import org.apache.spark.sql.functions.{col, lit}
    spark.read.parquet(s"$dir/signatures").limit(1)
      .withColumn("_sig", org.apache.spark.sql.functions.slice(col("_sig"), 1, 3))
      .withColumn("_id", lit(999L))
      .write.mode("append").parquet(s"$dir/signatures")
    assert(checks()(("minhash", "signature_arity_matches_meta")) === false)

    // corruption 3: an unmarked batch commit dir (crashed mid-write copy)
    val cdir = Files.createTempDirectory("refstore-fsck-cent").toString
    val emb = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val assign = Seq((1L, 1L), (2L, 1L)).toDF("doc_id", "cluster_id")
    RefStore.writeCentroids(Similarity.clusterCentroidSums(
      emb, assign, "vec_id", "embedding"), cdir)
    Files.delete(Paths.get(cdir, "centroids", "batch=init", "_SUCCESS"))
    val c3 = RefStore.fsck(spark, cdir)
      .collect().map(r => r.getString(1) -> r.getBoolean(2)).toMap
    assert(c3("batch_commits_marked") === false,
      "a batch dir without _SUCCESS must be flagged")
    assert(c3("positive_member_counts") === true)
  }

  test("fsck: genuinely read-only — a pending compact swap is neither promoted nor touched; simhash nulls flagged") {
    val dir = Files.createTempDirectory("refstore-fsck-ro").toString
    RefStore.writeExact(batch1, "text", dir, expectedItems = 100L)
    RefStore.writeSimhash(batch1, "doc_id", "text", dir)
    // simulate a compact interrupted between delete and rename: live
    // fingerprints gone, marked-complete tmp present
    val live = Paths.get(dir, "fingerprints")
    val tmp = Paths.get(dir, ".fingerprints.compact")
    Files.move(live, tmp)
    Files.createFile(tmp.resolve("_COMPACT_DONE"))
    val report = RefStore.fsck(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getBoolean(2)).toMap
    assert(Files.exists(tmp) && !Files.exists(live),
      "fsck must not recover the swap — that is a mutation (loads do it)")
    assert(!report.keys.exists(_._1 == "exact"),
      "a family mid-swap has no live artifact: its checks skip")
    assert(report(("simhash", "signatures_non_null")) === true)
    // a mutation entry point DOES finish the swap, and fsck then sees it
    val (_, fps) = RefStore.loadExact(spark, dir)
    assert(fps.count() === 2L && Files.exists(live))
    // null-signature corruption is flagged
    import org.apache.spark.sql.functions.lit
    spark.range(1).select(lit(999L).as("_id"),
        lit(null).cast("long").as("_sh"))
      .write.mode("append").parquet(s"$dir/simhash_signatures")
    val after = RefStore.fsck(spark, dir)
      .collect().map(r => r.getString(1) -> r.getBoolean(2)).toMap
    assert(after("signatures_non_null") === false)
  }

  test("compact: centroid and dsir partial-sum trees fold to one batch, bit-identically") {
    val emb = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.9f, 0.1f)),
      (3L, Array(0.0f, 1.0f)), (4L, Array(0.1f, 0.9f))).toDF("vec_id", "embedding")
    val assign = Seq((1L, 1L), (2L, 1L), (3L, 3L), (4L, 3L)).toDF("doc_id", "cluster_id")
    val cdir = Files.createTempDirectory("refstore-compact-cent").toString
    RefStore.writeCentroids(Similarity.clusterCentroidSums(
      emb.filter($"vec_id" <= 2), assign, "vec_id", "embedding"), cdir)
    RefStore.mergeCentroids(Similarity.clusterCentroidSums(
      emb.filter($"vec_id" > 2), assign, "vec_id", "embedding"), cdir, "b1")
    def crows(df: org.apache.spark.sql.DataFrame) =
      df.select("cluster_id", "dim", "sum_micro", "n_members")
        .as[(Long, Long, Long, Long)].collect().toSet
    val centPre = crows(RefStore.loadCentroidSums(spark, cdir))
    RefStore.compact(spark, cdir)
    assert(crows(RefStore.loadCentroidSums(spark, cdir)) === centPre,
      "folded centroid sums must be bit-identical (integer addition)")
    assert(Paths.get(cdir, "centroids").toFile.listFiles()
      .count(_.getName.startsWith("batch=")) === 1,
      "the batch tree must fold to one compacted batch")

    val corpus = Seq(
      (1L, "alpha beta gamma alpha"), (2L, "alpha gamma beta gamma"),
      (3L, "umber vermilion woad"), (4L, "woad umber vermilion woad"))
      .toDF("doc_id", "text")
    val target = corpus.filter($"doc_id" <= 2)
    val ddir = Files.createTempDirectory("refstore-compact-dsir").toString
    RefStore.writeDsirCounts(target, corpus.filter($"doc_id" % 2 === 0), "text",
      ddir, buckets = 64)
    RefStore.mergeDsirCounts(target.limit(0), corpus.filter($"doc_id" % 2 === 1),
      "text", ddir, "b1")
    def table(df: org.apache.spark.sql.DataFrame) = df.as[(Int, Long)].collect().toMap
    val dsirPre = table(RefStore.loadDsirRatios(spark, ddir)._1)
    RefStore.compact(spark, ddir)
    assert(table(RefStore.loadDsirRatios(spark, ddir)._1) === dsirPre,
      "ratio table re-derived from folded counts must be bit-identical")
    assert(Paths.get(ddir, "dsir_counts").toFile.listFiles()
      .count(_.getName.startsWith("batch=")) === 1)
  }

  test("compact: ivf/pq/search batch trees coalesce; stored queries answer identically") {
    val rnd = new scala.util.Random(17)
    val emb = (0 until 60).map { i =>
      val base = if (i % 2 == 0) Array(1.0f, 0.0f, 0.0f, 0.0f)
        else Array(0.0f, 0.0f, 1.0f, 0.0f)
      (i.toLong, base.map(_ + rnd.nextFloat() * 0.05f))
    }.toDF("vec_id", "embedding")
    val queries = emb.filter($"vec_id" < 4)
    def arows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "rank", "neighbor_id", "sim")
        .as[(Long, Int, Long, Double)].collect().toSet
    val ivfDir = Files.createTempDirectory("refstore-compact-ivf").toString
    RefStore.writeIvf(emb.filter($"vec_id" % 2 === 0), "vec_id", "embedding", ivfDir, nlist = 4)
    RefStore.mergeIvf(emb.filter($"vec_id" % 2 === 1), "vec_id", "embedding", ivfDir, "b1")
    val ivfPre = arows(Similarity.ivfTopKStored(queries, ivfDir, "vec_id", "embedding",
      k = 5, nprobe = 4))
    RefStore.compact(spark, ivfDir, numFiles = 2)
    assert(arows(Similarity.ivfTopKStored(queries, ivfDir, "vec_id", "embedding",
      k = 5, nprobe = 4)) === ivfPre, "compacted IVF index must probe identically")
    assert(RefStore.loadIvf(spark, ivfDir)._2.count() === 60L)

    val pqDir = Files.createTempDirectory("refstore-compact-pq").toString
    RefStore.writePq(emb.filter($"vec_id" % 2 === 0), "vec_id", "embedding",
      pqDir, m = 2, nbits = 4)
    RefStore.mergePq(emb.filter($"vec_id" % 2 === 1), "vec_id", "embedding", pqDir, "b1")
    val pqPre = arows(Similarity.pqTopKStored(queries, pqDir, "vec_id", "embedding", k = 5))
    RefStore.compact(spark, pqDir, numFiles = 2)
    assert(arows(Similarity.pqTopKStored(queries, pqDir, "vec_id", "embedding", k = 5))
      === pqPre, "compacted PQ index must scan identically")

    val docs = Seq(
      (1L, "spark merge vector spark"), (2L, "vector vector merge data"),
      (3L, "spark pipeline"), (4L, "unrelated words entirely"))
      .toDF("doc_id", "text")
    val sDir = Files.createTempDirectory("refstore-compact-search").toString
    RefStore.writeSearchIndex(docs.filter($"doc_id" <= 2), "doc_id", "text", sDir)
    RefStore.mergeSearchIndex(docs.filter($"doc_id" > 2), "doc_id", "text", sDir, "b1")
    def srows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "score").as[(Long, Double)].collect().toSeq
        .sortBy(r => (-r._2, r._1))
    val searchPre = srows(Relevance.bm25TopDocsStored(spark, sDir,
      Seq("spark", "merge", "vector"), k = 10))
    RefStore.compact(spark, sDir, numFiles = 2)
    assert(srows(Relevance.bm25TopDocsStored(spark, sDir,
      Seq("spark", "merge", "vector"), k = 10)) === searchPre,
      "compacted postings must score bit-for-bit")
  }

  test("simhash store: write + merge ≡ against the union; replay-idempotent; compact preserves answers") {
    val dir = Files.createTempDirectory("refstore-simhash").toString
    RefStore.writeSimhash(batch1, "doc_id", "text", dir)
    RefStore.mergeSimhash(batch2, "doc_id", "text", dir)
    RefStore.mergeSimhash(batch2, "doc_id", "text", dir) // crashed-commit retry
    val stored = survivors(
      Dedup.simhashAgainstStored(incoming, dir, "doc_id", "text"))
    val rebuilt = survivors(
      Dedup.simhashAgainst(incoming, batch1.union(batch2), "doc_id", "text"))
    assert(stored === rebuilt, "stored signatures must reproduce the rebuild exactly")
    assert(!stored.contains(10L) && !stored.contains(11L),
      "exact dups are Hamming 0 — guaranteed caught through the store")
    assert(stored.contains(13L) && stored.contains(14L),
      "novel and NULL-text rows survive")
    RefStore.compact(spark, dir, numFiles = 2)
    assert(survivors(Dedup.simhashAgainstStored(incoming, dir, "doc_id", "text"))
      === stored, "compacted simhash store must answer identically")
    assert(partFiles(dir, "simhash_signatures").size <= 2)
  }

  test("cdc chunk store: write + merge ≡ live overlap; law mismatch fails fast; compact + fsck aware") {
    // long docs so CDC yields >= minTokens chunks; doc 20 embeds doc 10's
    // opening passage verbatim (the cross-corpus overlap CDC must catch)
    val passage = (1 to 60).map(i => s"shared$i").mkString(" ")
    val reference = Seq(
      (10L, passage + " " + (1 to 40).map(i => s"reftail$i").mkString(" ")),
      (11L, (1 to 80).map(i => s"other$i").mkString(" "))).toDF("doc_id", "text")
    val incoming = Seq(
      (20L, (1 to 10).map(i => s"head$i").mkString(" ") + " " + passage),
      (21L, (1 to 80).map(i => s"novel$i").mkString(" "))).toDF("doc_id", "text")
    val dir = Files.createTempDirectory("refstore-cdc").toString
    RefStore.writeCdcChunks(reference.filter($"doc_id" === 10L), "doc_id", "text", dir)
    RefStore.mergeCdcChunks(reference.filter($"doc_id" === 11L), "doc_id", "text", dir)
    RefStore.mergeCdcChunks(reference.filter($"doc_id" === 11L), "doc_id", "text", dir) // replay
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "n_chunks", "n_shared", "share_frac")
        .as[(Long, Long, Long, Double)].collect().toSet
    val stored = rows(Dedup.cdcOverlapStored(incoming, dir, "doc_id", "text"))
    val live = rows(Dedup.cdcChunkOverlap(incoming, reference, "doc_id", "text"))
    assert(stored === live, "persisted hash set must reproduce the live overlap exactly")
    assert(stored.map(_._1) === Set(20L), "only the passage-embedding doc overlaps")
    // qualification-law mismatch fails fast, never silently mis-joins
    val err = intercept[IllegalArgumentException] {
      RefStore.loadCdcChunks(spark, dir, requireMinTokens = Some(3))
    }
    assert(err.getMessage.contains("minTokens=5"))
    // a dir without the family fails fast
    val plain = Files.createTempDirectory("refstore-cdc-foreign").toString
    RefStore.writeExact(batch1, "text", plain, expectedItems = 100L)
    val err2 = intercept[RuntimeException] {
      RefStore.mergeCdcChunks(incoming, "doc_id", "text", plain)
    }
    assert(err2.getMessage.contains("no CDC chunk artifact"))
    // compact folds the append files; answers unchanged; fsck green
    RefStore.compact(spark, dir, numFiles = 2)
    assert(rows(Dedup.cdcOverlapStored(incoming, dir, "doc_id", "text")) === stored,
      "compacted CDC store must answer identically")
    assert(partFiles(dir, "cdc_chunks").size <= 2)
    val checks = RefStore.fsck(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getBoolean(2)).toMap
    assert(checks(("cdc", "chunk_hashes_are_md5_hex")) === true)
    // a corrupted (truncated-hex) hash row is flagged
    Seq("deadbeef").toDF("chunk_hash").write.mode("append").parquet(s"$dir/cdc_chunks")
    assert(RefStore.fsck(spark, dir)
      .collect().map(r => (r.getString(1), r.getBoolean(2))).toMap
      .apply("chunk_hashes_are_md5_hex") === false)
  }

  test("lm store: batched training ≡ whole-slice live model; retry idempotent; compact + fsck aware") {
    val train1 = Seq("the cat sat on the mat", "the dog sat on the rug").toDF("text")
    val train2 = Seq("a cat and a dog sat", "").toDF("text")
    val trainAll = train1.union(train2)
    val docs = Seq(
      (1L, "the cat sat"), (2L, "zebra quark flux"), (3L, ""),
      (4L, null.asInstanceOf[String]), (5L, "dog sat on the mat")
    ).toDF("doc_id", "text")
    val dir = Files.createTempDirectory("refstore-lm").toString
    RefStore.writeLmModel(train1, "text", dir)
    RefStore.mergeLmModel(train2, "text", dir, batchId = "b1")
    RefStore.mergeLmModel(train2, "text", dir, batchId = "b1") // crashed-commit retry
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long, Double)].collect().toSet
    val stored = rows(LangModel.bigramNllScoreStored(docs, "doc_id", "text", dir))
    val live = rows(LangModel.bigramNllScore(docs, "doc_id", "text", trainAll, "text"))
    assert(stored === live,
      "batched model counts must re-sum to the whole-slice model exactly")
    // a replayed APPEND would have doubled train2's counts — prove the
    // batch-dir overwrite kept them single by checking one known count
    val (c2, _, v) = RefStore.loadLmModel(spark, dir)
    val satOn = c2.filter($"_w1" === "sat" && $"_w2" === "on")
      .select("_c2").as[Long].collect()
    assert(satOn.toSeq === Seq(2L), s"sat->on must count 2, got ${satOn.toSeq}")
    // distinct train tokens: the cat sat on mat dog rug a and = 9
    assert(v === 9L + 1L, s"V must be distinct-vocab+1, got $v")
    // a dir without the family fails fast
    val plain = Files.createTempDirectory("refstore-lm-foreign").toString
    RefStore.writeExact(batch1, "text", plain, expectedItems = 100L)
    val err = intercept[IllegalArgumentException] {
      RefStore.mergeLmModel(train2, "text", plain, batchId = "x")
    }
    assert(err.getMessage.contains("no bigram-LM artifact"))
    // compact folds both families; answers unchanged; fsck green
    RefStore.compact(spark, dir, numFiles = 2)
    assert(rows(LangModel.bigramNllScoreStored(docs, "doc_id", "text", dir)) === stored,
      "compacted LM store must score identically")
    val checks = RefStore.fsck(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getBoolean(2)).toMap
    assert(checks(("lm", "bigram_counts_positive")) === true)
    assert(checks(("lm", "vocab_covers_bigram_words")) === true)
    // a vocab missing a bigram word (mismatched artifacts) is flagged
    val dir2 = Files.createTempDirectory("refstore-lm-bad").toString
    RefStore.writeLmModel(train1, "text", dir2)
    spark.read.parquet(s"$dir2/lm_vocab").filter($"_tk" =!= "cat")
      .write.mode("overwrite").parquet(s"$dir2/lm_vocab_tmp")
    val fsLocal = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    fsLocal.delete(new org.apache.hadoop.fs.Path(s"$dir2/lm_vocab"), true)
    fsLocal.rename(new org.apache.hadoop.fs.Path(s"$dir2/lm_vocab_tmp"),
      new org.apache.hadoop.fs.Path(s"$dir2/lm_vocab"))
    assert(RefStore.fsck(spark, dir2)
      .collect().map(r => (r.getString(1), r.getBoolean(2))).toMap
      .apply("vocab_covers_bigram_words") === false)
  }

  test("token-count store: batched baseline ≡ live pooled drift; retry idempotent; compact + fsck aware") {
    val docs = Seq(
      (1L, "a", "x y z x"), (2L, "a", "y z"),
      (3L, "b", "x x q"), (4L, "b", null.asInstanceOf[String])
    ).toDF("doc_id", "source", "text")
    val dir = Files.createTempDirectory("refstore-drift").toString
    RefStore.writeTokenCounts(docs.filter($"doc_id" <= 2), "text", dir)
    RefStore.mergeTokenCounts(docs.filter($"doc_id" > 2), "text", dir, batchId = "b1")
    RefStore.mergeTokenCounts(docs.filter($"doc_id" > 2), "text", dir, batchId = "b1") // retry
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(String, Long, Long, Double)].collect().toSet
    val stored = rows(Drift.tvDriftStored(docs, "source", "text", dir))
    val live = rows(Drift.tvDrift(docs, "source", "text"))
    assert(stored === live,
      "whole-corpus baseline must reproduce the pooled form exactly")
    // a replayed APPEND would have doubled batch b1's counts — check one
    val xCount = RefStore.loadTokenCounts(spark, dir)
      .filter($"_t" === "x").select("c_t").as[Long].collect()
    assert(xCount.toSeq === Seq(4L), s"x must count 4, got ${xCount.toSeq}")
    // a foreign-distribution batch reads exactly 1.0 against the baseline
    val foreign = Seq((9L, "new", "qq ww ee")).toDF("doc_id", "source", "text")
    val far = Drift.tvDriftStored(foreign, "source", "text", dir)
      .select("tv_drift").as[Double].head()
    assert(far === 1.0, s"disjoint batch must read TV 1.0, got $far")
    // a dir without the family fails fast
    val plain = Files.createTempDirectory("refstore-drift-foreign").toString
    RefStore.writeExact(batch1, "text", plain, expectedItems = 100L)
    val err = intercept[IllegalArgumentException] {
      RefStore.mergeTokenCounts(docs, "text", plain, batchId = "x")
    }
    assert(err.getMessage.contains("no token-count artifact"))
    // compact folds the batch tree; answers unchanged; fsck green
    RefStore.compact(spark, dir, numFiles = 2)
    assert(rows(Drift.tvDriftStored(docs, "source", "text", dir)) === stored,
      "compacted baseline must score identically")
    val checks = RefStore.fsck(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getBoolean(2)).toMap
    assert(checks(("drift", "token_counts_positive")) === true)
  }

  test("edge store: overlapping crawl batches ≡ the distinct graph; compact + fsck aware") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L)).toDF("s", "d")
    val dir = Files.createTempDirectory("refstore-edges").toString
    RefStore.writeEdges(edges.filter($"s" === 1L), "s", "d", dir)
    RefStore.mergeEdges(edges, "s", "d", dir) // overlaps the first commit
    RefStore.mergeEdges(edges, "s", "d", dir) // replay: append family, re-distincted
    def ranks(e: org.apache.spark.sql.DataFrame) =
      Graph.pageRankMicro(Graph.symmetrized(e, "src", "dst"), "src", "dst", 3)
        .as[(Long, Long)].collect().toMap
    val stored = ranks(RefStore.loadEdges(spark, dir))
    val live = ranks(edges.select($"s".as("src"), $"d".as("dst")))
    assert(stored === live,
      "ranking over the loaded union must equal the live distinct graph")
    // law gate: a foreign dir fails fast
    val plain = Files.createTempDirectory("refstore-edges-foreign").toString
    RefStore.writeExact(batch1, "text", plain, expectedItems = 100L)
    val err = intercept[IllegalArgumentException] {
      RefStore.mergeEdges(edges, "s", "d", plain)
    }
    assert(err.getMessage.contains("no edge artifact"))
    // compact folds the appended files; answers unchanged; fsck green
    RefStore.compact(spark, dir, numFiles = 2)
    assert(ranks(RefStore.loadEdges(spark, dir)) === stored)
    val checks = RefStore.fsck(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getBoolean(2)).toMap
    assert(checks(("graph", "edges_non_null_no_selfloop_law")) === true)
  }

  test("value-count store: batched histogram ≡ live two-sample KS; retry idempotent; compact + fsck aware") {
    val docs = Seq((1L, 10L), (2L, 20L), (3L, 20L), (4L, 30L), (5L, 40L))
      .toDF("doc_id", "n_chars")
    val dir = Files.createTempDirectory("refstore-values").toString
    RefStore.writeValueCounts(docs.filter($"doc_id" <= 2), "n_chars", dir)
    RefStore.mergeValueCounts(docs.filter($"doc_id" > 2), "n_chars", dir, batchId = "b1")
    RefStore.mergeValueCounts(docs.filter($"doc_id" > 2), "n_chars", dir, batchId = "b1") // retry
    // a replayed APPEND would double batch b1: value 20 must count 2
    val c20 = RefStore.loadValueCounts(spark, dir)
      .filter($"_v" === 20L).select("_c").as[Long].collect()
    assert(c20.toSeq === Seq(2L))
    val batch = Seq((9L, 10L), (10L, 20L)).toDF("doc_id", "n_chars")
    val got = Drift.ksAgainstStored(batch, "n_chars", dir).head
    // hand KS: batch {10,20} vs ref {10,20,20,30,40}: sup at v=20:
    // |2·5 − 3·2| = 4 → 4/10
    assert((got.getLong(0), got.getLong(1)) === ((2L, 5L)))
    assert(got.getDouble(2) === 0.4)
    // compact folds the batch tree; the statistic is unchanged; fsck green
    RefStore.compact(spark, dir, numFiles = 2)
    val again = Drift.ksAgainstStored(batch, "n_chars", dir).head
    assert(again.getDouble(2) === 0.4)
    val checks = RefStore.fsck(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getBoolean(2)).toMap
    assert(checks(("values", "value_counts_positive")) === true)
    // law gate
    val plain = Files.createTempDirectory("refstore-values-foreign").toString
    RefStore.writeExact(batch1, "text", plain, expectedItems = 100L)
    val err = intercept[IllegalArgumentException] {
      RefStore.mergeValueCounts(docs, "n_chars", plain, batchId = "x")
    }
    assert(err.getMessage.contains("no value-count artifact"))
  }

  test("canonical-map store: cross-batch chains close transitively to the min survivor") {
    val dir = Files.createTempDirectory("refstore-canon").toString
    // batch 1 learns B→A and D→C; batch 2 learns C→B: the chain
    // D→C→B→A only exists across batches — load must close it
    RefStore.writeCanonicalMap(
      Seq((20L, 10L), (40L, 30L)).toDF("dup", "canon"), "dup", "canon", dir)
    RefStore.mergeCanonicalMap(
      Seq((30L, 20L)).toDF("dup", "canon"), "dup", "canon", dir)
    RefStore.mergeCanonicalMap( // replay of batch 2 — append family absorbs
      Seq((30L, 20L)).toDF("dup", "canon"), "dup", "canon", dir)
    val map = RefStore.loadCanonicalMap(spark, dir)
      .as[(Long, Long)].collect().toMap
    assert(map === Map(20L -> 10L, 30L -> 10L, 40L -> 10L),
      s"transitive closure must reach the chain minimum: $map")
    // compact folds the appended pair files; the closed map is unchanged
    RefStore.compact(spark, dir, numFiles = 2)
    assert(RefStore.loadCanonicalMap(spark, dir)
      .as[(Long, Long)].collect().toMap === map)
    val checks = RefStore.fsck(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getBoolean(2)).toMap
    assert(checks(("canon", "pairs_non_null_no_selfmap")) === true)
    // law gate: a foreign dir fails fast
    val plain = Files.createTempDirectory("refstore-canon-foreign").toString
    RefStore.writeExact(batch1, "text", plain, expectedItems = 100L)
    val err = intercept[IllegalArgumentException] {
      RefStore.mergeCanonicalMap(
        Seq((1L, 2L)).toDF("dup", "canon"), "dup", "canon", plain)
    }
    assert(err.getMessage.contains("no canonical-map artifact"))
  }

  test("canonical-map closure crowns the ROOT (the absorber), never a dropped smaller id") {
    val dir = Files.createTempDirectory("refstore-canon-root").toString
    // doc 7 survived first; doc 5 (SMALLER id) arrived later as a
    // duplicate and was dropped: pair 5→7. A min-label closure would
    // invert this map (7→5, onto a document no sink holds); the root law
    // must keep 5→7
    RefStore.writeCanonicalMap(
      Seq((5L, 7L)).toDF("dup", "canon"), "dup", "canon", dir)
    val map = RefStore.loadCanonicalMap(spark, dir)
      .as[(Long, Long)].collect().toMap
    assert(map === Map(5L -> 7L),
      s"the dropped smaller id must map to the surviving absorber: $map")
    // a chain with an inverted link closes onto the chain's root too:
    // 3→9 (9 survived), then 9's content re-learned under dup 2 → 2→9
    RefStore.mergeCanonicalMap(
      Seq((3L, 9L), (2L, 9L)).toDF("dup", "canon"), "dup", "canon", dir)
    val map2 = RefStore.loadCanonicalMap(spark, dir)
      .as[(Long, Long)].collect().toMap
    assert(map2 === Map(5L -> 7L, 3L -> 9L, 2L -> 9L))
    // degenerate cycle (hand-written parquet, no root): min member wins
    RefStore.mergeCanonicalMap(
      Seq((100L, 101L), (101L, 100L)).toDF("dup", "canon"), "dup", "canon", dir)
    val map3 = RefStore.loadCanonicalMap(spark, dir)
      .as[(Long, Long)].collect().toMap
    assert(map3(101L) === 100L && !map3.contains(100L))
  }

  test("simhash store: merge into a dir that never saw writeSimhash fails fast") {
    val dir = Files.createTempDirectory("refstore-simhash-foreign").toString
    RefStore.writeExact(batch1, "text", dir, expectedItems = 1000L)
    val err = intercept[IllegalArgumentException] {
      RefStore.mergeSimhash(batch2, "doc_id", "text", dir)
    }
    assert(err.getMessage.contains("no simhash artifact"))
  }

  test("compact: a swap interrupted between delete and rename recovers on the next load") {
    val dir = Files.createTempDirectory("refstore-compact-crash").toString
    RefStore.writeExact(batch1.union(batch2), "text", dir, expectedItems = 1000L)
    val pre = survivors(Dedup.exactAgainstBloomStored(incoming, dir, "doc_id", "text"))
    // simulate the crash window: the completed, marked tmp exists and the
    // live artifact is already gone
    val live = Paths.get(dir, "fingerprints")
    val tmp = Paths.get(dir, ".fingerprints.compact")
    Files.move(live, tmp)
    Files.createFile(tmp.resolve("_COMPACT_DONE"))
    assert(!Files.exists(live))
    assert(survivors(Dedup.exactAgainstBloomStored(incoming, dir, "doc_id", "text")) === pre,
      "the load must promote the marked tmp and answer identically")
    assert(Files.exists(live) && !Files.exists(tmp),
      "recovery must leave a normal live artifact behind")
    assert(!Files.exists(live.resolve("_COMPACT_DONE")))
  }

  test("retention: an unmarked compact tmp (crash before the marker) is GC'd by the next mutation") {
    val dir = Files.createTempDirectory("refstore-tmpgc").toString
    RefStore.writeExact(batch1, "text", dir, expectedItems = 1000L)
    // the signatures family must LIVE for the marked-tmp leg below — a
    // marked tmp with no live artifact is a mid-swap crash that recovery
    // legitimately promotes, not garbage
    RefStore.writeMinhash(batch1, "doc_id", "text", dir)
    // a compact crashed mid-write: unmarked tmp beside the live artifact
    val stale = Paths.get(dir, ".fingerprints.compact")
    Files.createDirectories(stale)
    Files.write(stale.resolve("part-junk.parquet"), Array[Byte](1, 2, 3))
    RefStore.mergeExact(batch2, "text", dir)
    assert(!Files.exists(stale),
      "the next mutation must GC the dead tmp (no compactor can be live under our lease)")
    assert(survivors(Dedup.exactAgainstBloomStored(incoming, dir, "doc_id", "text"))
      === Set(12L, 13L, 14L), "GC must not affect answers")
    // a MARKED tmp is NOT gc'd when live exists (a pending swap; the next
    // compact of that family resolves it)
    val marked = Paths.get(dir, ".signatures.compact")
    Files.createDirectories(marked)
    Files.createFile(marked.resolve("_COMPACT_DONE"))
    RefStore.mergeExact(batch2, "text", dir)
    assert(Files.exists(marked), "a marked pending swap must not be GC'd as garbage")
  }

  test("write lease: a second writer fails fast with the holder named; breakLease reopens") {
    val dir = Files.createTempDirectory("refstore-lease").toString
    RefStore.writeExact(batch1, "text", dir, expectedItems = 1000L)
    Files.write(Paths.get(dir, "_LEASE"),
      "dead-writer@elsewhere/thread-7".getBytes("UTF-8"))
    val err = intercept[IllegalStateException] {
      RefStore.mergeExact(batch2, "text", dir)
    }
    assert(err.getMessage.contains("write-leased") &&
      err.getMessage.contains("dead-writer@elsewhere"))
    val err2 = intercept[IllegalStateException] {
      RefStore.compact(spark, dir)
    }
    assert(err2.getMessage.contains("write-leased"))
    RefStore.breakLease(spark, dir)
    RefStore.mergeExact(batch2, "text", dir) // the retry after the break
    assert(survivors(Dedup.exactAgainstBloomStored(incoming, dir, "doc_id", "text"))
      === Set(12L, 13L, 14L))
    assert(!Files.exists(Paths.get(dir, "_LEASE")),
      "a completed merge must release its lease")
  }
}
