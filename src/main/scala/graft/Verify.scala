package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Recursive delete — shared by the floor-gate output removals and the
    * stored-gate temp-store cleanup.
    */
  private def rm(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
  }

  /** JSON string escape for oracle_sql.json: backslash, quote, and ALL
    * control chars (<0x20) — a tab or CR in builder-authored SQL would
    * otherwise make the driver's json.load fail and silently zero the
    * round's correctness. Shared with [[graft.tools.OneQuery]] so the two
    * dumps can never drift.
    */
  private[graft] def jsonEscape(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Digest of the ENGINE BINARY this dump runs (r12 verdict task 1): the
    * r12 driver artifact recorded a q_adamic_adar rows-match/hash-FAIL that
    * did not reproduce on a clean build — the signature of an engine/oracle
    * version skew (a stale incremental build's engine classes against a
    * freshly dumped oracle_sql.json, or two Verify runs' artifacts mixed).
    * The dump and the oracle come from ONE JVM, so the skew can only enter
    * through WHICH classes that JVM loaded; hashing every graft `.class`
    * file on the live classpath (sorted by relative path, bytes + names)
    * pins exactly that. Two dumps that disagree under EQUAL fingerprints
    * are a real law divergence; unequal fingerprints name the stale build.
    * Returns (sha256-hex, class-file count, newest class mtime ISO-8601).
    */
  private[graft] def buildFingerprint(): (String, Int, String, String) = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(
      SparkEntry.getClass.getProtectionDomain.getCodeSource.getLocation.toURI)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    var n = 0
    var newest = 0L
    def feed(rel: String, p: java.nio.file.Path): Unit = {
      md.update(rel.getBytes("UTF-8"))
      md.update(Files.readAllBytes(p))
      n += 1
      newest = math.max(newest, Files.getLastModifiedTime(p).toMillis)
    }
    if (Files.isDirectory(root)) {
      val s = Files.walk(root)
      try s.iterator().asScala
        .filter(p => p.toString.endsWith(".class"))
        .map(p => (root.relativize(p).toString, p)).toSeq
        .sortBy(_._1)
        .foreach { case (rel, p) => feed(rel, p) }
      finally s.close()
    } else {
      // packaged-jar deployment (sbt runMain runs from a freshly-built
      // temp jar): hash the CLASS ENTRIES, sorted by name — hashing the
      // jar file whole would fold in zip timestamps and make two
      // packagings of IDENTICAL classes fingerprint differently (a false
      // "skew" on every run); newest-mtime falls back to the jar's own.
      val jar = new java.util.jar.JarFile(root.toFile)
      try jar.entries().asScala.toSeq
        .filter(e => !e.isDirectory && e.getName.endsWith(".class"))
        .sortBy(_.getName)
        .foreach { e =>
          md.update(e.getName.getBytes("UTF-8"))
          val in = jar.getInputStream(e)
          try md.update(in.readAllBytes()) finally in.close()
          n += 1
        }
      finally jar.close()
      newest = Files.getLastModifiedTime(root).toMillis
    }
    val hex = md.digest().map(b => f"$b%02x").mkString
    (hex, n, java.time.Instant.ofEpochMilli(newest).toString, root.toString)
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = LocalSpark()
    new java.io.File(outDir).mkdirs()
    // fingerprint FIRST, before any query runs: a crashed dump still
    // records which engine produced whatever landed
    try {
      val (fp, nClasses, newestMtime, root) = buildFingerprint()
      System.err.println(s"[verify] build fingerprint sha256=$fp " +
        s"classes=$nClasses newest=$newestMtime root=$root")
      Files.writeString(Paths.get(s"$outDir/build_fingerprint.json"),
        s"""{"classes_sha256":"$fp","n_class_files":$nClasses,""" +
          s""""newest_class_mtime":"$newestMtime",""" +
          s""""classpath_root":${jsonEscape(root)}}""")
    } catch { case e: Throwable =>
      System.err.println(s"[verify] build fingerprint failed: ${e.getMessage}")
    }
    SparkEntry.queries.foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        // HASH-PORTABILITY GATE at the dump boundary (defense in depth
        // beside EntrySpec and check_verify.py's cross-reader hash): the
        // driver's comparator reads this parquet with a DIFFERENT reader
        // than the oracle result, and non-primitive types render
        // divergently (a DECIMAL output caused the r12/r13 q_adamic_adar
        // / q_triangle_count hash mismatches). Refuse to dump rather
        // than hand the driver a file that hashes wrong.
        import org.apache.spark.sql.types._
        val bad = df.schema.fields.filterNot(_.dataType match {
          case _: ByteType | _: ShortType | _: IntegerType | _: LongType |
               _: DoubleType | _: FloatType | _: StringType |
               _: BooleanType | _: DateType | _: TimestampType => true
          case _ => false
        })
        require(bad.isEmpty, "non-hash-portable output columns: " +
          bad.map(f => s"${f.name}: ${f.dataType.simpleString}")
            .mkString(", "))
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // ANN recall floors ARE part of the correctness gate: the approximate
    // paths (q_ann_lsh / q_ann_ivf) have no SQL oracle, so a recall
    // regression would otherwise only surface in an artifact nobody diffs.
    // Recompute the exact top-k here and delete any approximate output
    // below its floor — the driver then records the query as failed.
    // Floors are a RATCHET pinned 0.10 under the deterministic (seeded)
    // values this very gate measures at sf0.01 — lsh 0.700, ivf 0.700,
    // pq 1.000, ivf_store 0.700, pq_store 1.000; the ivf_store nprobe
    // sweep is documented at Similarity.scala's ivfTopKStored. A floor
    // looser than 0.15 under measured would let a real recall regression
    // hide inside the slack.
    try {
      import org.apache.spark.sql.functions.col
      val corpus = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val truth = graft.ops.Similarity.bruteForceTopK(
          corpus, corpus.filter(col("vec_id") < 5), "vec_id", "embedding", 10)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      Seq("q_ann_lsh" -> 0.6, "q_ann_ivf" -> 0.6, "q_ann_pq" -> 0.9,
          "q_ann_ivf_store" -> 0.6, "q_ann_pq_store" -> 0.9)
        .foreach { case (name, floor) =>
          // per-query try: one missing/broken output must not skip the
          // remaining floors
          try {
            val got = spark.read.parquet(s"$outDir/$name")
              .select(col("query_id").cast("long"), col("neighbor_id").cast("long"))
              .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
            val recall =
              if (truth.isEmpty) 0.0
              else truth.intersect(got).size.toDouble / truth.size
            System.err.println(f"[verify] $name recall@10 = $recall%.3f (floor $floor)")
            if (recall < floor) {
              System.err.println(s"[verify] $name FAILED recall floor — removing output")
              rm(new java.io.File(s"$outDir/$name"))
            }
          } catch { case e: Throwable =>
            System.err.println(s"[verify] $name recall check failed: ${e.getMessage}")
          }
        }
    } catch { case e: Throwable =>
      System.err.println(s"[verify] ann recall check failed: ${e.getMessage}")
    }
    // IVF EXACT restricted-brute-force gate (r11 verdict task 5): the IVF
    // output's structural contract is stronger than a recall floor —
    // given the trained quantizer, the output must equal EXACTLY the
    // brute-force cosine top-k restricted to each query's probed cells
    // (the PQ exact-rerank posture applied to IVF). The truth side here
    // is a STRAIGHT-LINE driver implementation (no joins, no windows, no
    // dedup) over the same centroids, so the whole Spark plumbing —
    // probe-cell explode, broadcast candidate join, dedup, rank window —
    // is checked for set equality of (query_id, neighbor_id, rk), not
    // merely overlap. Determinism of the quantizer across the dump and
    // this gate: trainIvfCentroids is seeded (takeSample seed=42,
    // kmeans++ seed=42) AND per-plan cached, and both runs live in this
    // one JVM/session. The 0.6 recall floor above stays as the secondary
    // gate.
    try {
      import org.apache.spark.sql.functions.col
      val S = graft.ops.Similarity
      val corpus = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val rows: Array[(Long, Array[Float])] = corpus
        .select(col("vec_id").cast("long"), col("embedding"))
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      val queries = rows.filter(_._1 < 5)
      // truth restricted to probed cells, straight-line driver math
      def restrictedTruth(cellOf: Map[Long, Int],
          centroids: Array[(Int, Array[Double])], nprobe: Int,
          k: Int): Set[(Long, Long, Long)] =
        queries.flatMap { case (qid, qv) =>
          val probed = S.nearestCells(centroids, qv, nprobe).toSet
          rows.iterator
            .filter { case (nid, _) =>
              nid != qid && cellOf.get(nid).exists(probed.contains) }
            .map { case (nid, nv) => (nid, S.cosineScala(qv, nv)) }
            .toArray
            .sortBy { case (nid, sim) => (-sim, nid) }
            .take(k).zipWithIndex
            .map { case ((nid, _), i) => (qid, nid, (i + 1).toLong) }
        }.toSet
      def gate(name: String, truth: Set[(Long, Long, Long)]): Unit = try {
        val got = spark.read.parquet(s"$outDir/$name")
          .select(col("query_id").cast("long"), col("neighbor_id").cast("long"),
            col("rk").cast("long"))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        val ok = got == truth
        System.err.println(s"[verify] $name restricted-brute-force equality: " +
          s"${if (ok) "EXACT" else s"MISMATCH (got ${got.size}, truth ${truth.size}, " +
            s"missing ${(truth -- got).size}, extra ${(got -- truth).size})"}")
        if (!ok) {
          System.err.println(s"[verify] $name FAILED restricted-BF equality — removing output")
          rm(new java.io.File(s"$outDir/$name"))
        }
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name restricted-BF check failed: ${e.getMessage}")
      }
      // live leg: same trained quantizer as qAnnIvf (per-plan cache/seed),
      // corpus-side cells recomputed straight-line on the driver
      val liveCentroids = S.trainIvfCentroids(corpus, "embedding", 16, 100000)
      val liveCells = rows.map { case (id, v) =>
        id -> S.nearestCells(liveCentroids, v, 1).head }.toMap
      gate("q_ann_ivf", restrictedTruth(liveCells, liveCentroids, nprobe = 4, k = 10))
      // stored leg: rebuild the registry's exact store construction
      // (train-on-even write + odd merge — deterministic, see above) and
      // take the cells from the PERSISTED assignment the query path reads
      val store = Files.createTempDirectory("verify-ivfstore").toString
      try {
        graft.ops.RefStore.writeIvf(
          corpus.filter(col("vec_id") % 2 === 0), "vec_id", "embedding", store)
        graft.ops.RefStore.mergeIvf(
          corpus.filter(col("vec_id") % 2 === 1), "vec_id", "embedding", store,
          batchId = "b1")
        val (storedCentroids, assigned) = graft.ops.RefStore.loadIvf(spark, store)
        val storedCells = assigned.select(col("neighbor_id").cast("long"), col("cell"))
          .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
        gate("q_ann_ivf_store",
          restrictedTruth(storedCells, storedCentroids, nprobe = 8, k = 10))
      } finally rm(new java.io.File(store))
    } catch { case e: Throwable =>
      System.err.println(s"[verify] ivf restricted-BF gate failed: ${e.getMessage}")
    }
    // SimHash planted-recall gate — the remaining rows-only output with no
    // driver-visible regression check. Identical texts yield identical
    // 64-bit signatures, so every planted exact-duplicate pair is
    // GUARANTEED catchable (Hamming 0, all four pigeonhole chunks match):
    // required recall is exactly 1.0, and anything less is a real
    // signature/banding/verify regression, not sampling noise. Planted
    // pairs get pair-unique content so bucket caps cannot sample them away.
    try {
      import spark.implicits._
      val filler = (0 until 2000).map(i =>
        (i.toLong, s"unique filler document number $i carrying variety ${i * 37}"))
      val planted = (0 until 50).flatMap { p =>
        val text = s"planted duplicate pair $p sharing identical content ${p * 101}"
        Seq((10000L + p, text), (20000L + p, text))
      }
      val docs = (filler ++ planted).toDF("doc_id", "text")
      val got = graft.ops.Dedup.simhashPairs(docs, "doc_id", "text")
        .select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val expect = (0 until 50).map(p => (10000L + p, 20000L + p)).toSet
      val recall = expect.intersect(got).size.toDouble / expect.size
      System.err.println(f"[verify] q_simhash_neardup planted recall = $recall%.3f (floor 1.0)")
      if (recall < 1.0) {
        System.err.println("[verify] q_simhash_neardup FAILED planted floor — removing output")
        rm(new java.io.File(s"$outDir/q_simhash_neardup"))
      }
    } catch { case e: Throwable =>
      System.err.println(s"[verify] simhash planted check failed: ${e.getMessage}")
    }
    // Same guaranteed-catchable law through the STORED path: reference
    // copies of the planted texts commit to a RefStore simhash artifact
    // (write + merge, both legs exercised), and every incoming twin MUST
    // be screened out by the loaded signatures — identical text, Hamming
    // 0. A survivor means the store lost/garbled a signature row or the
    // against-join broke; floor 1.0, same posture as the live gate.
    try {
      import spark.implicits._
      val refDocs = ((0 until 2000).map(i =>
        (i.toLong, s"stored filler document number $i carrying variety ${i * 37}")) ++
        (0 until 50).map(p =>
          (10000L + p, s"stored planted pair $p sharing identical content ${p * 101}")))
        .toDF("doc_id", "text")
      val incoming = ((0 until 50).map(p =>
        (20000L + p, s"stored planted pair $p sharing identical content ${p * 101}")) ++
        (0 until 50).map(p =>
          (30000L + p, s"genuinely novel incoming document $p with content ${p * 997}")))
        .toDF("doc_id", "text")
      val store = Files.createTempDirectory("verify-shstore").toString
      try {
      graft.ops.RefStore.writeSimhash(
        refDocs.filter($"doc_id" < 1000 || $"doc_id" >= 10000), "doc_id", "text", store)
      graft.ops.RefStore.mergeSimhash(
        refDocs.filter($"doc_id" >= 1000 && $"doc_id" < 10000), "doc_id", "text", store)
      val survivors = graft.ops.Dedup.simhashAgainstStored(
          incoming, store, "doc_id", "text")
        .select("doc_id").as[Long].collect().toSet
      val caught = (0 until 50).count(p => !survivors.contains(20000L + p))
      val recall = caught.toDouble / 50
      System.err.println(f"[verify] q_simhash_store planted recall = $recall%.3f (floor 1.0)")
      if (recall < 1.0) {
        System.err.println("[verify] q_simhash_store FAILED planted floor — removing output")
        rm(new java.io.File(s"$outDir/q_simhash_store"))
      }
      } finally rm(new java.io.File(store)) // a leaked parquet tree per run otherwise
    } catch { case e: Throwable =>
      System.err.println(s"[verify] stored simhash planted check failed: ${e.getMessage}")
    }
    // Compression-ratio gate: the deflate law is a zlib-implementation
    // constant (rows-only query), so its REGRESSION check is the ordering
    // invariant the signal exists for — looped/templated text must
    // compress far below token-diverse text of the same length. Driver-
    // side strings, no Spark job; a violated ordering means the deflate
    // plumbing broke (wrong charset, truncated buffer, level drift) and
    // the output is removed so the driver records the failure.
    // THREE-point monotonicity with margins (r10 verdict task 7): the
    // byte count is a zlib constant, but the ratio ORDERING across a
    // looped / word-diverse / random-char triple is the signal the
    // operator exists for. Margins are a ratchet pinned well under the
    // measured values (repetitive ≈0.012, diverse ≈0.47, random ≈0.77
    // at these lengths): a charset bug, truncated buffer, or level
    // drift collapses at least one gap far past these bounds.
    try {
      val rep = ("spam spam spam " * 200).trim
      val div = (0 until 200).map(i => s"w${i}x${i * 7}").mkString(" ")
      val rnd = { // xorshift-seeded printable chars: near-incompressible
        var s = 0x9E3779B9L
        (0 until 3000).map { _ =>
          s ^= s << 13; s ^= s >>> 7; s ^= s << 17
          (33 + (math.abs(s) % 94)).toChar
        }.mkString
      }
      val (_, _, repRatio) = graft.functions.TextFns.deflateScala(rep)
      val (_, _, divRatio) = graft.functions.TextFns.deflateScala(div)
      val (_, _, rndRatio) = graft.functions.TextFns.deflateScala(rnd)
      System.err.println(f"[verify] q_compress_ratio planted: repetitive " +
        f"$repRatio%.3f < diverse $divRatio%.3f < random $rndRatio%.3f " +
        "(need rep < 0.5*div AND div < 0.8*rand)")
      if (!(repRatio < 0.5 * divRatio && divRatio < 0.8 * rndRatio)) {
        System.err.println("[verify] q_compress_ratio FAILED planted ordering — removing output")
        rm(new java.io.File(s"$outDir/q_compress_ratio"))
      }
    } catch { case e: Throwable =>
      System.err.println(s"[verify] compress-ratio check failed: ${e.getMessage}")
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonEscape(k)}: ${jsonEscape(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
