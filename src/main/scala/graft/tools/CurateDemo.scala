package graft.tools

import org.apache.spark.sql.functions._

import graft.functions.TextFns
import graft.ops.{Clusters, Contamination, Dedup, Mixture, Packing, Sampling, Scrub, Splits, TrainExport, Vocab}

/** End-to-end training-data curation demo: the extension operators composed
  * the way a real corpus pipeline chains them —
  *
  *   quality filter → PII scrub → exact dedup → near-dup clustering →
  *   survivor selection → contamination check → SEMANTIC decontamination
  *   (embedding-space, Similarity.embedAgainst) → tokenizer pair counts →
  *   fixed-k eval carve → sequence packing → mixture upsampling →
  *   train/val/test split → shuffle-shards → JSONL export
  *
  * Every stage is an operator the correctness gate oracles individually;
  * this tool demonstrates (and smoke-checks) that they compose on a real
  * table without collecting anything unbounded to the driver.
  *
  * Usage: `sbt "runMain graft.tools.CurateDemo [sfDir]"`.
  */
object CurateDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = graft.LocalSpark()
    import spark.implicits._

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val total = docs.count()
    println(s"=== corpus: $total docs ===")

    // 1. quality gate: ONE mapPartitions pass computes the composite score
    // AND the Gopher-rule repetition/shape signals; filter on both
    val scored = docs.select($"doc_id".cast("long").as("doc_id"), $"text")
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        val s = TextFns.statsScala(text)
        val g = TextFns.gopherScala(text)
        (id, text, s.nTokens, s.quality,
          g.dupLineFrac, g.top2CharFrac, g.alphaWordFrac, g.gopherPass)
      })
      .toDF("doc_id", "text", "n_tokens", "quality",
        "dup_line_frac", "top2_char_frac", "alpha_word_frac", "gopher_pass")
    // checkpoint the SCORED frame (one scoring pass total), derive both
    // the gate and the full-battery count from the materialized columns
    val scoredCk = scored.localCheckpoint()
    val fullPass = scoredCk.filter($"gopher_pass").count()
    val quality = scoredCk.filter($"quality" >= 0.5 && $"n_tokens".between(20, 1000) &&
        $"dup_line_frac" <= 0.3 && $"top2_char_frac" <= 0.2 &&
        $"alpha_word_frac" >= 0.8)
      .drop("dup_line_frac", "top2_char_frac", "alpha_word_frac", "gopher_pass")
    println(s"=== quality gate: ${quality.count()} of $total pass " +
      s"(composite + gopher repetition rules; $fullPass pass the full gopher battery) ===")

    // 2. PII scrub (narrow, codegen'd regexps)
    val scrubbed = quality.withColumn("text", Scrub.maskPii($"text"))

    // 3. exact dedup: keep one survivor per content fingerprint — the cheap
    // pass that shrinks the corpus BEFORE the quadratic-ish near-dup stage
    val exact = Dedup.exact(scrubbed, "doc_id", "text")
    val exactSurvivors = scrubbed.join(
      exact.select($"survivor_id".as("doc_id")), Seq("doc_id"), "left_semi")
      .localCheckpoint()
    println(s"=== exact dedup: ${exactSurvivors.count()} of ${quality.count()} survive ===")

    // 4. near-dup pairs → components → keep the longest doc per cluster
    val pairs = Dedup.ngramJaccardPairs(exactSurvivors, "doc_id", "text",
      shingleSize = 3, threshold = 0.8)
    val clusters = Clusters.dedupClusters(pairs)
    val nClusters = clusters.select(countDistinct($"cluster_id")).head.getLong(0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"cluster_id").orderBy($"n_tokens".desc, $"doc_id")
    val dropped = clusters
      .join(quality.select($"doc_id", $"n_tokens"), "doc_id")
      .withColumn("_rk", row_number().over(w))
      .filter($"_rk" > 1) // everyone but the per-cluster survivor
      .select("doc_id")
    val deduped = exactSurvivors.join(dropped, Seq("doc_id"), "left_anti")
    println(s"=== near-dup: ${clusters.count()} docs in $nClusters clusters; " +
      s"${deduped.count()} survive ===")

    // 5. decontamination vs a held-out benchmark slice: the benchmark docs
    // themselves NEVER enter the training output (that's the whole point),
    // and remaining docs sharing a 5-gram with them are dropped too
    val candidates = deduped.filter($"doc_id" % 10 =!= 0)
    val contaminated = Contamination.check(
      candidates,
      docs.filter($"doc_id" % 10 === 0),
      "doc_id", "text", n = 5)
      .filter($"contaminated")
    println(s"=== contamination: ${contaminated.count()} flagged vs benchmark ===")

    val cleanText = candidates.join(contaminated.select("doc_id"), Seq("doc_id"), "left_anti")

    // 5a. SEMANTIC decontamination: embedding-space leakage the 5-gram
    // check can't see (paraphrases / restatements of benchmark items) —
    // incoming embeddings vs the benchmark rows' embeddings, blocked by
    // label, survivors kept (Similarity.embedAgainst)
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val incEmb = emb.join(cleanText.select($"doc_id".as("vec_id")), Seq("vec_id"), "left_semi")
    val refEmb = emb.filter($"vec_id" % 10 === 0)
    val semKept = graft.ops.Similarity.embedAgainst(
      incEmb, refEmb, "vec_id", "embedding", "label", threshold = 0.35)
    val clean = cleanText.join(
      semKept.select($"vec_id".as("doc_id")), Seq("doc_id"), "left_semi")
    println(s"=== semantic decontamination: ${cleanText.count() - clean.count()} " +
      s"dropped by embedding similarity ===")

    // 5b. tokenizer prep: the corpus adjacent-pair table (BPE merge
    // selection reads the head of this)
    val topPairs = Vocab.topPairCounts(clean, "text", k = 5)
      .collect().map(r => s"'${r.getString(0)}'x${r.getLong(1)}").mkString(", ")
    println(s"=== top adjacent token pairs: $topPairs ===")

    // 5c. deterministic fixed-size eval carve per language — held out of
    // every training artifact below
    val withLang = clean.join(docs.select($"doc_id", $"lang"), "doc_id")
    val evalSet = Sampling.fixedKPerStratum(withLang, "doc_id", "lang", k = 25)
    val trainPool = withLang.join(evalSet.select("doc_id"), Seq("doc_id"), "left_anti")
    println(s"=== eval carve: ${evalSet.count()} eval docs held out; " +
      s"${trainPool.count()} remain ===")

    // 5d. diverse few-shot exemplars: for each eval doc, the 4 most
    // relevant-but-mutually-diverse train-pool neighbors — MMR over a
    // bounded ANN candidate pool (the context-building selection step;
    // pure relevance would fill the context with near-duplicates)
    val emb2 = emb.join(trainPool.select($"doc_id".as("vec_id")), Seq("vec_id"), "left_semi")
    val evalEmb = emb.join(evalSet.select($"doc_id".as("vec_id")), Seq("vec_id"), "left_semi")
    val exemplars = graft.ops.Similarity.mmrRerank(
      graft.ops.Similarity.bruteForceTopK(emb2, evalEmb, "vec_id", "embedding", k = 12),
      emb2, "vec_id", "embedding", k = 4, lambda = 0.5)
    println(s"=== few-shot exemplars: ${exemplars.count()} rows for " +
      s"${evalEmb.count()} embedded eval docs (MMR top-4 of 12 candidates) ===")

    // 6. pack into 512-token training sequences (16 parallel ranges) —
    // from trainPool, NOT clean: the eval carve must stay out of every
    // training artifact, packs included
    val packed = Packing.packGreedy(trainPool, "doc_id", $"n_tokens", budget = 512,
      pmod(hash($"doc_id"), lit(16)), nRanges = 16)
    val stats = Packing.packStats(packed, budget = 512)
      .agg(count(lit(1)), avg($"utilization"), max($"n_docs")).head()
    println(f"=== packing: ${stats.getLong(0)}%d packs, mean utilization ${stats.getDouble(1)}%.2f, " +
      f"max docs/pack ${stats.getLong(2)}%d ===")

    // 7. rebalance the language mixture (tail langs repeat, cap 2 epochs),
    // split train/val/test by id hash, lay out the deterministic training
    // order, and hand off as partitioned JSONL
    val mix = Mixture.upsampleEpochs(trainPool, "lang", maxEpochs = 2)
    val split = Splits.withSplit(mix, "doc_id")
    // (doc_id, epoch) is the unique row key post-upsampling: epoch joins the
    // shuffle fingerprint so positions stay deterministic and epoch copies
    // scatter across the order
    val sharded = Splits.shuffleShards(split, "doc_id", nShards = 4,
      keyCols = Seq("epoch"))
    val outDir = java.nio.file.Files.createTempDirectory("graft-export").toString
    TrainExport.writeJsonl(
      sharded.select($"doc_id", $"lang", $"epoch", $"split", $"shard", $"pos"),
      outDir, partitionBy = Seq("split", "shard"))
    // read the partition dir directly (no glob): the glob form makes
    // FileStreamSink's metadata probe log a harmless-but-alarming
    // FileNotFoundException stack into the demo output
    val exported = spark.read.json(s"$outDir/split=train")
    println(s"=== export: ${exported.count()} train rows across " +
      s"${sharded.select($"shard").distinct().count()} shards → $outDir ===")

    // 8. the same training order as WebDataset tar shards (the multimodal
    // loader handoff): text + metadata members per sample, key carries the
    // deterministic position so a sequential read IS the training order
    val tarDir = java.nio.file.Files.createTempDirectory("graft-tar").toString
    val samples = sharded.filter($"split" === "train")
      .select($"shard", format_string("%08d-%d", $"pos", $"epoch").as("key"),
        coalesce($"text", lit("")).as("text"), // the SCRUBBED text ships
        to_json(struct($"doc_id", $"lang", $"epoch", $"pos")).as("meta"))
    val manifest = TrainExport.writeTarShards(samples, tarDir, "shard", "key",
      Seq("text" -> "txt", "meta" -> "json"))
    val m = manifest.agg(count(lit(1)), sum($"n_samples"), sum($"n_bytes")).head()
    println(s"=== tar export: ${m.getLong(0)} shards, ${m.getLong(1)} samples, " +
      s"${m.getLong(2)} bytes → $tarDir ===")
    println("=== curation pipeline complete ===")
    spark.stop()
  }
}
