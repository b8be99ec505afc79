package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Dedup

/** Scale probe for the Bloom-prefiltered cross-corpus dedup: a large
  * reference corpus, a batch with a known dup rate, and three questions —
  *
  *   1. does the composition stay EXACTLY equal to the plain anti-join at
  *      a size where the bloom actually matters (no fixture-scale alibi)?
  *   2. how much of the batch does the prefilter keep out of the exchange
  *      (the 100 TB claim — expected ≈ 1 - dup_rate - fpp)?
  *   3. what do the bloom build + probe cost next to the plain anti-join?
  *
  * `sbt "runMain graft.tools.BloomScale [refRows] [batchRows] [dupEvery]"`
  * (dupEvery = every Nth batch row duplicates reference content, so the
  * dup rate is 1/dupEvery — 10 → 10%.)
  */
object BloomScale {

  private def docs(spark: SparkSession, n: Long, salt: String,
      dupEvery: Int): DataFrame =
    spark.range(n).select(col("id").as("doc_id"),
      // every dupEvery-th doc draws from a shared 1000-value content pool
      // (mod keeps the key integral — id/7 would render distinct doubles);
      // the rest carry salted unique text
      when(col("id") % dupEvery === 0,
        concat(lit("shared content "), (col("id") % 1000).cast("string")))
        .otherwise(concat(lit(s"unique $salt "), col("id").cast("string")))
        .as("text"))

  def main(args: Array[String]): Unit = {
    val refRows = args.headOption.map(_.toLong).getOrElse(2000000L)
    val batchRows = args.lift(1).map(_.toLong).getOrElse(200000L)
    val dupEvery = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = graft.LocalSpark()

    val reference = docs(spark, refRows, "ref", 7).cache()
    val incoming = docs(spark, batchRows, "batch", dupEvery).cache()
    reference.count(); incoming.count()

    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }
    val (plainCount, tPlain) = timed(
      Dedup.exactAgainst(incoming, reference, "doc_id", "text").count())
    val (bloomCount, tBloom) = timed(
      Dedup.exactAgainstBloom(incoming, reference, "doc_id", "text",
        expectedItems = refRows).count())
    require(plainCount == bloomCount,
      s"EQUIVALENCE BROKEN: plain=$plainCount bloom=$bloomCount")

    // the incremental-ingest leg: commit the reference ONCE into a RefStore,
    // then probe as batch N+1 — the stored path must (a) still equal the
    // plain anti-join and (b) cost build-free probe time, because it reads
    // the persisted bloom + fingerprint parquet instead of re-scanning and
    // re-hashing the reference corpus per batch
    val storeDir = java.nio.file.Files.createTempDirectory("bloomscale-store")
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(storeDir.toFile)
    }))
    val store = storeDir.toString
    val (_, tCommit) = timed(
      graft.ops.RefStore.writeExact(reference, "text", store,
        expectedItems = refRows))
    val (storedCount, tStored) = timed(
      Dedup.exactAgainstBloomStored(incoming, store, "doc_id", "text").count())
    require(storedCount == plainCount,
      s"STORED-PATH EQUIVALENCE BROKEN: plain=$plainCount stored=$storedCount")

    // prefilter effectiveness: how many batch rows even reach the join
    val fp = graft.functions.TextFns.fingerprintMd5(col("text"))
    val refFp = reference.select(fp.as("_rh")).filter(col("_rh").isNotNull)
    val bloom = refFp.stat.bloomFilter("_rh", refRows, 0.01)
    val bc = spark.sparkContext.broadcast(bloom)
    val might = udf((h: String) => h != null && bc.value.mightContainString(h))
    val hits = incoming.withColumn("_ih", fp).filter(might(col("_ih"))).count()
    println(f"=== bloom-scale: ref=$refRows batch=$batchRows survivors=$bloomCount " +
      f"(== plain anti-join) ===")
    println(f"=== prefilter: $hits of $batchRows rows (${hits * 100.0 / batchRows}%.1f%%) " +
      f"reach the exchange; bloom ${bloom.bitSize() / 8 / 1024 / 1024} MiB ===")
    println(f"=== wall: plain ${tPlain}%.2f s, bloom path ${tBloom}%.2f s ===")
    println(f"=== refstore: one-time commit ${tCommit}%.2f s; batch-N+1 stored " +
      f"probe ${tStored}%.2f s (== plain anti-join, no reference scan) ===")

    // the operability leg: months of micro-batch merges fragment the store
    // (one appended parquet file set each) and outgrow the bloom's one-time
    // sizing. compact() must fold the file count back to a bounded set and
    // re-size the bloom from the true fingerprint count — with ZERO
    // observable answer change and probe time flat (the fragmented store
    // pays file-listing + many-file scan on every load)
    val merges = 24
    val mergeRows = 50000L
    val (_, tMerges) = timed((0 until merges).foreach { i =>
      graft.ops.RefStore.mergeExact(
        docs(spark, mergeRows, s"merge$i", 7), "text", store)
    })
    def fileCount(): Int = {
      def walk(f: java.io.File): Int =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(walk).sum
        else if (f.getName.startsWith("part-")) 1 else 0
      walk(storeDir.resolve("fingerprints").toFile)
    }
    def expectedItemsMeta(): Long = {
      val p = new java.util.Properties()
      val in = java.nio.file.Files.newInputStream(storeDir.resolve("meta.properties"))
      try p.load(in) finally in.close()
      p.getProperty("expectedItems").toLong
    }
    val filesFrag = fileCount()
    val (fragCount, tFrag) = timed(
      Dedup.exactAgainstBloomStored(incoming, store, "doc_id", "text").count())
    val sizedBefore = expectedItemsMeta()
    val (_, tCompact) = timed(graft.ops.RefStore.compact(spark, store))
    val filesCompact = fileCount()
    val (compactCount, tAfter) = timed(
      Dedup.exactAgainstBloomStored(incoming, store, "doc_id", "text").count())
    require(compactCount == fragCount,
      s"COMPACTION CHANGED ANSWERS: fragmented=$fragCount compacted=$compactCount")
    require(filesCompact < filesFrag,
      s"COMPACTION DID NOT FOLD FILES: $filesFrag -> $filesCompact")
    val sizedAfter = expectedItemsMeta()
    require(sizedAfter > sizedBefore,
      s"BLOOM NOT RE-SIZED past outgrown expectedItems: $sizedBefore -> $sizedAfter")
    println(f"=== compaction: $merges%d merges (+${merges * mergeRows}%d rows, " +
      f"${tMerges / merges}%.2f s each) fragmented the store to $filesFrag%d part " +
      f"files, probe ${tFrag}%.2f s ===")
    println(f"=== compact() ${tCompact}%.2f s -> $filesCompact%d files, probe " +
      f"${tAfter}%.2f s (== pre-compact survivors); bloom re-sized " +
      f"$sizedBefore%d -> $sizedAfter%d ===")

    // the UNATTENDED leg: many more micro-batches with the merge-triggered
    // auto-compaction threshold — the file count must stay bounded with NO
    // manual compact call, and answers must still equal the plain anti-join
    // over everything ever merged
    val autoMerges = 100
    val autoThreshold = 32
    var maxFiles = 0
    val (_, tAuto) = timed((0 until autoMerges).foreach { i =>
      graft.ops.RefStore.mergeExact(
        docs(spark, 5000L, s"auto$i", 7), "text", store,
        autoCompactAfter = autoThreshold)
      maxFiles = math.max(maxFiles, fileCount())
    })
    val filesAuto = fileCount()
    require(maxFiles <= autoThreshold + 8,
      s"AUTO-COMPACT DID NOT BOUND THE STORE: peaked at $maxFiles part files " +
        s"(threshold $autoThreshold)")
    val (autoCount, tAutoProbe) = timed(
      Dedup.exactAgainstBloomStored(incoming, store, "doc_id", "text").count())
    require(autoCount == fragCount,
      s"AUTO-COMPACT CHANGED ANSWERS: $fragCount -> $autoCount")
    println(f"=== auto-compact: $autoMerges%d more micro-batch merges at " +
      f"threshold $autoThreshold%d (${tAuto / autoMerges}%.2f s each) peaked at " +
      f"$maxFiles%d part files, ended at $filesAuto%d — bounded, no manual " +
      f"compact; probe ${tAutoProbe}%.2f s unchanged ===")
    spark.stop()
  }
}
