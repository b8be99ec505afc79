package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.RefStore
import graft.streaming.StreamIngest

/** Scale probe for the continuous dedup'd-ingest loop: three sizable
  * batches with a known cross-batch duplicate rate flow through
  * [[StreamIngest.ingestDedupedBatch]] against a growing RefStore. Hard
  * invariants:
  *
  *   1. EXACT survivor counts — batch 1 keeps its distinct contents, later
  *      batches lose exactly the planted cross-batch dups plus their own
  *      in-batch copies (set arithmetic, no tolerance);
  *   2. a replay of the middle batch is a byte-level no-op on the sink and
  *      leaves later dedup behavior unchanged;
  *   3. wall-clock per batch is reported, with the store check reading the
  *      persisted bloom + fingerprints (never re-scanning prior batches).
  *
  * `sbt "runMain graft.tools.IngestScale [rowsPerBatch] [dupEvery]"`
  */
object IngestScale {

  def main(args: Array[String]): Unit = {
    val rows = args.headOption.map(_.toLong).getOrElse(300000L)
    val dupEvery = args.lift(1).map(_.toInt).getOrElse(10)
    // the exact-survivor arithmetic needs aligned planted ranges, and
    // dupEvery = 1 would break the offset-plus-1 non-planted-reference law
    require(dupEvery >= 2 && rows % dupEvery == 0,
      s"need dupEvery >= 2 dividing rowsPerBatch, got $rows / $dupEvery")
    val spark = graft.LocalSpark()

    // batch b: ids [b·rows, (b+1)·rows); every dupEvery-th row REPEATS a
    // batch-(b-1) row's content — offset +1 so the referenced row was NOT
    // itself a planted dup (its text really is "content b-1 …") — giving an
    // exactly countable survivor set; everything else is batch-unique
    def batchDf(b: Int): DataFrame =
      spark.range(b * rows, (b + 1) * rows).select(col("id").as("doc_id"),
        when(col("id") % dupEvery === 0 && lit(b) > 0,
          concat(lit(s"content ${b - 1} "), (col("id") - rows + 1).cast("string")))
          .otherwise(concat(lit(s"content $b "), col("id").cast("string")))
          .as("text"))

    val store = java.nio.file.Files.createTempDirectory("ingestscale-store").toString
    val sink = java.nio.file.Files.createTempDirectory("ingestscale-sink").toString
    import spark.implicits._
    RefStore.writeExact(Seq.empty[(Long, String)].toDF("doc_id", "text"),
      "text", store, expectedItems = rows * 4)

    def timed[T](f: => T): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    val times = (0 to 2).map { b =>
      timed(StreamIngest.ingestDedupedBatch(
        batchDf(b), b.toLong, store, sink, "doc_id", "text"))
    }
    val counts = (0 to 2).map { b =>
      spark.read.parquet(sink + "/batch=%06d".format(b)).count()
    }
    // batch 0 keeps all rows; batches 1,2 lose exactly the rows/dupEvery
    // planted repeats of the PREVIOUS batch's content
    val expectDrop = rows / dupEvery
    require(counts(0) == rows,
      s"batch 0 must keep all $rows rows, kept ${counts(0)}")
    Seq(1, 2).foreach { b =>
      require(counts(b) == rows - expectDrop,
        s"batch $b must drop exactly $expectDrop cross-batch dups, " +
          s"kept ${counts(b)} of $rows")
    }
    // replay of the middle batch: byte-level sink no-op
    val d1 = s"$sink/batch=%06d".format(1)
    def treeBytes(): Map[String, Long] =
      new java.io.File(d1).listFiles().map(f => f.getName -> f.length()).toMap
    val before = treeBytes()
    StreamIngest.ingestDedupedBatch(batchDf(1), 1L, store, sink, "doc_id", "text")
    require(treeBytes() == before, "replay mutated the committed batch dir")

    println(f"=== ingest-scale: 3 × $rows rows, dup rate 1/$dupEvery ===")
    println(f"=== survivors: ${counts.mkString(", ")} (batch 0 full; " +
      f"later batches each -$expectDrop) ===")
    println(f"=== wall per batch: ${times.map(t => f"$t%.2f").mkString(", ")} s; " +
      "replay no-op verified ===")

    // ---- attributed leg: same batches, same survivor law, PLUS the
    // exact absorber arithmetic — every planted dup d must map to the
    // batch-(b-1) row whose content it repeats (id d − rows + 1), and
    // nothing else may enter the canonical map
    val store2 = java.nio.file.Files.createTempDirectory("ingestscale-attr").toString
    val sink2 = java.nio.file.Files.createTempDirectory("ingestscale-attr-sink").toString
    RefStore.initAttributedDedupStore(spark, store2, "doc_id", "text",
      expectedItems = rows * 4)
    val attrTimes = (0 to 2).map { b =>
      timed(StreamIngest.ingestAttributedBatch(
        batchDf(b), b.toLong, store2, sink2, "doc_id", "text"))
    }
    val attrCounts = (0 to 2).map { b =>
      spark.read.parquet(sink2 + "/batch=%06d".format(b)).count()
    }
    require(attrCounts == counts,
      s"attribution must not change the dedup law: $attrCounts vs $counts")
    val cmap = RefStore.loadCanonicalMap(spark, store2)
    val nPairs = cmap.count()
    require(nPairs == 2L * expectDrop,
      s"canonical map must hold exactly ${2L * expectDrop} links, got $nPairs")
    val wrong = cmap
      .filter(col("canon_id") =!= col("dup_id") - rows + 1L).count()
    require(wrong == 0L,
      s"$wrong links point at the wrong absorber (law: canon = dup − rows + 1)")
    println(f"=== attributed leg: survivors identical; $nPairs links, " +
      f"all exact; wall ${attrTimes.map(t => f"$t%.2f").mkString(", ")} s " +
      f"(plain was ${times.map(t => f"$t%.2f").mkString(", ")}) ===")
    spark.stop()
  }
}
