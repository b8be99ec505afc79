package graft.tools

import graft.ops.RefStore

/** The RefStore maintenance CLI: print the [[RefStore.describe]] dashboard
  * and the [[RefStore.fsck]] integrity report for a store dir, optionally
  * compacting first — the three operations an operator runs on a
  * long-lived store, in the order they'd run them (inspect → verify →
  * compact → re-verify).
  *
  * Usage: `sbt "runMain graft.tools.StoreAdmin [storeDir] [compact]"`.
  * With no args, builds a demo store (exact + minhash families over two
  * batches) in a temp dir and walks the full inspect → corrupt-detect →
  * compact cycle against it — the self-demonstrating form the verify
  * recipe drives.
  */
object StoreAdmin {
  def main(args: Array[String]): Unit = {
    val spark = graft.LocalSpark()
    import spark.implicits._

    val (dir, doCompact, buckets) = args.toList match {
      case d :: rest => (d, rest.contains("compact"), 8)
      case Nil =>
        val d = java.nio.file.Files.createTempDirectory("graft-storeadmin").toString
        val b1 = Seq((1L, "the quick brown fox jumps over the lazy dog"),
          (2L, "pack my box with five dozen liquor jugs")).toDF("doc_id", "text")
        val b2 = Seq((3L, "sphinx of black quartz judge my vow"),
          (4L, "how vexingly quick daft zebras jump")).toDF("doc_id", "text")
        RefStore.writeExact(b1, "text", d, expectedItems = 1000L)
        RefStore.writeMinhash(b1, "doc_id", "text", d)
        RefStore.writeCdcChunks(b1, "doc_id", "text", d, minTokens = 3)
        RefStore.mergeExact(b2, "text", d)
        RefStore.mergeMinhash(b2, "doc_id", "text", d)
        RefStore.mergeCdcChunks(b2, "doc_id", "text", d)
        // the lm count family shares the dir: meta keys merge, and compact
        // folds its batch tree beside the append families
        RefStore.writeLmModel(b1, "text", d)
        RefStore.mergeLmModel(b2, "text", d, batchId = "b2")
        RefStore.writeTokenCounts(b1, "text", d)
        RefStore.mergeTokenCounts(b2, "text", d, batchId = "b2")
        // the r10 families: crawl edges (append), value histogram (count),
        // canonical map (append + load-time closure)
        RefStore.writeEdges(Seq((1L, 2L)).toDF("s", "t"), "s", "t", d)
        RefStore.mergeEdges(Seq((2L, 3L), (1L, 2L)).toDF("s", "t"), "s", "t", d)
        RefStore.writeValueCounts(b1.selectExpr("length(text) AS n"), "n", d)
        RefStore.mergeValueCounts(b2.selectExpr("length(text) AS n"), "n", d,
          batchId = "b2")
        RefStore.writeCanonicalMap(Seq((2L, 1L)).toDF("dup", "canon"),
          "dup", "canon", d)
        RefStore.mergeCanonicalMap(Seq((3L, 2L)).toDF("dup", "canon"),
          "dup", "canon", d)
        println(s"=== demo store built at $d (exact + minhash + cdc + lm + drift" +
          " + edges + values + canon, two batches) ===")
        // one bucket: at demo scale the production default (8) would WRITE
        // more files than the two batches it folds
        (d, true, 1)
    }

    println(s"=== describe $dir ===")
    RefStore.describe(spark, dir).orderBy("kind", "item").show(100, truncate = false)
    println(s"=== fsck $dir ===")
    val report = RefStore.fsck(spark, dir)
    report.orderBy("family", "check").show(100, truncate = false)
    val bad = report.filter(!$"ok").count()
    if (doCompact) {
      println(s"=== compact $dir ===")
      RefStore.compact(spark, dir, numFiles = buckets)
      println("=== post-compact describe ===")
      RefStore.describe(spark, dir).orderBy("kind", "item").show(100, truncate = false)
      val bad2 = RefStore.fsck(spark, dir).filter(!$"ok").count()
      println(s"=== fsck: $bad failing checks pre-compact, $bad2 post ===")
      require(bad2 == 0, "store must fsck clean after compact")
    } else
      println(s"=== fsck: $bad failing checks ===")
    spark.stop()
  }
}
