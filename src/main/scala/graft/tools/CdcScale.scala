package graft.tools

import org.apache.spark.sql.functions._

import graft.ops.{Chunking, Dedup}

/** Content-defined-chunking scale probe: the md5-boundary chunker and the
  * cross-corpus overlap join at corpus scale, with HARD law assertions —
  * not prints:
  *
  *   - coverage: Σ chunk n_toks == corpus token count exactly (every
  *     token lands in exactly one chunk);
  *   - boundary statistics: chunks/token ratio lands in the band the
  *     1/16 cut probability implies;
  *   - overlap recall: every document embedding a planted reference
  *     passage (inserted at a DIFFERENT offset per doc — the
  *     shift-robustness claim under test) is flagged by
  *     [[Dedup.cdcChunkOverlap]].
  *
  * Usage: `sbt "runMain graft.tools.CdcScale [nDocs]"` (default 200k).
  */
object CdcScale {
  def main(args: Array[String]): Unit = {
    val nDocs = args.headOption.map(_.toInt).getOrElse(200000)
    val spark = graft.LocalSpark()
    import spark.implicits._

    // planted passage: 80 tokens every 100th doc embeds at a doc-specific
    // offset; the reference corpus (ids >= nDocs) carries it verbatim
    val passage = (1 to 80).map(i => s"shared$i").mkString(" ")
    val docs = spark.range(nDocs).map { i =>
      val rnd = new scala.util.Random(i)
      val words = Seq.fill(60)("w" + rnd.nextInt(500000))
      val text =
        if (i % 100 == 0) {
          val at = (i % 37).toInt + 5 // different insertion point per doc
          (words.take(at) ++ Seq(passage) ++ words.drop(at)).mkString(" ")
        } else words.mkString(" ")
      (i, text)
    }.toDF("doc_id", "text")
    val reference = Seq((nDocs.toLong + 1L,
      "reference preamble tokens " + passage + " reference tail tokens"))
      .toDF("doc_id", "text")

    val t0 = System.nanoTime()
    val chunks = Chunking.cdcChunks(docs, "doc_id", "text")
    val (nChunks, chunkToks) = {
      val r = chunks.agg(count(lit(1)), sum("n_toks")).head()
      (r.getLong(0), r.getLong(1))
    }
    val tChunk = (System.nanoTime() - t0) / 1e9
    val corpusToks = docs.select(
      sum(graft.functions.TextFns.tokenCount(col("text")))).head().getLong(0)
    require(chunkToks == corpusToks,
      s"coverage law broken: $chunkToks chunk tokens vs $corpusToks corpus tokens")
    val ratio = nChunks.toDouble / corpusToks
    require(ratio > 1.0 / 24 && ratio < 1.0 / 10,
      s"chunks/token ratio $ratio outside the 1/16-cut band")
    println(f"=== cdc-scale: $nDocs%d docs, $corpusToks%d tokens -> $nChunks%d chunks " +
      f"in $tChunk%.1f s (${corpusToks / tChunk / 1e6}%.1f Mtok/s); mean ${1 / ratio}%.1f tok/chunk ===")

    val t1 = System.nanoTime()
    val flagged = Dedup.cdcChunkOverlap(docs, reference, "doc_id", "text",
        minTokens = 5)
      .select("doc_id").as[Long].collect().toSet
    val tOv = (System.nanoTime() - t1) / 1e9
    val planted = (0L until nDocs.toLong by 100L).toSet
    val caught = planted.intersect(flagged)
    require(caught.size == planted.size,
      s"overlap recall ${caught.size}/${planted.size}: a planted embedder escaped")
    val falsePos = flagged -- planted
    println(f"=== overlap: ${planted.size}%d planted embedders all caught " +
      f"(+${falsePos.size}%d incidental) in $tOv%.1f s ===")

    // the incremental leg: commit the reference's chunk hashes ONCE into a
    // RefStore, then screen the corpus as a later ingest batch would — the
    // stored path must flag the identical set while chunking only the
    // incoming side (no reference re-chunk per batch)
    val storeDir = java.nio.file.Files.createTempDirectory("cdcscale-store")
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(storeDir.toFile)
    }))
    val t2 = System.nanoTime()
    graft.ops.RefStore.writeCdcChunks(reference, "doc_id", "text",
      storeDir.toString, minTokens = 5)
    val tCommit = (System.nanoTime() - t2) / 1e9
    val t3 = System.nanoTime()
    val storedFlagged = Dedup.cdcOverlapStored(docs, storeDir.toString,
        "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    val tStored = (System.nanoTime() - t3) / 1e9
    require(storedFlagged == flagged,
      s"STORED-PATH EQUIVALENCE BROKEN: live=${flagged.size} stored=${storedFlagged.size}")
    println(f"=== cdc refstore: one-time commit $tCommit%.1f s; stored-path " +
      f"screen $tStored%.1f s flags the identical ${storedFlagged.size}%d docs ===")
    spark.stop()
  }
}
