package graft.tools

import org.apache.spark.sql.functions._

/** Scale probe for the substring-level span dedup
  * ([[graft.ops.Dedup.stripDuplicatedSpans]]): a synthetic corpus with a
  * boilerplate run planted at a RANDOM offset in every 10th document
  * (alignment-free by construction), plus one multi-megabyte document that
  * exercises the O(w) ring-buffer anchor path — a full per-position hash
  * array there would be ~50× the document size.
  *
  * Usage: `sbt "runMain graft.tools.SpanScale [nDocs]"`.
  */
object SpanScale {
  private val words = Array("alpha", "bravo", "charlie", "delta", "echo",
    "foxtrot", "golf", "hotel", "india", "juliet", "kilo", "lima", "mike",
    "november", "oscar", "papa", "quebec", "romeo", "sierra", "tango",
    "uniform", "victor", "whiskey", "xray", "yankee", "zulu")

  def main(args: Array[String]): Unit = {
    val nDocs = args.headOption.map(_.toInt).getOrElse(20000)
    val spark = graft.LocalSpark()
    import spark.implicits._

    val boiler = ("please subscribe to the corpus newsletter for daily " +
      "updates exclusive offers and the weekly digest of all channels ") * 3
    val wl = words
    def prose(rnd: scala.util.Random, n: Int): String = {
      val sb = new java.lang.StringBuilder(n * 8)
      var i = 0
      while (i < n) { sb.append(wl(rnd.nextInt(wl.length))).append(' '); i += 1 }
      sb.toString
    }
    val corpus = spark.range(nDocs).map { id =>
      val rnd = new scala.util.Random(id * 7919L + 17L)
      val base = prose(rnd, 180) // ~1.1 kchars
      val t = if (id % 10 == 0) {
        val cut = 100 + rnd.nextInt(800)
        base.substring(0, cut) + boiler + base.substring(cut)
      } else base
      (id, t)
    }.toDF("doc_id", "text")
    // one 4M-char document (ring-buffer memory probe; with this tiny
    // vocabulary some of its 7-word spans will legitimately recur elsewhere
    // in the corpus — the probe's claim is bounded memory, not uniqueness)
    val huge = Seq((nDocs.toLong, prose(new scala.util.Random(42), 700000)))
      .toDF("doc_id", "text")
    val docs = corpus.union(huge).localCheckpoint() // generation off the clock

    val totalChars = docs.agg(sum(length(col("text")))).head.getLong(0)
    // stage attribution: islands alone vs the full strip (reassembly join)
    val ti = System.nanoTime()
    val nIslands = graft.ops.Dedup.duplicatedSpanIslands(docs, "doc_id", "text").count()
    println(f"=== islands stage alone: $nIslands%d islands in " +
      f"${(System.nanoTime() - ti) / 1e9}%.1f s ===")
    val t0 = System.nanoTime()
    val res = graft.ops.Dedup.stripDuplicatedSpans(docs, "doc_id", "text")
      .localCheckpoint()
    val secs = (System.nanoTime() - t0) / 1e9
    val planted = res.filter(col("doc_id") % 10 === 0 && col("doc_id") < nDocs)
    val plantedHit = planted.filter(col("n_islands") > 0).count()
    val plantedAll = planted.count()
    val cleanBytes = res.agg(sum(col("clean_len"))).head.getLong(0)
    val hugeRow = res.filter(col("doc_id") === nDocs).head
    println(f"=== span-dedup scale: ${nDocs + 1}%d docs, $totalChars%d chars " +
      f"in $secs%.1f s (${totalChars / secs / 1e6}%.1f Mchars/s) ===")
    println(s"=== planted boilerplate flagged in $plantedHit of $plantedAll docs; " +
      s"corpus $totalChars -> $cleanBytes chars ===")
    println(s"=== 4M-char doc: n_islands=${hugeRow.getLong(1)} (ring-buffer path ok) ===")
    require(plantedHit == plantedAll,
      s"planted boilerplate missed in ${plantedAll - plantedHit} docs")
    spark.stop()
  }
}
