package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Document chunking for training-data pipelines: split long documents into
  * fixed-size spans with overlap (context windows for embedding/training).
  *
  * Law (pure arithmetic — oracle-checkable): spans start every
  * `size - overlap` characters from 0 while `start < max(n - overlap, 1)`
  * — the upper bound excludes a tail span that the previous span already
  * fully covers; each span is `[start, min(start + size, n))`. Every
  * document yields at least one chunk (an empty doc yields one empty
  * chunk, so no document silently disappears from the corpus), and the
  * spans jointly cover every character.
  *
  * Scale shape: `sequence` + `explode` is a narrow, codegen'd fanout — no
  * shuffle, no UDF; the substring extraction is per-row. Fanout =
  * n / (size - overlap) rows per doc, the intended output cardinality.
  */
object Chunking {

  /** Span table: (idCol, chunk_idx, chunk_start, chunk_len[, chunk_text]).
    * Text extraction is optional — at scale the span table alone is often
    * what downstream stages join on.
    */
  def charChunks(df: DataFrame, idCol: String, textCol: String,
      size: Int, overlap: Int, withText: Boolean = true): DataFrame = {
    require(size > 0 && overlap >= 0 && overlap < size,
      "need size > 0 and 0 <= overlap < size")
    val step = size - overlap
    // NULL text reads as empty: length(NULL) would null the sequence bound
    // and explode would DROP the document — violating the every-document
    // contract above
    val txt = coalesce(col(textCol), lit(""))
    val n = length(txt)
    // last start = largest step-multiple below max(n - overlap, 1) → 0 for
    // empty/short docs (1 chunk). `div`, not `/`: Column `/` is DOUBLE div
    val lastStart = expr(
      s"((greatest(length(coalesce($textCol, '')) - $overlap, 1L) - 1) div $step) * ${step}L")
    val out = df
      .withColumn("chunk_start", explode(sequence(lit(0L), lastStart, lit(step.toLong))))
      .withColumn("chunk_idx", expr(s"chunk_start div $step"))
      .withColumn("chunk_len",
        least(lit(size.toLong), n.cast("long") - col("chunk_start")))
    val base = out.select(
      (Seq(col(idCol), col("chunk_idx"), col("chunk_start"), col("chunk_len")) ++
        (if (withText)
          // substring is 1-based; empty doc → empty chunk text
          Seq(substring(txt, (col("chunk_start") + 1).cast("int"), lit(size))
            .as("chunk_text"))
        else Nil)): _*)
    base
  }

  /** TOKEN-space context windows with stride — how pretraining actually
    * cuts long documents into model-length sequences: windows of `size`
    * tokens starting every `stride` tokens (overlap = size - stride keeps
    * boundary context). Same start law as [[charChunks]] transplanted to
    * token space: starts run while `start < max(n - (size - stride), 1)`,
    * so a tail the previous window fully covers is not re-emitted and
    * every document yields ≥ 1 window (an empty doc yields one empty
    * window — no document silently disappears).
    *
    * Output: (idCol, win_idx, start_tok, n_toks, window_hash) where
    * `window_hash` is the md5 of the window's tokens joined by a single
    * space — the per-window content witness (the oracle recomputes it via
    * list_slice, so window boundaries AND content are both gated).
    *
    * One mapPartitions pass (the shared tokenizer law at an object
    * boundary — the HOF-duplication trap note in [[Dedup]]); fanout
    * ≈ n/stride rows per doc, the intended output cardinality; no shuffle.
    */
  /** CONTENT-DEFINED chunking (the storage-dedup counterpart of the
    * fixed-span forms): a chunk boundary falls AFTER any token whose
    * md5 hex starts with '0' — a 1/16 per-token cut probability, so
    * chunks average 16 tokens. Because boundaries depend only on local
    * content, an insertion near the head re-chunks only up to the next
    * boundary and every later chunk is byte-identical — the
    * shift-robustness fixed-size chunking fundamentally lacks (one
    * inserted token would shift every downstream fixed chunk). Chunk
    * hashes then feed the exact-dedup guards as a sub-document
    * fingerprint tier.
    *
    * Laws, SQL-mirrorable verbatim (md5 on both engines): the boundary
    * token CLOSES its chunk; a document with no tokens yields no chunks
    * (no content, no storage units — deliberately unlike [[charChunks]]'
    * every-document contract, which serves corpus-coverage accounting).
    * Output: (idCol, chunk_idx, n_toks, chunk_text, chunk_hash).
    *
    * One object-boundary pass per document (the [[tokenWindows]]
    * discipline); no shuffle, fanout = chunks per doc.
    */
  def cdcChunks(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long").as("_id"), col(textCol).cast("string").as("_t"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val digest = java.security.MessageDigest.getInstance("MD5")
        def md5hex(s: String): String = {
          digest.reset()
          graft.functions.TextFns.hexBytes(digest.digest(s.getBytes("UTF-8")))
        }
        it.flatMap { case (id, text) =>
          val toks = graft.functions.TextFns.tokensScala(text)
          val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, String, String)]
          val cur = scala.collection.mutable.ArrayBuffer.empty[String]
          var idx = 0L
          def close(): Unit = if (cur.nonEmpty) {
            val t = cur.mkString(" ")
            out += ((id, idx, cur.length.toLong, t, md5hex(t)))
            idx += 1; cur.clear()
          }
          toks.foreach { t =>
            cur += t
            if (md5hex(t).charAt(0) == '0') close()
          }
          close()
          out
        }
      }
      .toDF(idCol, "chunk_idx", "n_toks", "chunk_text", "chunk_hash")
  }

  def tokenWindows(df: DataFrame, idCol: String, textCol: String,
      size: Int, stride: Int): DataFrame = {
    require(size > 0 && stride > 0 && stride <= size,
      "need size > 0 and 0 < stride <= size")
    val spark = df.sparkSession
    import spark.implicits._
    val (s, st) = (size, stride)
    df.select(col(idCol).cast("long").as("_id"), col(textCol).cast("string").as("_t"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val digest = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (id, text) =>
          val toks = graft.functions.TextFns.tokensScala(if (text == null) "" else text)
          val n = toks.length
          val lastStart = ((math.max(n - (s - st), 1) - 1) / st) * st
          (0 to lastStart by st).iterator.map { start =>
            val len = math.max(0, math.min(s, n - start))
            digest.reset()
            val hex = graft.functions.TextFns.hexBytes(digest.digest(
              toks.slice(start, start + len).mkString(" ").getBytes("UTF-8")))
            (id, (start / st).toLong, start.toLong, len.toLong, hex)
          }
        }
      }
      .toDF(idCol, "win_idx", "start_tok", "n_toks", "window_hash")
  }
}
