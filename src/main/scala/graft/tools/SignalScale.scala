package graft.tools

import org.apache.spark.sql.functions._

import graft.ops.{Drift, Keyphrase, LangModel, RefStore}

/** Corpus-signal scale probe: TV drift, bigram-LM scoring, and RAKE
  * keyphrases at corpus scale, with HARD planted-signal assertions — not
  * prints:
  *
  *   - drift: the stratum drawn from a DISJOINT vocabulary must carry the
  *     strictly largest TV distance; all distances in [0,1];
  *   - LM: a model trained on the fluent stratum must score the
  *     disjoint-vocabulary stratum's mean avg_nll strictly above the
  *     fluent stratum's; the PERSISTED model (write + merge batches) must
  *     reproduce the live scores exactly at scale;
  *   - RAKE: a 4-word keyphrase planted through the fluent stratum must
  *     rank first (4-word phrases outscore the 3-word chain runs the
  *     generator also repeats — the degree law under test).
  *
  * Corpus: 4 strata. `wiki` is FLUENT — successor-chain words (letter-only
  * so RAKE sees them) broken by `the` every 3 words, with the planted
  * phrase embedded at a doc-specific position; `web`/`forum` mix chain
  * words with digit-bearing noise (RAKE boundaries, shared vocabulary);
  * `spam` draws letter-only words from a disjoint vocabulary and carries
  * no stopwords (no candidate phrases, maximal drift, unseen bigrams).
  *
  * Usage: `sbt "runMain graft.tools.SignalScale [nDocs]"` (default 200k).
  */
object SignalScale {
  private def b26(n: Int): String = {
    var x = n; val sb = new StringBuilder
    do { sb.append(('a' + x % 26).toChar); x /= 26 } while (x > 0)
    sb.toString
  }

  def main(args: Array[String]): Unit = {
    val nDocs = args.headOption.map(_.toInt).getOrElse(200000)
    val spark = graft.LocalSpark()
    import spark.implicits._

    val planted = "quantum flux capacitor drive"
    val docs = spark.range(nDocs).map { i =>
      val rnd = new scala.util.Random(i)
      def chain(j: Int): String = "t" + b26(((j % 200) + 200) % 200)
      val src = (i % 4) match {
        case 0 => "wiki"
        case 1 => "web"
        case 2 => "forum"
        case _ => "spam"
      }
      val text = src match {
        case "wiki" =>
          val start = rnd.nextInt(200)
          val runs = (0 until 13).map { k =>
            (0 until 3).map(o => chain(start + 3 * k + o)).mkString(" ") + " the"
          }
          val at = (i % 11).toInt + 1
          // the trailing `the` closes the planted run — without it the
          // phrase would fuse with the next chain run and drop at maxWords
          (runs.take(at) ++ Seq(planted + " the") ++ runs.drop(at)).mkString(" ")
        case "spam" =>
          Seq.fill(40)("zq" + b26(rnd.nextInt(400000))).mkString(" ")
        case _ =>
          val start = rnd.nextInt(200)
          (0 until 40).map { k =>
            if (k % 2 == 0) chain(start + k) else "w" + rnd.nextInt(50000)
          }.mkString(" ")
      }
      (i, src, text)
    }.toDF("doc_id", "source", "text").cache()
    docs.count()

    // ---- TV drift: the disjoint-vocabulary stratum is the outlier ----
    val t0 = System.nanoTime()
    val drift = Drift.tvDrift(docs, "source", "text")
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    val tDrift = (System.nanoTime() - t0) / 1e9
    require(drift.size == 4, s"expected 4 strata, got ${drift.keySet}")
    require(drift.values.forall(v => v >= 0.0 && v <= 1.0),
      s"TV out of [0,1]: $drift")
    val others = (drift - "spam").values.max
    require(drift("spam") > others,
      s"disjoint-vocab stratum must carry max drift: $drift")
    println(f"=== signal-scale drift: $nDocs%d docs in $tDrift%.1f s; " +
      f"spam ${drift("spam")}%.3f vs max-other $others%.3f ===")

    // ---- bigram LM: fluent-trained model flags the disjoint stratum ----
    val train = docs.filter($"source" === "wiki")
    val t1 = System.nanoTime()
    val scored = LangModel.bigramNllScore(docs, "doc_id", "text", train, "text")
      .join(docs.select("doc_id", "source"), "doc_id")
      .groupBy("source").agg(avg("avg_nll").as("m"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val tLm = (System.nanoTime() - t1) / 1e9
    require(scored("spam") > scored("wiki"),
      s"LM must find the disjoint stratum surprising: $scored")
    println(f"=== signal-scale lm: scored $nDocs%d docs in $tLm%.1f s; " +
      f"mean avg_nll wiki ${scored("wiki")}%.2f < spam ${scored("spam")}%.2f ===")

    // stored-model equivalence at scale: train committed in two batches
    val storeDir = java.nio.file.Files.createTempDirectory("signalscale-lm")
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(storeDir.toFile)
    }))
    val t2 = System.nanoTime()
    RefStore.writeLmModel(train.filter($"doc_id" % 8 === 0), "text", storeDir.toString)
    RefStore.mergeLmModel(train.filter($"doc_id" % 8 =!= 0), "text",
      storeDir.toString, batchId = "rest")
    val tCommit = (System.nanoTime() - t2) / 1e9
    val t3 = System.nanoTime()
    val live = LangModel.bigramNllScore(docs, "doc_id", "text", train, "text")
    val stored = LangModel.bigramNllScoreStored(docs, "doc_id", "text", storeDir.toString)
    val diff = live.select($"doc_id", $"nll_micro".as("a"))
      .join(stored.select($"doc_id", $"nll_micro".as("b")), "doc_id")
      .filter($"a" =!= $"b").count()
    val tStored = (System.nanoTime() - t3) / 1e9
    require(diff == 0L,
      s"STORED-MODEL EQUIVALENCE BROKEN at scale: $diff docs differ")
    println(f"=== signal-scale lm store: commit $tCommit%.1f s; stored ≡ live " +
      f"on all $nDocs%d docs ($tStored%.1f s) ===")

    // stored-baseline drift at scale: commit the non-spam corpus as the
    // baseline in two batches, then screen the full stream — spam must
    // still read strictly max (and higher than against the pooled form,
    // which dilutes the baseline with spam's own mass)
    val driftStore = java.nio.file.Files.createTempDirectory("signalscale-drift")
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(driftStore.toFile)
    }))
    val clean = docs.filter($"source" =!= "spam")
    val t5 = System.nanoTime()
    RefStore.writeTokenCounts(clean.filter($"doc_id" % 2 === 0), "text", driftStore.toString)
    RefStore.mergeTokenCounts(clean.filter($"doc_id" % 2 =!= 0), "text",
      driftStore.toString, batchId = "odd")
    val tBase = (System.nanoTime() - t5) / 1e9
    val t6 = System.nanoTime()
    val storedDrift = Drift.tvDriftStored(docs, "source", "text", driftStore.toString)
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    val tScreen = (System.nanoTime() - t6) / 1e9
    val storedOthers = (storedDrift - "spam").values.max
    require(storedDrift("spam") > storedOthers,
      s"stored-baseline screen lost the outlier: $storedDrift")
    require(storedDrift("spam") > drift("spam"),
      s"clean baseline must sharpen the spam signal: stored ${storedDrift("spam")} " +
        s"vs pooled ${drift("spam")}")
    println(f"=== signal-scale drift store: baseline commit $tBase%.1f s; " +
      f"screen $tScreen%.1f s; spam ${storedDrift("spam")}%.3f vs " +
      f"max-other $storedOthers%.3f ===")

    // ---- RAKE: the planted 4-word phrase outranks the 3-word chains ----
    val t4 = System.nanoTime()
    val top = Keyphrase.rakePhrases(docs, "text", k = 10).collect()
    val tRake = (System.nanoTime() - t4) / 1e9
    require(top.nonEmpty && top.head.getString(0) == planted,
      s"planted phrase must rank first, got: ${top.take(3).map(_.getString(0)).mkString(" | ")}")
    val plantedOcc = top.head.getLong(2)
    require(plantedOcc == (nDocs.toLong + 3) / 4,
      s"planted occurrences ${plantedOcc} != wiki doc count ${(nDocs.toLong + 3) / 4}")
    println(f"=== signal-scale rake: top-10 in $tRake%.1f s; planted phrase " +
      f"first at $plantedOcc%d occurrences ===")
    spark.stop()
  }
}
