package graft.ops

import org.scalacheck.{Gen, rng}

import graft.SparkSpec
import graft.functions.TextFns

/** RAKE law: phrase chopping boundaries, the degree/frequency score, and
  * the engine against a naive full replay.
  */
class KeyphraseSpec extends SparkSpec {
  import spark.implicits._

  private val stop = TextFns.enStopwords

  private def engine(texts: Seq[String], maxWords: Int = 4, k: Int = 100)
      : Map[String, (Long, Long, Long)] =
    Keyphrase.rakePhrases(texts.toDF("text"), "text",
        stopwords = stop, maxWords = maxWords, k = k)
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap

  test("phrase chopping: stopwords and non-letter tokens split; long runs drop whole") {
    val toks = "deep learning is the best thing in machine learning 2024 models".split(" ")
    val runs = Keyphrase.phraseRuns(toks, stop.toSet, maxWords = 4)
    assert(runs === Seq(
      Seq("deep", "learning"),
      Seq("best", "thing"),
      Seq("machine", "learning"),
      Seq("models")))
    // a 5-word run is dropped whole at maxWords=4, kept at 5
    val five = "alpha beta gamma delta epsilon".split(" ")
    assert(Keyphrase.phraseRuns(five, stop.toSet, 4) === Seq.empty)
    assert(Keyphrase.phraseRuns(five, stop.toSet, 5).map(_.length) === Seq(5))
  }

  test("classic RAKE arithmetic on a hand corpus") {
    // candidates: [deep learning], [deep learning], [neural nets]
    // freq(deep)=2 deg(deep)=4; freq(learning)=2 deg(learning)=4;
    // freq(neural)=1 deg=2; freq(nets)=1 deg=2
    // score(deep learning) = 2.0 + 2.0 = 4e6 micro; score(neural nets) = 4e6
    val got = engine(Seq("Deep learning and deep learning.", "neural nets"))
    // "learning." ends one run at the period? no: tokens are whitespace
    // tokens; "learning." contains '.', so it is a boundary token — the
    // second candidate is just [deep]
    val wantKeys = Set("deep learning", "deep", "neural nets")
    assert(got.keySet === wantKeys)
    // freq(deep)=2 deg(deep)=2+1=3; freq(learning)=1 deg=2
    // score(deep learning) = round(3e6/2) + 2e6 = 1500000 + 2000000
    assert(got("deep learning")._3 === 3500000L)
    assert(got("deep")._3 === 1500000L)
    assert(got("neural nets")._3 === 4000000L)
    assert(got("deep learning")._1 === 2L && got("deep learning")._2 === 1L)
  }

  test("empty, null, all-stopword, and non-letter corpora yield no phrases") {
    val df = Seq[Option[String]](None, Some(""), Some("the and of to"),
      Some("123 456 !!!")).toDF("text")
    assert(Keyphrase.rakePhrases(df, "text", stop).count() === 0L)
  }

  test("property: engine matches the naive replay on 25 random corpora") {
    val word = Gen.oneOf("alpha", "beta", "gamma", "delta", "the", "of",
      "x9", "zeta", "eta", "and")
    val doc = for {
      n <- Gen.chooseNum(0, 15)
      ws <- Gen.listOfN(n, word)
    } yield ws.mkString(" ")
    (0 until 25).foreach { i =>
      val texts = Gen.listOfN(10, doc)
        .pureApply(Gen.Parameters.default, rng.Seed(31L + i))
      val want = KeyphraseSpec.rakeNaive(texts, stop, 4)
      val got = engine(texts)
      assert(got === want, s"corpus $i: $texts")
    }
  }

  test("textRank: symmetric 2-node graph is stationary at init; hub outranks leaves; vocab cap bounds the node set") {
    import spark.implicits._
    // x–y alternation: one undirected edge, each node's whole strength
    // flows to the other → rank = 150000 + 850000·(w/w) = 1000000 every
    // round (the stationary point of the integer law)
    val alt = Seq("x y x y x y").toDF("text")
    val rAlt = Keyphrase.textRank(alt, "text")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rAlt === Map("x" -> 1000000L, "y" -> 1000000L))
    // star-ish corpus: the hub co-occurs with every leaf
    val star = Seq("h a h b h c", "h a h b h c").toDF("text")
    val rows = Keyphrase.textRank(star, "text").collect()
    assert(rows.map(_.getString(0)).toSet === Set("h", "a", "b", "c"))
    assert(rows.head.getString(0) === "h",
      "the hub must carry the top TextRank")
    assert(rows.head.getLong(1) > rows.last.getLong(1))
    // vocabK caps the graph: only the top-2 words by (count desc, word)
    // survive as nodes
    val capped = Keyphrase.textRank(
      Seq("p q p q r s").toDF("text"), "text", vocabK = 2)
      .collect().map(_.getString(0)).toSet
    assert(capped === Set("p", "q"))
  }
}

object KeyphraseSpec {

  /** Naive single-machine RAKE replay for property tests: direct maps over
    * the full candidate list, double ratios quantized the same way.
    */
  def rakeNaive(texts: Seq[String], stopwords: Seq[String],
      maxWords: Int): Map[String, (Long, Long, Long)] = {
    val stop = stopwords.toSet
    val cands = texts.flatMap { t =>
      Keyphrase.phraseRuns(TextFns.tokensScala(
        if (t == null) null else t.toLowerCase(java.util.Locale.ROOT)),
        stop, maxWords)
    }
    if (cands.isEmpty) return Map.empty
    val freq = scala.collection.mutable.Map.empty[String, Long]
    val deg = scala.collection.mutable.Map.empty[String, Long]
    cands.foreach { ws =>
      ws.foreach { w =>
        freq(w) = freq.getOrElse(w, 0L) + 1L
        deg(w) = deg.getOrElse(w, 0L) + ws.length
      }
    }
    cands.groupBy(_.mkString(" ")).map { case (p, occ) =>
      val ws = occ.head
      val score = ws.map { w =>
        math.round(deg(w).toDouble * 1000000.0 / freq(w).toDouble)
      }.sum
      (p, (ws.length.toLong, occ.size.toLong, score))
    }
  }
}
