package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFns

/** RAKE keyphrase extraction (Rose, Engel, Cramer & Cowley, "Automatic
  * Keyword Extraction from Individual Documents", 2010) — the corpus-level
  * "what is this data about" signal: candidate phrases are the maximal runs
  * of content words between stopword/punctuation boundaries; each word
  * scores degree/frequency over all candidate occurrences; a phrase scores
  * the sum of its word scores.
  *
  * Law (shared verbatim with the SQL oracle):
  *  - words are [[TextFns.tokens]] of `lower(text)`;
  *  - a word is a BOUNDARY iff it is in the stoplist or is not purely
  *    `[a-z]+` (punctuation-bearing and digit tokens break phrases);
  *  - candidate phrases are maximal boundary-free runs of ≤ `maxWords`
  *    words (longer runs are dropped whole — a run that long is prose, not
  *    a keyphrase);
  *  - freq(w) = candidate occurrences containing w (with multiplicity),
  *    deg(w) = Σ over those occurrences of the phrase length (the classic
  *    RAKE degree: freq + within-phrase co-occurrence);
  *  - a word's score is the micro-quantized ratio
  *    round(deg·10⁶ / freq) — one IEEE multiply+divide then HALF-AWAY
  *    rounding, identical on both engines — so the phrase score is an
  *    EXACT BIGINT sum with no float-accumulation order to disagree on.
  *
  * Scale shape: phrase chopping is ONE narrow object-boundary pass per
  * document (the CDC/span idiom — per-position state never leaves the
  * closure); word stats are one hash aggregate on the word; scoring is a
  * hash equi-join of exploded distinct-phrase words against the word-stat
  * frame; the final top-k is TakeOrderedAndProject, never a global sort.
  * Nothing is quadratic; no driver state.
  */
object Keyphrase {

  /** Corpus top-k RAKE phrases: (phrase, n_words, n_occ, score_micro),
    * ordered score-desc then phrase-asc (deterministic at the k boundary).
    */
  def rakePhrases(df: DataFrame, textCol: String,
      stopwords: Seq[String] = TextFns.enStopwords,
      maxWords: Int = 4, k: Int = 25): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    require(maxWords >= 1 && k >= 1, "need maxWords >= 1, k >= 1")
    val stop = stopwords.toSet
    val mw = maxWords
    // lowercase in the DataFrame layer: Spark's lower() is the mapping the
    // DuckDB oracles have pinned all round; a JVM toLowerCase inside the
    // closure could diverge on exotic case mappings
    val phrases = df.select(lower(col(textCol).cast("string")).as("_t"))
      .as[String]
      .mapPartitions { it =>
        it.flatMap { text =>
          phraseRuns(TextFns.tokensScala(text), stop, mw)
            .map(ws => (ws.mkString(" "), ws.length))
        }
      }
      .toDF("phrase", "n_words")
    // ONE aggregation consumes the object pass; word stats are DERIVED
    // from the distinct-phrase counts (freq(w) = Σ n_occ over phrase
    // occurrences containing w — explode keeps within-phrase multiplicity —
    // and deg(w) = Σ n_occ·n_words), so the corpus-sized chop never runs
    // twice and the two downstream aggs share the phrase exchange
    // both consumers read the SAME (phrase, n_occ, n_words) aggregate —
    // grouping the final agg by the carried n_words (constant per phrase)
    // instead of recounting keeps the two subtrees column-identical, so
    // AQE's exchange reuse holds and the chop pass executes once
    val distinctPhrases = phrases.groupBy("phrase")
      .agg(count(lit(1)).as("n_occ"),
        first(col("n_words")).cast("long").as("n_words"))
      // LAZY localCheckpoint (r19 optimization round): the r19 plan audit
      // found the column-identical-subtree reuse above NOT holding in the
      // executed plan (4 copies of the chop pass) — materialize the
      // distinct-phrase table (bounded by distinct phrases) once instead
      .localCheckpoint(false)
    val exploded = distinctPhrases
      .select(col("phrase"), col("n_occ"), col("n_words"),
        explode(split(col("phrase"), " ")).as("_w"))
    val wordStats = exploded
      .groupBy("_w")
      .agg(sum(col("n_occ")).as("_freq"),
        sum(col("n_occ") * col("n_words")).as("_deg"))
    exploded
      .join(wordStats, "_w")
      .groupBy(col("phrase"), col("n_occ"), col("n_words"))
      .agg(sum(round(col("_deg").cast("double") * lit(1000000.0) /
        col("_freq").cast("double"), 0).cast("long")).as("score_micro"))
      .select(col("phrase"), col("n_words"), col("n_occ"), col("score_micro"))
      .orderBy(col("score_micro").desc, col("phrase"))
      .limit(k)
  }

  /** The phrase-chopping law: maximal boundary-free runs, runs longer than
    * `maxWords` dropped whole. Shared by the engine pass and the naive
    * property-test replay.
    */
  private[ops] def phraseRuns(toks: Array[String], stop: Set[String],
      maxWords: Int): Seq[Seq[String]] = {
    val out = Seq.newBuilder[Seq[String]]
    var run = List.empty[String]
    def close(): Unit = {
      if (run.nonEmpty && run.length <= maxWords) out += run.reverse
      run = Nil
    }
    toks.foreach { w =>
      val boundary = stop.contains(w) || !w.forall(c => c >= 'a' && c <= 'z')
      if (boundary) close() else run = w :: run
    }
    close()
    out.result()
  }

  /** TextRank keywords (Mihalcea & Tarau, EMNLP '04) — the GRAPH
    * keyword signal beside RAKE's degree/frequency one: words are nodes,
    * co-occurrence within a `window`-token span is an edge, and the
    * weighted PageRank of the co-occurrence graph ranks the words. RAKE
    * scores a word by its own phrase statistics; TextRank scores it by
    * the importance of its NEIGHBORS — the difference that surfaces hub
    * terms glue words cling to.
    *
    * Law (shared verbatim with the SQL oracle):
    *  - words are [[TextFns.tokens]] of `lower(text)`; co-occurrence
    *    pairs are (t(i), t(i+o)) for offsets o = 1..window — ONE narrow
    *    object-boundary pass, never a positions self-join;
    *  - the graph is restricted to the top-`vocabK` words by (count
    *    desc, word asc) — the bounded-node cap that makes the rank
    *    rounds broadcast-sized regardless of corpus scale (the capBuckets
    *    posture, applied to nodes);
    *  - edges are UNORDERED (least, greatest) pairs of distinct in-vocab
    *    words, weighted by co-occurrence count; ranks run `iterations`
    *    rounds of the integer-micro weighted PageRank law
    *    ([[Graph.pageRankMicro]]'s `div` discipline, weights replacing
    *    out-degree): contrib = (rank·dampNum·w) div (dampDen·strength) —
    *    exact integer arithmetic, no float accumulation order to
    *    disagree on.
    *
    * Scale shape: one narrow pair pass + one token pass (hash
    * aggregates), a TakeOrdered vocab cap, then all rounds run on
    * ≤ vocabK-node / ≤ vocabK²-edge frames.
    *
    * Output: top `k` (word, rank_micro), ordered (rank_micro desc, word).
    */
  def textRank(df: DataFrame, textCol: String, vocabK: Int = 100,
      window: Int = 2, iterations: Int = 5, dampNum: Long = 85L,
      dampDen: Long = 100L, k: Int = 25): DataFrame = {
    require(vocabK >= 2 && window >= 1 && iterations >= 1 && k >= 1,
      s"bad arguments: vocabK=$vocabK window=$window " +
        s"iterations=$iterations k=$k")
    require(dampDen > 0 && dampNum >= 0 && dampNum <= dampDen,
      s"damping $dampNum/$dampDen must lie in [0, 1]")
    val spark = df.sparkSession
    import spark.implicits._
    val lowered = df.select(lower(col(textCol).cast("string")).as("_t"))
      .as[String]
    val pairs = lowered.mapPartitions(_.flatMap { t =>
      val toks = TextFns.tokensScala(t)
      (1 to window).iterator.flatMap(o =>
        (0 until toks.length - o).iterator.map(i => (toks(i), toks(i + o))))
    }).toDF("_w1", "_w2")
    // Materialization posture (r19 optimization round — the
    // [[Graph.pageRankMicro]] working-set discipline applied here): the
    // lazily-composed rounds referenced `ewd`/`nodes` per round, and
    // each reference re-derived the WHOLE corpus tokenization — the
    // executed q_textrank plan carried 192 copies of the document scan
    // + object boundary for a graph of ≤ vocabK nodes. The vocab cap
    // (≤ vocabK rows), the weighted edge frame (≤ vocabK² rows) and the
    // node set checkpoint ONCE; the corpus is now read exactly twice
    // (vocab counts, then the pair pass), and every round runs over
    // block scans. Owned blocks release as soon as the final ranks
    // materialize.
    val (vocabCp, vocabOwn) = Clusters.ownedCheckpoint(
      lowered.mapPartitions(_.flatMap(TextFns.tokensScala))
        .toDF("_w")
        .groupBy(col("_w")).agg(count(lit(1)).as("_c"))
        .orderBy(col("_c").desc, col("_w").asc).limit(vocabK)
        .select(col("_w")))
    val und = pairs.filter(col("_w1") =!= col("_w2"))
      .join(broadcast(vocabCp.withColumnRenamed("_w", "_w1")), "_w1")
      .join(broadcast(vocabCp.withColumnRenamed("_w", "_w2")), "_w2")
      .select(least(col("_w1"), col("_w2")).as("_a"),
        greatest(col("_w1"), col("_w2")).as("_b"))
      .groupBy(col("_a"), col("_b")).agg(count(lit(1)).as("_wt"))
    val edges = und.select(col("_a").as("_src"), col("_b").as("_dst"), col("_wt"))
      .unionByName(und.select(col("_b").as("_src"), col("_a").as("_dst"),
        col("_wt")))
    val strength = edges.groupBy(col("_src")).agg(sum(col("_wt")).as("_str"))
    val (ewd, ewdOwn) = Clusters.ownedCheckpoint(edges.join(strength, "_src"))
    val (nodes, nodesOwn) = Clusters.ownedCheckpoint(
      ewd.select(col("_src").as("word")).distinct())
    val initMicro = 1000000L
    val base = (initMicro * (dampDen - dampNum)) / dampDen
    var ranks = nodes.select(col("word"), lit(initMicro).as("rank_micro"))
    for (_ <- 1 to iterations) {
      val contribs = ewd.join(ranks, ewd("_src") === ranks("word"))
        .select(col("_dst").as("word"),
          expr(s"(rank_micro * ${dampNum}L * _wt) div (${dampDen}L * _str)")
            .as("_in"))
        .groupBy(col("word")).agg(sum(col("_in")).as("_sum"))
      ranks = nodes.join(contribs, Seq("word"), "left")
        .select(col("word"),
          (lit(base) + coalesce(col("_sum"), lit(0L))).as("rank_micro"))
    }
    val (finalRanks, _) = Clusters.ownedCheckpoint(ranks)
    Clusters.release(vocabOwn ++ ewdOwn ++ nodesOwn)
    finalRanks.orderBy(col("rank_micro").desc, col("word")).limit(k)
  }
}
