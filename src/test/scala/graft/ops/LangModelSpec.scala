package graft.ops

import org.scalacheck.{Gen, rng}

import graft.SparkSpec
import graft.functions.TextFns

/** Bigram-LM law: hand-checkable arithmetic, the engine vs a naive replay,
  * and the DSIR-style cross-libm boundary margin on real testdata.
  */
class LangModelSpec extends SparkSpec {
  import spark.implicits._

  private def engine(docs: Seq[(Long, String)], train: Seq[String])
      : Map[Long, (Long, Long, Double)] =
    LangModel.bigramNllScore(
        docs.toDF("doc_id", "text"), "doc_id", "text",
        train.toDF("text"), "text")
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap

  test("hand corpus: add-one conditionals, prefix normalization, unknown slots") {
    // train: "a b a b" → bigrams (a,b),(b,a),(a,b); c2(a,b)=2 c2(b,a)=1
    // c1(a)=2 c1(b)=1; V = 2 distinct + 1 = 3
    val got = engine(Seq(
      (1L, "a b"),     // seen bigram: ln(2+3) - ln(2+1) = ln(5/3)
      (2L, "b z"),     // unseen w2: ln(1+3) - ln(0+1) = ln 4
      (3L, "z a"),     // unseen w1: ln(0+3) - ln(0+1) = ln 3
      (4L, "a")),      // 1 token → no events
      train = Seq("a b a b"))
    def micro(x: Double): Long =
      java.math.BigDecimal.valueOf(x * 1000000.0)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact()
    assert(got(1L) === ((1L, micro(math.log(5.0) - math.log(3.0)),
      (micro(math.log(5.0) - math.log(3.0))).toDouble / 1000000.0 / 1.0)))
    assert(got(2L)._2 === micro(math.log(4.0)))
    assert(got(3L)._2 === micro(math.log(3.0)))
    assert(got(4L) === ((0L, 0L, 0.0)))
  }

  test("a fluent doc scores lower avg_nll than a scrambled one under its own LM") {
    val fluent = "the cat sat on the mat and the dog sat on the rug"
    val train = Seq.fill(5)(fluent)
    val got = engine(Seq((1L, fluent), (2L, "rug the on mat dog cat the sat")), train)
    assert(got(1L)._3 < got(2L)._3,
      s"fluent ${got(1L)._3} should beat scrambled ${got(2L)._3}")
  }

  test("property: engine matches the naive replay on 20 random corpora") {
    val word = Gen.oneOf("a", "b", "c", "d", "e")
    val doc = for {
      n <- Gen.chooseNum(0, 10)
      ws <- Gen.listOfN(n, word)
    } yield ws.mkString(" ")
    (0 until 20).foreach { i =>
      val train = Gen.listOfN(6, doc)
        .pureApply(Gen.Parameters.default, rng.Seed(101L + i))
      val texts = Gen.listOfN(8, doc)
        .pureApply(Gen.Parameters.default, rng.Seed(501L + i))
      val docs = texts.zipWithIndex.map { case (t, j) => (j.toLong, t) }
      val want = LangModelSpec.nllNaive(docs, train)
      val got = engine(docs, train)
      assert(got === want, s"corpus $i train=$train docs=$docs")
    }
  }

  test("cross-libm boundary margin on sf0.001 testdata is far above the ulp flip zone") {
    // the DSIR discipline: collect the DISTINCT (c1+V, c2+1) integer pairs
    // the real query actually scores and measure how close any unquantized
    // NLL·1e6 sits to a rounding boundary — a margin ≫ ~2e-9 (1 ulp at
    // these magnitudes) proves DuckDB's ln must quantize identically
    val dir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val train = docs.filter($"lang" === "en")
    import org.apache.spark.sql.functions._
    val trainBi = train.select(lower($"text").as("t")).as[String]
      .mapPartitions(_.flatMap(LangModel.bigramsScala)).toDF("w1", "w2")
    val c2 = trainBi.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    val c1 = c2.groupBy("w1").agg(sum($"c2").as("c1"))
    val v = train.select(lower($"text").as("t")).as[String]
      .flatMap(graft.functions.TextFns.tokensScala(_)).distinct().count() + 1L
    val pairs = docs.select($"doc_id", lower($"text").as("t"))
      .as[(Long, String)]
      .mapPartitions(_.flatMap { case (_, t) => LangModel.bigramsScala(t) })
      .toDF("w1", "w2")
      .join(c2, Seq("w1", "w2"), "left").join(c1, Seq("w1"), "left")
      .select(
        (coalesce($"c1", lit(0L)) + lit(v)).as("a"),
        (coalesce($"c2", lit(0L)) + lit(1L)).as("b"))
      .distinct().as[(Long, Long)].collect().toSeq
    assert(pairs.nonEmpty)
    val margin = LangModel.minBoundaryMarginMicro(pairs)
    assert(margin > 1e-4,
      f"boundary margin $margin%.3e too thin for the cross-libm quantization law " +
        f"over ${pairs.size} distinct pairs")
  }
}

object LangModelSpec {

  /** Naive replay of the whole law for property tests. */
  def nllNaive(docs: Seq[(Long, String)], train: Seq[String])
      : Map[Long, (Long, Long, Double)] = {
    val trainBi = train.flatMap(t =>
      LangModel.bigramsScala(if (t == null) null else t.toLowerCase(java.util.Locale.ROOT)))
    val c2 = trainBi.groupBy(identity).map { case (k, v) => (k, v.size.toLong) }
    val c1 = trainBi.groupBy(_._1).map { case (k, v) => (k, v.size.toLong) }
    val v = train.flatMap(t => TextFns.tokensScala(
      if (t == null) null else t.toLowerCase(java.util.Locale.ROOT)))
      .distinct.size + 1L
    docs.map { case (id, text) =>
      val bis = LangModel.bigramsScala(
        if (text == null) null else text.toLowerCase(java.util.Locale.ROOT)).toSeq
      val nll = bis.map { b =>
        val x = (math.log(c1.getOrElse(b._1, 0L).toDouble + v.toDouble) -
          math.log(c2.getOrElse(b, 0L).toDouble + 1.0)) * 1000000.0
        java.math.BigDecimal.valueOf(x)
          .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact()
      }.sum
      val avg = if (bis.isEmpty) 0.0 else nll.toDouble / 1000000.0 / bis.size.toDouble
      (id, (bis.size.toLong, nll, avg))
    }.toMap
  }
}
