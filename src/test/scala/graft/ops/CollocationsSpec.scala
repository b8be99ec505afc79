package graft.ops

import org.scalacheck.{Gen, rng}

import graft.SparkSpec
import graft.functions.TextFns

/** PMI collocation law: hand arithmetic, naive-replay property sweep, and
  * the cross-libm boundary margin on real testdata.
  */
class CollocationsSpec extends SparkSpec {
  import spark.implicits._

  private def engine(texts: Seq[String], minCount: Long = 1L, k: Int = 100)
      : Map[(String, String), (Long, Long)] =
    Collocations.pmiTop(texts.toDF("text"), "text", minCount, k)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getLong(3))))
      .toMap

  test("hand corpus: the always-together pair outranks the independent pairs") {
    // "a b" always adjacent; "x" pairs promiscuously
    val got = engine(Seq("a b x a b x c x", "a b x"), minCount = 1L)
    def micro(x: Double): Long =
      java.math.BigDecimal.valueOf(x * 1000000.0)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact()
    // Nu = 11 tokens, Np = 9 bigrams; c(a)=3 c(b)=3 c12(a,b)=3
    val want = micro((((((math.log(3.0) + math.log(11.0)) + math.log(11.0))
      - math.log(9.0)) - math.log(3.0)) - math.log(3.0)))
    assert(got(("a", "b")) === ((3L, want)))
    // the cohesive pair beats every x-pair
    got.filter(_._1 != ("a", "b")).foreach { case (p, (_, pmi)) =>
      assert(pmi < want, s"pair $p must rank below the cohesive pair")
    }
  }

  test("minCount drops rare pairs; case folds; empty corpus yields nothing") {
    val got = engine(Seq("A B a b", "c d"), minCount = 2L)
    assert(got.keySet === Set(("a", "b")), s"got $got")
    assert(engine(Seq("", null.asInstanceOf[String])).isEmpty)
  }

  test("property: engine matches the naive replay on 20 random corpora") {
    val word = Gen.oneOf("a", "b", "c", "d")
    val doc = for {
      n <- Gen.chooseNum(0, 10)
      ws <- Gen.listOfN(n, word)
    } yield ws.mkString(" ")
    (0 until 20).foreach { i =>
      val texts = Gen.listOfN(8, doc)
        .pureApply(Gen.Parameters.default, rng.Seed(211L + i))
      val want = CollocationsSpec.pmiNaive(texts, minCount = 1L)
      val got = engine(texts, minCount = 1L)
      assert(got === want, s"corpus $i: $texts")
    }
  }

  test("cross-libm boundary margin on sf0.001 testdata is far above the ulp flip zone") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val lowered = docs.select(lower($"text").as("t")).as[String]
    val bis = lowered.mapPartitions(_.flatMap(LangModel.bigramsScala))
      .toDF("w1", "w2").groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val uni = lowered.flatMap(graft.functions.TextFns.tokensScala(_))
      .toDF("w").groupBy("w").agg(count(lit(1)).as("c"))
    val np = bis.agg(sum($"c12")).as[Long].head()
    val nu = uni.agg(sum($"c")).as[Long].head()
    val tuples = bis.filter($"c12" >= 5)
      .join(uni.withColumnRenamed("w", "w1").withColumnRenamed("c", "c1"), "w1")
      .join(uni.withColumnRenamed("w", "w2").withColumnRenamed("c", "c2"), "w2")
      .select($"c12", $"c1", $"c2").distinct()
      .as[(Long, Long, Long)].collect().toSeq
      .map { case (a, b, c) => (a, b, c, np, nu) }
    assert(tuples.nonEmpty)
    val margin = Collocations.minBoundaryMarginMicro(tuples)
    // the min over N tuples scales like 0.5/N (≈5.7e-4 at N=883; observed
    // 4.8e-5) — what the law needs is only a margin ≫ the ~1e-9 ulp flip
    // zone, so assert three orders of magnitude of headroom
    assert(margin > 1e-6,
      f"boundary margin $margin%.3e too thin over ${tuples.size} tuples")
  }

  test("associationRules: hand support/confidence/lift; min-support prunes; basket cap bites counts AND pairs") {
    import spark.implicits._
    // baskets: {1,2,3}, {1,2}, {1,2,4}, {3,4} → co(1,2)=3, all others 1
    val base = Seq((1L, 1L), (1L, 2L), (1L, 3L), (2L, 1L), (2L, 2L),
      (3L, 1L), (3L, 2L), (3L, 4L), (4L, 3L), (4L, 4L))
      .toDF("basket", "item")
    val got = Collocations.associationRules(base, "basket", "item",
      k = 10, minCo = 2L, maxBasket = 64).collect()
    assert(got.length === 1, "only (1,2) reaches min-support 2")
    val r = got.head
    // support 3/4, conf 3/3, lift 4·3/(3·3) = 1.333…
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)) ===
      ((1L, 2L, 3L, 3L, 3L, 750000L, 1000000L, 1333333333333L)))
    // a 5-item mega-basket containing {1,2}: under cap 4 it DROPS —
    // co(1,2) and the item counts stay at the 4-basket values; at cap 64
    // it counts (co = 4, n = 4, and N = 5 changes every metric)
    val withMega = base.union(Seq((5L, 1L), (5L, 2L), (5L, 10L),
      (5L, 11L), (5L, 12L)).toDF("basket", "item"))
    val capped = Collocations.associationRules(withMega, "basket", "item",
      k = 10, minCo = 2L, maxBasket = 4).collect().head
    assert((capped.getLong(2), capped.getLong(3)) === ((3L, 3L)),
      "capped mega-basket must not contribute to counts")
    val uncapped = Collocations.associationRules(withMega, "basket", "item",
      k = 10, minCo = 2L, maxBasket = 64).collect().head
    assert((uncapped.getLong(2), uncapped.getLong(3)) === ((4L, 4L)))
  }
}

object CollocationsSpec {

  /** Naive replay of the whole law for property tests. */
  def pmiNaive(texts: Seq[String], minCount: Long)
      : Map[(String, String), (Long, Long)] = {
    val low = texts.map(t =>
      if (t == null) null else t.toLowerCase(java.util.Locale.ROOT))
    val bis = low.flatMap(LangModel.bigramsScala(_))
    val unis = low.flatMap(TextFns.tokensScala)
    if (bis.isEmpty) return Map.empty
    val c12 = bis.groupBy(identity).map { case (kk, v) => (kk, v.size.toLong) }
    val c = unis.groupBy(identity).map { case (kk, v) => (kk, v.size.toLong) }
    val np = bis.size.toLong; val nu = unis.size.toLong
    c12.filter(_._2 >= minCount).map { case ((a, b), n12) =>
      val x = (((((math.log(n12.toDouble) + math.log(nu.toDouble))
        + math.log(nu.toDouble)) - math.log(np.toDouble))
        - math.log(c(a).toDouble)) - math.log(c(b).toDouble)) * 1000000.0
      ((a, b), (n12, java.math.BigDecimal.valueOf(x)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact()))
    }
  }
}
