package graft.ops

import org.scalacheck.{Gen, rng}

import org.apache.spark.sql.functions.col

import graft.SparkSpec
import graft.functions.TextFns

/** TV-drift law: the engine's split-sum exact-integer formulation against
  * the textbook ½·Σ|p−q| replay, plus the boundary laws (one stratum → 0,
  * disjoint strata → the closed-form mass split).
  */
class DriftSpec extends SparkSpec {
  import spark.implicits._

  private def engine(docs: Seq[(String, String)]): Map[String, (Long, Long, Double)] =
    Drift.tvDrift(docs.toDF("source", "text"), "source", "text")
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap

  test("single stratum has zero drift; counts are exact") {
    val got = engine(Seq(("a", "x y z x"), ("a", "y z")))
    assert(got.keySet === Set("a"))
    val (n, v, tv) = got("a")
    assert(n === 6L && v === 3L)
    assert(tv === 0.0)
  }

  test("disjoint-vocabulary strata: closed form 1 - N_s/N") {
    // stratum distributions share no tokens, so TV(s) = ½(Σ_s p + Σ_rest q)
    // where the overlap of p and q on s's tokens is q restricted to s:
    // TV = ½·(Σ_{t∈s}(c/N_s − c/N) + (N−N_s)/N) = 1 − N_s/N
    val docs = Seq(("a", "x x x"), ("b", "y"), ("b", "z w u v"))
    val got = engine(docs)
    assert(math.abs(got("a")._3 - (1.0 - 3.0 / 8.0)) < 1e-12)
    assert(math.abs(got("b")._3 - (1.0 - 5.0 / 8.0)) < 1e-12)
  }

  test("blank/NULL text contributes nothing; token-free strata are absent") {
    val df = Seq(
      (Some("a"), Some("x y")),
      (Some("empty"), Some("   ")),
      (Some("nul"), Option.empty[String]),
      (Some("a"), Some("x"))).toDF("source", "text")
    val got = Drift.tvDrift(df, "source", "text").collect()
    assert(got.map(_.getString(0)).toSet === Set("a"))
    assert(got.head.getLong(1) === 3L)
  }

  test("property: engine TV matches the naive full-union replay on 30 random corpora") {
    val word = Gen.oneOf("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta")
    val doc = for {
      s <- Gen.oneOf("s1", "s2", "s3")
      n <- Gen.chooseNum(0, 12)
      ws <- Gen.listOfN(n, word)
    } yield (s, ws.mkString(" "))
    val corpora = (0 until 30).map { i =>
      Gen.listOfN(14, doc).pureApply(Gen.Parameters.default, rng.Seed(7L + i))
    }
    corpora.foreach { docs =>
      val want = DriftSpec.tvNaive(docs)
      val got = engine(docs)
      assert(got.keySet === want.keySet, s"strata for $docs")
      want.foreach { case (s, tv) =>
        assert(math.abs(got(s)._3 - tv) < 1e-9,
          s"stratum $s: engine ${got(s)._3} vs naive $tv in $docs")
      }
    }
  }

  test("sourceKlReport matches a Scala replay of the smoothed pico law") {
    import spark.implicits._
    val docs = Seq(("A", "a a b"), ("B", "b c")).toDF("src", "text")
    val got = Drift.sourceKlReport(docs, "src", "text")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // replay: vocab {a,b,c} V=3 N=5; identical chain, HALF_UP pico rounding
    def pico(x: Double): Long =
      BigDecimal(x * 1000000000000.0)
        .setScale(0, scala.math.BigDecimal.RoundingMode.HALF_UP).toLong
    def report(cs: Map[String, Long], ns: Long): (Long, Long) = {
      val ct = Map("a" -> 2L, "b" -> 2L, "c" -> 1L)
      val (n, v) = (5L, 3L)
      val terms = ct.keys.toSeq.sorted.map { t =>
        val c = cs.getOrElse(t, 0L)
        val p = (c + 1L).toDouble / (ns + v).toDouble
        val q = ((ct(t) - c) + 1L).toDouble / ((n - ns) + v).toDouble
        (pico((-p) * math.log(p)), pico(p * (math.log(p) - math.log(q))))
      }
      (terms.map(_._1).sum, terms.map(_._2).sum)
    }
    val (entA, klA) = report(Map("a" -> 2L, "b" -> 1L), 3L)
    val (entB, klB) = report(Map("b" -> 1L, "c" -> 1L), 2L)
    assert(got("A") === ((3L, 3L, entA, klA)))
    assert(got("B") === ((2L, 3L, entB, klB)))
  }

  test("sourceKlReport: identical sources carry exactly zero KL") {
    import spark.implicits._
    // same text in both strata → (c_t − c_st)+1 over the rest mirrors the
    // stratum's own smoothed p exactly, so every term is 0 BEFORE rounding
    val docs = Seq(("A", "x y z z"), ("B", "x y z z")).toDF("src", "text")
    val kl = Drift.sourceKlReport(docs, "src", "text")
      .collect().map(r => r.getLong(4))
    assert(kl.toSeq === Seq(0L, 0L))
  }

  test("sourceKlReport: a lone one-token source has zero entropy and zero KL") {
    import spark.implicits._
    val docs = Seq(("A", "x x x")).toDF("src", "text")
    val r = Drift.sourceKlReport(docs, "src", "text").head
    assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)) ===
      ((3L, 1L, 0L, 0L)))
  }

  test("ksDrift: hand-checked sup, identical strata at exactly 0, lone stratum NULL") {
    import spark.implicits._
    // A = {1,2,3}, B = {3,4,5}: F_A - F_B maxes at v=2 (2/3 - 0) and
    // v=3 (3/3 - 1/3) → sup = 2/3
    val df = Seq(("A", 1L), ("A", 2L), ("A", 3L),
      ("B", 3L), ("B", 4L), ("B", 5L)).toDF("src", "v")
    val got = Drift.ksDrift(df, "src", "v")
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(math.abs(got("A") - 2.0 / 3.0) < 1e-15)
    assert(math.abs(got("B") - 2.0 / 3.0) < 1e-15, "KS is symmetric")

    val same = Seq(("A", 7L), ("A", 9L), ("B", 7L), ("B", 9L)).toDF("src", "v")
    val zero = Drift.ksDrift(same, "src", "v")
      .collect().map(_.getDouble(3))
    assert(zero.forall(_ === 0.0), "identical distributions must sit at exactly 0")

    val lone = Seq(("A", 1L), ("A", 2L)).toDF("src", "v")
    val r = Drift.ksDrift(lone, "src", "v").head
    assert(r.isNullAt(3), "an empty rest side is undefined, not 0")
  }

  test("kuiperDrift: V = D+ + D-, sees the spread shift KS half-sees, lone stratum NULL") {
    import spark.implicits._
    // A = {1,4} BRACKETS B = {2,3}: F_A−F_B = +1/2 at v=1, −1/2 at v=3 →
    // D+ = D− = 1/2, V = 1 while KS reads only 1/2
    val spread = Seq(("A", 1L), ("A", 4L), ("B", 2L), ("B", 3L))
      .toDF("src", "v")
    val kr = Drift.kuiperDrift(spread, "src", "v")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    assert(kr("A") === ((2L, 2L, 1.0)))
    assert(kr("B") === ((2L, 2L, 1.0)), "Kuiper is symmetric")
    val ks = Drift.ksDrift(spread, "src", "v")
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(ks("A") === 0.5, "the sup law sees only one excursion")
    // a pure shift has one excursion: D− = 0 and V = KS
    val shift = Seq(("A", 1L), ("A", 2L), ("B", 3L), ("B", 4L))
      .toDF("src", "v")
    val k2 = Drift.kuiperDrift(shift, "src", "v")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    assert(k2("A") === ((4L, 0L, 1.0)))
    assert(k2("B") === ((0L, 4L, 1.0)))
    // identical strata sit at exactly 0; a lone stratum is NULL
    val same = Seq(("A", 7L), ("A", 9L), ("B", 7L), ("B", 9L)).toDF("src", "v")
    assert(Drift.kuiperDrift(same, "src", "v").collect()
      .forall(_.getDouble(5) === 0.0))
    val lone = Seq(("A", 1L), ("A", 2L)).toDF("src", "v")
    assert(Drift.kuiperDrift(lone, "src", "v").head.isNullAt(5))
  }

  test("kuiperDrift: bounded-strata require fails an over-limit axis") {
    import spark.implicits._
    // 5 strata over a cap of 4 must fail BEFORE the support crossJoin;
    // at the cap it runs — the TakeOrdered probe is exact, not fuzzy
    val five = (0 until 5).flatMap(s =>
      Seq((s"s$s", 1L), (s"s$s", 2L))).toDF("src", "v")
    val e = intercept[IllegalArgumentException] {
      Drift.kuiperDrift(five, "src", "v", maxStrata = 4).collect()
    }
    assert(e.getMessage.contains("exceeds 4 distinct values"))
    assert(Drift.kuiperDrift(five, "src", "v", maxStrata = 5)
      .count() === 5L)
  }

  test("ksDrift flags a shifted stratum harder than a matching one") {
    import spark.implicits._
    val base = (1L to 100L).map(v => ("ok", v)) ++
      (1L to 100L).map(v => ("ref", v)) ++
      (901L to 1000L).map(v => ("shifted", v))
    val got = Drift.ksDrift(base.toDF("src", "v"), "src", "v")
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    // shifted's support is disjoint from its whole rest side → exactly 1;
    // ok's rest CONTAINS the shifted mass, so its sup is the shifted share
    // of the rest (100/200 = 0.5) — and ref must mirror ok exactly
    assert(got("shifted") === 1.0, s"disjoint support must max out: ${got("shifted")}")
    assert(got("ok") === 0.5 && got("ok") === got("ref"))
    assert(got("shifted") > got("ok"))
  }

  test("embedCentroidDrift: symmetric axis groups sit at cos 45° to the corpus mean") {
    import spark.implicits._
    val vecs = (1L to 10L).map(i => (i, 0, Array(1.0f, 0.0f))) ++
      (11L to 20L).map(i => (i, 1, Array(0.0f, 1.0f)))
    val got = Drift.embedCentroidDrift(vecs.toDF("id", "grp", "v"), "grp", "v")
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got(0)._1 === 10L && got(1)._1 === 10L)
    assert(got(0)._2 === got(1)._2, "symmetric groups must land identically")
    assert(math.abs(got(0)._2 - 1.0 / math.sqrt(2.0)) < 1e-9)
  }

  test("embedCentroidDrift: a single group coincides with the corpus centroid") {
    import spark.implicits._
    val vecs = (1L to 5L).map(i => (i, 7, Array(0.5f, 0.25f, -1.0f)))
    val cos = Drift.embedCentroidDrift(vecs.toDF("id", "grp", "v"), "grp", "v")
      .head.getDouble(2)
    assert(cos > 0.999999999, s"self-cosine must be ~1, got $cos")
  }

  test("psiDrift: identical strata at exactly 0; shifted stratum alarms; floor bins") {
    import spark.implicits._
    // identical distributions: every bin has p == q ⇒ every pico term is
    // EXACTLY 0 (not merely small) — the integer law admits no jitter
    val same = Seq(("a", 0L), ("a", 50L), ("a", 150L),
      ("b", 0L), ("b", 50L), ("b", 150L)).toDF("src", "v")
    val zero = Drift.psiDrift(same, "src", "v")
      .collect().map(r => r.getString(0) -> r.getLong(4)).toMap
    assert(zero === Map("a" -> 0L, "b" -> 0L))
    // a stratum living in disjoint bins must alarm far above a matching one
    val mixed = (Seq.fill(50)(("a", 10L)) ++ Seq.fill(50)(("b", 20L)) ++
      Seq.fill(50)(("c", 5000L))).toDF("src", "v")
    val psi = Drift.psiDrift(mixed, "src", "v")
      .collect().map(r => r.getString(0) -> r.getLong(4)).toMap
    assert(psi("c") > psi("a") && psi("c") > 1000000000000L / 4,
      s"disjoint-bin stratum must cross the 0.25 alarm: $psi")
    // terms are a divergence: never negative, for every stratum
    assert(psi.values.forall(_ >= 0L), s"psi must be >= 0: $psi")
    // floor binning on negative metrics: -1 and -100 share bin -1,
    // -101 opens bin -2 (truncating division would corrupt this)
    val neg = Seq(("a", -1L), ("a", -100L), ("b", -101L)).toDF("src", "v")
    val nb = Drift.psiDrift(neg, "src", "v").select("n_bins")
      .head().getLong(0)
    assert(nb === 2L, s"expected bins {-1, -2}, got n_bins=$nb")
  }

  test("psiAgainstCounts: identical histograms at exactly 0; disjoint support alarms") {
    import spark.implicits._
    val a = Seq((10L, 5L), (150L, 3L)).toDF("_v", "_c")
    val r = Drift.psiAgainstCounts(a, a).head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ===
      ((8L, 8L, 2L, 0L)), "identical histograms must score exactly 0")
    val far = Seq((5000L, 8L)).toDF("_v", "_c")
    val alarm = Drift.psiAgainstCounts(a, far).head.getLong(3)
    assert(alarm > 1000000000000L / 4,
      s"disjoint supports must cross the 0.25 alarm, got $alarm")
  }

  test("ksDrift: wide value domains distribute (no guard, exact closed form, _ps_pid shape)") {
    import spark.implicits._
    // 2000 distinct values — past the RETIRED r15 guard's old 10⁶ ceiling
    // scaled down, this now distributes via PrefixSum instead of failing
    // or funneling. Closed form: evens→a, odds→b, 1000 each; after any
    // even value cum_a leads cum_b by exactly 1, so the sup numerator is
    // 1·1000 and ks = 1000/(1000·1000) = 0.001 for both strata.
    val wide = (0L until 2000L).map(i => (if (i % 2 == 0) "a" else "b", i))
      .toDF("src", "v")
    val got = Drift.ksDrift(wide, "src", "v")
    val rows = got.collect().map(r =>
      r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(rows.keySet === Set("a", "b"))
    assert(rows("a") === ((1000L, 1000L, 0.001)))
    assert(rows("b") === ((1000L, 1000L, 0.001)))
    // the global cumulative must carry the distributed prefix-sum shape
    assert(got.queryExecution.executedPlan.toString.contains("_ps_pid"),
      "ksDrift's global cumulative lost the distributed prefix-sum shape")
  }

  test("ksAgainstCounts: wide merged supports distribute; totals ride the prefix pass") {
    import spark.implicits._
    val a = (0L until 600L).map(v => (v, 1L)).toDF("_v", "_c")
    val b = (500L until 1100L).map(v => (v, 1L)).toDF("_v", "_c")
    // union support = 1100 distinct values (past the retired guard's
    // scaled-down bound) — distributes. Closed form: at v=499 cumA=500,
    // cumB=0 → ks = 500·600/(600·600) = 5/6.
    val r = Drift.ksAgainstCounts(a, b).head
    assert(r.getLong(0) === 600L && r.getLong(1) === 600L)
    assert(math.abs(r.getDouble(2) - 5.0 / 6.0) < 1e-12)
    assert(Drift.ksAgainstCounts(a, b).queryExecution.executedPlan
      .toString.contains("_ps_pid"),
      "ksAgainstCounts lost the distributed prefix-sum shape")
  }

  test("embedCentroidDrift excludes NULL groups and empty vectors") {
    import spark.implicits._
    val vecs = Seq((1L, Some(1), Array(1.0f)), (2L, None, Array(1.0f)),
      (3L, Some(1), Array.empty[Float]))
      .toDF("id", "grp", "v")
    val got = Drift.embedCentroidDrift(vecs, "grp", "v").collect()
    assert(got.length === 1)
    assert(got.head.getLong(1) === 1L)
  }

  test("jsDrift: identical strata ~ 0, disjoint strata bounded by ln 2, single stratum NULL") {
    // two strata with IDENTICAL value distributions: jsd ~ 0 (only the
    // add-one smoothing asymmetry from unequal n remains; equal n here)
    val same = ((1 to 200).map(i => ("a", (i % 10) * 100L)) ++
      (1 to 200).map(i => ("b", (i % 10) * 100L)))
      .toDF("src", "v")
    val gotSame = Drift.jsDrift(same, "src", "v")
      .collect().map(r => r.getString(0) -> r.getLong(4)).toMap
    assert(gotSame.values.forall(v => math.abs(v) < 1000000000L),
      s"identical distributions must score ~0: $gotSame")
    // disjoint value ranges: jsd near the ln2 ceiling, never above it
    val ln2pico = math.round(math.log(2.0) * 1e12)
    val disj = ((1 to 200).map(i => ("a", (i % 10) * 100L)) ++
      (1 to 200).map(i => ("b", 100000L + (i % 10) * 100L)))
      .toDF("src", "v")
    val gotDisj = Drift.jsDrift(disj, "src", "v")
      .collect().map(r => r.getString(0) -> r.getLong(4)).toMap
    // 0.73·ln2 computed closed-form for this smoothing (20 bins, n=200 —
    // add-one leaks ~9% mass onto the shared support); the floor sits
    // under it, the ceiling is the theoretical bound
    gotDisj.values.foreach { v =>
      assert(v > (0.6 * ln2pico).toLong && v <= ln2pico + 20,
        s"disjoint strata must sit near (<=) the ln2 bound: $v vs $ln2pico")
    }
    // a single-stratum corpus has no rest side: NULL score, n_rest 0
    val single = (1 to 50).map(i => ("only", i * 100L)).toDF("src", "v")
    val r = Drift.jsDrift(single, "src", "v").collect()
    assert(r.length === 1 && r(0).getLong(2) === 0L && r(0).isNullAt(4))
    // negative metric values bin exactly (floor division law)
    val neg = ((1 to 100).map(i => ("a", -450L)) ++
      (1 to 100).map(i => ("b", -450L))).toDF("src", "v")
    assert(Drift.jsDrift(neg, "src", "v").collect()
      .forall(r => math.abs(r.getLong(4)) < 1000000000L))
  }

  test("psiDrift: single-stratum corpus reports NULL psi (empty rest side)") {
    val single = (1 to 50).map(i => ("only", i * 100L)).toDF("src", "v")
    val r = Drift.psiDrift(single, "src", "v").collect()
    assert(r.length === 1 && r(0).getLong(2) === 0L && r(0).isNullAt(4),
      "a valid-looking finite score over uniform smoothing would measure nothing")
  }

  test("wasserstein1: exact transport costs hand-checked, gap-aware bins, NULL on single stratum") {
    // a = {0,0}, b = {2,2} at binWidth 1: every unit of mass moves 2
    val shifted = Seq(("a", 0L), ("a", 0L), ("b", 2L), ("b", 2L)).toDF("src", "v")
    val g1 = Drift.wasserstein1(shifted, "src", "v", binWidth = 1L)
      .collect().map(r => r.getString(0) -> r.getLong(4)).toMap
    assert(g1 === Map("a" -> 2000000L, "b" -> 2000000L))
    // a = {0} vs rest = {1,1,3}: optimal cost 2/3*1 + 1/3*3 = 5/3 —
    // exercises the gap multiplier (no mass at bin 2)
    val skew = Seq(("a", 0L), ("r", 1L), ("r", 1L), ("r", 3L)).toDF("src", "v")
    val g2 = Drift.wasserstein1(skew, "src", "v", binWidth = 1L)
      .collect().map(r => r.getString(0) -> r.getLong(4)).toMap
    assert(g2("a") === math.round(5.0 / 3.0 * 1e6))
    // identical distributions: exactly 0 (no smoothing residue — W1 is
    // exact where PSI/JS carry the add-one asymmetry)
    val same = ((1 to 100).map(i => ("a", (i % 7) * 100L)) ++
      (1 to 100).map(i => ("b", (i % 7) * 100L))).toDF("src", "v")
    assert(Drift.wasserstein1(same, "src", "v").collect()
      .forall(_.getLong(4) === 0L))
    // binWidth scales the reported units: same shape, 100x the distance
    val g3 = Drift.wasserstein1(
      Seq(("a", 0L), ("b", 200L), ("b", 200L), ("a", 0L)).toDF("src", "v"),
      "src", "v", binWidth = 100L)
      .collect().map(r => r.getString(0) -> r.getLong(4)).toMap
    assert(g3 === Map("a" -> 200000000L, "b" -> 200000000L))
    // single stratum: NULL (ksDrift convention)
    val single = (1 to 50).map(i => ("only", i * 100L)).toDF("src", "v")
    val r = Drift.wasserstein1(single, "src", "v").collect()
    assert(r.length === 1 && r(0).getLong(2) === 0L && r(0).isNullAt(4))
  }

  test("benfordDigits: digits from the floored integer string; sub-1 and NULL drop") {
    import spark.implicits._
    // 199.9 floors to 199 → digit 1 (a double→int CAST would round to 200
    // in DuckDB → digit 2: the law floors explicitly); 0.5 and NULL drop
    val vals = Seq(Some(199.9), Some(23.0), Some(2.1), Some(987.0),
      Some(0.5), None).toDF("v")
    val got = Drift.benfordDigits(vals, "v")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 2L, 9L -> 1L))
    val one = Drift.benfordDigits(vals, "v")
      .filter(col("digit") === 1L).collect().head
    assert(one.getLong(2) === 250000000000L, "share 1/4 in picos")
    assert(one.getLong(3) === math.round(math.log10(2.0) * 1e12))
    assert(one.getLong(4) === one.getLong(2) - one.getLong(3))
  }

  test("jsMatrix: identical strata diverge 0; disjoint strata diverge > 0; total order") {
    import spark.implicits._
    val docs = (1 to 40).flatMap { i =>
      Seq(("a", i * 100L), ("b", i * 100L), // identical distributions
        ("c", 100000L + i * 100L)) // far-off support
    }.toDF("src", "v")
    val m = Drift.jsMatrix(docs, "src", "v")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(5)).toMap
    assert(m(("a", "b")) === 0L, "identical distributions: every term ln(1)=0")
    assert(m(("a", "c")) > 0L && m(("b", "c")) > 0L)
    assert(m.keySet === Set(("a", "b"), ("a", "c"), ("b", "c")))
  }

  test("cvmDrift: hand-computed disjoint-support statistic, identical strata 0, single stratum NULL") {
    import spark.implicits._
    // a = {1,2}, b = {3,4}: D_v = cumS·n_r − cumR·n_s over v = 1..4 is
    // (2, 4, 2, 0) for a → T = (4+16+4+0)/(2·2·4²) = 24/64
    val df0 = Seq(("a", 1L), ("a", 2L), ("b", 3L), ("b", 4L)).toDF("s", "v")
    val m = Drift.cvmDrift(df0, "s", "v").collect()
      .map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(m("a") === 24.0 / 64.0)
    // symmetry: the rest-of-corpus view of b is a's mirror — same T
    assert(m("b") === 24.0 / 64.0)
    // identical distributions: every CDF gap is 0
    val same = Seq(("a", 1L), ("a", 2L), ("b", 1L), ("b", 2L)).toDF("s", "v")
    val ms = Drift.cvmDrift(same, "s", "v").collect()
      .map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(ms("a") === 0.0 && ms("b") === 0.0)
    // single stratum: empty rest side → NULL, not 0
    val lone = Seq(("a", 1L), ("a", 2L)).toDF("s", "v")
    assert(Drift.cvmDrift(lone, "s", "v").collect().head.isNullAt(3))
  }

  test("adDrift: hand-computed tail-weighted terms, last-value exclusion, identical 0, lone NULL") {
    import spark.implicits._
    // a = {1,2}, b = {3,4}: |D| over v = 1..3 is (2, 4, 2); terms
    // c·D²/(cum·(N−cum))/(n_s·n_r) = 4/(1·3)/4, 16/(2·2)/4, 4/(3·1)/4
    // = 1/3 + 1 + 1/3 micro-rounded; v = 4 (cum = N) drops
    val df0 = Seq(("a", 1L), ("a", 2L), ("b", 3L), ("b", 4L)).toDF("s", "v")
    val m = Drift.adDrift(df0, "s", "v").collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(m("a") === 333333L + 1000000L + 333333L)
    assert(m("b") === m("a"), "rest-of-corpus mirror carries the same |D|")
    val same = Seq(("a", 1L), ("a", 2L), ("b", 1L), ("b", 2L)).toDF("s", "v")
    assert(Drift.adDrift(same, "s", "v").collect()
      .forall(_.getLong(3) === 0L))
    val lone = Seq(("a", 1L), ("a", 2L)).toDF("s", "v")
    assert(Drift.adDrift(lone, "s", "v").collect().head.isNullAt(3))
  }

  test("bhattacharyyaDrift: hand-exact disjoint-bin overlap, identical ≈ 1, lone NULL") {
    import spark.implicits._
    // a in bin 0, b in bin 1 (2 docs each): smoothed p = (3/4, 1/4),
    // q = (1/4, 3/4) → BC = 2·√(3/16), H = √(1 − BC)
    val df0 = Seq(("a", 10L), ("a", 20L), ("b", 110L), ("b", 120L))
      .toDF("s", "v")
    val term = math.round(math.sqrt(0.75 * 0.25) * 1e12)
    val bc = 2L * term
    val hell = math.round(math.sqrt(math.max(1.0 - bc.toDouble / 1e12, 0.0))
      * 1e12)
    val m = Drift.bhattacharyyaDrift(df0, "s", "v", binWidth = 100L)
      .collect().map(r => r.getString(0) -> (r.getLong(4), r.getLong(5)))
      .toMap
    assert(m("a") === ((bc, hell)))
    assert(m("b") === ((bc, hell)), "the rest-side view is symmetric here")
    // identical strata: p = q per bin → BC = Σp = 1 up to per-bin
    // rounding (≤ half an ulp-of-pico per bin)
    val same = Seq(("a", 10L), ("a", 110L), ("b", 10L), ("b", 110L))
      .toDF("s", "v")
    val ms = Drift.bhattacharyyaDrift(same, "s", "v", binWidth = 100L)
      .collect().map(r => r.getString(0) -> r.getLong(4)).toMap
    assert(ms.values.forall(v => math.abs(v - 1000000000000L) <= 2L))
    val lone = Seq(("a", 10L)).toDF("s", "v")
    val rl = Drift.bhattacharyyaDrift(lone, "s", "v").collect().head
    assert(rl.isNullAt(4) && rl.isNullAt(5))
  }
}

object DriftSpec {

  /** Naive single-machine replay of the TV law for property tests: the
    * textbook ½·Σ over the FULL vocabulary union, straight doubles —
    * independent of the engine's split-sum rearrangement.
    */
  def tvNaive(docs: Seq[(String, String)]): Map[String, Double] = {
    val toks = docs.flatMap { case (s, t) =>
      TextFns.tokensScala(t).map(w => (s, w))
    }
    if (toks.isEmpty) return Map.empty
    val n = toks.size.toDouble
    val ctAll = toks.groupBy(_._2).map { case (w, xs) => (w, xs.size.toDouble) }
    toks.groupBy(_._1).map { case (s, xs) =>
      val nS = xs.size.toDouble
      val cSt = xs.groupBy(_._2).map { case (w, ys) => (w, ys.size.toDouble) }
      val tv = 0.5 * ctAll.keysIterator.map { w =>
        math.abs(cSt.getOrElse(w, 0.0) / nS - ctAll(w) / n)
      }.sum
      (s, tv)
    }
  }
}
