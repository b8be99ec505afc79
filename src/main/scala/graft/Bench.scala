package graft
object Bench {

  /** Lower median: deterministic for even run counts, and conservative
    * in the direction that matters (never reports slower than the middle
    * of the measured distribution). The per-query scalar the stdout line
    * and the artifact's `median` field both carry.
    */
  private[graft] def medianOf(ts: Seq[Double]): Double = {
    require(ts.nonEmpty, "medianOf needs at least one sample")
    val s = ts.sorted
    s((s.size - 1) / 2)
  }

  /** The driver-facing stdout line. It must fit the driver's 2000-char
    * capture window or per-query timings silently vanish from review (r5
    * lost 16 of 82 queries to truncation): precision degrades
    * AUTOMATICALLY until the full map fits ≤ 1950 chars, so the query
    * count can keep growing without anyone re-checking the budget
    * (BenchLineSpec pins this against the live registry). Values format
    * with Locale.ROOT — a de_DE/fr_FR default locale would render 0.43
    * as "0,43", malformed JSON, and the driver's json.load would lose
    * the round. Full precision goes to the artifact path (arg 1 /
    * SPARK_GRAFT_BENCH_OUT, default target/BENCH_FULL.json).
    */
  /** 1-minute loadavg from /proc/loadavg; -1.0 where unreadable. */
  private def loadAvg1(): Double =
    try java.nio.file.Files
      .readString(java.nio.file.Paths.get("/proc/loadavg"))
      .trim.split("\\s+")(0).toDouble
    catch { case scala.util.control.NonFatal(_) => -1.0 }

  /** Aggregate steal jiffies (field 8 of /proc/stat's `cpu` line — time
    * the hypervisor ran someone else while this guest was runnable);
    * -1 where unreadable or absent.
    */
  private def stealJiffies(): Long =
    try {
      val cpu = java.nio.file.Files
        .readAllLines(java.nio.file.Paths.get("/proc/stat"))
        .stream.filter(_.startsWith("cpu ")).findFirst.orElse("")
      val f = cpu.trim.split("\\s+")
      if (f.length > 8) f(8).toLong else -1L
    } catch { case scala.util.control.NonFatal(_) => -1L }

  private[graft] def renderLine(results: Map[String, Double], sfName: String): String = {
    val total = results.values.filter(_ >= 0).sum
    def render(dec: Int): String = {
      def fmt(v: Double): String = {
        val s = if (v < 0) return "-1"
          else if (v >= 1)
            String.format(java.util.Locale.ROOT, s"%.${math.min(dec, 1)}f", Double.box(v))
          else String.format(java.util.Locale.ROOT, s"%.${dec}f", Double.box(v))
        // strip trailing zeros ONLY past a decimal point: an integer-formatted
        // value ("%.0f" tier) like "10" must not collapse to "1"
        if (!s.contains('.')) s
        else s.reverse.dropWhile(_ == '0').dropWhile(_ == '.').reverse match {
          case "" => "0"
          case t => t
        }
      }
      // the uniform "q_" prefix AND the word-separating underscores are
      // dead weight under a hard char budget: stripping both in the
      // COMPACT line only (~4-5 chars × |registry|) keeps the full map
      // inside the window at 105+ queries; BENCH_FULL.json keeps the
      // exact registry names, and BenchLineSpec asserts the compaction
      // never collides two live names
      val qs = results.map { case (k, v) =>
        "\"" + k.stripPrefix("q_").replace("_", "") + "\":" + fmt(v)
      }.mkString("{", ",", "}")
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"sf":"$sfName"}"""
    }
    // Last tier is total + the 15 slowest + every failure, at 2 decimals.
    // The old whole-seconds full map carried ~zero per-query signal once
    // the registry outgrew it (at 105 queries most sub-second values
    // printed as "0"); the queries that matter for review are the slow
    // tail and the failures, and those deserve real precision. "nq" says
    // how many queries the partial map summarizes; BENCH_FULL.json still
    // carries every name at full precision.
    def top15(): String = {
      def fmt2(v: Double): String = {
        val s = String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
        s.reverse.dropWhile(_ == '0').dropWhile(_ == '.').reverse match {
          case "" => "0"
          case t => t
        }
      }
      val (ok, failed) = results.toSeq.partition(_._2 >= 0)
      // failures are capped like the slow tail: a mass-failure run (every
      // query -1) must still fit the window — "nfail" carries the true
      // count when any were cut
      val shown = failed.sortBy(_._1).take(15).map { case (k, _) => (k, -1.0) } ++
        ok.sortBy { case (k, v) => (-v, k) }.take(15)
      val qs = shown.map { case (k, v) =>
        "\"" + k.stripPrefix("q_").replace("_", "") + "\":" +
          (if (v < 0) "-1" else fmt2(v))
      }.mkString("{", ",", "}")
      val nfail = if (failed.nonEmpty) s""","nfail":${failed.size}""" else ""
      s"""{"metric":"total","value":${fmt2(total)},"unit":"sec","queries":$qs,"nq":${results.size}$nfail,"sf":"$sfName"}"""
    }
    Iterator(2, 1).map(render).find(_.length <= 1950).getOrElse(top15())
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // full-precision artifact path (r12 verdict task 3a): the default
    // deliberately lands in target/, NOT the repo root — the repo-root
    // BENCH_FULL.json is a COMMITTED baseline, and a routine (possibly
    // load-polluted) run writing the cwd silently overwrote it in r12.
    // Publishing a new baseline is now an explicit act: pass the path as
    // arg 1 (or SPARK_GRAFT_BENCH_OUT).
    val outPath = args.headOption
      .orElse(sys.env.get("SPARK_GRAFT_BENCH_OUT"))
      .getOrElse("target/BENCH_FULL.json")
    val spark = LocalSpark()
    // warmup: absorb JVM/codegen first-touch cost, then pre-touch EVERY
    // testdata table (full scan into the noop sink — vectorized read, no row
    // conversion) so per-query timings measure the query, not whichever one
    // happened to fault a table's pages in first (r1: q_status_summary 2.46s
    // vs q_top_statuses 0.35s for the same plan)
    try {
      spark.range(1000000L).selectExpr("sum(id)").collect()
      new java.io.File(sfDir).listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .foreach { f =>
          spark.read.parquet(f.getPath).write.mode("overwrite").format("noop").save()
        }
    } catch { case _: Throwable => () }
    // store-lifecycle queries commit their artifact once per JVM
    // (Registry.storeOnce) — run each once now so ALL timed passes
    // measure only the stored-path probe. The commit half is a write
    // workload whose box-load spread (r8: 1.14 s vs 3.37 s for identical
    // code) would otherwise drown the probe signal the bench exists to
    // catch; the full lifecycle stays timed end-to-end in Verify.
    SparkEntry.queries.filter(_._1.endsWith("_store")).foreach { case (n, fn) =>
      try { fn(spark, sfDir).count(); () }
      catch { case e: Throwable =>
        System.err.println(s"[bench] warmup commit for $n failed: ${e.getMessage}")
      }
    }
    // MEDIAN-of-N (default 3, SPARK_GRAFT_BENCH_PASSES): r12/r14/r15 all
    // spent verdict space adjudicating 10-15% box-load drift between the
    // committed baseline and the driver's own run — best-of-2 min()
    // discarded TRANSIENT stalls but still tracked sustained load, and
    // carried no spread signal to tell the two apart. The median is the
    // load-robust central estimate (one slow pass of three cannot move
    // it), and the artifact keeps per-query {median, min, max, runs} so a
    // round-over-round delta can be read against the measured spread
    // instead of re-litigated. Attempts run as ROUND-ROBIN PASSES over
    // the whole registry (pass 1 all queries, then pass 2, ...), not
    // back-to-back per query: transient box load lasting a few seconds
    // then lands on ONE attempt of several queries instead of ALL
    // attempts of whichever query it straddled — the r7 driver artifact
    // inflated the iterative multi-job queries ~1.3× exactly that way.
    // A failed query must be visible in the output, not timed as
    // success: report -1 so the driver can distinguish failure from a
    // fast run.
    // run order is SORTED, not HashMap order: map order reshuffles every
    // time a key is added, which silently changes each query's upstream
    // JVM neighborhood between rounds — the r12 sf1 sweep measured the
    // text family 3.6× slower purely because the new heavy graph queries
    // hashed in front of it. Sorted order keeps cross-round per-query
    // ratios neighborhood-stable.
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
    // pass 2 runs REVERSED, pass 3 rotated by half (r12 verdict task 3b,
    // extended): with every pass ascending, the alphabetically-early
    // family sits at the head of EVERY run, so one loaded minute at
    // process start inflates all attempts of exactly those rows — the
    // r12 driver artifact read the ANN family ×5-7.5 precisely that way.
    // Mirrored/offset positions land sustained head-of-run load on
    // different queries per pass, where the median drops it. Still fully
    // deterministic, so cross-round per-query neighborhoods stay stable.
    val nPasses = sys.env.get("SPARK_GRAFT_BENCH_PASSES")
      .flatMap(_.toIntOption).filter(_ >= 1).getOrElse(3)
    // DISCARDED warm-up pass (default 1, SPARK_GRAFT_BENCH_WARMUP): the
    // table pre-touch above faults pages in, but each query's OWN codegen
    // compile + JIT tiering still lands on its first attempt — r16's
    // committed spread had q_adamic_adar max 5.41 s vs median 2.57 purely
    // from that first-touch cost surviving into the 3-run min/max. One
    // untimed pass over the sorted order moves every query to steady
    // state before measurement; failures are swallowed here (the timed
    // passes report them as -1 where the driver can see them).
    val nWarmup = sys.env.get("SPARK_GRAFT_BENCH_WARMUP")
      .flatMap(_.toIntOption).filter(_ >= 0).getOrElse(1)
    // NonFatal only: a fatal JVM error (OOM, StackOverflow) poisons the
    // process — timed passes after it would publish misleading baselines,
    // so let it propagate and kill the run instead.
    for (_ <- 0 until nWarmup; (name, fn) <- names) {
      try { fn(spark, sfDir).count(); () }
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] warmup $name failed: ${e.getMessage}")
      }
    }
    val half = names.size / 2
    val baseOrders = Seq(names, names.reverse,
      names.drop(half) ++ names.take(half))
    val passOrders = (0 until nPasses).map(i => baseOrders(i % baseOrders.size))
    // per-pass host-load index (r17 verdict task 3): 1-min loadavg at
    // pass start/end plus the steal-jiffies delta over the pass, so a
    // sweep that reads 30% hot is mechanically separable into host load
    // vs code regression (the r17 189.8/272.8/206.7 same-code spread
    // cost a verdict real analysis time). Best-effort: a non-Linux /proc
    // yields -1 fields, never a failed bench.
    val passLoads = scala.collection.mutable.ArrayBuffer[String]()
    val passes = passOrders.map { order =>
      val (l0, s0) = (loadAvg1(), stealJiffies())
      val res = order.map { case (name, fn) =>
        // each attempt tries independently: a flake on one pass must not
        // discard another's valid measurement
        name -> (try {
          val t0 = System.nanoTime()
          fn(spark, sfDir).count()
          Some((System.nanoTime() - t0) / 1e9)
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          None
        })
      }.toMap
      val (l1, s1) = (loadAvg1(), stealJiffies())
      val sd = if (s0 >= 0L && s1 >= 0L) (s1 - s0).toString else "-1"
      passLoads +=
        s"""{"load1_start":$l0,"load1_end":$l1,"steal_jiffies":$sd}"""
      res
    }
    val stats = names.map { case (name, _) =>
      name -> passes.flatMap(_.apply(name))
    }
    val results = stats.map { case (name, times) =>
      name -> (if (times.isEmpty) -1.0 else medianOf(times))
    }.toMap
    val line = renderLine(results, new java.io.File(sfDir).getName)
    val full = stats.map { case (k, times) =>
      val v =
        if (times.isEmpty) """{"median":-1,"min":-1,"max":-1,"runs":0}"""
        else s"""{"median":${medianOf(times)},"min":${times.min},""" +
          s""""max":${times.max},"runs":${times.size}}"""
      "\"" + k + "\":" + v
    }.mkString("{", ",", "}")
    val total = results.values.filter(_ >= 0).sum
    try {
      val p = java.nio.file.Paths.get(outPath)
      Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
      java.nio.file.Files.writeString(p,
        s"""{"metric":"total","value":$total,"unit":"sec","queries":$full,"passes":$nPasses,"warmup":$nWarmup,"pass_load":[${passLoads.mkString(",")}],"sf":"$sfDir"}""")
      System.err.println(s"[bench] full-precision artifact: $outPath")
    } catch { case _: Throwable => () }
    println(line)
    spark.stop()
  }
}
