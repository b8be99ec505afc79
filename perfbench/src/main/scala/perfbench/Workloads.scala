package perfbench

import perfbench.Main.{Run, Sizes}

/** The untraced workloads and their end-to-end metrics. Each has a set-up
  * (Spark start, inputs, warm-up imports of the drop folder or the base
  * import and a warm-up round of queries) and a closed loop of one operation
  * kind that runs for `--seconds`:
  *
  *   - `xlsx_import`: the whole import job over the drop folder;
  *   - `view_queries`: one query of a seeded analyst session.
  *
  * Every operation's output is checked outside its timed region.
  */
object Workloads {

  val names = Seq("xlsx_import", "view_queries")

  private def now = System.nanoTime()
  private def since(t: Long) = (System.nanoTime() - t) / 1e9

  /** Interpolated percentile (`p` in 0..1) of `xs`. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = p * (s.size - 1)
      val lo = pos.floor.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  def apply(run: Run, sparkStartS: Double): Unit = {
    val tIn = now
    val (setup, op) = run.workload match {
      case "xlsx_import" => importWorkload(run)
      case "view_queries" => viewWorkload(run)
    }
    val setupS = sparkStartS + since(tIn)
    val times = loop(run, op)
    run.metric("setup_s", setupS, "s")
    run.metric("op_p50_ms", percentile(times, 0.5) * 1000, "ms")
    run.metric("ops_per_s", times.size / times.sum, "1/s")
    run.metric("heap_peak_mb", op.heapPeakMb, "MB")
    run.context("ops") = times.size.toString
    run.context("setup_parts") = f"spark=$sparkStartS%.3f inputs+base=${setupS - sparkStartS}%.3f"
    setup.foreach { case (k, v) => run.context(k) = v }
  }

  /** One workload's operation: `step(i)` runs operation `i` and returns its
    * timed seconds, or None when it failed. The loop ends on a multiple of
    * `roundSize` operations.
    */
  abstract class Op(val minOps: Int, val gcEvery: Int, val roundSize: Int = 1) {
    def step(i: Int): Option[Double]
    var heapPeakMb = 0.0
    def sampleHeap(): Unit = heapPeakMb = math.max(heapPeakMb, Host.oldGenAfterGcMb())
  }

  private def loop(run: Run, op: Op): Seq[Double] = {
    val times = Seq.newBuilder[Double]
    val cal = Seq.newBuilder[Double]
    (0 until 5).foreach(_ => Host.calibrationMs())
    val t0 = now
    var i = 0
    while (since(t0) < run.seconds || i < op.minOps || i % op.roundSize != 0) {
      op.step(i).foreach { t => times += t; System.err.println(f"[perfbench] op $i ${t}%.3f s") }
      i += 1
      if (i % op.gcEvery == 0) { op.sampleHeap(); cal += Host.calibrationMs() }
    }
    op.sampleHeap()
    cal += Host.calibrationMs()
    run.context("calibration_ms") = f"${percentile(cal.result(), 0.5)}%.3f"
    times.result()
  }

  private def timed[A](body: => A): (A, Double) = { val t = now; val a = body; (a, since(t)) }

  private def dropFolder(run: Run) = {
    val (d, secs) = timed(Inputs.dropFolder(run.inputsDir, run.seed, Sizes.largeRows, Sizes.smallRows, Sizes.smallBooks))
    (d, Map("input_rows" -> d.model.rows.toString, "input_mb" -> f"${d.bytes / 1048576.0}%.2f",
      "inputs_s" -> f"$secs%.3f"))
  }

  private def importWorkload(run: Run): (Map[String, String], Op) = {
    val (drop, ctx) = dropFolder(run)
    val m = drop.model
    def once(i: Int): Option[Double] = {
      val db = run.scratch(s"db${i % 2}").getPath
      val (id, r) = run.ledger.attempt("import")(timed(Ops.importFolder(run.spark, drop.dir, db, run.trace)))
      r.map { case (imp, secs) =>
        run.ledger.verify(id, "import report")(Ops.reportProblems(imp.stats, m))
        if (i == 0) run.ledger.verify(id, "import database")(Ops.databaseProblems(imp.db, m))
        secs
      }
    }
    // two warm-up imports of the same folder: the first is cold, and the JIT
    // is still compiling through the second, which runs ~25% slower than the
    // imports after it
    once(0)
    once(1)
    (ctx, new Op(minOps = 2, gcEvery = 1) { def step(i: Int) = once(i + 2) })
  }

  private def viewWorkload(run: Run): (Map[String, String], Op) = {
    val (drop, ctx) = dropFolder(run)
    val (bid, base) = run.ledger.attempt("base import")(
      Ops.importFolder(run.spark, drop.dir, run.scratch("db").getPath, run.trace))
    val imp = base.getOrElse(throw new IllegalStateException("base import failed"))
    run.ledger.verify(bid, "base import report")(Ops.reportProblems(imp.stats, drop.model))
    val session = new Ops.Session(drop.model, run.seed)
    // one answer per kind for the DuckDB check
    Ops.kinds.foreach { kind =>
      val p = session.param(kind)
      val (_, rows) = run.ledger.attempt(s"query $kind")(Ops.query(run.spark, imp.db, kind, p))
      rows.foreach(r => run.viewAnswers += Ops.answerJson(kind, p, r))
    }
    run.context("db_path") = run.scratch("db").getPath
    def once(): Option[Double] = {
      val (kind, p) = session.next()
      val (_, r) = run.ledger.attempt(s"query $kind")(timed(Ops.query(run.spark, imp.db, kind, p)))
      r.map { case (rows, secs) => session.answered(kind, rows); secs }
    }
    Ops.round.foreach(_ => once()) // a warm-up round
    (ctx, new Op(minOps = Ops.round.size, gcEvery = Ops.round.size, roundSize = Ops.round.size) {
      def step(i: Int) = once()
    })
  }
}
