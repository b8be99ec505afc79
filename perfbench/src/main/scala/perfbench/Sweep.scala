package perfbench

import java.io.File

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ingest.{Coerce, Quarantine, Xlsx, XlsxRawSource}
import graft.ops.{Enrich, Hierarchy, Parents, Upsert}
import graft.pipeline.Pipeline
import graft.streaming.MergeSink

import perfbench.Main.{Run, Sizes}
import perfbench.Workloads.percentile

/** The traced run: one sweep over every layer, whatever the workload, so
  * every per-layer metric is measured in each traced run. The engine
  * counters are those of the named workload's own operations.
  *
  * Pipeline stages (load → quarantine → coerce → enrich → upsert →
  * parents) are timed one at a time, each into Spark's `noop` sink over its
  * input materialized by a local checkpoint. A `count()` would let Catalyst
  * prune the columns a stage produces and under-report it.
  */
object Sweep {

  private def now = System.nanoTime()
  private def since(t: Long) = (System.nanoTime() - t) / 1e9

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def apply(run: Run): Unit = {
    val spark = run.spark
    val tr = run.trace
    val untraced = new Trace(run.trace.runId, enabled = false)
    val drop = Inputs.dropFolder(run.inputsDir, run.seed, Sizes.largeRows, Sizes.smallRows, Sizes.smallBooks)
    val m = drop.model
    val counters = new EngineCounters(drop.workbooks.size)
    val cores = spark.sparkContext.defaultParallelism
    def engine(w: EngineCounters.Snap, ops: Int): Unit = {
      run.metric("engine.shuffle_write_mb", w.shuffleWrite / 1048576.0 / ops, "MB")
      run.metric("engine.spill_mb", w.spill / 1048576.0 / ops, "MB")
      run.metric("engine.jobs", w.jobs.toDouble / ops, "count")
      run.metric("engine.tasks", w.tasks.toDouble / ops, "count")
      run.metric("engine.cpu_busy_frac", w.cpuNs.toDouble / (w.wallNs.toDouble * cores), "frac")
      run.metric("engine.gc_s", w.gcMs / 1000.0 / ops, "s")
    }

    // ---- import: a cold and a warm import, then a traced one; the listener
    // joins for the traced import only
    def importChecked(db: String, t: Trace, checkDb: Boolean = false) = {
      val t0 = now
      val (id, r) = run.ledger.attempt("import")(Ops.importFolder(spark, drop.dir, run.scratch(db).getPath, t))
      val secs = since(t0)
      r.foreach { imp =>
        run.ledger.verify(id, "import report")(Ops.reportProblems(imp.stats, m))
        if (checkDb) run.ledger.verify(id, "import database")(Ops.databaseProblems(imp.db, m))
      }
      (r.getOrElse(throw new IllegalStateException("import failed")), secs)
    }
    importChecked("db0", untraced, checkDb = true)
    importChecked("db1", untraced)
    spark.sparkContext.addSparkListener(counters)
    val c0 = counters.snap(spark)
    val (imp, _) = importChecked("db2", tr)
    val importWindow = counters.snap(spark) - c0
    val importS = tr.named("import").last.seconds
    run.metric("trace.import_s", importS, "s")
    run.metric("ingest.scans_per_import", importWindow.scanTasks.toDouble / drop.workbooks.size, "count")

    // ---- the stage ladder: each stage runs into the noop sink over its
    // input materialized by a local checkpoint, so every stage is timed on
    // its own and no stage time is a difference of two measurements.
    val path = drop.dir.getPath
    def stage(name: String, in: => DataFrame): DataFrame = {
      val (id, _) = run.ledger.attempt(s"stage $name")(tr(s"stage.$name")(noop(in)))
      val secs = tr.named(s"stage.$name").last.seconds
      run.ledger.verify(id, s"stage $name")(if (secs > 0) Nil else Seq(s"stage $name timed at $secs s"))
      in.localCheckpoint()
    }
    val loaded = stage("load", XlsxRawSource.load(spark, path))
    val good = stage("quarantine", Quarantine.split(loaded)._1)
    val coerced = stage("coerce", Coerce(good))
    val enriched = stage("enrich", Enrich(coerced))
    val upserted = stage("upsert", Upsert(enriched))
    val parents = stage("parents", Parents(upserted))
    tr("pipeline.write")(parents.write.mode("overwrite").parquet(run.scratch("write").getPath))

    val stages = Seq("load", "quarantine", "coerce", "enrich", "upsert", "parents")
      .map(n => n -> tr.named(s"stage.$n").last.seconds).toMap
    run.metric("ingest.load_s", stages("load"), "s")
    run.metric("ingest.quarantine_s", stages("quarantine"), "s")
    run.metric("ingest.coerce_s", stages("coerce"), "s")
    run.metric("ops.enrich_s", stages("enrich"), "s")
    run.metric("ops.upsert_s", stages("upsert"), "s")
    run.metric("ops.parents_s", stages("parents"), "s")
    val writeS = tr.named("pipeline.write").last.seconds
    val registerS = tr.named("views.register").last.seconds
    val reportS = tr.named("report.collect").last.seconds
    run.metric("pipeline.write_s", writeS, "s")
    run.metric("views.register_s", registerS, "s")
    run.metric("report.collect_s", reportS, "s")
    run.metric("trace.stage_sum_s", stages.values.sum + writeS + registerS + reportS, "s")

    run.metric("ops.upsert_keep_ratio", imp.stats.totalRecords.toDouble / good.count(), "frac")
    val hits = imp.db.agg(count(col("parent_id")), count(when(col("level") >= 2, 1))).head()
    run.metric("ops.parents_hit_ratio", hits.getLong(0).toDouble / hits.getLong(1), "frac")
    val tree = tr("ops.hierarchy")(Hierarchy(imp.db))
    run.metric("ops.hierarchy_s", tr.named("ops.hierarchy").last.seconds, "s")
    run.metric("ops.hierarchy_levels", tree.agg(max(col("depth"))).head().getInt(0) + 1.0, "count")

    // best of three single-threaded scans of the largest workbook
    val scanRates = (0 until 3).map { _ =>
      val n = tr("ingest.scan_1t") {
        var n = 0L
        Xlsx.scanRows(drop.largest, _.startsWith("Transfer Report")).foreach(_ => n += 1)
        n
      }
      n / tr.named("ingest.scan_1t").last.seconds
    }
    run.metric("ingest.scan_1t_rows_per_s", scanRates.max, "1/s")

    // ---- views: every query kind over the traced import's database, once
    // to warm up (its answer is left for the DuckDB check), then with one
    // parameter untraced and traced in the order U T T U, so the JIT's
    // speed-up falls on both sides alike; the listener is attached for the
    // traced queries only. The tracing overhead is measured here, over
    // queries rather than imports: many short operations give a steadier
    // figure, and a query's tracing cost is the larger share of its time.
    // It is the median over the kinds of each kind's traced time against
    // its untraced time.
    val session = new Ops.Session(m, run.seed)
    run.context("db_path") = run.scratch("db2").getPath
    var narrowRead, narrowReturned = 0L
    val overheads = Seq.newBuilder[Double]
    var viewWindow = EngineCounters.Snap(0, 0, 0, 0, 0, 0, 0, 0, 0)
    spark.sparkContext.removeSparkListener(counters)
    Ops.kinds.foreach { kind =>
      val warm = session.param(kind)
      val (_, answer) = run.ledger.attempt(s"query $kind")(Ops.query(spark, imp.db, kind, warm))
      answer.foreach(r => run.viewAnswers += Ops.answerJson(kind, warm, r))
      var tracedS, untracedS = 0.0
      val p = session.param(kind)
      Seq(false, true, true, false).foreach { traced =>
        if (traced) spark.sparkContext.addSparkListener(counters)
        val s0 = counters.snap(spark)
        val (_, rows) = run.ledger.attempt(s"query $kind")(
          (if (traced) tr else untraced)(s"views.$kind")(Ops.query(spark, imp.db, kind, p)))
        val w = counters.snap(spark) - s0
        if (traced) {
          spark.sparkContext.removeSparkListener(counters)
          tracedS += w.wallNs / 1e9
          viewWindow += w
          if (Ops.narrowKinds.contains(kind)) {
            narrowRead += w.recordsRead
            narrowReturned += rows.map(_.length).getOrElse(0)
          }
        } else untracedS += w.wallNs / 1e9
      }
      overheads += (tracedS - untracedS) / untracedS
      run.metric(s"views.${kind}_ms", percentile(tr.named(s"views.$kind").map(_.seconds), 0.5) * 1000, "ms")
    }
    spark.sparkContext.addSparkListener(counters)
    run.metric("trace.overhead_frac", percentile(overheads.result(), 0.5), "frac")
    run.metric("views.rows_read_per_row_returned", narrowRead.toDouble / math.max(1L, narrowReturned), "ratio")

    // ---- drop-folder merge: a base state, then one traced batch. The
    // pipeline is timed alone into the noop sink; the sink is timed over the
    // batch's lazy pipeline frame, as the drop folder calls it, so it
    // includes the pipeline runs the sink itself triggers.
    val feed = new Inputs.MergeFeed(run.inputsDir, run.seed, Sizes.mergeBaseRows,
      Sizes.mergeBaseBooks, Sizes.mergeBatchRows)
    val state = run.scratch("state")
    MergeSink.merge(spark, Pipeline.run(spark, feed.base.dir.getPath, XlsxRawSource), state.getPath)
    def listing = Disk.dataFiles(state).map(f => f.getPath -> f.length).toMap
    def buckets(l: Map[String, Long]) = l.keySet.groupBy(f => new File(f).getParentFile.getName)
    val before = listing
    tr("merge.pipeline")(noop(Pipeline.run(spark, feed.batchDir.getPath, XlsxRawSource)))
    val (mid, merged) = run.ledger.attempt("merge batch")(Ops.mergeBatch(spark, feed.batchDir, state.getPath, tr))
    merged.foreach(mg => run.ledger.verify(mid, "merge batch")(Ops.mergeProblems(spark, mg, state.getPath, feed.expect)))
    val stateRows = merged.getOrElse(throw new IllegalStateException("merge failed")).stateRows
    val after = listing
    val (bb, ba) = (buckets(before), buckets(after))
    val written = after.filter { case (f, _) => !before.contains(f) }.values.sum.toDouble
    val batchEquivalent = feed.batchRows * after.values.sum.toDouble / stateRows
    run.metric("merge.pipeline_s", tr.named("merge.pipeline").last.seconds, "s")
    run.metric("merge.sink_s", tr.named("merge.sink").last.seconds, "s")
    run.metric("merge.fresh_read_ms", tr.named("merge.fresh_read").last.seconds * 1000, "ms")
    run.metric("merge.dirty_bucket_frac", ba.count { case (k, fs) => !bb.get(k).contains(fs) }.toDouble / ba.size, "frac")
    run.metric("merge.write_amp", written / batchEquivalent, "ratio")
    run.metric("merge.state_files", after.size.toDouble, "count")
    run.metric("merge.state_bytes_per_row", after.values.sum.toDouble / stateRows, "B")

    // ---- operator registry: one query per family over fixed tables, in an
    // order the seed rotates, timed from the call to the collected answer;
    // the answer is written out for the DuckDB check afterwards
    val tables = RegistryTables(spark, run.inputsDir, Sizes.registry).getPath
    val picks = RegistryTables.picks
    val shift = (run.seed % picks.size).toInt.abs
    (picks.drop(shift) ++ picks.take(shift)).foreach { case (family, q) =>
      val (id, answer) = run.ledger.attempt(s"registry $q")(tr(s"registry.$family") {
        val df = graft.SparkEntry.queries(q)(spark, tables)
        (df.schema, df.collect())
      })
      answer.foreach { case (schema, rows) =>
        val out = run.scratch(s"registry/$q")
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).coalesce(1).write.parquet(out.getPath)
        run.registryAnswers += RegistryTables.answerJson(family, q, out)
        RegistryTables.expectedRows.get(q).foreach(n => run.ledger.verify(id, s"registry $q")(
          Ledger.same("rows", n, rows.length.toLong)))
      }
      run.metric(s"registry.${family}_s", tr.named(s"registry.$family").last.seconds, "s")
    }
    run.context("registry_tables") = tables

    run.workload match {
      case "xlsx_import" => engine(importWindow, 1)
      case "view_queries" => engine(viewWindow, 2 * Ops.kinds.size)
    }
  }
}
