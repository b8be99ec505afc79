package graft

/** Entry-point log hygiene. [[graft.ops.Clusters.release]] (used by the
  * connected-components rounds and the hierarchy traversal) unpersists
  * RDDs it localCheckpointed ITSELF, on purpose, after their last use —
  * but Spark logs every such unpersist as
  * `WARN MapPartitionsRDD: RDD n was locally checkpointed, its lineage
  * has been truncated and cannot be recomputed after unpersisting`, one
  * line per released round. Over a full bench run that is dozens of
  * lines of driver-tail noise that would bury a REAL warning.
  *
  * The silencing is deliberately done by the entry points and not inside
  * the library: a host application keeps its own logging policy — a
  * library must not mutate global logger levels as a side effect of an
  * operator call. Its callers are [[LocalSpark]], the session factory of
  * `Bench`, `Verify`, the `tools` mains and the test suites, and the
  * benchmark's `perfbench.Main`, which builds its own session.
  */
object LogLevels {

  /** Raise the intentional-release RDD logger to ERROR. Call after the
    * SparkSession exists (Spark's log4j2 config is installed by then).
    */
  def quietCheckpointRelease(): Unit = {
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd.MapPartitionsRDD",
      org.apache.logging.log4j.Level.ERROR)
    // `WARN WindowExec: No Partition Defined` — several operators
    // (shard-balance total, KS global cumulative, embed-drift global
    // sums) use an unpartitioned window over an ALREADY-AGGREGATED
    // bounded frame BY DESIGN (the alternative was a second corpus scan).
    // Suppressed by MESSAGE-REGEX filter on the WindowExec logger, not a
    // per-class level raise: WindowExec stays at WARN for every OTHER
    // message, so a novel degradation it learns to warn about still
    // surfaces, and the one silenced message is the known bounded-frame
    // one. (The blunt Configurator.setLevel ERROR variant silenced the
    // whole class — an accidentally corpus-sized unpartitioned window in
    // a NEW operator would have degraded without its runtime warning;
    // those now additionally hit [[graft.ops.Drift]]'s value-domain
    // guard.) The filter is installed on the entry-point sessions only —
    // a host application keeps its own logging policy because the
    // library never calls this.
    try {
      import org.apache.logging.log4j.core.{Filter, LoggerContext}
      import org.apache.logging.log4j.core.config.LoggerConfig
      import org.apache.logging.log4j.core.filter.RegexFilter
      val ctx = org.apache.logging.log4j.LogManager
        .getContext(false).asInstanceOf[LoggerContext]
      val cfg = ctx.getConfiguration
      val name = "org.apache.spark.sql.execution.window.WindowExec"
      val lc = cfg.getLoggerConfig(name) match {
        case exact if exact.getName == name => exact
        case _ =>
          val fresh = new LoggerConfig(name,
            org.apache.logging.log4j.Level.WARN, true)
          cfg.addLogger(name, fresh)
          fresh
      }
      lc.addFilter(RegexFilter.createFilter(
        ".*No Partition Defined for Window operation.*", null, false,
        Filter.Result.DENY, Filter.Result.NEUTRAL))
      ctx.updateLoggers()
    } catch { case e: Throwable =>
      // a log4j2 API drift must degrade to NOISE, never to a crash of
      // the entry point — fall back to the old per-class raise
      System.err.println(s"[loglevels] regex filter install failed (${e.getMessage}); " +
        "falling back to class-level ERROR for WindowExec")
      org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.sql.execution.window.WindowExec",
        org.apache.logging.log4j.Level.ERROR)
    }
  }
}
