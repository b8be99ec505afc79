package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload, one seed, one run.
  *
  * {{{
  * Main --workload <xlsx_import|view_queries> --seed <n>
  *      --seconds <s> --trace <0|1> --work <dir> --out <result.json>
  * }}}
  *
  * With `--trace 0` the run reports the end-to-end metrics of the workload;
  * with `--trace 1` it runs the traced layer sweep (see [[Sweep]]) and
  * reports the per-layer metrics. The result, including the operation
  * ledger and the query answers left for the DuckDB check, goes to `--out`.
  */
object Main {

  /** Input sizes. The import folder is one large workbook (the single-task
    * straggler) and six small ones; the merge state starts from four base
    * workbooks and takes one-workbook batches.
    */
  object Sizes {
    val largeRows = 10000
    val smallRows = 2500
    val smallBooks = 6
    val mergeBaseRows = 6000
    val mergeBaseBooks = 3
    val mergeBatchRows = 600
    val registry = RegistryTables.Sizes(customers = 500, orders = 4000, users = 40, events = 3000,
      documents = 500, embeddings = 500)
  }

  final class Run(val spark: SparkSession, val workload: String, val seed: Long,
      val seconds: Double, val work: File, val trace: Trace) {
    val ledger = new Ledger
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    val context = mutable.LinkedHashMap.empty[String, String]
    val viewAnswers = mutable.ArrayBuffer.empty[String]
    val registryAnswers = mutable.ArrayBuffer.empty[String]
    def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
    def inputsDir = new File(work, "inputs")
    def scratch(name: String) = new File(work, s"run/$name")
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    require(Workloads.names.contains(workload), s"unknown workload $workload")
    val work = new File(opts("work")).getAbsoluteFile
    val traced = opts.getOrElse("trace", "0") == "1"
    val steal0 = Host.stealJiffies
    val t0 = System.nanoTime()
    // the session the repository's own specs and timer use: every core,
    // one shuffle partition per core
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.LogLevels.quietCheckpointRelease()
    val sparkStartS = (System.nanoTime() - t0) / 1e9
    val run = new Run(spark, workload, opts("seed").toLong, opts("seconds").toDouble, work,
      new Trace(s"$workload-${opts("seed")}-${System.currentTimeMillis()}", traced))
    Disk.delete(new File(work, "run"))
    try {
      if (traced) Sweep(run) else Workloads(run, sparkStartS)
    } catch {
      case scala.util.control.NonFatal(e) =>
        run.ledger.attempt(s"$workload run")(throw e)
    } finally {
      run.trace.write(new File(work, s"spans/${run.trace.runId}.jsonl"))
      run.context("host.load1") = Host.load1.toString
      run.context("host.steal_jiffies") = (Host.stealJiffies - steal0).toString
      writeResult(run, new File(opts("out")))
      spark.stop()
    }
  }

  private def q(s: String) = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""

  private def num(d: Double) =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString

  private def writeResult(run: Run, out: File): Unit = {
    val metrics = run.metrics.map { case (k, (v, u)) => s"${q(k)}:{\"value\":${num(v)},\"unit\":${q(u)}}" }
    val context = run.context.map { case (k, v) => s"${q(k)}:${q(v)}" }
    val json = s"""{"attempted":${run.ledger.attempted},"failed":${run.ledger.failed},""" +
      s""""failures":[${run.ledger.failures.map(q).mkString(",")}],""" +
      s""""metrics":{${metrics.mkString(",")}},"context":{${context.mkString(",")}},""" +
      s""""view_answers":[${run.viewAnswers.mkString(",")}],""" +
      s""""registry_answers":[${run.registryAnswers.mkString(",")}]}"""
    out.getAbsoluteFile.getParentFile.mkdirs()
    java.nio.file.Files.write(out.toPath, json.getBytes("UTF-8"))
  }

  /** JSON string literal, shared with the answer dump. */
  def jsonString(s: String): String = q(s)
}
