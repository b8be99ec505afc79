package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.ingest.XlsxRawSource
import graft.model.PathOps
import graft.pipeline.Pipeline
import graft.report.Report
import graft.streaming.MergeSink
import graft.views.Analytic

import perfbench.Inputs.Expect
import perfbench.WorkbookGen.Model

/** The program operations the workloads time, each a sequence of calls into
  * the program's public functions, and the checks of their outputs.
  */
object Ops {

  final case class Imported(db: DataFrame, stats: Report.Stats)

  /** The reference's whole job: drop folder → quarantine-aware pipeline →
    * parquet database → analytic views → final report.
    */
  def importFolder(spark: SparkSession, dir: File, dbPath: String, tr: Trace): Imported = tr("import") {
    val (resolved, bad) = tr("pipeline.plan")(Pipeline.runWithQuarantine(spark, dir.getPath, XlsxRawSource))
    tr("pipeline.write")(resolved.write.mode("overwrite").parquet(dbPath))
    val db = spark.read.parquet(dbPath)
    tr("views.register")(Analytic.registerAll(spark, db))
    Imported(db, tr("report.collect")(Report.collect(db, Some(bad))))
  }

  private def topFive(m: Model): Seq[(String, Long)] =
    m.statusCounts.toSeq.sortBy { case (s, n) => (-n, s) }.take(5)

  /** The final report against the generator's tallies. */
  def reportProblems(s: Report.Stats, m: Model): Seq[String] =
    Ledger.same("total_records", m.keys, s.totalRecords) ++
      Ledger.same("file_count", m.files, s.fileCount) ++
      Ledger.same("folder_count", m.folders, s.folderCount) ++
      Ledger.same("quarantined", m.quarantined, s.quarantined) ++
      Ledger.same("top_statuses", topFive(m), s.topStatuses)

  /** The written database against the generator's tallies. */
  def databaseProblems(db: DataFrame, m: Model): Seq[String] = {
    val agg = db.agg(count(lit(1)), countDistinct(col("file_name"), col("target_file_id")),
      count(when(col("source_file_size") > 0, 1)), count(col("parent_id"))).head()
    val byStatus = db.groupBy("file_status").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    Ledger.same("rows", m.keys, agg.getLong(0)) ++
      Ledger.same("distinct_keys", m.keys, agg.getLong(1)) ++
      Ledger.same("files", m.files, agg.getLong(2)) ++
      Ledger.same("resolved_parents", m.resolvedParents, agg.getLong(3)) ++
      Ledger.diff("status", m.statusCounts, byStatus)
  }

  // ---------------------------------------------------------------------
  // view queries
  // ---------------------------------------------------------------------

  val narrowKinds = Seq("children_lookup", "path_prefix", "status_view", "files_preview", "folders_preview")
  val broadKinds = Seq("status_summary", "top_statuses", "stats", "level_counts", "job_counts")
  val kinds: Seq[String] = narrowKinds ++ broadKinds :+ "hierarchy_lookup"

  /** One query of the SCHEMA.sql corpus against the registered views. */
  def query(spark: SparkSession, db: DataFrame, kind: String, param: String): Array[Row] = kind match {
    case "status_summary" => spark.table("status_summary").collect()
    case "top_statuses" => Analytic.topStatuses(db, 5).collect()
    case "stats" => Analytic.stats(db).collect()
    case "level_counts" => Analytic.levelCounts(db).collect()
    case "job_counts" => Analytic.jobCounts(db).collect()
    case "files_preview" => spark.table("files_view").select("file_name", "source_file_size").limit(10).collect()
    case "folders_preview" => spark.table("folders_view").select("file_name").limit(10).collect()
    case "status_view" =>
      spark.table(s"status_${PathOps.sanitizeViewName(param)}").select("file_name", "target_file_id").collect()
    case "children_lookup" =>
      spark.table("transfer_data").filter(col("parent_id") === param)
        .select("file_name", "target_file_id").collect()
    case "path_prefix" =>
      spark.table("transfer_data").filter(col("file_name").startsWith(param + "/"))
        .select("file_name", "target_file_id").collect()
    case "hierarchy_lookup" =>
      spark.table("hierarchy_children").filter(col("target_file_id") === param.toLong)
        .select("depth", "path").collect()
  }

  /** One round of the analyst session: 60% narrow lookups, 35% full
    * aggregates, 5% hierarchy lookups. Whole rounds keep the mix, and so the
    * latency percentiles, the same in every run; the median falls among the
    * narrow queries.
    */
  val round: Seq[String] =
    Seq.fill(6)("children_lookup") ++ Seq.fill(5)("path_prefix") ++ Seq.fill(5)("status_view") ++
      Seq.fill(4)("files_preview") ++ Seq.fill(4)("folders_preview") ++
      Seq.fill(3)("status_summary") ++ Seq.fill(3)("top_statuses") ++ Seq.fill(2)("stats") ++
      Seq.fill(3)("level_counts") ++ Seq.fill(3)("job_counts") ++ Seq.fill(2)("hierarchy_lookup")

  /** A seeded analyst session over the model's folders and statuses: rounds
    * of [[round]] in seeded order. Children lookups drill down: the next one
    * opens a folder the previous answer returned, as long as there is one.
    */
  final class Session(m: Model, seed: Long) {
    private val rnd = new scala.util.Random(seed)
    private val folders = m.latest.valuesIterator.filter(_.size == 0).toIndexedSeq.sortBy(_.id)
    private val folderIds = folders.map(_.id).toSet
    private val prefixes = folders.filter(f => f.path.count(_ == '/') >= 3).map(_.path)
    private val all = m.latest.valuesIterator.map(_.id).toIndexedSeq.sorted
    private var drill: Option[String] = None
    private var pending = List.empty[String]

    def next(): (String, String) = {
      if (pending.isEmpty) pending = rnd.shuffle(round).toList
      val kind = pending.head
      pending = pending.tail
      (kind, param(kind))
    }

    def param(kind: String): String = kind match {
      case "children_lookup" => drill.getOrElse(folders(rnd.nextInt(folders.size)).id.toString)
      case "path_prefix" => prefixes(rnd.nextInt(prefixes.size))
      case "status_view" => WorkbookGen.rareStatuses(rnd.nextInt(WorkbookGen.rareStatuses.size))
      case "hierarchy_lookup" => all(rnd.nextInt(all.size)).toString
      case _ => ""
    }

    def answered(kind: String, rows: Array[Row]): Unit = if (kind == "children_lookup") {
      val sub = rows.map(_.getLong(1)).filter(folderIds).sorted
      drill = if (sub.isEmpty) None else Some(sub(rnd.nextInt(sub.length)).toString)
    }
  }

  /** A query answer as JSON, for the DuckDB check. */
  def answerJson(kind: String, param: String, rows: Array[Row]): String = {
    def cell(v: Any) = v match {
      case null => "null"
      case s: String => Main.jsonString(s)
      case x => Main.jsonString(x.toString)
    }
    val body = rows.map(r => r.toSeq.map(cell).mkString("[", ",", "]")).mkString(",")
    s"""{"kind":${Main.jsonString(kind)},"param":${Main.jsonString(param)},"rows":[$body]}"""
  }

  // ---------------------------------------------------------------------
  // drop-folder merge
  // ---------------------------------------------------------------------

  final case class Merged(stateRows: Long, summary: Array[Row])

  /** One drop-folder batch: pipeline → keyed merge into the state → the
    * first `status_summary` read of the new state.
    */
  def mergeBatch(spark: SparkSession, dir: File, statePath: String, tr: Trace): Merged = {
    val resolved = Pipeline.run(spark, dir.getPath, XlsxRawSource)
    val n = tr("merge.sink")(MergeSink.merge(spark, resolved, statePath))
    Merged(n, tr("merge.fresh_read")(Analytic.statusSummary(spark.read.parquet(statePath)).collect()))
  }

  /** Row count, per-status counts and the latest-value tags of the state. */
  def mergeProblems(spark: SparkSession, m: Merged, statePath: String, e: Expect): Seq[String] = {
    val summary = m.summary.map(r => r.getString(0) -> r.getLong(1)).toMap
    val tags = spark.read.parquet(statePath).groupBy("status").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    Ledger.same("merge_rows", e.keys, m.stateRows) ++
      Ledger.same("summary_rows", e.keys, summary.values.sum) ++
      Ledger.diff("status", e.statusCounts, summary) ++
      Ledger.diff("latest_batch", e.batchCounts, tags)
  }
}
