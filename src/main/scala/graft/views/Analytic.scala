package graft.views

import scala.util.Try

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession, SQLContext}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{BaseRelation, TableScan}
import org.apache.spark.sql.types.StructType

import graft.model.PathOps
import graft.ops.Hierarchy

/** The reference's analytic surface (SQLiteDirectImporter.java:865-916;
  * SCHEMA.sql:48-101) as pure `DataFrame → DataFrame` functions, plus a
  * `registerAll` that binds them as temp views under the reference's names.
  * The SQLite database's "queryable artifact" role is played by these views
  * (+ Parquet output from the pipeline).
  */
object Analytic {

  /** `files_view`: rows with `source_file_size > 0` (P12,
    * SQLiteDirectImporter.java:869-870).
    */
  def filesView(df: DataFrame): DataFrame =
    df.filter(col("source_file_size") > 0)

  /** `folders_view`: `source_file_size = 0 OR IS NULL` (P13, ibid.:873-874).
    * NULL here means the size cell failed bigint parse — distinct from the
    * never-null empty string of text columns.
    */
  def foldersView(df: DataFrame): DataFrame =
    df.filter(col("source_file_size") === 0 || col("source_file_size").isNull)

  /** `status_summary` (A1/P7/P8/O1, ibid.:877-885): group by
    * `COALESCE(file_status,'Unknown')`, conditional file/folder counts,
    * ordered by record_count desc. One hash-agg shuffle; partial aggregation
    * map-side is automatic.
    */
  def statusSummary(df: DataFrame): DataFrame =
    statusCounts(df).orderBy(col("record_count").desc)

  /** [[statusSummary]] without its ordering: one row per status, in no
    * particular order — the single aggregate [[graft.report.Report]] sums.
    */
  def statusCounts(df: DataFrame): DataFrame =
    df.groupBy(coalesce(col("file_status"), lit("Unknown")).as("status_name"))
      .agg(
        count(lit(1)).as("record_count"),
        count(when(col("source_file_size") > 0, 1)).as("file_count"),
        count(when(col("source_file_size") === 0 || col("source_file_size").isNull, 1))
          .as("folder_count"))

  /** Distinct non-null statuses (A3, ibid.:888) — drives the dynamic views.
    * Each partition's distinct set, merged on the driver: a bounded collect,
    * since status cardinality is small by construction. With no shuffle the
    * query is one job, and over a cached frame that job also fills the copy
    * (adaptive execution would fill it in a job of its own ahead of a
    * shuffle).
    */
  def distinctStatuses(df: DataFrame): Seq[String] =
    df.filter(col("file_status").isNotNull)
      .select(col("file_status")).as(Encoders.STRING)
      .mapPartitions(_.toSet.iterator)(Encoders.STRING)
      .collect().distinct.toSeq

  /** Dynamic per-status frames (P14, ibid.:888-899): `status_<sanitized>` →
    * `WHERE file_status = '<s>'`. Sanitizer collisions resolve FIRST-wins
    * (`CREATE VIEW IF NOT EXISTS`, ibid.:894); empty sanitized names are
    * skipped. Data-dependent plan — SURVEY.md §7.5 item 5.
    */
  /** The view-NAMING law alone: sanitized `status_<s>` per status, FIRST
    * wins on sanitizer collisions, empty names skipped. Single source of
    * truth shared by [[statusViews]] and the registry's metric query —
    * sorted input: distinct().collect() order varies with partitioning,
    * which would make collision winners nondeterministic run-to-run (the
    * reference's winner is SQLite's arbitrary DISTINCT order; we pin
    * lexicographic order and document the divergence).
    */
  def statusViewNames(statuses: Seq[String]): Seq[(String, String)] = {
    val out = scala.collection.mutable.LinkedHashMap.empty[String, String]
    statuses.sorted.foreach { s =>
      val name = PathOps.sanitizeViewName(s)
      if (name.nonEmpty && !out.contains(s"status_$name"))
        out(s"status_$name") = s
    }
    out.toSeq
  }

  def statusViews(df: DataFrame): Seq[(String, DataFrame)] =
    statusViewNames(distinctStatuses(df)).map { case (viewName, s) =>
      (viewName, df.filter(col("file_status") === lit(s)))
    }

  /** `hierarchy_children` (J2), ordered by path — see [[graft.ops.Hierarchy]].
    * Lazy, as SQLite's view is: building the frame runs no job. The first
    * read of it runs the traversal, and every later read of the same frame
    * reuses that result, so a cycle that a root reaches throws
    * `IllegalStateException` at the first read, and again at every later
    * read without traversing again.
    */
  def hierarchyChildren(df: DataFrame): DataFrame =
    df.sparkSession.baseRelationToDataFrame(new HierarchyRelation(df)).orderBy("path")

  /** Top-k statuses by count (O3, ibid.:1052-1057) — `TakeOrderedAndProject`,
    * no global sort.
    */
  def topStatuses(df: DataFrame, k: Int = 5): DataFrame =
    // status_name tiebreak: limit over a non-total order would make the
    // k-th entry nondeterministic under count ties
    statusSummary(df).orderBy(col("record_count").desc, col("status_name")).limit(k)

  /** Count-by-level histogram (A5; SCHEMA.sql:100). */
  def levelCounts(df: DataFrame): DataFrame =
    df.groupBy(col("level")).count().orderBy(col("level"))

  /** Count-by-job (A5; SCHEMA.sql:99). */
  def jobCounts(df: DataFrame): DataFrame =
    df.groupBy(col("job_name")).count().orderBy(col("count").desc)

  /** Global stats (A2, ibid.:1034-1048): total / files / folders in ONE pass
    * (the reference runs three scans; one conditional-count aggregate is the
    * Spark-native shape).
    */
  def stats(df: DataFrame): DataFrame =
    df.agg(
      count(lit(1)).as("total_records"),
      count(when(col("source_file_size") > 0, 1)).as("file_count"),
      count(when(col("source_file_size") === 0 || col("source_file_size").isNull, 1))
        .as("folder_count"))

  /** Bind the whole layer as temp views under the reference's names
    * (K3, ibid.:865-916). The base frame registers as `transfer_data` and is
    * cached, the role of the reference's 2 GB SQLite page cache
    * (ibid.:268): Spark's cache manager puts the in-memory columnar copy
    * into every later plan over `df`, the views and direct calls alike. The
    * only job is the distinct-status query that names the per-status views,
    * and it fills the copy as it runs (see [[distinctStatuses]]).
    * `hierarchy_children` traverses the copy on its first read, once per
    * registration (see [[hierarchyChildren]]).
    *
    * The views answer from the copy taken at registration. A Spark write to
    * the path `df` reads refreshes the copy; any other change to the data
    * needs `registerAll` again, which first drops the previous
    * registration's copy: Spark keys its cache by plan, and a new read of
    * the same path has the same plan, so without the drop it would keep
    * answering from the old copy. One copy is held at a time.
    */
  def registerAll(spark: SparkSession, df: DataFrame): Unit = {
    if (spark.catalog.tableExists("transfer_data")) spark.catalog.uncacheTable("transfer_data")
    df.createOrReplaceTempView("transfer_data")
    spark.catalog.cacheTable("transfer_data")
    filesView(df).createOrReplaceTempView("files_view")
    foldersView(df).createOrReplaceTempView("folders_view")
    statusSummary(df).createOrReplaceTempView("status_summary")
    hierarchyChildren(df).createOrReplaceTempView("hierarchy_children")
    statusViews(df).foreach { case (name, frame) => frame.createOrReplaceTempView(name) }
  }
}

/** The traversal behind [[Analytic.hierarchyChildren]], run by the first
  * scan and kept for every later one. The rows stay in Spark's internal
  * format, so a scan costs what a scan of the checkpoint itself costs. A
  * failure is kept too: Spark plans a failed query again to report its
  * observations, and that must not re-run the traversal. Once the view that
  * holds this relation is replaced, the checkpoint is unreachable and the
  * context cleaner frees it.
  */
private final class HierarchyRelation(df: DataFrame) extends BaseRelation with TableScan {
  override def sqlContext: SQLContext = df.sparkSession.sqlContext
  // every column nullable: the traversal's own nullability is known only
  // once it has run
  override val schema: StructType = StructType(Hierarchy.schema(df).map(_.copy(nullable = true)))
  override def needConversion: Boolean = false
  private lazy val rows = Try(Hierarchy.traverse(df).queryExecution.toRdd)
  override def buildScan(): RDD[Row] = rows.get.asInstanceOf[RDD[Row]]
}
