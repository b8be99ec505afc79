package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.ExcelSerial
import graft.model.PathOps
import graft.ops.{Hierarchy, Parents, Upsert}
import graft.views.Analytic

/** Reference-parity queries (the transfer-report laws: status summary, hierarchy, upsert, path derivations, Excel serials, coercion).
  *
  * Split from the monolithic `Registry` object (round 15): members are
  * unchanged; `Registry` mixes every family trait in, so the public
  * surface (`Registry.queries` / `Registry.oracle` / each q* member) is
  * identical. Cross-family helpers are `private[queries]`; vals are lazy
  * so trait-linearization order can never null-init a shared fragment.
  */
trait ParityQueries { self: RegistryAll =>

  // ---- role mapping: orders as status-bearing transfer rows --------------
  // file_status ← o_orderstatus; source_file_size ← >0 / 0 / NULL three-way
  // split on o_totalprice so files/folders/null semantics all occur.
  private[queries] def ordersAsTransfer(spark: SparkSession, dir: String,
      statusCol: String = "o_orderstatus"): DataFrame =
    t(spark, dir, "orders").select(
      col(statusCol).as("file_status"),
      when(col("o_totalprice") > 150000, lit(1L))
        .when(col("o_totalprice") > 100000, lit(0L))
        .otherwise(lit(null).cast("long")).as("source_file_size"))

  private[queries] lazy val ordersAsTransferSql =
    """SELECT o_orderstatus AS file_status,
      | CASE WHEN o_totalprice > 150000 THEN CAST(1 AS BIGINT)
      |      WHEN o_totalprice > 100000 THEN CAST(0 AS BIGINT)
      |      ELSE NULL END AS source_file_size FROM orders""".stripMargin.replace("\n", " ")

  private[queries] lazy val prioAsTransferSql = ordersAsTransferSql
    .replace("o_orderstatus AS file_status", "o_orderpriority AS file_status")

  // ---- role mapping: region→nation→customer as a 3-level forest ----------
  private[queries] def forestNodes(spark: SparkSession, dir: String): DataFrame = {
    val r = t(spark, dir, "region")
    val n = t(spark, dir, "nation")
    val c = t(spark, dir, "customer")
    val regions = r.select(
      col("r_name").as("file_name"),
      (lit(1000L) + col("r_regionkey")).cast("long").as("target_file_id"),
      lit(null).cast("string").as("parent_folder"),
      lit(null).cast("string").as("parent_id"),
      lit(1).as("level"))
    val nations = n.join(r, n("n_regionkey") === r("r_regionkey")).select(
      col("n_name").as("file_name"),
      (lit(2000L) + col("n_nationkey")).cast("long").as("target_file_id"),
      col("r_name").as("parent_folder"),
      (lit(1000L) + col("n_regionkey")).cast("string").as("parent_id"),
      lit(2).as("level"))
    val customers = c.join(n, c("c_nationkey") === n("n_nationkey")).select(
      col("c_name").as("file_name"),
      (lit(3000L) + col("c_custkey")).cast("long").as("target_file_id"),
      col("n_name").as("parent_folder"),
      (lit(2000L) + col("c_nationkey")).cast("string").as("parent_id"),
      lit(3).as("level"))
    regions.union(nations).union(customers)
  }

  private[queries] lazy val forestNodesSql =
    """SELECT r_name AS file_name, CAST(1000 + r_regionkey AS BIGINT) AS target_file_id,
      |   CAST(NULL AS VARCHAR) AS parent_folder FROM region
      | UNION ALL
      | SELECT n_name, CAST(2000 + n_nationkey AS BIGINT), r_name
      |   FROM nation JOIN region ON n_regionkey = r_regionkey
      | UNION ALL
      | SELECT c_name, CAST(3000 + c_custkey AS BIGINT), n_name
      |   FROM customer JOIN nation ON c_nationkey = n_nationkey""".stripMargin.replace("\n", " ")

  // A1/P7/P8/O1: grouped conditional-count aggregate (status_summary)
  def qStatusSummary(spark: SparkSession, dir: String): DataFrame =
    Analytic.statusSummary(ordersAsTransfer(spark, dir))
      .orderBy(col("record_count").desc, col("status_name"))

  lazy val qStatusSummarySql: String =
    s"""SELECT COALESCE(file_status, 'Unknown') AS status_name,
       | COUNT(*) AS record_count,
       | COUNT(CASE WHEN source_file_size > 0 THEN 1 END) AS file_count,
       | COUNT(CASE WHEN source_file_size = 0 OR source_file_size IS NULL THEN 1 END) AS folder_count
       | FROM ($ordersAsTransferSql)
       | GROUP BY COALESCE(file_status, 'Unknown')
       | ORDER BY record_count DESC, status_name""".stripMargin.replace("\n", " ")

  // P12/P13: files / folders filters (null-or-zero semantics)
  private[queries] def lineitemAsTransfer(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem").select(
      concat_ws("/", col("l_orderkey"), col("l_linenumber")).as("file_name"),
      when(col("l_discount") === 0, lit(0L))
        .when(col("l_discount") > 0.05, lit(null).cast("long"))
        .otherwise(col("l_linenumber").cast("long")).as("source_file_size"))

  private[queries] lazy val lineitemAsTransferSql =
    """SELECT CAST(l_orderkey AS VARCHAR) || '/' || CAST(l_linenumber AS VARCHAR) AS file_name,
      | CASE WHEN l_discount = 0 THEN CAST(0 AS BIGINT)
      |      WHEN l_discount > 0.05 THEN NULL
      |      ELSE CAST(l_linenumber AS BIGINT) END AS source_file_size
      | FROM lineitem""".stripMargin.replace("\n", " ")

  def qFilterFiles(spark: SparkSession, dir: String): DataFrame =
    Analytic.filesView(lineitemAsTransfer(spark, dir)).orderBy("file_name")

  lazy val qFilterFilesSql: String =
    s"SELECT * FROM ($lineitemAsTransferSql) WHERE source_file_size > 0 ORDER BY file_name"

  def qFilterFolders(spark: SparkSession, dir: String): DataFrame =
    Analytic.foldersView(lineitemAsTransfer(spark, dir)).orderBy("file_name")

  lazy val qFilterFoldersSql: String =
    s"""SELECT * FROM ($lineitemAsTransferSql)
       | WHERE source_file_size = 0 OR source_file_size IS NULL
       | ORDER BY file_name""".stripMargin.replace("\n", " ")

  // J3/A4: keyed last-writer-wins upsert dedup
  def qUpsertLastwins(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "events")
    Upsert.dedupLastWins(e,
      Seq(col("user_id"), col("event_type")),
      Seq(col("ts").desc, col("event_id").desc))
      .select("user_id", "event_type", "event_id", "ts", "value")
      .orderBy("user_id", "event_type")
  }

  lazy val qUpsertLastwinsSql: String =
    """SELECT user_id, event_type, event_id, ts, value FROM (
      | SELECT *, row_number() OVER (PARTITION BY user_id, event_type
      |   ORDER BY ts DESC, event_id DESC) AS rn FROM events)
      | WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin.replace("\n", " ")

  // J1: name-keyed last-write parent resolution (the Parents operator)
  def qParentJoin(spark: SparkSession, dir: String): DataFrame =
    Parents(forestNodes(spark, dir).drop("parent_id"))
      .select("file_name", "parent_id")
      .orderBy("file_name")

  lazy val qParentJoinSql: String =
    s"""WITH nodes AS ($forestNodesSql)
       | SELECT n.file_name, CAST(p.target_file_id AS VARCHAR) AS parent_id
       | FROM nodes n LEFT JOIN nodes p ON n.parent_folder = p.file_name
       | ORDER BY n.file_name""".stripMargin.replace("\n", " ")

  // J2/U1/O2: recursive hierarchy traversal (iterative fixpoint)
  def qHierarchyRecursive(spark: SparkSession, dir: String): DataFrame =
    Hierarchy(forestNodes(spark, dir))
      .select(col("file_name"), col("target_file_id"), col("depth").cast("int").as("depth"),
        col("path"))
      .orderBy("path", "target_file_id")

  // (oracle SQL for the recursive hierarchy is built inline in `oracle` —
  // DuckDB WITH RECURSIVE, anchored on parent_folder IS NULL, which is
  // equivalent to the engine's parent_id IS NULL anchor in this forest)

  // P4/A5: path level law + level histogram
  def qLevelCounts(spark: SparkSession, dir: String): DataFrame = {
    val r = t(spark, dir, "region")
    val n = t(spark, dir, "nation")
    val c = t(spark, dir, "customer")
    val p1 = r.select(col("r_name").as("path"))
    val p1s = r.select(concat(lit("/"), col("r_name")).as("path"))
    val p2 = n.join(r, n("n_regionkey") === r("r_regionkey"))
      .select(concat_ws("/", col("r_name"), col("n_name")).as("path"))
    val p3 = c.join(n, c("c_nationkey") === n("n_nationkey"))
      .join(r, n("n_regionkey") === r("r_regionkey"))
      .select(concat_ws("/", col("r_name"), col("n_name"), col("c_name")).as("path"))
    p1.union(p1s).union(p2).union(p3)
      .select(PathOps.level(col("path")).cast("bigint").as("level"))
      .groupBy("level").agg(count(lit(1)).as("n"))
      .orderBy("level")
  }

  lazy val qLevelCountsSql: String =
    """WITH paths AS (
      | SELECT r_name AS path FROM region
      | UNION ALL SELECT '/' || r_name FROM region
      | UNION ALL SELECT r_name || '/' || n_name FROM nation JOIN region ON n_regionkey = r_regionkey
      | UNION ALL SELECT r_name || '/' || n_name || '/' || c_name
      |   FROM customer JOIN nation ON c_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey)
      | SELECT CAST(CASE WHEN trim(path) = '' THEN 0
      |   ELSE len(string_split(regexp_replace(path, '^/', ''), '/')) END AS BIGINT) AS level,
      |  COUNT(*) AS n FROM paths GROUP BY 1 ORDER BY level""".stripMargin.replace("\n", " ")

  // P5: parent_folder law — synthesized paths over `part` (word→segment),
  // covering leading-slash, trailing-slash, blank, and NULL edge cases
  private[queries] def partPaths(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "part").select(col("p_partkey"),
      when(col("p_partkey") % 7 === 0, lit(null).cast("string"))
        .when(col("p_partkey") % 5 === 0, lit(""))
        .when(col("p_partkey") % 3 === 0,
          concat(lit("/"), regexp_replace(col("p_name"), " ", "/")))
        .when(col("p_partkey") % 11 === 0,
          concat(regexp_replace(col("p_name"), " ", "/"), lit("//")))
        .otherwise(regexp_replace(col("p_name"), " ", "/")).as("path"))

  private[queries] lazy val partPathsSql =
    """SELECT p_partkey,
      | CASE WHEN p_partkey % 7 = 0 THEN NULL
      |      WHEN p_partkey % 5 = 0 THEN ''
      |      WHEN p_partkey % 3 = 0 THEN '/' || regexp_replace(p_name, ' ', '/', 'g')
      |      WHEN p_partkey % 11 = 0 THEN regexp_replace(p_name, ' ', '/', 'g') || '//'
      |      ELSE regexp_replace(p_name, ' ', '/', 'g') END AS path
      | FROM part""".stripMargin.replace("\n", " ")

  def qParentFolder(spark: SparkSession, dir: String): DataFrame =
    partPaths(spark, dir).select(col("p_partkey"), col("path"),
      PathOps.level(col("path")).cast("bigint").as("level"),
      PathOps.parentFolder(col("path")).as("parent_folder"))
      .orderBy("p_partkey")

  lazy val qParentFolderSql: String =
    s"""WITH paths AS ($partPathsSql),
       | lv AS (SELECT p_partkey, path,
       |   regexp_replace(regexp_replace(path, '^/', ''), '/+$$', '') AS clean FROM paths)
       | SELECT p_partkey, path,
       |  CAST(CASE WHEN path IS NULL OR trim(path) = '' OR clean = '' THEN 0
       |    ELSE len(string_split(clean, '/')) END AS BIGINT) AS level,
       |  CASE WHEN CASE WHEN path IS NULL OR trim(path) = '' OR clean = '' THEN 0
       |         ELSE len(string_split(clean, '/')) END <= 1 THEN NULL
       |       WHEN length(path) - strpos(reverse(path), '/') > 0
       |         THEN substring(path, 1, length(path) - strpos(reverse(path), '/'))
       |       ELSE NULL END AS parent_folder
       | FROM lv ORDER BY p_partkey""".stripMargin.replace("\n", " ")

  // P6: job_name law — workbook names synthesized over `part`, covering the
  // case-SENSITIVE extension strip and the blank/NULL → 'Unknown' branch
  def qJobName(spark: SparkSession, dir: String): DataFrame = {
    val name = when(col("p_partkey") % 9 === 0, lit(null).cast("string"))
      .when(col("p_partkey") % 5 === 0, lit("   "))
      .when(col("p_partkey") % 4 === 0, concat(col("p_name"), lit(".xlsx")))
      .when(col("p_partkey") % 4 === 1, concat(col("p_name"), lit(".xls")))
      .when(col("p_partkey") % 4 === 2, concat(col("p_name"), lit(".XLSX")))
      .otherwise(col("p_name"))
    t(spark, dir, "part")
      .select(col("p_partkey"), name.as("wb_name"))
      .select(col("p_partkey"), col("wb_name"), PathOps.jobName(col("wb_name")).as("job_name"))
      .orderBy("p_partkey")
  }

  lazy val qJobNameSql: String =
    """WITH names AS (SELECT p_partkey,
      |  CASE WHEN p_partkey % 9 = 0 THEN NULL
      |       WHEN p_partkey % 5 = 0 THEN '   '
      |       WHEN p_partkey % 4 = 0 THEN p_name || '.xlsx'
      |       WHEN p_partkey % 4 = 1 THEN p_name || '.xls'
      |       WHEN p_partkey % 4 = 2 THEN p_name || '.XLSX'
      |       ELSE p_name END AS wb_name FROM part)
      | SELECT p_partkey, wb_name,
      |  CASE WHEN wb_name IS NULL OR trim(wb_name) = '' THEN 'Unknown'
      |       ELSE trim(regexp_replace(wb_name, '\.(xlsx|xls)$', '')) END AS job_name
      | FROM names ORDER BY p_partkey""".stripMargin.replace("\n", " ")

  // O3: top-k statuses (TakeOrderedAndProject)
  def qTopStatuses(spark: SparkSession, dir: String): DataFrame =
    Analytic.statusSummary(ordersAsTransfer(spark, dir, statusCol = "o_orderpriority"))
      .orderBy(col("record_count").desc, col("status_name"))
      .limit(3)

  lazy val qTopStatusesSql: String =
    s"""SELECT COALESCE(file_status, 'Unknown') AS status_name,
       | COUNT(*) AS record_count,
       | COUNT(CASE WHEN source_file_size > 0 THEN 1 END) AS file_count,
       | COUNT(CASE WHEN source_file_size = 0 OR source_file_size IS NULL THEN 1 END) AS folder_count
       | FROM ($prioAsTransferSql)
       | GROUP BY COALESCE(file_status, 'Unknown')
       | ORDER BY record_count DESC, status_name LIMIT 3""".stripMargin.replace("\n", " ")

  // A3: distinct non-null statuses
  def qDistinctStatuses(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Analytic.distinctStatuses(
      t(spark, dir, "orders").select(col("o_orderstatus").as("file_status")))
      .sorted.toDF("status")
  }

  lazy val qDistinctStatusesSql: String =
    "SELECT DISTINCT o_orderstatus AS status FROM orders WHERE o_orderstatus IS NOT NULL ORDER BY status"

  // P14/P10: dynamic per-status views (data-dependent plan) + sanitizer
  def qDynamicStatusViews(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val mapped = t(spark, dir, "orders").select(col("o_orderstatus").as("file_status"))
    // the registry METRIC comes from ONE aggregate job (not one count() job
    // per view — the r1 N+1 pattern); the naming/collision law is the SAME
    // code the real view registry uses (Analytic.statusViewNames)
    val counts = mapped.filter(col("file_status").isNotNull)
      .groupBy(col("file_status")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    Analytic.statusViewNames(counts.keys.toSeq)
      .map { case (viewName, s) => (viewName, counts(s)) }
      .toDF("view_name", "record_count").orderBy("view_name")
  }

  lazy val qDynamicStatusViewsSql: String =
    """SELECT 'status_' || lower(o_orderstatus) AS view_name, COUNT(*) AS record_count
      | FROM orders WHERE o_orderstatus IS NOT NULL
      | GROUP BY 1 ORDER BY view_name""".stripMargin.replace("\n", " ")

  // Skew-mitigation twin of A1: the SALTED two-phase aggregate must produce
  // exactly the status_summary result (same oracle shape) — the operator a
  // pathological hot status key needs at scale
  def qSaltedStatus(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Salt.saltedConditionalCounts(
      ordersAsTransfer(spark, dir),
      coalesce(col("file_status"), lit("Unknown")), "status_name",
      Map(
        "record_count" -> None,
        "file_count" -> Some(col("source_file_size") > 0),
        "folder_count" -> Some(col("source_file_size") === 0 || col("source_file_size").isNull)),
      saltBuckets = 16)
      .select("status_name", "record_count", "file_count", "folder_count")
      .orderBy(col("record_count").desc, col("status_name"))

  lazy val qSaltedStatusSql: String = qStatusSummarySql

  // P3: Excel serial → timestamp law (incl. zero/negative → null branches)
  def qExcelDates(spark: SparkSession, dir: String): DataFrame = {
    val serial = when(col("event_type") === "error", lit(0.0))
      .when(col("event_type") === "signup", -col("value"))
      .otherwise(col("value"))
    t(spark, dir, "events")
      .select(col("event_id"), ExcelSerial.excelSerialToTimestamp(serial).as("excel_ts"))
      .orderBy("event_id")
  }

  lazy val qExcelDatesSql: String = {
    val serial = "(CASE WHEN event_type = 'error' THEN 0.0 " +
      "WHEN event_type = 'signup' THEN -value ELSE value END)"
    s"SELECT event_id, ${ExcelSerial.oracleSql(serial)} AS excel_ts FROM events ORDER BY event_id"
  }

  // A2: one-pass global conditional counts
  def qGlobalStats(spark: SparkSession, dir: String): DataFrame =
    Analytic.stats(ordersAsTransfer(spark, dir))

  lazy val qGlobalStatsSql: String =
    s"""SELECT COUNT(*) AS total_records,
       | COUNT(CASE WHEN source_file_size > 0 THEN 1 END) AS file_count,
       | COUNT(CASE WHEN source_file_size = 0 OR source_file_size IS NULL THEN 1 END) AS folder_count
       | FROM ($ordersAsTransferSql)""".stripMargin.replace("\n", " ")

  /** The P2 coercion law itself, driver-oracled (it was unit-only before):
    * derive seven raw-string shapes from o_orderkey arithmetic — valid,
    * space-padded, decimal ("12.5" must NULL, where a lax cast yields 12),
    * empty, alphabetic, explicit +, negative — and parse with the REAL
    * [[graft.ingest.Coerce.strictLong]] production expression. The oracle
    * mirrors the law as a regexp-guarded TRY_CAST. The parsed value is
    * output as VARCHAR: nullable-BIGINT output columns are a known driver
    * comparator trap (see q_parent_join's parent_id precedent).
    */
  def qCoerceLongs(spark: SparkSession, dir: String): DataFrame = {
    val key = col("o_orderkey").cast("long")
    val ks = key.cast("string")
    val raw = when(key % 8 === 0, ks)
      .when(key % 8 === 1, concat(lit("  "), ks, lit(" ")))
      .when(key % 8 === 2, concat(ks, lit(".5")))
      .when(key % 8 === 3, lit(""))
      .when(key % 8 === 4, concat(lit("x"), ks))
      .when(key % 8 === 5, concat(lit("+"), ks))
      .when(key % 8 === 6, concat(ks, lit("\n"))) // trim keeps \n; parseLong nulls it
      .otherwise(concat(lit("-"), ks))
    t(spark, dir, "orders")
      .select(key.as("o_orderkey"), raw.as("raw"))
      .select(col("o_orderkey"), col("raw"),
        graft.ingest.Coerce.strictLong(col("raw")).cast("string").as("parsed"))
      .orderBy("o_orderkey")
  }

  lazy val qCoerceLongsSql: String =
    """WITH r AS (
      | SELECT o_orderkey,
      |  CASE o_orderkey % 8
      |   WHEN 0 THEN CAST(o_orderkey AS VARCHAR)
      |   WHEN 1 THEN '  ' || CAST(o_orderkey AS VARCHAR) || ' '
      |   WHEN 2 THEN CAST(o_orderkey AS VARCHAR) || '.5'
      |   WHEN 3 THEN ''
      |   WHEN 4 THEN 'x' || CAST(o_orderkey AS VARCHAR)
      |   WHEN 5 THEN '+' || CAST(o_orderkey AS VARCHAR)
      |   WHEN 6 THEN CAST(o_orderkey AS VARCHAR) || chr(10)
      |   ELSE '-' || CAST(o_orderkey AS VARCHAR) END AS raw
      | FROM orders)
      | SELECT o_orderkey, raw,
      |  CAST(CASE WHEN regexp_matches(trim(raw), '\A[+-]?\d+\z')
      |   THEN TRY_CAST(trim(raw) AS BIGINT) END AS VARCHAR) AS parsed
      | FROM r ORDER BY o_orderkey""".stripMargin.replace("\n", " ")
}
