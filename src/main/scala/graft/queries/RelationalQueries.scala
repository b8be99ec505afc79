package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.ExcelSerial
import graft.model.PathOps
import graft.ops.{Hierarchy, Parents, Upsert}
import graft.views.Analytic

/** Relational/OLAP surface: joins (as-of, range, null-safe), rollup/cube/grouping sets, pivot/unpivot, array/map/JSON/regex ops.
  *
  * Split from the monolithic `Registry` object (round 15): members are
  * unchanged; `Registry` mixes every family trait in, so the public
  * surface (`Registry.queries` / `Registry.oracle` / each q* member) is
  * identical. Cross-family helpers are `private[queries]`; vals are lazy
  * so trait-linearization order can never null-init a shared fragment.
  */
trait RelationalQueries { self: RegistryAll =>

  // Headline scan+agg: partial aggregation, filter/column pushdown
  def qLineitemAgg(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        // aggregate in the DECIMAL domain for exactness, but emit DOUBLE:
        // the driver comparator renders Decimal differently between its
        // parquet-read and DuckDB paths (r1 hash FAIL), and the exact
        // decimal→double conversion is deterministic on both engines.
        sum(col("l_quantity").cast("decimal(18,2)")).cast("decimal(18,2)")
          .cast("double").as("sum_qty"),
        // multiply in the DECIMAL domain: both factors are clean 2-decimal
        // values, so the product is exact — no double→decimal tie-rounding
        // (Spark HALF_UP vs DuckDB half-even would split on x.xx5 products)
        sum(col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1.0) - col("l_discount")).cast("decimal(18,2)"))
          .cast("decimal(27,4)").cast("double").as("revenue"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag", "l_linestatus")

  lazy val qLineitemAggSql: String =
    """SELECT l_returnflag, l_linestatus,
      | CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_qty,
      | CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(18,2))) AS DECIMAL(27,4)) AS DOUBLE) AS revenue,
      | COUNT(*) AS n FROM lineitem
      | GROUP BY l_returnflag, l_linestatus
      | ORDER BY l_returnflag, l_linestatus""".stripMargin.replace("\n", " ")

  // Headline multi-join: revenue by nation (TPC-H Q5 shape) — dimension
  // tables broadcast, the fact table never shuffles before aggregation
  def qRevenueByNation(spark: SparkSession, dir: String): DataFrame = {
    val l = t(spark, dir, "lineitem")
    val o = t(spark, dir, "orders")
    val c = t(spark, dir, "customer")
    val n = t(spark, dir, "nation")
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        sum(col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1.0) - col("l_discount")).cast("decimal(18,2)"))
          .cast("decimal(27,4)").cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("n_name")
  }

  lazy val qRevenueByNationSql: String =
    """SELECT n_name,
      | CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(18,2))) AS DECIMAL(27,4)) AS DOUBLE) AS revenue,
      | COUNT(*) AS n_items
      | FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      | GROUP BY n_name ORDER BY n_name""".stripMargin.replace("\n", " ")

  /** As-of join: each 'view' event matched to the user's latest
    * prior-or-equal 'purchase' (DuckDB's native ASOF JOIN is the oracle).
    * The right side is deduped to one row per (user, ts) — max event_id —
    * so the tie winner is deterministic on both engines.
    */
  def qAsofJoin(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "events")
    val views = e.filter(col("event_type") === "view")
      .select("event_id", "user_id", "ts")
    val purchases = Upsert.dedupLastWins(
      e.filter(col("event_type") === "purchase"),
      Seq(col("user_id"), col("ts")), Seq(col("event_id").desc))
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
    graft.ops.TemporalJoin.asof(views, purchases, Seq("user_id"), "ts", "ts",
      payload = Seq("event_id", "value"))
      .select(col("event_id"), col("user_id"), col("ts"),
        // NULLABLE ints render inconsistently across the driver comparator's
        // two read paths (pandas nullable Int64 vs float64-NaN) — the same
        // class as the r1 DECIMAL trap. String-typed ids with nulls are the
        // proven-safe form (parent_id, r1); asof_value stays double (floats
        // are NaN on every path).
        col("asof_event_id").cast("string").as("asof_event_id"),
        col("asof_value"))
      .orderBy("event_id")
  }

  lazy val qAsofJoinSql: String =
    """WITH v AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'),
      | p AS (SELECT user_id, ts, event_id, value FROM (
      |   SELECT *, row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
      |   FROM events WHERE event_type = 'purchase') WHERE rn = 1)
      | SELECT v.event_id, v.user_id, v.ts,
      |  CAST(p.event_id AS VARCHAR) AS asof_event_id, p.value AS asof_value
      | FROM v ASOF LEFT JOIN p ON v.user_id = p.user_id AND v.ts >= p.ts
      | ORDER BY v.event_id""".stripMargin.replace("\n", " ")

  /** Range join: clicks landing inside any same-user purchase's 1-hour
    * window — bucketized equi-join on the engine side, plain inequality
    * join in the oracle.
    */
  def qRangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "events")
    val clicks = e.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts"))
    val windows = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("ts").as("w_start"),
        (col("ts") + expr("INTERVAL 1 HOUR")).as("w_end"))
    graft.ops.TemporalJoin.rangeJoin(clicks, windows, Seq("user_id"),
      "ts", "w_start", "w_end", intervalPayload = Seq("purchase_id"),
      bucketSeconds = 3600L)
      .select(col("click_id"), col("user_id"), col("ivl_purchase_id").as("purchase_id"))
      .orderBy("click_id", "purchase_id")
  }

  lazy val qRangeJoinSql: String =
    """SELECT c.event_id AS click_id, c.user_id, p.event_id AS purchase_id
      | FROM events c JOIN events p
      |  ON c.event_type = 'click' AND p.event_type = 'purchase'
      |  AND c.user_id = p.user_id
      |  AND c.ts >= p.ts AND c.ts < p.ts + INTERVAL 1 HOUR
      | ORDER BY click_id, purchase_id""".stripMargin.replace("\n", " ")

  /** Semi-structured JSON extraction (web-scrape metadata parsing): pull a
    * typed field out of the events' JSON props with the codegen'd
    * `get_json_object` path expression, then aggregate by its decade bucket
    * (`k - k % 10` — no division-rounding dialect trap). The sum goes
    * through DECIMAL(18,2) internally for order-independence, DOUBLE on the
    * wire (the r1 comparator rule).
    *
    * Parse-cost shoot-out (sf0.1, local[32], best of 3, post-warmup):
    * `get_json_object` 0.48 s; `from_json` with a one-field schema 1.03 s
    * (2× — it materializes a struct row per record even when one field is
    * pruned); a raw `regexp_extract` 0.27 s but with non-JSON semantics
    * (would mis-read the key inside a string value) — not worth 0.2 s.
    * The r5 driver's 7.24 s entry was first-touch noise, not parse cost:
    * the warmed best-of-2 driver bench (r6 Bench) measures the plan.
    */
  def qJsonExtract(spark: SparkSession, dir: String): DataFrame = {
    val k = get_json_object(col("props"), "$.k").cast("long")
    t(spark, dir, "events")
      .select(k.as("_k"), col("user_id"), col("value"))
      .groupBy((col("_k") - col("_k") % 10).as("k_bucket"))
      .agg(count(lit(1)).as("n_events"),
        count_distinct(col("user_id")).as("n_users"),
        sum(col("value").cast("decimal(18,2)")).cast("decimal(18,2)")
          .cast("double").as("total_value"))
      .orderBy("k_bucket")
  }

  lazy val qJsonExtractSql: String =
    """WITH j AS (SELECT CAST(json_extract_string(props, 'k') AS BIGINT) AS _k,
      |  user_id, value FROM events)
      | SELECT _k - _k % 10 AS k_bucket, COUNT(*) AS n_events,
      |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
      |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS total_value
      | FROM j GROUP BY 1 ORDER BY k_bucket""".stripMargin.replace("\n", " ")

  /** ROLLUP aggregate (subtotal lattice): per (status, priority), per
    * status, and grand total in one pass — Spark's `rollup` vs DuckDB's
    * `GROUP BY ROLLUP`. Neither grouping column is ever NULL in the data,
    * so COALESCE sentinels disambiguate the subtotal rows without needing
    * a cross-engine `grouping_id` convention.
    */
  def qRollup(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("decimal(18,2)")
          .cast("double").as("total"))
      .select(coalesce(col("o_orderstatus"), lit("(all)")).as("status_g"),
        coalesce(col("o_orderpriority"), lit("(all)")).as("prio_g"),
        col("n"), col("total"))
      .orderBy("status_g", "prio_g")

  lazy val qRollupSql: String =
    """SELECT COALESCE(o_orderstatus, '(all)') AS status_g,
      | COALESCE(o_orderpriority, '(all)') AS prio_g,
      | COUNT(*) AS n,
      | CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS total
      | FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
      | ORDER BY status_g, prio_g""".stripMargin.replace("\n", " ")

  /** Frame-based moving window: rolling 7-row total and count per user over
    * the event stream — the running-feature pattern (rate limits, rolling
    * spend). The rolling sum stays in the DECIMAL domain inside the frame
    * (order-independent, exact) and ships as DOUBLE; the frame order
    * (ts, event_id) is total, so frames are identical on both engines.
    */
  def qMovingWindow(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(-6, 0)
    t(spark, dir, "events")
      .select(col("user_id"), col("event_id"), col("ts"),
        sum(col("value").cast("decimal(18,2)")).over(w)
          .cast("decimal(18,2)").cast("double").as("roll_total"),
        count(lit(1)).over(w).as("roll_n"))
      .orderBy("user_id", "event_id")
  }

  lazy val qMovingWindowSql: String =
    """SELECT user_id, event_id, ts,
      | CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DECIMAL(18,2)) AS DOUBLE) AS roll_total,
      | COUNT(*) OVER w AS roll_n
      | FROM events
      | WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |   ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
      | ORDER BY user_id, event_id""".stripMargin.replace("\n", " ")

  /** PIVOT: status counts spread into columns per priority — Spark's
    * explicit-values `pivot` (no extra distinct-discovery job) vs
    * conditional counts in the oracle. COALESCE-0 on the engine side:
    * Spark's pivot yields NULL for absent cells, the CASE-count law says 0.
    */
  def qPivotStatus(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .groupBy(col("o_orderpriority").as("priority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .select(col("priority"),
        coalesce(col("F"), lit(0L)).as("n_f"),
        coalesce(col("O"), lit(0L)).as("n_o"),
        coalesce(col("P"), lit(0L)).as("n_p"))
      .orderBy("priority")

  lazy val qPivotStatusSql: String =
    """SELECT o_orderpriority AS priority,
      | COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_f,
      | COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS n_o,
      | COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS n_p
      | FROM orders GROUP BY 1 ORDER BY priority""".stripMargin.replace("\n", " ")

  /** CUBE aggregate: the full subtotal lattice over (lang, source) — per
    * pair, per lang, per source, and grand total in one pass. Complements
    * [[qRollup]] (which only produces the prefix hierarchy). Neither column
    * is NULL in the data, so COALESCE sentinels disambiguate subtotal rows.
    */
  def qCube(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .cube(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
      .select(coalesce(col("lang"), lit("(all)")).as("lang_g"),
        coalesce(col("source"), lit("(all)")).as("source_g"),
        col("n_docs"), col("total_chars"))
      .orderBy("lang_g", "source_g")

  lazy val qCubeSql: String =
    """SELECT COALESCE(lang, '(all)') AS lang_g,
      | COALESCE(source, '(all)') AS source_g,
      | COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
      | FROM documents GROUP BY CUBE(lang, source)
      | ORDER BY lang_g, source_g""".stripMargin.replace("\n", " ")

  /** UNPIVOT (wide→long melt): the inverse of [[qPivotStatus]] — the
    * pivoted per-priority status counts melt back into
    * (priority, status_col, n) rows. Spark's `Dataset.unpivot` vs DuckDB's
    * `UNPIVOT ... INTO NAME ... VALUE`; the round-trip law (pivot ∘ unpivot
    * = identity on the long form) is what the shared oracle checks.
    */
  def qUnpivot(spark: SparkSession, dir: String): DataFrame =
    qPivotStatus(spark, dir)
      .unpivot(Array(col("priority")), Array(col("n_f"), col("n_o"), col("n_p")),
        "status_col", "n")
      .orderBy("priority", "status_col")

  lazy val qUnpivotSql: String =
    s"""WITH wide AS (SELECT o_orderpriority AS priority,
       |  COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_f,
       |  COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS n_o,
       |  COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS n_p
       | FROM orders GROUP BY 1)
       | UNPIVOT wide ON n_f, n_o, n_p INTO NAME status_col VALUE n
       | ORDER BY priority, status_col""".stripMargin.replace("\n", " ")

  /** Null-safe equality join (`<=>` / `IS NOT DISTINCT FROM`): the NULL
    * bucket of the reference's nullable `source_file_size` joins itself —
    * a plain equi-join silently drops the NULL group (null-rejecting
    * predicate), the null-safe form keeps it. Distinct three-way split
    * (1 / 0 / NULL) on both sides keeps the join bounded.
    */
  def qNullsafeJoin(spark: SparkSession, dir: String): DataFrame = {
    val sizes = ordersAsTransfer(spark, dir)
      .groupBy("source_file_size").agg(count(lit(1)).as("n"))
    val a = sizes.select(col("source_file_size").as("size_a"), col("n").as("n_a"))
    val b = sizes.select(col("source_file_size").as("size_b"), col("n").as("n_b"))
    a.join(b, col("size_a") <=> col("size_b"))
      // nullable BIGINT output is a driver-comparator trap: ship as VARCHAR
      .select(coalesce(col("size_a").cast("string"), lit("(null)")).as("size_key"),
        col("n_a"), col("n_b"))
      .orderBy("size_key")
  }

  lazy val qNullsafeJoinSql: String =
    s"""WITH s AS (SELECT source_file_size, COUNT(*) AS n
       |   FROM ($ordersAsTransferSql) GROUP BY 1)
       | SELECT COALESCE(CAST(a.source_file_size AS VARCHAR), '(null)') AS size_key,
       |  a.n AS n_a, b.n AS n_b
       | FROM s a JOIN s b ON a.source_file_size IS NOT DISTINCT FROM b.source_file_size
       | ORDER BY size_key""".stripMargin.replace("\n", " ")

  /** first_value / last_value over an unbounded frame: each user's first
    * and latest event type plus lifetime span — the profile-building window
    * shape. One row per user via WindowGroupLimit-style dedup (rank 1 on
    * the same window), frame pinned to the FULL partition for last_value
    * (the default frame would stop at CURRENT ROW).
    */
  def qFirstLast(spark: SparkSession, dir: String): DataFrame = {
    val order = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val full = order.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    t(spark, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"),
        first(col("event_type")).over(full).as("first_type"),
        last(col("event_type")).over(full).as("last_type"),
        (unix_micros(max(col("ts")).over(full)) -
          unix_micros(min(col("ts")).over(full))).as("span_us"),
        row_number().over(order).as("_rk"))
      .filter(col("_rk") === 1)
      .select("user_id", "first_type", "last_type", "span_us")
      .orderBy("user_id")
  }

  lazy val qFirstLastSql: String =
    """SELECT user_id, first_type, last_type, span_us FROM (
      | SELECT user_id,
      |  first_value(event_type) OVER w AS first_type,
      |  last_value(event_type) OVER w AS last_type,
      |  epoch_us(max(ts) OVER w) - epoch_us(min(ts) OVER w) AS span_us,
      |  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS _rk
      | FROM events
      | WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
      | WHERE _rk = 1 ORDER BY user_id""".stripMargin.replace("\n", " ")

  /** Array higher-order functions as first-class surface: per-document
    * distinct-sorted token head (deterministic — `array_sort` +
    * `array_distinct` vs `list_sort` + `list_distinct`), token count, and a
    * `filter`-HOF long-token count. Exercises the Spark array-function
    * family against DuckDB's list family on identical laws.
    */
  def qArrayOps(spark: SparkSession, dir: String): DataFrame = {
    val toks = graft.functions.TextFns.tokens(col("text"))
    t(spark, dir, "documents")
      .select(col("doc_id"),
        array_join(slice(array_sort(array_distinct(toks)), 1, 3), " ")
          .as("head_tokens"),
        size(toks).cast("long").as("n_tokens"),
        size(filter(toks, t => length(t) >= 6)).cast("long").as("n_long"))
      .orderBy("doc_id")
  }

  lazy val qArrayOpsSql: String =
    s"""SELECT doc_id,
       | array_to_string(list_sort(list_distinct($tokensSql))[1:3], ' ') AS head_tokens,
       | CAST(len($tokensSql) AS BIGINT) AS n_tokens,
       | CAST(len(list_filter($tokensSql, tk -> length(tk) >= 6)) AS BIGINT) AS n_long
       | FROM documents ORDER BY doc_id""".stripMargin.replace("\n", " ")

  /** GROUPING SETS with an explicit lattice — per-lang totals, per-source
    * totals, and the grand total, WITHOUT the (lang, source) pairs that
    * [[qCube]] would add: the exact-subtotal shape reporting queries want,
    * one `Expand` pass. Spark 4's `Dataset.groupingSets` vs DuckDB
    * `GROUP BY GROUPING SETS`.
    */
  def qGroupingSets(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .groupingSets(Seq(Seq(col("lang")), Seq(col("source")), Seq()),
        col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
      .select(coalesce(col("lang"), lit("(all)")).as("lang_g"),
        coalesce(col("source"), lit("(all)")).as("source_g"),
        col("n_docs"), col("total_chars"))
      .orderBy("lang_g", "source_g")

  lazy val qGroupingSetsSql: String =
    """SELECT COALESCE(lang, '(all)') AS lang_g,
      | COALESCE(source, '(all)') AS source_g,
      | COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
      | FROM documents GROUP BY GROUPING SETS ((lang), (source), ())
      | ORDER BY lang_g, source_g""".stripMargin.replace("\n", " ")

  /** Set operations beyond UNION ALL (§2.6): EXCEPT and INTERSECT with
    * SQL bag/distinct semantics — "sources that publish German but not
    * Chinese docs" and "sources that publish both", tagged into one frame.
    */
  def qSetOps(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val de = docs.filter(col("lang") === "de").select("source").distinct()
    val zh = docs.filter(col("lang") === "zh").select("source").distinct()
    de.except(zh).withColumn("op", lit("except"))
      .unionAll(de.intersect(zh).withColumn("op", lit("intersect")))
      .orderBy("op", "source")
  }

  lazy val qSetOpsSql: String =
    """WITH de AS (SELECT DISTINCT source FROM documents WHERE lang = 'de'),
      | zh AS (SELECT DISTINCT source FROM documents WHERE lang = 'zh')
      | SELECT source, 'except' AS op FROM (SELECT * FROM de EXCEPT SELECT * FROM zh)
      | UNION ALL
      | SELECT source, 'intersect' AS op FROM (SELECT * FROM de INTERSECT SELECT * FROM zh)
      | ORDER BY op, source""".stripMargin.replace("\n", " ")

  /** Fuzzy entity matching: near-identical name pairs within a blocking key
    * (nation), verified by exact Levenshtein distance — the blocking-join +
    * edit-distance shape of entity resolution over curated metadata.
    * `levenshtein` is the classic DP edit distance in both engines, so the
    * integer distances hash-match. Bounded key range keeps the
    * within-block quadratic candidate set small, as real blocking does.
    */
  def qFuzzyMatch(spark: SparkSession, dir: String): DataFrame = {
    val c = t(spark, dir, "customer")
      .filter(col("c_custkey") <= 200)
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
    c.as("a").join(c.as("b"),
        col("a.c_nationkey") === col("b.c_nationkey") &&
          col("a.c_custkey") < col("b.c_custkey"))
      .select(col("a.c_custkey").as("id_a"), col("b.c_custkey").as("id_b"),
        levenshtein(col("a.c_name"), col("b.c_name")).cast("long").as("dist"))
      .filter(col("dist") <= 2)
      .orderBy("id_a", "id_b")
  }

  lazy val qFuzzyMatchSql: String =
    """WITH c AS (SELECT c_custkey, c_name, c_nationkey FROM customer WHERE c_custkey <= 200)
      | SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
      |  CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
      | FROM c a JOIN c b ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
      | WHERE levenshtein(a.c_name, b.c_name) <= 2
      | ORDER BY id_a, id_b""".stripMargin.replace("\n", " ")

  /** Z-order (Morton) clustering key ([[graft.ops.Layout.zValue]]): the
    * bit-interleave law over two bucketed keys, checked value-exact. The
    * physical placement half ([[graft.ops.Layout.clusterByZ]] =
    * repartitionByRange + in-partition sort) is pinned by LayoutSpec's
    * locality test — range boundaries are sampled, so only the pure law is
    * oracle territory.
    */
  def qZorder(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .select(col("event_id"), col("user_id"),
        graft.ops.Layout.zValue(col("user_id"), col("event_id"), bits = 10).as("z"))
      .orderBy("z", "event_id")

  lazy val qZorderSql: String =
    """SELECT event_id, user_id,
      | CAST(list_sum(list_transform(range(0, 10), i ->
      |   ((((user_id & 1023) >> i) & 1) << (2 * i)) +
      |   ((((event_id & 1023) >> i) & 1) << (2 * i + 1)))) AS BIGINT) AS z
      | FROM events ORDER BY z, event_id""".stripMargin.replace("\n", " ")

  /** Map-typed column surface: per-user event-type profile built with
    * `map_from_entries(collect_list(struct(...)))`, probed with
    * `element_at` / `size` — the MapType construction/lookup path a
    * metadata-heavy pipeline leans on. Scalar projections on the wire (the
    * comparator can't hash maps); the oracle computes the same profile
    * relationally.
    */
  def qMapOps(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .groupBy("user_id", "event_type").agg(count(lit(1)).as("_n"))
      .groupBy("user_id")
      // NULL event_type must not reach the map: map_from_entries throws on
      // a NULL key. collect_list drops the nulled-out struct, which matches
      // the oracle's laws exactly (COUNT(DISTINCT) ignores NULL; a user with
      // only NULL types still groups, here with an empty map → n_types 0)
      .agg(map_from_entries(collect_list(
          when(col("event_type").isNotNull, struct(col("event_type"), col("_n")))))
        .as("_m"))
      .select(col("user_id"),
        // try_element_at, NOT element_at: under ANSI mode (this build's
        // default) element_at THROWS on a missing map key — a user with no
        // 'click' events would kill the query, not yield 0
        coalesce(try_element_at(col("_m"), lit("click")), lit(0L)).as("n_click"),
        coalesce(try_element_at(col("_m"), lit("purchase")), lit(0L)).as("n_purchase"),
        coalesce(try_element_at(col("_m"), lit("error")), lit(0L)).as("n_error"),
        size(col("_m")).cast("bigint").as("n_types"))
      .orderBy("user_id")

  lazy val qMapOpsSql: String =
    """SELECT user_id,
      | COALESCE(COUNT(CASE WHEN event_type = 'click' THEN 1 END), 0) AS n_click,
      | COALESCE(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END), 0) AS n_purchase,
      | COALESCE(COUNT(CASE WHEN event_type = 'error' THEN 1 END), 0) AS n_error,
      | CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types
      | FROM events GROUP BY user_id ORDER BY user_id""".stripMargin.replace("\n", " ")

  /** Array-producing regex extraction (`regexp_extract_all` — the
    * entity/link-harvest surface): all 6+-letter lowercase words per
    * document, count + order-sensitive md5 witness of the joined matches.
    * Spark and RE2 agree on this pattern subset (the [[graft.ops.Scrub]]
    * compatibility contract).
    */
  def qRegexExtract(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("doc_id"),
        regexp_extract_all(coalesce(col("text"), lit("")),
          lit("[a-z]{6,}"), lit(0)).as("_m"))
      .select(col("doc_id"),
        size(col("_m")).cast("bigint").as("n_matches"),
        md5(array_join(col("_m"), " ")).as("match_hash"))
      .orderBy("doc_id")

  lazy val qRegexExtractSql: String =
    // COALESCE twice: NULL text matches as '' (total law), and DuckDB's
    // string_agg over an EMPTY list is NULL where Spark's array_join is ''
    """SELECT doc_id,
      | CAST(len(regexp_extract_all(COALESCE(text, ''), '[a-z]{6,}')) AS BIGINT)
      |   AS n_matches,
      | md5(COALESCE(list_aggregate(regexp_extract_all(COALESCE(text, ''),
      |   '[a-z]{6,}'), 'string_agg', ' '), '')) AS match_hash
      | FROM documents ORDER BY doc_id""".stripMargin.replace("\n", " ")

  /** NTILE quartile assignment (per-group value banding — the remaining
    * ranking-window surface after row_number/rank/percent_rank elsewhere):
    * quartile bounds and populations of `value` per event type. Fully
    * deterministic ordering tiebreak (value, event_id) so the quartile
    * boundaries are engine-exact.
    */
  def qNtile(spark: SparkSession, dir: String): DataFrame = {
    // NULLS FIRST pinned explicitly on both sides: Spark's ascending default
    // is nulls-first, DuckDB's is nulls-LAST — a NULL value would otherwise
    // land in quartile 1 here and quartile 4 in the oracle
    val w = Window.partitionBy("event_type")
      .orderBy(col("value").asc_nulls_first, col("event_id"))
    t(spark, dir, "events")
      .select(col("event_type"), col("event_id"), col("value"),
        ntile(4).over(w).cast("bigint").as("quartile"))
      .groupBy("event_type", "quartile")
      .agg(count(lit(1)).as("n"),
        min(col("value")).as("lo"), max(col("value")).as("hi"))
      .orderBy("event_type", "quartile")
  }

  lazy val qNtileSql: String =
    """WITH q AS (SELECT event_type, value,
      |  ntile(4) OVER (PARTITION BY event_type
      |    ORDER BY value NULLS FIRST, event_id) AS quartile
      | FROM events)
      | SELECT event_type, quartile, COUNT(*) AS n,
      |  min(value) AS lo, max(value) AS hi
      | FROM q GROUP BY 1, 2 ORDER BY event_type, quartile""".stripMargin.replace("\n", " ")

  /** Ingestion-continuity audit over order keys
    * ([[graft.ops.Layout.idGapReport]]): which 1000-wide id-range
    * buckets are missing members — TPC-H order keys are sparse by
    * construction, so the report has real holes to rank. NO
    * corpus-order window (the classic lag-over-ids scan is a
    * single-task sort at scale) — one distinct, one bucket hash
    * aggregate, TakeOrdered.
    */
  def qIdGaps(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Layout.idGapReport(t(spark, dir, "orders"),
      "o_orderkey", bucketSize = 1000L, k = 25)

  lazy val qIdGapsSql: String =
    """WITH ids AS (SELECT DISTINCT CAST(o_orderkey AS BIGINT) AS id
      |  FROM orders WHERE o_orderkey IS NOT NULL),
      | b AS (SELECT id // 1000 AS bucket, CAST(COUNT(*) AS BIGINT) AS n_ids,
      |   MIN(id) AS min_id, MAX(id) AS max_id FROM ids GROUP BY 1)
      | SELECT bucket, n_ids, min_id, max_id,
      |  max_id - min_id + 1 - n_ids AS missing
      | FROM b ORDER BY missing DESC, bucket LIMIT 25""".stripMargin.replace("\n", " ")
}
