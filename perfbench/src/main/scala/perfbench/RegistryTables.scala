package perfbench

import java.io.File
import java.sql.Timestamp

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Fixed, generated tables in the shape of the registry's inputs — TPC-H-like
  * `customer`, `orders` and `lineitem`, an `events` stream, a `documents`
  * corpus and labelled `embeddings` — one parquet directory each, named
  * `<table>.parquet` the way the registry's queries read them. They are
  * written by the benchmark, so a run reads nothing outside its checkout.
  *
  * The shapes follow the tables the registry was written against: 25
  * nations and five market segments, orders of one to seven line items,
  * quantities 1–50 and discounts 0–0.10, three order statuses and five
  * priorities, 30 days of events of five types, documents of 10–90 words
  * over a small vocabulary in 5 languages from 20 sources, and 64-dimension
  * embeddings around ten labelled centres.
  */
object RegistryTables {

  final case class Sizes(customers: Int, orders: Int, users: Int, events: Int, documents: Int, embeddings: Int)

  private val segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val eventTypes = Array("view", "click", "purchase", "signup", "error")
  private val langs = Array("en", "en", "en", "es", "fr", "de", "zh")
  private val words = ("the a data table row column key value join group sort filter merge hash scan " +
    "window batch stream spark query part line customer order fast slow big small agg vector").split(' ')

  private def day(d: Int) = new Timestamp((9131L + d) * 86400000L) // days after 1995-01-01
  private def cents(x: Double) = math.round(x * 100) / 100.0

  /** The table directory, written on first use and cached. The tables are
    * the same for every seed: a run's seed only rotates the query order.
    */
  def apply(spark: SparkSession, root: File, s: Sizes): File =
    Inputs.cached(root, s"registry-${s.productIterator.mkString("-")}") { dir =>
      val rnd = new scala.util.Random(42)
      def write(name: String, schema: StructType, rows: Seq[Row]): Unit =
        spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
          .write.parquet(new File(dir, s"$name.parquet").getPath)

      write("customer", StructType(Seq(StructField("c_custkey", LongType), StructField("c_name", StringType),
        StructField("c_nationkey", IntegerType), StructField("c_acctbal", DoubleType),
        StructField("c_mktsegment", StringType))),
        (1 to s.customers).map(k => Row(k.toLong, f"Customer#$k%09d", rnd.nextInt(25),
          cents(rnd.nextDouble() * 10999 - 999), segments(rnd.nextInt(segments.length)))))

      val lines = Seq.newBuilder[Row]
      val orders = (1 to s.orders).map { o =>
        val key = o.toLong * 4
        val date = rnd.nextInt(2400)
        val n = 1 + rnd.nextInt(7)
        var total = 0.0
        (1 to n).foreach { ln =>
          val qty = (1 + rnd.nextInt(50)).toDouble
          val price = cents(qty * (900 + rnd.nextInt(1100)))
          total += price
          lines += Row(key, (1 + rnd.nextInt(2000)).toLong, (1 + rnd.nextInt(100)).toLong, ln, qty, price,
            rnd.nextInt(11) / 100.0, rnd.nextInt(9) / 100.0, "ANR".substring(rnd.nextInt(3)).take(1),
            "OF".substring(rnd.nextInt(2)).take(1), day(date + 1 + rnd.nextInt(120)))
        }
        Row(key, (1 + rnd.nextInt(s.customers)).toLong, "FOP".substring(rnd.nextInt(3)).take(1), cents(total * 1.05),
          day(date), priorities(rnd.nextInt(priorities.length)))
      }
      write("orders", StructType(Seq(StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
        StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
        StructField("o_orderdate", TimestampType), StructField("o_orderpriority", StringType))), orders)
      write("lineitem", StructType(Seq(StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
        StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
        StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
        StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
        StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
        StructField("l_shipdate", TimestampType))), lines.result())

      val t0 = day(9 * 365 + 2).getTime // 2004-01-01
      write("events", StructType(Seq(StructField("event_id", LongType), StructField("ts", TimestampType),
        StructField("user_id", LongType), StructField("event_type", StringType),
        StructField("value", DoubleType), StructField("props", StringType))),
        (0 until s.events).map(i => Row(i.toLong, new Timestamp(t0 + (rnd.nextDouble() * 30 * 86400000L).toLong),
          rnd.nextInt(s.users).toLong, eventTypes(rnd.nextInt(eventTypes.length)),
          cents(rnd.nextDouble() * 330), s"""{"k": ${rnd.nextInt(100)}}""")))

      write("documents", StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType), StructField("n_chars", LongType))),
        (0 until s.documents).map { i =>
          val text = Seq.fill(10 + rnd.nextInt(81))(words(rnd.nextInt(words.length))).mkString(" ")
          Row(i.toLong, text, langs(rnd.nextInt(langs.length)), s"src${rnd.nextInt(20)}", text.length.toLong)
        })

      val centres = Array.fill(10, 64)(rnd.nextGaussian() * 0.15)
      write("embeddings", StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType, containsNull = false)), StructField("label", IntegerType))),
        (0 until s.embeddings).map { i =>
          val label = rnd.nextInt(10)
          Row(i.toLong, centres(label).toSeq.map(c => (c + rnd.nextGaussian() * 0.05).toFloat), label)
        })
    }

  /** The query the benchmark times for each of the registry's thirteen
    * families: the family's median query in the registry's own sweep of its
    * TPC-H-shaped tables (BENCH_r20opt_after.json), so each family is
    * represented by a typical operator rather than its slowest.
    */
  val picks: Seq[(String, String)] = Seq(
    "Dedup" -> "q_cdc_overlap", "Drift" -> "q_length_gini", "Eval" -> "q_brunner_munzel",
    "Graph" -> "q_degree_dist", "Parity" -> "q_distinct_statuses", "Privacy" -> "q_k_anonymity",
    "Relational" -> "q_unpivot", "Report" -> "q_source_scorecard", "Retrieval" -> "q_bm25_search",
    "Sampling" -> "q_temperature_mix", "Similarity" -> "q_ann_ivf_store", "Text" -> "q_line_shapes",
    "Timeseries" -> "q_user_sessions")

  /** Answer sizes known in advance, for the query without an oracle: five
    * query vectors, ten neighbours each.
    */
  val expectedRows: Map[String, Long] = Map("q_ann_ivf_store" -> 50L)

  /** Where query `q`'s answer went and its oracle SQL, if it has one, for
    * the DuckDB check.
    */
  def answerJson(family: String, q: String, out: File): String = {
    val oracle = graft.SparkEntry.oracleSql.get(q).map(Main.jsonString).getOrElse("null")
    s"""{"family":${Main.jsonString(family)},"query":${Main.jsonString(q)},""" +
      s""""path":${Main.jsonString(out.getPath)},"oracle":$oracle}"""
  }
}
