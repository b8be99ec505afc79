package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synthesize an sf1-SHAPED dataset from the driver's sf0.1 tables for the
  * one-off scale sweep (r10 verdict task 2): fact/content tables replicate
  * `factor`× with key-space shifts that keep every join law intact
  * (orderkeys shift together in orders+lineitem; users, documents,
  * vectors and events get disjoint id ranges per copy), dimension tables
  * copy verbatim (the fixed-dims/growing-facts shape of a real corpus).
  * Copied documents get a per-copy `v<k>` prefix token so the dedup
  * families don't degenerate into factor-way exact duplicates of the
  * whole corpus. This is SWEEP data — it scales input volume for
  * wall-time curves; it is NOT driver testdata and carries no oracle.
  *
  * Usage: `sbt "runMain graft.tools.ScaleUp [srcDir] [outDir] [factor]"`
  * (defaults /root/testdata/sf0.1 → target/sf1 ×10).
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("target/sf1")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    // the documents leg charges n_chars + 3 for its "v<k> " prefix —
    // only exact while k stays single-digit
    require(factor >= 1 && factor <= 10,
      s"factor must lie in [1, 10] (single-digit copy prefixes), got $factor")
    val off = 100000000L // far past every sf0.1 key
    val spark = graft.LocalSpark()
    def t(name: String): DataFrame = spark.read.parquet(s"$src/$name.parquet")
    def write(name: String, df: DataFrame): Unit = {
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"=== $name: ${spark.read.parquet(s"$out/$name.parquet").count()} rows ===")
    }
    def copies(df: DataFrame)(shift: (DataFrame, Long) => DataFrame): DataFrame =
      (0 until factor).map(k => shift(df, k * off)).reduce(_ unionByName _)

    // dims verbatim
    Seq("region", "nation", "customer", "supplier", "part")
      .foreach(n => write(n, t(n)))
    write("orders", copies(t("orders"))((df, d) =>
      df.withColumn("o_orderkey", col("o_orderkey") + d)))
    write("lineitem", copies(t("lineitem"))((df, d) =>
      df.withColumn("l_orderkey", col("l_orderkey") + d)))
    write("events", copies(t("events"))((df, d) =>
      df.withColumn("event_id", col("event_id") + d)
        .withColumn("user_id", col("user_id") + d)))
    write("documents", copies(t("documents"))((df, d) =>
      if (d == 0L) df
      else df.withColumn("doc_id", col("doc_id") + d)
        .withColumn("text", concat(lit(s"v${d / off} "), col("text")))
        .withColumn("n_chars", col("n_chars") + 3L)))
    write("embeddings", copies(t("embeddings"))((df, d) =>
      df.withColumn("vec_id", col("vec_id") + d)))
    spark.stop()
  }
}
