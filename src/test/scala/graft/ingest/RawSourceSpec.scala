package graft.ingest

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.model.TransferSchema._
import graft.pipeline.{Pipeline, PipelineFixture}

/** Adapter-equivalence: every source format must produce the same raw
  * contract, and the pipeline must produce identical resolved results from
  * any of them.
  */
class RawSourceSpec extends SparkSpec {
  import spark.implicits._

  private lazy val viaParquet = {
    val dir = Files.createTempDirectory("graft-src-parquet").toString
    PipelineFixture.raw(spark).write.mode("overwrite").parquet(dir)
    Pipeline.run(spark, dir)
  }

  test("csv adapter: header skip + all-string typing reach the same result") {
    val dir = Files.createTempDirectory("graft-src-csv").toString
    PipelineFixture.raw(spark)
      .coalesce(1).write.mode("overwrite").option("header", "true").csv(dir)
    val resolved = Pipeline.run(spark, dir, CsvRawSource)
    assert(resolved.count() === viaParquet.count())
    val a = resolved.select("file_name", "file_status", "source_file_size", "level", "parent_id")
      .collect().map(_.toSeq).toSet
    val b = viaParquet.select("file_name", "file_status", "source_file_size", "level", "parent_id")
      .collect().map(_.toSeq).toSet
    assert(a === b)
  }

  test("short positional input: pads with empty string, never consumes meta columns") {
    val dir = Files.createTempDirectory("graft-src-short").toString
    // only the first 4 data columns present, meta columns alongside — the
    // positional band must stop before the meta columns and pad the rest
    PipelineFixture.raw(spark)
      .select((Seq("file_name", "source_file_size", "target_file_size",
        "target_file_id") ++ metaColumns).map(col): _*)
      .write.mode("overwrite").parquet(dir)
    val raw = ParquetRawSource.load(spark, dir)
    assert(raw.filter(col("source_account") =!= "").count() === 0) // padded, not JobA.xlsx
    assert(raw.filter(col("translated_file_name") =!= "").count() === 0)
    assert(raw.schema(rowIdxCol).dataType.typeName === "long")
    assert(raw.filter(col("file_name") === "Root").count() === 2) // data intact
  }

  test("short positional input: a stray _arrival_seq column is not read as a data cell") {
    val dir = Files.createTempDirectory("graft-src-stray").toString
    // an input written when `_arrival_seq` was an order override: it is an
    // ingest column like the triple, so the 19-column band still pads
    PipelineFixture.raw(spark)
      .select((Seq("file_name", "source_file_size", "target_file_size",
        "target_file_id") ++ metaColumns).map(col): _*)
      .withColumn("_arrival_seq", col(rowIdxCol))
      .write.mode("overwrite").parquet(dir)
    val raw = ParquetRawSource.load(spark, dir)
    assert(raw.columns.toSeq === dbColumns ++ Seq(srcFileCol, sheetCol, rowIdxCol))
    assert(raw.filter(col("source_account") =!= "").count() === 0) // padded, not the seq
    assert(raw.filter(col("file_name") === "Root").count() === 2) // data intact
  }

  test("string-typed meta columns from CSV are re-cast: last-writer-wins survives 10+ rows") {
    // "9" > "10" lexicographically — if _row_idx stayed a string, the
    // EARLIER arrival would win the upsert
    val dir = Files.createTempDirectory("graft-src-strseq").toString
    val rows = (1 to 12).map { i =>
      org.apache.spark.sql.Row.fromSeq(
        Seq(s"Dup/key.txt", i.toString, "", "500", "", "", "", "", "", "", "", "",
          "", "", "", s"status$i", "", "", "", "J.xlsx", "Transfer Report",
          i.toString))
    }
    val schema = org.apache.spark.sql.types.StructType(
      (dbColumns ++ metaColumns).map(c =>
        org.apache.spark.sql.types.StructField(c, org.apache.spark.sql.types.StringType)))
    spark.createDataFrame(sc.parallelize(rows), schema)
      .coalesce(1).write.mode("overwrite").option("header", "true").csv(dir)
    val resolved = Pipeline.run(spark, dir, CsvRawSource)
    assert(resolved.count() === 1)
    assert(resolved.head.getAs[String]("file_status") === "status12") // 12 beats 9
  }

  test("parquet adapter synthesizes the (file, sheet, row) triple when missing") {
    val dir = Files.createTempDirectory("graft-src-bare").toString
    PipelineFixture.raw(spark).drop(metaColumns: _*)
      .write.mode("overwrite").parquet(dir)
    val raw = ParquetRawSource.load(spark, dir)
    // the order triple is synthesized and no global sequence is materialized
    // (arrival order is compared lazily — see TransferSchema.arrivalOrderAsc)
    assert(raw.columns.toSeq === dbColumns ++ metaColumns)
    assert(raw.select(srcFileCol).distinct().count() >= 1) // from input_file_name
    // pipeline still resolves deterministically without the sequence
    val resolved = Pipeline.run(spark, dir)
    assert(resolved.count() === viaParquet.count())
  }
}
