package graft.ops

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ingest.Coerce
import graft.model.TransferSchema.rowIdxCol
import graft.pipeline.{Pipeline, PipelineFixture}
import graft.streaming.MergeSink

class SaltAndMergeSpec extends SparkSpec {
  import spark.implicits._

  test("salted conditional counts equal the direct groupBy aggregate") {
    val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val direct = orders.groupBy($"o_orderstatus".as("status"))
      .agg(count(lit(1)).as("n"), count(when($"o_totalprice" > 150000, 1)).as("big"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val salted = Salt.saltedConditionalCounts(
      orders, $"o_orderstatus", "status",
      Map("n" -> None, "big" -> Some($"o_totalprice" > 150000)), saltBuckets = 8)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(salted === direct)
  }

  test("merge sink: batches converge on keys; re-merge is idempotent") {
    val state = Files.createTempDirectory("graft-merge").toString + "/state"
    val resolved = Pipeline.resolve(Enrich(Coerce(PipelineFixture.raw(spark))))

    val batch1 = resolved.filter($"file_name" =!= "Root")
    val n1 = MergeSink.merge(spark, batch1, state)
    assert(n1 === 7)

    // batch 2 re-ships Root/Sub/a.pdf and adds Root — its row indices
    // START OVER (lower than state's); the sink must epoch-rebase so the
    // newer batch still wins
    val batch2 = resolved.filter($"file_name".isin("Root", "Root/Sub/a.pdf"))
      .withColumn(rowIdxCol, lit(1L))
      .withColumn("file_status", lit("reconciled"))
    val n2 = MergeSink.merge(spark, batch2, state)
    assert(n2 === 8) // one new key (Root), one replaced (a.pdf)
    val st = spark.read.parquet(state)
    assert(st.filter($"file_name" === "Root/Sub/a.pdf").head
      .getAs[String]("file_status") === "reconciled")

    // idempotence: merging batch2 again changes nothing
    assert(MergeSink.merge(spark, batch2, state) === 8)
  }

  test("merge sink: a legacy flat state directory is refused, not clobbered") {
    val state = Files.createTempDirectory("graft-merge-legacy").toString + "/state"
    val resolved = Pipeline.resolve(Enrich(Coerce(PipelineFixture.raw(spark))))
    // pre-bucketing layout: flat parquet, no sidecar, no bucket dirs
    resolved.filter($"file_name" =!= "Root").write.parquet(state)

    def snapshot(): Map[String, Seq[Byte]] =
      new java.io.File(state).listFiles().toSeq
        .map(f => f.getName -> Files.readAllBytes(f.toPath).toSeq).toMap
    val before = snapshot()
    assert(before.keys.exists(_.startsWith("part-")))

    val batch = resolved.filter($"file_name" === "Root")
    intercept[IllegalStateException](MergeSink.merge(spark, batch, state))
    // same files, same bytes: nothing was written, renamed or deleted
    assert(snapshot() === before)
  }

  test("merge sink: a state whose columns differ from the batch's is refused, naming the column") {
    // e.g. a state written when `_arrival_seq` was an order override: a
    // union would null-fill the column on one side, so the merge refuses
    // before writing anything, in both directions
    val resolved = Pipeline.resolve(Enrich(Coerce(PipelineFixture.raw(spark))))
    val batch = resolved.filter($"file_name" === "Root/Sub/a.pdf")
      .withColumn("file_status", lit("never-lands"))
    def snapshot(state: String): Map[String, Seq[Byte]] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(state))
        .map(f => f.getPath -> Files.readAllBytes(f.toPath).toSeq).toMap
    }
    def refused(state: String, in: org.apache.spark.sql.DataFrame): Unit = {
      val before = snapshot(state)
      val err = intercept[IllegalStateException](MergeSink.merge(spark, in, state))
      assert(err.getMessage.contains("_arrival_seq"), err.getMessage)
      assert(snapshot(state) === before)
    }

    val withSeq = Files.createTempDirectory("graft-merge-cols1").toString + "/state"
    MergeSink.merge(spark, resolved.withColumn("_arrival_seq", col(rowIdxCol)), withSeq)
    refused(withSeq, batch)

    val withoutSeq = Files.createTempDirectory("graft-merge-cols2").toString + "/state"
    MergeSink.merge(spark, resolved, withoutSeq)
    refused(withoutSeq, batch.withColumn("_arrival_seq", col(rowIdxCol)))
  }

  test("merge sink: a reserved (crashed-merge) sidecar total is recounted, not trusted") {
    val state = Files.createTempDirectory("graft-merge-crash").toString + "/state"
    val resolved = Pipeline.resolve(Enrich(Coerce(PipelineFixture.raw(spark))))
    MergeSink.merge(spark, resolved.filter($"file_name" =!= "Root"), state) // 7 rows

    // simulate a crash after epoch reservation: sidecar carries a reserved
    // flag and a wildly stale advisory total (written through the Hadoop FS
    // so the checksum sidecar stays consistent, as MergeSink itself writes)
    val metaPath = new org.apache.hadoop.fs.Path(state, "_graft_meta")
    val hfs = metaPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = hfs.create(metaPath, true)
    try out.write("2,999999,r".getBytes("UTF-8")) finally out.close()

    val batch = resolved.filter($"file_name" === "Root")
    val n = MergeSink.merge(spark, batch, state)
    assert(n === 8) // real count from a data scan, no 999999 drift
    // and the crashed batch's reserved epoch can never tie: the new batch
    // got a strictly later epoch
    val maxEpoch = spark.read.parquet(state)
      .agg(max($"_epoch")).head.getLong(0)
    assert(maxEpoch >= 3)
  }

  test("merge sink: untouched buckets' files stay byte-identical across a merge") {
    val state = Files.createTempDirectory("graft-merge-buckets").toString + "/state"
    val resolved = Pipeline.resolve(Enrich(Coerce(PipelineFixture.raw(spark))))
    MergeSink.merge(spark, resolved, state, numBuckets = 16)

    def snapshot(): Map[String, Seq[Byte]] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(state))
        .filter(f => f.getPath.contains("_bucket=") && f.getName.startsWith("part-"))
        .map(f => f.getPath.stripPrefix(state) ->
          Files.readAllBytes(f.toPath).toSeq).toMap
    }
    val before = snapshot()
    assert(before.nonEmpty)

    // single-key follow-up batch → exactly one dirty bucket
    val batch = resolved.filter($"file_name" === "Root/Sub/a.pdf")
      .withColumn("file_status", lit("retouched"))
    MergeSink.merge(spark, batch, state, numBuckets = 16)
    val dirtyBucket = batch
      .select(pmod(hash($"file_name", $"target_file_id"), lit(16)).as("b"))
      .head.getInt(0)

    val after = snapshot()
    val untouchedBefore = before.filter(!_._1.contains(s"_bucket=$dirtyBucket"))
    val untouchedAfter = after.filter(!_._1.contains(s"_bucket=$dirtyBucket"))
    // same file names, same bytes — those directories were never rewritten
    assert(untouchedBefore === untouchedAfter)
    // and the dirty bucket did change (the status update landed)
    assert(spark.read.parquet(state).filter($"file_name" === "Root/Sub/a.pdf")
      .head.getAs[String]("file_status") === "retouched")
  }
}
