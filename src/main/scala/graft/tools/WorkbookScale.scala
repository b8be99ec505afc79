package graft.tools

import java.nio.file.Files

import graft.ingest.{Xlsx, XlsxRawSource, XlsxWriter}
import graft.model.TransferSchema
import graft.pipeline.Pipeline

/** Scale probe for the dependency-free workbook path: writes an N-row
  * `.xlsx` transfer report (default 200k rows × 19 columns), then measures
  * (a) the raw streaming scan and (b) the full pipeline over it. The
  * reference's own capability claim is 700 MB workbooks on an 8 GB heap,
  * single-threaded (SURVEY.md §6); the reader here is row-streaming
  * (StAX pull, O(row) memory per sheet) and parallelizes across files.
  *
  * `sbt "runMain graft.tools.WorkbookScale [rows] [files]"`
  */
object WorkbookScale {

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(200000)
    val nFiles = args.drop(1).headOption.map(_.toInt).getOrElse(4)
    val dir = Files.createTempDirectory("graft-wbscale").toFile

    val statuses = Array("success", "filtered", "match-exists", "error")
    def rows(file: Int): Iterator[Seq[String]] = Iterator.tabulate(n) { i =>
      Seq(s"Root/job$file/dir${i % 997}/file$i.dat", (i * 7 % 500000).toString, "",
        (file * 10000000 + i).toString, s"acct${i % 50}", "", (45000 + i % 400).toString + ".5",
        "", "", "", "", "", "", "md5", f"$i%08x", statuses(i % 4), "", "", "")
    }
    var t0 = System.nanoTime()
    (0 until nFiles).foreach { f =>
      XlsxWriter.write(new java.io.File(dir, s"Job$f.xlsx"), "Transfer Report",
        TransferSchema.excelHeaders, rows(f))
    }
    val writeSec = (System.nanoTime() - t0) / 1e9
    val mb = dir.listFiles().map(_.length()).sum / 1e6
    println(f"=== wrote $nFiles x $n%,d rows, ${mb}%.1f MB total in $writeSec%.1f s ===")

    // raw single-file scan throughput (one thread, like the reference)
    t0 = System.nanoTime()
    val scanned = Xlsx.scanRows(new java.io.File(dir, "Job0.xlsx"),
      _.startsWith("Transfer Report")).length
    val scanSec = (System.nanoTime() - t0) / 1e9
    println(f"=== raw scan: $scanned%,d rows in $scanSec%.1f s " +
      f"(${scanned / scanSec}%,.0f rows/s single-thread) ===")

    val spark = graft.LocalSpark()
    t0 = System.nanoTime()
    val resolved = Pipeline.run(spark, dir.toString, XlsxRawSource).count()
    val pipeSec = (System.nanoTime() - t0) / 1e9
    val total = n.toLong * nFiles
    println(f"=== full pipeline (scan+coerce+enrich+upsert+parents): " +
      f"$resolved%,d resolved of $total%,d raw in $pipeSec%.1f s " +
      f"(${total / pipeSec}%,.0f rows/s, $nFiles-way file parallelism) ===")
    spark.stop()
  }
}
