package graft.ingest

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Drop-folder file discovery (S1) — the reference's `findExcelFiles`
  * (SQLiteDirectImporter.java:226-248) and the Overview extractor's variant
  * that also skips its own prior outputs (TransferOverviewExtractor.java:
  * 160-188):
  *
  *   - non-recursive listing of the source directory
  *   - keep the report extensions, case-INSENSITIVE
  *   - skip Office temp files (`~` prefix)
  *   - sorted by file name — this ordering IS the upsert tie-break order
  *     (SURVEY.md §7.5 item 1), so it is part of the semantics, not just UX
  *
  * Driver-side (the reference lists files on one node too). The streaming
  * drop folder ([[graft.streaming.StreamIngest.runDropFolder]]) applies the
  * same rule, [[accepts]], to each micro-batch's new files.
  */
object ReportFiles {

  val defaultExtensions: Seq[String] = Seq("xlsx", "xls", "parquet", "csv")

  /** What the Overview extractor also skips: its own prior outputs
    * (TransferOverviewExtractor.java:173-180).
    */
  val overviewOutputPrefixes: Seq[String] = Seq("~", "Transfer-Overview-", "Overview-")

  /** The listing rule for one file name: one of `extensions`, compared
    * case-insensitively, and none of `skipOutputPrefixes`.
    */
  def accepts(name: String, extensions: Seq[String],
      skipOutputPrefixes: Seq[String]): Boolean = {
    val lower = name.toLowerCase
    extensions.exists(e => lower.endsWith("." + e.toLowerCase)) &&
      !skipOutputPrefixes.exists(name.startsWith)
  }

  def list(dir: String, extensions: Seq[String] = defaultExtensions,
      skipOutputPrefixes: Seq[String] = Seq("~")): Seq[Path] = {
    val d = Paths.get(dir)
    if (!Files.isDirectory(d)) return Seq.empty
    val stream = Files.list(d) // must close: holds a directory fd
    try stream.iterator().asScala
      .filter(p => Files.isRegularFile(p) &&
        accepts(p.getFileName.toString, extensions, skipOutputPrefixes))
      .toSeq.sortBy(_.getFileName.toString)
    finally stream.close()
  }

  /** The Overview-extractor variant: additionally skips prior outputs. */
  def listSkippingOverviewOutputs(dir: String,
      extensions: Seq[String] = defaultExtensions): Seq[Path] =
    list(dir, extensions, overviewOutputPrefixes)
}
