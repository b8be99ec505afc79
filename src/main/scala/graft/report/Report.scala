package graft.report

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions.{count, lit}

import graft.ingest.Quarantine
import graft.views.Analytic

/** Final-statistics report (K6) — the reference's console summary
  * (SQLiteDirectImporter.java:1020-1062): total/file/folder counts and the
  * top-5 statuses, plus our quarantine channel count (A6). The database is
  * read once, by the per-status aggregate (status cardinality is small by
  * construction); after [[graft.views.Analytic.registerAll]] that read is a
  * scan of the registration's in-memory copy, not of the files. Its rows
  * sum to the totals and, sorted on the driver by
  * (count desc, name) — the tiebreak of [[graft.views.Analytic.topStatuses]]
  * — give the top 5. The quarantine count is the one the import's write
  * job observed (see [[graft.ingest.Quarantine.split]]); the quarantine frame
  * is counted only when no job over the good branch has run. Returns
  * structured lines (structured logging replaces the reference's emoji
  * console UX — SURVEY.md §7.6).
  */
object Report {

  case class Stats(totalRecords: Long, fileCount: Long, folderCount: Long,
      topStatuses: Seq[(String, Long)], quarantined: Long)

  def collect(resolved: DataFrame, quarantined: Option[DataFrame] = None): Stats = {
    val delivered = Observation()
    val byStatus = Analytic.statusCounts(resolved).observe(delivered, count(lit(1)).as("n")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val top = byStatus.map { case (n, c, _, _) => (n, c) }.sortBy { case (n, c) => (-c, n) }.take(5)
    Stats(
      byStatus.map(_._2).sum, byStatus.map(_._3).sum, byStatus.map(_._4).sum, top,
      quarantined.fold(0L)(quarantineCount(_, delivered)))
  }

  /** Spark delivers observations asynchronously but in order, on the
    * session's listener queue: once `delivered`, observed by a later query,
    * has arrived, the observation of every job before it has arrived too.
    */
  private def quarantineCount(bad: DataFrame, delivered: Observation): Long = {
    delivered.get
    Quarantine.observedCount(bad).getOrElse(bad.count())
  }

  def render(s: Stats): Seq[String] =
    Seq(
      s"Database import completed",
      s"  total records : ${s.totalRecords}",
      s"  files         : ${s.fileCount}",
      s"  folders       : ${s.folderCount}",
      s"  quarantined   : ${s.quarantined}") ++
      (if (s.topStatuses.nonEmpty)
        "  top statuses  :" +: s.topStatuses.map { case (n, c) => f"    $n%-24s $c" }
      else Seq.empty)
}
