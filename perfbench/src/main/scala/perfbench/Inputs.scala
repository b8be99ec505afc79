package perfbench

import java.io.File

import perfbench.WorkbookGen._

/** The benchmark's input sets, cached on disk by seed and parameters.
  *
  * Rows and tallies are always regenerated from the seed (cheap); only the
  * workbook files are cached, since writing them is the costly part. A cache
  * entry is complete once its `_complete` marker exists, and only the few
  * most recent entries are kept.
  */
object Inputs {

  private val keepEntries = 9

  final case class DropFolder(dir: File, workbooks: Seq[File], model: Model) {
    def bytes: Long = workbooks.map(_.length).sum
    def largest: File = workbooks.maxBy(_.length)
  }

  /** The cache entry `key` under `root`, marked most recent; older entries
    * beyond the few kept are removed.
    */
  private def entry(root: File, key: String): File = {
    val dir = new File(root, key)
    dir.mkdirs()
    dir.setLastModified(System.currentTimeMillis())
    Option(root.listFiles()).toSeq.flatten.filter(f => f.isDirectory && f != dir)
      .sortBy(-_.lastModified).drop(keepEntries - 1).foreach(Disk.delete)
    dir
  }

  /** `dir`, filled by `write` unless a complete copy is already there. */
  private def fill(dir: File)(write: File => Unit): File = {
    if (!new File(dir, "_complete").exists()) {
      Disk.delete(dir)
      dir.mkdirs()
      write(dir)
      new File(dir, "_complete").createNewFile()
    }
    dir
  }

  /** The cache entry `key` under `root`, filled by `write` unless complete. */
  def cached(root: File, key: String)(write: File => Unit): File = fill(entry(root, key))(write)

  private def workbookName(i: Int, job: String) = f"Transfer Report $i%02d - $job.xlsx"

  /** The import drop folder: one large workbook, then `nSmall` small ones
    * (file-name order is arrival order). Later workbooks re-ship ~3% of
    * earlier keys with a new status; ~1% of rows carry no key at all.
    */
  def dropFolder(root: File, seed: Long, large: Int, small: Int, nSmall: Int): DropFolder = {
    val src = new Source(seed)
    val model = new Model
    val sizes = large +: Seq.fill(nSmall)(small)
    val books = sizes.zipWithIndex.map { case (n, i) =>
      val job = s"Job${('A' + i).toChar}${src.rnd.nextInt(100)}"
      val rows = jobRows(src, job, n, reshipFrac = 0.03, blankFrac = 0.01, batch = job)
      rows.foreach {
        case Some(r) => model.add(r); if (r.size == 0) model.reportedFolders += r.path
        case None => model.rows += 1; model.quarantined += 1
      }
      (workbookName(i, job), job, rows)
    }
    val dir = fill(entry(root, s"drop-s$seed-${large}x1-${small}x$nSmall")) { d =>
      books.foreach { case (name, job, rows) => writeWorkbook(new File(d, name), job, rows, seed) }
    }
    DropFolder(dir, books.map(b => new File(dir, b._1)), model)
  }

  /** What the merged state must hold after a batch. */
  final case class Expect(keys: Long, statusCounts: Map[String, Long], batchCounts: Map[String, Long])

  /** The drop-folder merge inputs: a base folder of `baseBooks` workbooks
    * and one one-workbook batch of `batchRows` rows, 30% of them updating
    * existing keys (skewed toward the most recently written ones) and 70%
    * new files and folders.
    */
  final class MergeFeed(root: File, seed: Long, baseRows: Int, baseBooks: Int, val batchRows: Int) {
    private val src = new Source(seed)
    private val model = new Model
    private val top = entry(root, s"merge-s$seed-${baseRows}x$baseBooks-$batchRows")

    private def track(rows: Seq[Option[Row]]): Unit = rows.foreach {
      case Some(r) => model.add(r)
      case None => model.rows += 1; model.quarantined += 1
    }

    val base: DropFolder = {
      val books = (0 until baseBooks).map { i =>
        val job = s"Base${('A' + i).toChar}"
        val rows = jobRows(src, job, baseRows / baseBooks, 0.0, 0.01, batch = "base")
        track(rows)
        (workbookName(i, job), job, rows)
      }
      val dir = fill(new File(top, "base")) { d =>
        books.foreach { case (name, job, rows) => writeWorkbook(new File(d, name), job, rows, seed) }
      }
      DropFolder(dir, books.map(b => new File(dir, b._1)), model)
    }

    /** The batch's folder and the state expected after merging it into the base. */
    val (batchDir: File, expect: Expect) = {
      val rnd = src.rnd
      val tag = "batch"
      val job = "Drop"
      val nUpd = (batchRows * 0.3).toInt
      val upd = scala.collection.mutable.LinkedHashMap.empty[(String, Long), Row]
      val n = src.written.size
      while (upd.size < nUpd) {
        val old = src.written(n - 1 - (n * math.pow(rnd.nextDouble(), 3)).toInt)
        upd((old.path, old.id)) = old.copy(status = src.status(), batch = tag)
      }
      val recent = src.folders.takeRight(200).toIndexedSeq
      val fresh = (0 until batchRows - nUpd).map { i =>
        if (i % 10 == 0 && recent.exists(_.level < 11)) {
          val f = src.newFolder(recent, 11)
          src.folderRow(f, tag)
        } else src.fileRow(recent(recent.size - 1 - (recent.size * math.pow(rnd.nextDouble(), 2)).toInt), tag)
      }
      val rows = new scala.util.Random(seed * 31).shuffle(upd.valuesIterator.toIndexedSeq ++ fresh).map(Some(_))
      track(rows)
      val dir = fill(new File(top, tag)) { d =>
        writeWorkbook(new File(d, workbookName(0, job)), job, rows, seed)
      }
      (dir, Expect(model.keys, model.statusCounts, model.batchCounts))
    }
  }
}

/** Small file-system helpers. */
object Disk {
  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(delete)
    f.delete()
  }

  /** The data files under `f`; Spark's `_`- and `.`-prefixed side files are left out. */
  def dataFiles(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(dataFiles)
    else if (f.getName.startsWith("_") || f.getName.startsWith(".")) Nil
    else Seq(f)
}
