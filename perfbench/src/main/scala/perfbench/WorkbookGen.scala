package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.util.zip.{Deflater, ZipEntry, ZipOutputStream}

import scala.collection.mutable

/** Seeded generator of Excel-shaped transfer-report workbooks, written the
  * way Excel writes them rather than the way the program's own writer does:
  * a shared-string table, numeric serial dates with a date style, a header
  * row, and a second `Summary` sheet that the `Transfer Report*` sheet scan
  * must skip. Being independent of the program's writer keeps the
  * benchmark's input fixed when that writer changes.
  *
  * The generator also keeps the model the checks compare against: every key
  * with the content of its latest arrival, the quarantined rows, and which
  * folders were reported.
  */
object WorkbookGen {

  val statuses: IndexedSeq[(String, Double)] = IndexedSeq(
    "Transferred" -> 0.60, "Skipped - Already Exists" -> 0.12, "Failed" -> 0.06,
    "Pending" -> 0.05, "Partially Transferred" -> 0.04, "In Progress" -> 0.04,
    "Excluded by Filter" -> 0.03, "Error: Access Denied" -> 0.025,
    "Error: Path Too Long" -> 0.015, "Cancelled" -> 0.01,
    "Quarantined by Policy" -> 0.005, "Renamed" -> 0.005)

  /** Statuses rare enough that their `status_<x>` view is a narrow query. */
  val rareStatuses: IndexedSeq[String] = statuses.filter(_._2 <= 0.015).map(_._1)

  private val headers = graft.model.TransferSchema.excelHeaders
  private val exts = Array("docx", "xlsx", "pdf", "pptx", "txt", "png", "msg", "csv")

  final case class Row(path: String, id: Long, size: Long, status: String, batch: String)

  /** What the database must hold after every upsert: the latest row per key. */
  final class Model {
    val latest = mutable.HashMap.empty[(String, Long), Row]
    val reportedFolders = mutable.HashSet.empty[String]
    var rows = 0L
    var quarantined = 0L

    def add(r: Row): Unit = { latest((r.path, r.id)) = r; rows += 1 }

    def keys: Long = latest.size.toLong
    def statusCounts: Map[String, Long] =
      latest.valuesIterator.toSeq.groupBy(_.status).map { case (s, v) => s -> v.size.toLong }
    def batchCounts: Map[String, Long] =
      latest.valuesIterator.toSeq.groupBy(_.batch).map { case (s, v) => s -> v.size.toLong }
    def files: Long = latest.valuesIterator.count(_.size > 0).toLong
    def folders: Long = keys - files
    /** Rows whose parent folder has a row of its own (the parent-map hit). */
    def resolvedParents: Long = latest.valuesIterator.count { r =>
      val cut = r.path.lastIndexOf('/')
      cut > 0 && reportedFolders.contains(r.path.substring(0, cut))
    }.toLong
  }

  /** One folder of the forest: its path, its level and whether it has a row. */
  final case class Folder(path: String, level: Int, id: Long, reported: Boolean)

  /** Seeded row source shared by every workbook of one input set, so ids
    * stay unique and re-shipped keys can point back at earlier workbooks.
    */
  final class Source(seed: Long) {
    val rnd = new scala.util.Random(seed)
    private var nextId = 1000000L + (seed.abs % 1000L) * 10000000L
    val folders = mutable.ArrayBuffer.empty[Folder]
    val written = mutable.ArrayBuffer.empty[Row]

    def id(): Long = { nextId += 1; nextId }

    def status(): String = {
      var u = rnd.nextDouble()
      statuses.find { case (_, w) => u -= w; u < 0 }.map(_._1).getOrElse(statuses.head._1)
    }

    /** A new job tree: a root folder plus a chain reaching `depth` levels so
      * every depth in 2–12 actually occurs.
      */
    def newJob(name: String, depth: Int): IndexedSeq[Folder] = {
      val root = Folder(s"/$name", 1, id(), reported = true)
      val chain = (2 until depth).scanLeft(root) { (p, l) =>
        Folder(s"${p.path}/L$l-${rnd.nextInt(1000)}", l, id(), reported = true)
      }
      folders ++= chain
      chain
    }

    /** A new folder under a random folder of `within`, at most `maxLevel` deep;
      * ~2% are never reported, so their children's parents stay unresolved.
      */
    def newFolder(within: IndexedSeq[Folder], maxLevel: Int): Folder = {
      val parents = within.filter(_.level < maxLevel)
      val p = parents(rnd.nextInt(parents.size))
      val f = Folder(s"${p.path}/dir${folders.size}", p.level + 1, id(),
        reported = rnd.nextDouble() >= 0.02)
      folders += f
      f
    }

    def fileRow(in: Folder, batch: String): Row =
      Row(s"${in.path}/f${written.size}_${rnd.nextInt(100000)}.${exts(rnd.nextInt(exts.length))}",
        id(), 1L + rnd.nextInt(50000000), status(), batch)

    def folderRow(f: Folder, batch: String): Row =
      Row(f.path, f.id, 0L, if (rnd.nextDouble() < 0.9) "Transferred" else status(), batch)
  }

  /** Rows of one job workbook of `n` data rows: its folders (reported ones
    * get a row), files spread over them, `reshipFrac` of rows re-shipping
    * an earlier key with new content, and `blankFrac` key-less rows.
    */
  def jobRows(src: Source, job: String, n: Int, reshipFrac: Double,
      blankFrac: Double, batch: String): IndexedSeq[Option[Row]] = {
    val rnd = src.rnd
    val depth = 2 + rnd.nextInt(11)
    val tree = mutable.ArrayBuffer.empty[Folder] ++= src.newJob(job, depth)
    val nFolders = math.max(1, n / 10)
    while (tree.size < nFolders && tree.exists(_.level < depth - 1))
      tree += src.newFolder(tree.toIndexedSeq, depth - 1)
    val earlier = src.written.size
    val out = mutable.ArrayBuffer.empty[Option[Row]]
    tree.filter(_.reported).foreach(f => out += Some(src.folderRow(f, batch)))
    val folderSeq = tree.toIndexedSeq
    while (out.size < n) {
      val u = rnd.nextDouble()
      if (u < blankFrac) out += None
      else if (u < blankFrac + reshipFrac && earlier > 0) {
        val old = src.written(rnd.nextInt(earlier))
        out += Some(old.copy(status = src.status(), batch = batch))
      } else out += Some(src.fileRow(folderSeq(rnd.nextInt(folderSeq.size)), batch))
    }
    out.flatten.foreach(src.written += _)
    out.toIndexedSeq
  }

  // ---------------------------------------------------------------------
  // OOXML writing
  // ---------------------------------------------------------------------

  private def esc(s: String): String =
    if (s.exists(c => c == '&' || c == '<' || c == '>' || c == '"'))
      s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;").replace("\"", "&quot;")
    else s

  private def colRef(c: Int): String =
    if (c < 26) ('A' + c).toChar.toString
    else colRef(c / 26 - 1) + ('A' + c % 26).toChar

  private val colRefs = (0 until 19).map(colRef).toArray

  private final class Sst {
    val index = mutable.LinkedHashMap.empty[String, Int]
    var refs = 0L
    def apply(s: String): Int = { refs += 1; index.getOrElseUpdate(s, index.size) }
  }

  /** Writes `rows` (None = a key-less row) as the `Transfer Report` sheet of
    * `file`, plus a `Summary` sheet. Serial dates derive from the row id so
    * re-shipped rows differ only where the generator changed them.
    */
  def writeWorkbook(file: File, job: String, rows: IndexedSeq[Option[Row]], seed: Long): Unit = {
    val sst = new Sst
    val zos = new ZipOutputStream(new FileOutputStream(file))
    zos.setLevel(Deflater.BEST_SPEED)
    val w = new BufferedWriter(new OutputStreamWriter(zos, StandardCharsets.UTF_8), 1 << 16)
    def entry(name: String)(body: => Unit): Unit = {
      zos.putNextEntry(new ZipEntry(name)); body; w.flush(); zos.closeEntry()
    }
    def put(name: String, content: String): Unit = entry(name)(w.write(content))
    val decl = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" + "\n"
    val ns = """xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main""""
    val rns = """xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships""""
    try {
      put("[Content_Types].xml", decl +
        """<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">""" +
        """<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>""" +
        """<Default Extension="xml" ContentType="application/xml"/>""" +
        """<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>""" +
        """<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>""" +
        """<Override PartName="/xl/worksheets/sheet2.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>""" +
        """<Override PartName="/xl/styles.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.styles+xml"/>""" +
        """<Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/>""" +
        """</Types>""")
      put("_rels/.rels", decl +
        """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
        """<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>""" +
        """</Relationships>""")
      put("xl/workbook.xml", decl + s"<workbook $ns $rns><sheets>" +
        """<sheet name="Transfer Report" sheetId="1" r:id="rId1"/>""" +
        """<sheet name="Summary" sheetId="2" r:id="rId2"/>""" +
        "</sheets></workbook>")
      put("xl/_rels/workbook.xml.rels", decl +
        """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
        """<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>""" +
        """<Relationship Id="rId2" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet2.xml"/>""" +
        """<Relationship Id="rId3" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/styles" Target="styles.xml"/>""" +
        """<Relationship Id="rId4" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/sharedStrings" Target="sharedStrings.xml"/>""" +
        """</Relationships>""")
      put("xl/styles.xml", decl + s"<styleSheet $ns>" +
        """<numFmts count="1"><numFmt numFmtId="164" formatCode="yyyy\-mm\-dd\ hh:mm:ss"/></numFmts>""" +
        """<fonts count="1"><font><sz val="11"/><name val="Calibri"/></font></fonts>""" +
        """<fills count="1"><fill><patternFill patternType="none"/></fill></fills>""" +
        """<borders count="1"><border/></borders>""" +
        """<cellStyleXfs count="1"><xf numFmtId="0" fontId="0" fillId="0" borderId="0"/></cellStyleXfs>""" +
        """<cellXfs count="2"><xf numFmtId="0" fontId="0" fillId="0" borderId="0" xfId="0"/>""" +
        """<xf numFmtId="164" fontId="0" fillId="0" borderId="0" xfId="0" applyNumberFormat="1"/></cellXfs>""" +
        "</styleSheet>")

      entry("xl/worksheets/sheet1.xml") {
        w.write(decl); w.write(s"<worksheet $ns $rns><dimension ref=\"A1:S${rows.size + 1}\"/><sheetData>")
        def s(r: Int, c: Int, v: String): Unit =
          if (v.nonEmpty) {
            w.write("<c r=\""); w.write(colRefs(c)); w.write(Integer.toString(r))
            w.write("\" t=\"s\"><v>"); w.write(Integer.toString(sst(v))); w.write("</v></c>")
          }
        def n(r: Int, c: Int, v: String, style: Boolean): Unit = {
          w.write("<c r=\""); w.write(colRefs(c)); w.write(Integer.toString(r))
          w.write(if (style) "\" s=\"1\"><v>" else "\"><v>"); w.write(v); w.write("</v></c>")
        }
        w.write("<row r=\"1\">"); headers.indices.foreach(c => s(1, c, headers(c))); w.write("</row>")
        var i = 0
        while (i < rows.size) {
          val r = i + 2
          w.write("<row r=\""); w.write(Integer.toString(r)); w.write("\">")
          rows(i) match {
            case None =>
              // a key-less row: only a stray note cell, no name, no id
              s(r, 16, "see summary sheet")
            case Some(row) =>
              val h = (row.id * 0x9E3779B97F4A7C15L) ^ seed
              def serial(k: Int): String = {
                val x = ((h >>> (k * 5)) & 0x3fffffffL).toDouble / 0x3fffffffL
                java.lang.Double.toString(44000.0 + 1800.0 * x)
              }
              val leaf = row.path.substring(row.path.lastIndexOf('/') + 1)
              val acct = s"user${(h >>> 40) & 255}@contoso.example"
              s(r, 0, row.path)
              n(r, 1, java.lang.Long.toString(row.size), style = false)
              n(r, 2, java.lang.Long.toString(row.size), style = false)
              n(r, 3, java.lang.Long.toString(row.id), style = false)
              s(r, 4, acct)
              s(r, 5, s"migrated.$acct")
              n(r, 6, serial(0), style = true)
              s(r, 7, s"editor${(h >>> 32) & 63}")
              n(r, 8, serial(1), style = true)
              n(r, 9, serial(2), style = true)
              n(r, 10, serial(3), style = true)
              n(r, 11, serial(4), style = true)
              n(r, 12, serial(5), style = true)
              s(r, 13, if (row.size > 0) "SHA-1" else "")
              s(r, 14, if (row.size > 0) java.lang.Long.toHexString(h) else "")
              s(r, 15, row.status)
              s(r, 16, if (row.status.startsWith("Error") || row.status == "Failed") s"${row.status} (code ${h & 1023})" else "")
              s(r, 17, row.batch)
              s(r, 18, leaf)
          }
          w.write("</row>")
          i += 1
        }
        w.write("</sheetData></worksheet>")
      }
      // a sheet the Transfer Report* predicate must skip: importing it
      // would add keyed rows the tallies do not expect
      entry("xl/worksheets/sheet2.xml") {
        w.write(decl); w.write(s"<worksheet $ns><sheetData>")
        w.write(s"""<row r="1"><c r="A1" t="s"><v>${sst("Job")}</v></c><c r="B1" t="s"><v>${sst(job)}</v></c></row>""")
        w.write(s"""<row r="2"><c r="A2" t="s"><v>${sst("/summary/not-a-row")}</v></c><c r="B2"><v>${rows.size}</v></c><c r="D2"><v>1</v></c></row>""")
        w.write("</sheetData></worksheet>")
      }
      entry("xl/sharedStrings.xml") {
        w.write(decl); w.write(s"""<sst $ns count="${sst.refs}" uniqueCount="${sst.index.size}">""")
        sst.index.keysIterator.foreach { v => w.write("<si><t>"); w.write(esc(v)); w.write("</t></si>") }
        w.write("</sst>")
      }
    } finally { w.close() }
  }
}
