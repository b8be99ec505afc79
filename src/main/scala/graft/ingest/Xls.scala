package graft.ingest

import java.io.File
import java.nio.{ByteBuffer, ByteOrder}

import scala.collection.mutable

/** Dependency-free legacy `.xls` (BIFF8) reading — the reference's
  * "traditional" path (SQLiteDirectImporter.java:384-426), without POI:
  * [[Cfb]] locates the `Workbook` stream; this module parses the BIFF8
  * record stream (public MS-XLS spec):
  *
  *   - globals substream: BOUNDSHEET records give sheet names + substream
  *     positions (workbook order); SST gives the shared-string table
  *     (CONTINUE-record splits handled, including mid-string re-specified
  *     encoding flags);
  *   - worksheet substreams: LABELSST / LABEL / NUMBER / RK / MULRK /
  *     BOOLERR / FORMULA+STRING cells, rendered to the same formatted
  *     strings the xlsx path produces (General format via
  *     [[Xlsx.formatGeneral]], TRUE/FALSE booleans), sparse cells padded
  *     by (row, column) exactly like the xlsx handler.
  *
  * Whole-sheet materialization (cells collected then emitted row-ordered)
  * mirrors the reference's whole-workbook HSSF read — the legacy format is
  * the bounded/archival path; [[Xlsx]] is the streaming one.
  */
object Xls {

  final case class SheetRef(name: String, pos: Int)

  // record ids (MS-XLS)
  private val BOF = 0x809
  private val EOF_R = 0x0A
  private val BOUNDSHEET = 0x85
  private val SST = 0xFC
  private val CONTINUE = 0x3C
  private val LABELSST = 0xFD
  private val LABEL = 0x204
  private val NUMBER = 0x203
  private val RK = 0x27E
  private val MULRK = 0xBD
  private val BOOLERR = 0x205
  private val FORMULA = 0x06
  private val STRING_R = 0x207
  private val INDEX = 0x20B
  private val EXTSST = 0xFF

  def workbookStream(file: File): Array[Byte] =
    Cfb.readStream(file, Seq("Workbook", "Book"))
      .getOrElse(sys.error(s"no Workbook stream in $file"))

  def workbookStream(bytes: Array[Byte]): Array[Byte] =
    Cfb.readStream(bytes, Seq("Workbook", "Book"))
      .getOrElse(sys.error("no Workbook stream in .xls bytes"))

  private def u16(b: Array[Byte], off: Int): Int =
    (b(off) & 0xFF) | ((b(off + 1) & 0xFF) << 8)
  private def u32(b: Array[Byte], off: Int): Int =
    u16(b, off) | (u16(b, off + 2) << 16)

  /** Iterate (recordId, dataOffset, dataLen) from `start` to the matching
    * EOF (or stream end / zero padding).
    */
  private def records(wb: Array[Byte], start: Int): Iterator[(Int, Int, Int)] =
    new Iterator[(Int, Int, Int)] {
      private var off = start
      private var depth = 0
      private var done = false
      private var nxt: (Int, Int, Int) = null
      fetch()
      private def fetch(): Unit = {
        nxt = null
        if (done || off + 4 > wb.length) return
        val id = u16(wb, off)
        val len = u16(wb, off + 2)
        if (id == 0) { done = true; return } // zero padding after final EOF
        nxt = (id, off + 4, len)
        off += 4 + len
        if (id == BOF) depth += 1
        if (id == EOF_R) { depth -= 1; if (depth <= 0) done = true }
      }
      override def hasNext: Boolean = nxt != null
      override def next(): (Int, Int, Int) = {
        val out = nxt; fetch(); out
      }
    }

  private def boundsheetName(wb: Array[Byte], off: Int): String = {
    val cch = wb(off + 6) & 0xFF
    val high = (wb(off + 7) & 0x1) != 0
    if (high) new String(wb, off + 8, cch * 2, "UTF-16LE")
    else new String(wb, off + 8, cch, "ISO-8859-1")
  }

  /** Sheet names + substream positions, in workbook order (BOUNDSHEET,
    * SQLiteDirectImporter.java:396-401 iterates the same order).
    */
  def sheetRefs(wb: Array[Byte]): Seq[SheetRef] =
    records(wb, 0).collect { case (BOUNDSHEET, off, _) =>
      SheetRef(boundsheetName(wb, off), u32(wb, off))
    }.toSeq

  /** Rewrite the Workbook stream keeping ONLY the sheet named `sheetName` —
    * the BIFF-level half of the reference's legacy Overview extraction
    * (TransferOverviewExtractor.java:508-515 removes every other sheet via
    * POI). Record-exact surgery:
    *
    *   - globals substream copied verbatim minus the other sheets'
    *     BOUNDSHEET records and minus EXTSST — EXTSST's ISSTINF entries
    *     hold ABSOLUTE stream offsets into the SST, which the BOUNDSHEET
    *     removals shift; like INDEX it is an optional access accelerator
    *     (readers fall back to the sequential SST walk), so dropping it
    *     beats carrying stale offsets that would mis-seek shared strings.
    *     The kept BOUNDSHEET's lbPlyPos is patched to the sheet
    *     substream's new position;
    *   - the kept sheet substream copied verbatim minus its INDEX record —
    *     INDEX holds ABSOLUTE stream offsets of the DBCELL accelerators,
    *     which the surgery shifts; the record is an optional read
    *     accelerator (consumers fall back to the sequential record walk,
    *     which [[sheetRows]] always uses), so dropping it beats carrying
    *     stale offsets. DBCELL itself is position-relative and survives.
    *
    * Formula references into removed sheets (EXTERNSHEET indices) are left
    * untouched: cached formula RESULTS still read correctly (the cells this
    * path exists to preserve); re-evaluation in Excel may show #REF!, same
    * as any sheet deletion.
    */
  def subsetWorkbookStream(wb: Array[Byte], sheetName: String): Option[Array[Byte]] = {
    val refs = sheetRefs(wb)
    refs.find(_.name == sheetName).map { target =>
      val out = new java.io.ByteArrayOutputStream(wb.length)
      var patchAt = -1 // output offset of the kept BOUNDSHEET's lbPlyPos
      var kept = false
      records(wb, 0).foreach { case (id, off, len) =>
        val keep = id != EXTSST && (id != BOUNDSHEET ||
          (!kept && boundsheetName(wb, off) == sheetName))
        if (keep) {
          if (id == BOUNDSHEET) { patchAt = out.size + 4; kept = true }
          out.write(wb, off - 4, len + 4)
        }
      }
      val newPos = out.size
      records(wb, target.pos).foreach { case (id, off, len) =>
        if (id != INDEX) out.write(wb, off - 4, len + 4)
      }
      val bytes = out.toByteArray
      bytes(patchAt) = (newPos & 0xFF).toByte
      bytes(patchAt + 1) = ((newPos >> 8) & 0xFF).toByte
      bytes(patchAt + 2) = ((newPos >> 16) & 0xFF).toByte
      bytes(patchAt + 3) = ((newPos >> 24) & 0xFF).toByte
      bytes
    }
  }

  /** The shared-string table: SST record + its CONTINUE records form one
    * logical byte stream; strings may split at chunk boundaries, where a
    * fresh encoding-flags byte is re-specified (the BIFF8 quirk POI's
    * SSTDeserializer handles).
    */
  def sst(wb: Array[Byte]): IndexedSeq[String] = {
    // gather the SST chunk + following CONTINUEs
    var sstAt = -1
    val chunks = mutable.ArrayBuffer.empty[(Int, Int)] // (offset, len)
    val it = records(wb, 0)
    var collecting = false
    while (it.hasNext) {
      val (id, off, len) = it.next()
      if (id == SST) { sstAt = off; chunks += ((off, len)); collecting = true }
      else if (collecting && id == CONTINUE) chunks += ((off, len))
      else if (collecting) collecting = false
    }
    if (sstAt < 0) return Vector.empty

    // cursor over the logical chunk stream
    var ci = 0
    var pos = chunks(0)._1
    var end = chunks(0)._1 + chunks(0)._2
    def atBoundary: Boolean = pos >= end
    def hop(): Unit = { ci += 1; pos = chunks(ci)._1; end = chunks(ci)._1 + chunks(ci)._2 }
    def rU8(): Int = { if (atBoundary) hop(); val v = wb(pos) & 0xFF; pos += 1; v }
    def rU16(): Int = rU8() | (rU8() << 8)
    def rU32(): Int = rU16() | (rU16() << 16)
    def skip(n: Long): Unit = {
      var left = n
      while (left > 0) {
        if (atBoundary) hop()
        val take = math.min(left, (end - pos).toLong)
        pos += take.toInt
        left -= take
      }
    }

    val total = rU32() // cstTotal (with repeats) — unused
    val unique = rU32()
    val _ = total
    val out = Vector.newBuilder[String]
    var s = 0
    while (s < unique) {
      val cch = rU16()
      var flags = rU8()
      val fRich = (flags & 0x8) != 0
      val fExt = (flags & 0x4) != 0
      val cRun = if (fRich) rU16() else 0
      val cbExt = if (fExt) rU32() else 0
      val sb = new StringBuilder(cch)
      var read = 0
      var high = (flags & 0x1) != 0
      while (read < cch) {
        if (atBoundary) {
          hop()
          // continuation re-specifies the encoding for its portion
          flags = rU8()
          high = (flags & 0x1) != 0
        }
        // consume as many chars as this chunk holds
        val avail = end - pos
        val charBytes = if (high) 2 else 1
        val take = math.min((cch - read).toLong, (avail / charBytes).toLong).toInt
        if (take == 0 && avail > 0 && high) {
          // torn UTF-16 char across boundary (malformed by spec) — bail per char
          sys.error("BIFF8 SST: torn UTF-16 character at CONTINUE boundary")
        }
        if (high) sb.append(new String(wb, pos, take * 2, "UTF-16LE"))
        else sb.append(new String(wb, pos, take, "ISO-8859-1"))
        pos += take * charBytes
        read += take
      }
      skip(cRun.toLong * 4 + (cbExt.toLong & 0xFFFFFFFFL))
      out += sb.toString
      s += 1
    }
    out.result()
  }

  /** Decode an RkNumber: packed 30-bit value + int/×0.01 flags. */
  private[ingest] def decodeRk(rk: Int): String = {
    val fX100 = (rk & 1) != 0
    val fInt = (rk & 2) != 0
    if (fInt) {
      val v = rk >> 2 // arithmetic: keeps the 30-bit sign
      if (fX100) {
        if (v % 100 == 0) (v / 100).toString
        else Xlsx.formatGeneral(java.math.BigDecimal.valueOf(v.toLong, 2).toPlainString)
      } else v.toString
    } else {
      val d = java.lang.Double.longBitsToDouble((rk.toLong & 0xFFFFFFFCL) << 32)
      formatNum(if (fX100) d / 100 else d)
    }
  }

  /** General-format rendering of a numeric cell, matching the xlsx path. */
  private[ingest] def formatNum(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else Xlsx.formatGeneral(java.math.BigDecimal.valueOf(d).toPlainString)

  /** XLUnicodeString at `off` (cch u16 + flags u8 + chars): (value, bytes). */
  private def readUnicodeString(wb: Array[Byte], off: Int): String = {
    val cch = u16(wb, off)
    val flags = wb(off + 2) & 0xFF
    val fRich = (flags & 0x8) != 0
    val fExt = (flags & 0x4) != 0
    var p = off + 3
    if (fRich) p += 2
    if (fExt) p += 4
    if ((flags & 0x1) != 0) new String(wb, p, cch * 2, "UTF-16LE")
    else new String(wb, p, cch, "ISO-8859-1")
  }

  /** Cells of one worksheet substream, as (0-based row, padded cells) in row
    * order — same contract as [[Xlsx.rowIterator]].
    */
  def sheetRows(wb: Array[Byte], pos: Int, sst: IndexedSeq[String])
      : Iterator[(Long, Array[String])] = {
    val rows = mutable.TreeMap.empty[Int, mutable.TreeMap[Int, String]]
    def put(row: Int, col: Int, v: String): Unit =
      rows.getOrElseUpdate(row, mutable.TreeMap.empty) += (col -> v)

    var pendingFormula: (Int, Int) = null // (row, col) awaiting a STRING record
    records(wb, pos).foreach { case (id, off, len) =>
      id match {
        case LABELSST =>
          put(u16(wb, off), u16(wb, off + 2), sst(u32(wb, off + 6)))
        case LABEL =>
          put(u16(wb, off), u16(wb, off + 2), readUnicodeString(wb, off + 6))
        case NUMBER =>
          val d = ByteBuffer.wrap(wb, off + 6, 8).order(ByteOrder.LITTLE_ENDIAN).getDouble
          put(u16(wb, off), u16(wb, off + 2), formatNum(d))
        case RK =>
          put(u16(wb, off), u16(wb, off + 2), decodeRk(u32(wb, off + 6)))
        case MULRK =>
          val row = u16(wb, off)
          val colFirst = u16(wb, off + 2)
          val n = (len - 6) / 6
          var i = 0
          while (i < n) {
            put(row, colFirst + i, decodeRk(u32(wb, off + 4 + i * 6 + 2)))
            i += 1
          }
        case BOOLERR =>
          val fError = wb(off + 7) & 0xFF
          if (fError == 0)
            put(u16(wb, off), u16(wb, off + 2),
              if ((wb(off + 6) & 0xFF) != 0) "TRUE" else "FALSE")
        case FORMULA =>
          val row = u16(wb, off); val col = u16(wb, off + 2)
          if (u16(wb, off + 12) == 0xFFFF) {
            // non-numeric result: string follows in STRING; bool/err inline
            (wb(off + 6) & 0xFF) match {
              case 0 => pendingFormula = (row, col)
              case 1 => put(row, col, if ((wb(off + 8) & 0xFF) != 0) "TRUE" else "FALSE")
              case _ => ()
            }
          } else {
            val d = ByteBuffer.wrap(wb, off + 6, 8).order(ByteOrder.LITTLE_ENDIAN).getDouble
            put(row, col, formatNum(d))
          }
        case STRING_R if pendingFormula != null =>
          put(pendingFormula._1, pendingFormula._2, readUnicodeString(wb, off))
          pendingFormula = null
        case _ => ()
      }
    }
    rows.iterator.map { case (r, cells) =>
      val maxCol = cells.lastKey
      val arr = Array.fill(maxCol + 1)("")
      cells.foreach { case (c, v) => arr(c) = v }
      (r.toLong, arr)
    }
  }

  /** All rows of sheets matching `sheetPredicate` in one workbook:
    * `(sheet name, 0-based row idx, padded cells)` — the `.xls` twin of
    * [[Xlsx.scanRows]].
    */
  def scanRows(file: File, sheetPredicate: String => Boolean)
      : Iterator[(String, Long, Array[String])] = {
    val wb = workbookStream(file)
    val sheets = sheetRefs(wb).filter(s => sheetPredicate(s.name))
    if (sheets.isEmpty) return Iterator.empty
    val strings = sst(wb)
    sheets.iterator.flatMap { s =>
      sheetRows(wb, s.pos, strings).map { case (idx, cells) => (s.name, idx, cells) }
    }
  }
}
