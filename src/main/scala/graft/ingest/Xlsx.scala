package graft.ingest

import java.io.{File, InputStream}
import java.util.zip.ZipFile
import javax.xml.stream.{XMLInputFactory, XMLStreamConstants, XMLStreamReader}

import scala.collection.mutable.ArrayBuffer

/** Dependency-free OOXML (.xlsx) reading: ZIP via `java.util.zip`, XML via
  * the JDK StAX pull parser — no POI. Replicates the reference's streaming
  * SAX scan semantics (SQLiteDirectImporter.java:330-379, 734-741):
  *
  *   - sheets iterated in workbook.xml order, names from `workbook.xml`,
  *     parts resolved through `xl/_rels/workbook.xml.rels`;
  *   - cells delivered as FORMATTED STRINGS (the reference's POI
  *     `DataFormatter` with a null styles table ⇒ General format — integral
  *     numerics render without a trailing ".0", serial dates stay numeric
  *     strings for [[Coerce]] to interpret);
  *   - sparse cells placed by their `r="B3"`-style reference with gaps
  *     padded to "" (SQLiteDirectImporter.java:460-464);
  *   - shared strings (`t="s"`), inline strings, formula string results
  *     (`t="str"`), and booleans (TRUE/FALSE, as POI renders them);
  *   - row memory is O(row) — the sheet XML is pull-parsed, never
  *     materialized (the shared-string table is held in memory, exactly as
  *     the reference's ReadOnlySharedStringsTable is).
  *
  * External entities and DTDs are disabled: workbooks are untrusted input.
  */
object Xlsx {

  final case class SheetRef(name: String, entry: String)

  private def inputFactory: XMLInputFactory = {
    val f = XMLInputFactory.newInstance()
    f.setProperty(XMLInputFactory.SUPPORT_DTD, java.lang.Boolean.FALSE)
    f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, java.lang.Boolean.FALSE)
    f.setProperty(XMLInputFactory.IS_COALESCING, java.lang.Boolean.TRUE)
    f
  }

  private def reader(in: InputStream): XMLStreamReader =
    inputFactory.createXMLStreamReader(in)

  private def attr(r: XMLStreamReader, local: String): String = {
    var i = 0
    while (i < r.getAttributeCount) {
      if (r.getAttributeLocalName(i) == local) return r.getAttributeValue(i)
      i += 1
    }
    null
  }

  /** 0-based column index from an A1-style reference ("B3" → 1). */
  def colIndex(ref: String): Int = {
    var idx = 0
    var i = 0
    while (i < ref.length && ref.charAt(i).isLetter) {
      idx = idx * 26 + (ref.charAt(i).toUpper - 'A' + 1)
      i += 1
    }
    idx - 1
  }

  /** OOXML `_xHHHH_` unescape: XML 1.0 cannot carry control characters, so
    * Excel stores them escaped in sharedStrings/inline strings (and escapes
    * a literal `_xHHHH_` by encoding its own underscore as `_x005F_`).
    */
  def unescapeOoxml(s: String): String = {
    if (!s.contains("_x")) return s
    val m = java.util.regex.Pattern.compile("_x([0-9A-Fa-f]{4})_").matcher(s)
    val sb = new StringBuffer
    while (m.find()) {
      val ch = Integer.parseInt(m.group(1), 16).toChar
      m.appendReplacement(sb,
        java.util.regex.Matcher.quoteReplacement(ch.toString))
    }
    m.appendTail(sb)
    sb.toString
  }

  /** POI DataFormatter "General" rendering of a raw numeric cell value:
    * integral values lose the decimal part ("2048.0" → "2048"), everything
    * else keeps its plain decimal form; non-numeric text passes through.
    */
  def formatGeneral(raw: String): String =
    try {
      val stripped = new java.math.BigDecimal(raw).stripTrailingZeros()
      if (stripped.scale <= 0) stripped.toBigIntegerExact.toString
      else stripped.toPlainString
    } catch { case _: ArithmeticException | _: NumberFormatException => raw }

  /** Sheet (name, zip entry) pairs in workbook order. */
  def sheetRefs(zf: ZipFile): Seq[SheetRef] = {
    // relationship id → target part, from xl/_rels/workbook.xml.rels
    val rels = {
      val e = zf.getEntry("xl/_rels/workbook.xml.rels")
      if (e == null) Map.empty[String, String]
      else withReader(zf.getInputStream(e)) { r =>
        val m = Map.newBuilder[String, String]
        while (r.hasNext) {
          if (r.next() == XMLStreamConstants.START_ELEMENT &&
              r.getLocalName == "Relationship")
            m += (attr(r, "Id") -> attr(r, "Target"))
        }
        m.result()
      }
    }
    def resolve(target: String): String =
      if (target == null) null
      else if (target.startsWith("/")) target.stripPrefix("/")
      else "xl/" + target
    val e = zf.getEntry("xl/workbook.xml")
    require(e != null, "not an xlsx workbook: missing xl/workbook.xml")
    withReader(zf.getInputStream(e)) { r =>
      val out = Seq.newBuilder[SheetRef]
      while (r.hasNext) {
        if (r.next() == XMLStreamConstants.START_ELEMENT && r.getLocalName == "sheet") {
          val name = attr(r, "name")
          val rid = attr(r, "id") // r:id — matched by local name
          val entry = resolve(rels.getOrElse(rid, null))
          if (name != null && entry != null && zf.getEntry(entry) != null)
            out += SheetRef(name, entry)
        }
      }
      out.result()
    }
  }

  /** The shared-string table (phonetic `rPh` runs excluded, as POI does). */
  def sharedStrings(zf: ZipFile): IndexedSeq[String] = {
    val e = zf.getEntry("xl/sharedStrings.xml")
    if (e == null) return Vector.empty
    withReader(zf.getInputStream(e)) { r =>
      val out = Vector.newBuilder[String]
      val sb = new StringBuilder
      var inSi = false
      var inRPh = false
      while (r.hasNext) {
        r.next() match {
          case XMLStreamConstants.START_ELEMENT =>
            r.getLocalName match {
              case "si" => inSi = true; sb.clear()
              case "rPh" => inRPh = true
              case "t" if inSi && !inRPh => sb.append(r.getElementText)
              case _ =>
            }
          case XMLStreamConstants.END_ELEMENT =>
            r.getLocalName match {
              case "si" => inSi = false; out += unescapeOoxml(sb.toString)
              case "rPh" => inRPh = false
              case _ =>
            }
          case _ =>
        }
      }
      out.result()
    }
  }

  private def withReader[A](in: InputStream)(f: XMLStreamReader => A): A = {
    val r = reader(in)
    try f(r) finally { r.close(); in.close() }
  }

  /** Pull-parse one worksheet into (0-based row index, padded cell strings).
    * Row 0 is the header row (dropped downstream by the adapter's
    * `_row_idx > 0` filter — SQLiteDirectImporter.java:468-473).
    * The iterator owns the stream and closes it on exhaustion.
    */
  def rowIterator(in: InputStream, sst: IndexedSeq[String]): Iterator[(Long, Array[String])] =
    new Iterator[(Long, Array[String])] {
      private val r = reader(in)
      private var nextRow: (Long, Array[String]) = null
      private var seqRow = -1L
      private var closed = false
      advance()

      override def hasNext: Boolean = nextRow != null
      override def next(): (Long, Array[String]) = {
        val out = nextRow
        if (out == null) throw new NoSuchElementException
        advance()
        out
      }

      private def close(): Unit = if (!closed) { closed = true; r.close(); in.close() }

      private def cellValue(t: String, v: String): String = t match {
        case "s" => if (v == null) "" else sst(v.trim.toInt)
        case "inlineStr" | "str" => if (v == null) "" else unescapeOoxml(v)
        case "e" => if (v == null) "" else v
        case "b" => if (v != null && v.trim == "1") "TRUE" else "FALSE"
        case _ => if (v == null) "" else formatGeneral(v.trim)
      }

      private def advance(): Unit = {
        nextRow = null
        if (closed) return
        val cells = ArrayBuffer.empty[String]
        var inRow = false
        var rowIdx = -1L
        var lastCol = -1
        var cellCol = -1
        var cellType = "n"
        var value: String = null
        var inRPh = false
        var hasValue = false
        while (nextRow == null && r.hasNext) {
          r.next() match {
            case XMLStreamConstants.START_ELEMENT =>
              r.getLocalName match {
                case "row" =>
                  inRow = true
                  val ra = attr(r, "r")
                  rowIdx = if (ra != null) ra.trim.toLong - 1 else seqRow + 1
                  seqRow = rowIdx
                  lastCol = -1
                  cells.clear()
                case "c" if inRow =>
                  val ref = attr(r, "r")
                  cellCol = if (ref != null) colIndex(ref) else lastCol + 1
                  cellType = { val t = attr(r, "t"); if (t == null) "n" else t }
                  value = null
                  hasValue = false
                case "v" if inRow =>
                  value = r.getElementText
                  hasValue = true
                case "rPh" => inRPh = true
                case "t" if inRow && cellType == "inlineStr" && !inRPh =>
                  value = (if (value == null) "" else value) + r.getElementText
                  hasValue = true
                case _ =>
              }
            case XMLStreamConstants.END_ELEMENT =>
              r.getLocalName match {
                case "rPh" => inRPh = false
                case "c" if inRow =>
                  // a valueless cell is a MISSING cell (POI never emits it);
                  // padding fills the gap with "" if a later cell lands past it
                  if (hasValue || cellType == "b") {
                    while (cells.size <= cellCol) cells += ""
                    cells(cellCol) = cellValue(cellType, value)
                  }
                  lastCol = cellCol
                case "row" if inRow =>
                  nextRow = (rowIdx, cells.toArray)
                  inRow = false
                case _ =>
              }
            case _ =>
          }
        }
        if (nextRow == null) close()
      }
    }

  /** All rows of sheets matching `sheetPredicate` in one workbook file:
    * `(sheet name, 0-based row index, padded cells)`. Non-matching sheets
    * are never parsed — the reference skips them at the same point
    * (SQLiteDirectImporter.java:349, 366-369). Closes the zip when the
    * returned iterator is exhausted.
    */
  def scanRows(file: File, sheetPredicate: String => Boolean)
      : Iterator[(String, Long, Array[String])] = {
    val zf = new ZipFile(file)
    // close-on-task-end safety net for abandoned iterators (ZipFile.close
    // is idempotent; the exhaustion path below stays the primary close)
    Option(org.apache.spark.TaskContext.get()).foreach(
      _.addTaskCompletionListener[Unit](_ => zf.close()))
    val sheets = sheetRefs(zf).filter(s => sheetPredicate(s.name))
    if (sheets.isEmpty) { zf.close(); return Iterator.empty }
    val sst = sharedStrings(zf)
    val it = sheets.iterator.flatMap { s =>
      rowIterator(zf.getInputStream(zf.getEntry(s.entry)), sst)
        .map { case (idx, cells) => (s.name, idx, cells) }
    }
    new Iterator[(String, Long, Array[String])] {
      override def hasNext: Boolean = {
        val h = it.hasNext
        if (!h) zf.close()
        h
      }
      override def next(): (String, Long, Array[String]) = it.next()
    }
  }
}
