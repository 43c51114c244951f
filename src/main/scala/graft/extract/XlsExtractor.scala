package graft.extract

import Endian._
import graft.core._
import graft.core.TextUtil.filterText

/** From-scratch BIFF8 (.xls) reader — the reference reads these via xlrd
  * (`/root/reference/ingestors/tabular/xls.py:15-84`); format per the
  * public [MS-XLS] specification. The workbook stream lives in a CFBF
  * container (reused `Cfbf` reader).
  *
  * Scope: BIFF8 worksheets — SST (incl. CONTINUE-spanning strings),
  * LABELSST/LABEL/RSTRING, NUMBER/RK/MULRK, BOOLERR, FORMULA (+ STRING
  * result), date detection via XF→FORMAT mapping with xldate decoding
  * (`xls.py:25-41`), DATEMODE 1900/1904, FILEPASS → encrypted failure.
  * Output follows the XlsxExtractor conventions: one text span per
  * non-empty row, properties sheets/rowCount. */
object XlsExtractor extends Extractor {
  val name = "ExcelIngestor"
  val schema = "Workbook"

  // record ids
  private val BOF = 0x0809
  private val EOF_ = 0x000a
  private val FILEPASS = 0x002f
  private val DATEMODE = 0x0022
  private val BOUNDSHEET = 0x0085
  private val SST = 0x00fc
  private val CONTINUE = 0x003c
  private val LABELSST = 0x00fd
  private val LABEL = 0x0204
  private val RSTRING = 0x00d6
  private val NUMBER = 0x0203
  private val RK = 0x027e
  private val MULRK = 0x00bd
  private val BOOLERR = 0x0205
  private val FORMULA = 0x0006
  private val STRING = 0x0207
  private val FORMAT = 0x041e
  private val XF = 0x00e0

  private def f64(b: Array[Byte], o: Int): Double = {
    var bits = 0L
    var k = 7
    while (k >= 0) { bits = (bits << 8) | (b(o + k) & 0xffL); k -= 1 }
    java.lang.Double.longBitsToDouble(bits)
  }

  private final case class Rec(id: Int, off: Int, len: Int)

  private def records(d: Array[Byte]): Vector[Rec] = {
    val out = Vector.newBuilder[Rec]
    var p = 0
    while (p + 4 <= d.length) {
      val id = le16(d, p)
      val len = le16(d, p + 2)
      if (p + 4 + len > d.length) return out.result()
      out += Rec(id, p + 4, len)
      p += 4 + len
    }
    out.result()
  }

  /** Cursor over an SST record plus its CONTINUE segments: strings crossing
    * a segment boundary restart with a fresh option-flags byte there
    * ([MS-XLS] 2.5.293). */
  private final class SegCursor(d: Array[Byte], segs: Vector[(Int, Int)]) {
    private var seg = 0
    private var pos = 0 // within segment
    private def segLen = segs(seg)._2
    private def hop(): Unit =
      while (seg < segs.length && pos >= segLen && !(seg == segs.length - 1)) {
        if (pos == segLen) { seg += 1; pos = 0 } else return
      }
    def exhausted: Boolean = { hop(); seg >= segs.length - 1 && pos >= segLen }
    def u8(): Int = { hop(); val v = d(segs(seg)._1 + pos) & 0xff; pos += 1; v }
    def u16le(): Int = { val a = u8(); val b = u8(); a | (b << 8) }
    def i32le(): Int = { val a = u16le(); val b = u16le(); a | (b << 16) }
    def skip(n: Int): Unit = {
      var left = n
      while (left > 0) {
        hop()
        val take = math.min(left, segLen - pos)
        if (take <= 0) return // truncated
        pos += take; left -= take
      }
    }
    /** Read cch chars, re-reading the compressed flag at each segment
      * boundary crossed mid-string. */
    def chars(cch: Int, compressed0: Boolean): String = {
      val sb = new StringBuilder(cch)
      var left = cch
      var compressed = compressed0
      while (left > 0) {
        hop()
        if (seg >= segs.length || pos >= segLen) return sb.toString // truncated
        if (pos == 0 && seg > 0 && sb.nonEmpty || (pos == 0 && seg > 0 && left < cch)) {
          // continuation boundary reached mid-string: fresh grbit byte
          val g = u8()
          compressed = (g & 1) == 0
        }
        val avail = segLen - pos
        if (compressed) {
          val take = math.min(left, avail)
          var k = 0
          while (k < take) { sb.append((d(segs(seg)._1 + pos + k) & 0xff).toChar); k += 1 }
          pos += take; left -= take
        } else {
          val take = math.min(left, avail / 2)
          if (take == 0) { pos = segLen } // odd trailing byte: force hop
          else {
            var k = 0
            while (k < take) {
              sb.append(le16(d, segs(seg)._1 + pos + 2 * k).toChar); k += 1
            }
            pos += take * 2; left -= take
          }
        }
      }
      sb.toString
    }
    /** XLUnicodeRichExtendedString at cursor. */
    def richString(): String = {
      val cch = u16le()
      val flags = u8()
      val fHigh = (flags & 1) != 0
      val fExt = (flags & 4) != 0
      val fRich = (flags & 8) != 0
      val cRun = if (fRich) u16le() else 0
      val cbExt = if (fExt) i32le() else 0
      val s = chars(cch, !fHigh)
      skip(cRun * 4)
      skip(math.max(cbExt, 0))
      s
    }
  }

  /** ShortXLUnicodeString (1-byte length) used by BOUNDSHEET. */
  private def shortString(d: Array[Byte], off: Int): String = {
    val cch = d(off) & 0xff
    val flags = d(off + 1) & 0xff
    if ((flags & 1) == 0)
      new String(d, off + 2, math.min(cch, d.length - off - 2), "ISO-8859-1")
    else {
      val n = math.min(cch, (d.length - off - 2) / 2)
      val sb = new StringBuilder(n)
      var k = 0
      while (k < n) { sb.append(le16(d, off + 2 + 2 * k).toChar); k += 1 }
      sb.toString
    }
  }

  // ---- date formats --------------------------------------------------------

  /** Builtin date/time number-format ids ([MS-XLS] 2.4.126). */
  private[extract] val builtinDateFmts: Set[Int] =
    ((14 to 22) ++ (27 to 36) ++ (45 to 47) ++ (50 to 58)).toSet

  /** Custom format string date-ness: any y/m/d/h/s token outside quoted or
    * [color] sections (xlrd's is_date_format_string, simplified). */
  private[extract] def isDateFormatString(fmt: String): Boolean = {
    val sb = new StringBuilder
    var inQuote = false
    var inBracket = false
    var i = 0
    while (i < fmt.length) {
      val c = fmt.charAt(i)
      if (inQuote) { if (c == '"') inQuote = false }
      else if (inBracket) { if (c == ']') inBracket = false }
      else c match {
        case '"' => inQuote = true
        case '[' => inBracket = true
        case '\\' => i += 1
        case _ => sb.append(c)
      }
      i += 1
    }
    val body = sb.toString.toLowerCase
    body.exists(c => c == 'y' || c == 'd' || c == 'h' || c == 's') ||
      (body.contains('m') && !body.contains('#') && !body.contains('?'))
  }

  /** xldate → ISO string (`xls.py:25-41`): serial 0 → empty (None), pure
    * time → HH:MM:SS, else yyyy-MM-ddTHH:mm:ss; serial 60 (the phantom
    * 1900-02-29) keeps the float (xlrd raises, reference logs + keeps). */
  private[extract] def xldateIso(serial: Double, date1904: Boolean): Option[String] = {
    if (serial == 0.0) return Some("")
    if (serial < 0) return None
    val days = serial.toInt
    val frac = serial - days
    var secs = math.round(frac * 86400).toInt
    var dayCarry = 0
    if (secs >= 86400) { secs -= 86400; dayCarry = 1 }
    val hh = secs / 3600; val mm = (secs % 3600) / 60; val ss = secs % 60
    val time = f"$hh%02d:$mm%02d:$ss%02d"
    if (days == 0 && !date1904) return Some(time) // pure time-of-day
    val epoch =
      if (date1904) java.time.LocalDate.of(1904, 1, 1).plusDays(days + dayCarry)
      else if (days >= 61) java.time.LocalDate.of(1899, 12, 30).plusDays(days.toLong + dayCarry)
      else if (days == 60) return None // 1900-02-29 does not exist
      else java.time.LocalDate.of(1899, 12, 31).plusDays(days.toLong + dayCarry)
    Some(s"${epoch}T$time")
  }

  private def numString(v: Double): String =
    if (v == math.floor(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString

  private def rkValue(rk: Int): Double = {
    val div100 = (rk & 1) != 0
    val isInt = (rk & 2) != 0
    val v =
      if (isInt) (rk >> 2).toDouble
      else java.lang.Double.longBitsToDouble((rk & 0xfffffffcL) << 32)
    if (div100) v / 100 else v
  }

  // ---- main ------------------------------------------------------------

  protected def run(doc: RawDoc): ExtractionResult = {
    val entries = Cfbf.parse(doc.bytes)
    val stream = entries
      .find(e => e.path == "Workbook" || e.path == "Book")
      .getOrElse(throw new ProcessingError("Invalid Excel file: no Workbook stream"))
      .bytes
    val recs = records(stream)
    if (recs.isEmpty || recs.head.id != BOF)
      throw new ProcessingError("Invalid Excel file: no BOF record")

    // ---- globals substream ----
    var date1904 = false
    var sstStrings = Vector.empty[String]
    val sheets = Vector.newBuilder[(String, Int)] // (name, stream offset)
    val customFmts = scala.collection.mutable.HashMap.empty[Int, String]
    val xfFmt = Vector.newBuilder[Int] // XF index → ifmt
    var ri = 0
    var done = false
    while (ri < recs.length && !done) {
      val r = recs(ri)
      r.id match {
        case FILEPASS => throw new ProcessingError(ProcessingError.EncryptedMsg)
        case DATEMODE => date1904 = r.len >= 2 && le16(stream, r.off) == 1
        case BOUNDSHEET =>
          val pos = leI32(stream, r.off)
          val sheetType = stream(r.off + 5) & 0xff
          if (sheetType == 0) // worksheet (not chart/macro)
            sheets += ((shortString(stream, r.off + 6), pos))
        case FORMAT =>
          if (r.len >= 5) {
            val ifmt = le16(stream, r.off)
            val cch = le16(stream, r.off + 2)
            val flags = stream(r.off + 4) & 0xff
            val s =
              if ((flags & 1) == 0)
                new String(stream, r.off + 5, math.min(cch, r.len - 5), "ISO-8859-1")
              else {
                val n = math.min(cch, (r.len - 5) / 2)
                (0 until n).map(k => le16(stream, r.off + 5 + 2 * k).toChar).mkString
              }
            customFmts(ifmt) = s
          }
        case XF =>
          xfFmt += (if (r.len >= 4) le16(stream, r.off + 2) else 0)
        case SST =>
          // gather SST + following CONTINUEs
          val segs = Vector.newBuilder[(Int, Int)]
          segs += ((r.off, r.len))
          var j = ri + 1
          while (j < recs.length && recs(j).id == CONTINUE) {
            segs += ((recs(j).off, recs(j).len))
            j += 1
          }
          val cur = new SegCursor(stream, segs.result())
          cur.skip(4) // cstTotal
          val unique = cur.i32le()
          val out = Vector.newBuilder[String]
          var k = 0
          while (k < unique && k < 1000000 && !cur.exhausted) {
            out += cur.richString()
            k += 1
          }
          sstStrings = out.result()
        case EOF_ => done = true
        case _ => ()
      }
      ri += 1
    }
    val xfs = xfFmt.result()
    def isDateXf(ixfe: Int): Boolean = {
      if (ixfe < 0 || ixfe >= xfs.length) return false
      val ifmt = xfs(ixfe)
      customFmts.get(ifmt).map(isDateFormatString)
        .getOrElse(builtinDateFmts.contains(ifmt))
    }

    // ---- worksheet substreams ----
    val spans = Vector.newBuilder[Span]
    val sheetNames = Vector.newBuilder[String]
    var rowIdx = 0
    var totalRows = 0
    val byOffset = recs.zipWithIndex.map { case (r, i) => (r.off - 4) -> i }.toMap

    for ((sheetName, pos) <- sheets.result()) {
      sheetNames += sheetName
      val cells = scala.collection.mutable.TreeMap.empty[(Int, Int), String]
      def put(row: Int, col: Int, v: String): Unit =
        if (v != null && v.nonEmpty) cells((row, col)) = v
      def numCell(row: Int, col: Int, ixfe: Int, v: Double): Unit =
        if (isDateXf(ixfe)) xldateIso(v, date1904) match {
          case Some(iso) => put(row, col, iso)
          case None => put(row, col, numString(v))
        } else put(row, col, numString(v))

      byOffset.get(pos) match {
        case None => () // corrupt offset: skip sheet content
        case Some(start) =>
          var i = start
          var inSheet = true
          if (i < recs.length && recs(i).id == BOF) i += 1
          while (i < recs.length && inSheet) {
            val r = recs(i)
            r.id match {
              case EOF_ => inSheet = false
              case BOF => inSheet = false
              case LABELSST =>
                val row = le16(stream, r.off); val col = le16(stream, r.off + 2)
                val isst = leI32(stream, r.off + 6)
                put(row, col, sstStrings.lift(isst).getOrElse(""))
              case LABEL | RSTRING =>
                if (r.len >= 9) {
                  val row = le16(stream, r.off); val col = le16(stream, r.off + 2)
                  val cur = new SegCursor(stream, Vector((r.off + 6, r.len - 6)))
                  val cch = cur.u16le(); val flags = cur.u8()
                  put(row, col, cur.chars(cch, (flags & 1) == 0))
                }
              case NUMBER =>
                val row = le16(stream, r.off); val col = le16(stream, r.off + 2)
                numCell(row, col, le16(stream, r.off + 4), f64(stream, r.off + 6))
              case RK =>
                val row = le16(stream, r.off); val col = le16(stream, r.off + 2)
                numCell(row, col, le16(stream, r.off + 4), rkValue(leI32(stream, r.off + 6)))
              case MULRK =>
                val row = le16(stream, r.off); val colFirst = le16(stream, r.off + 2)
                val n = (r.len - 6) / 6
                for (k <- 0 until n) {
                  val ixfe = le16(stream, r.off + 4 + 6 * k)
                  val rk = leI32(stream, r.off + 6 + 6 * k)
                  numCell(row, colFirst + k, ixfe, rkValue(rk))
                }
              case BOOLERR =>
                val row = le16(stream, r.off); val col = le16(stream, r.off + 2)
                val v = stream(r.off + 6) & 0xff
                val isErr = (stream(r.off + 7) & 0xff) == 1
                if (!isErr) put(row, col, if (v != 0) "TRUE" else "FALSE")
              case FORMULA =>
                val row = le16(stream, r.off); val col = le16(stream, r.off + 2)
                val ixfe = le16(stream, r.off + 4)
                if (r.len >= 14) {
                  if (le16(stream, r.off + 12) == 0xffff) {
                    (stream(r.off + 6) & 0xff) match {
                      case 0 => // string result: next STRING record
                        var j = i + 1
                        while (j < recs.length && j <= i + 3 && recs(j).id != STRING &&
                               recs(j).id != EOF_) j += 1
                        if (j < recs.length && recs(j).id == STRING && recs(j).len >= 3) {
                          val cur = new SegCursor(stream, Vector((recs(j).off, recs(j).len)))
                          val cch = cur.u16le(); val flags = cur.u8()
                          put(row, col, cur.chars(cch, (flags & 1) == 0))
                        }
                      case 1 =>
                        put(row, col, if ((stream(r.off + 8) & 0xff) != 0) "TRUE" else "FALSE")
                      case _ => () // error / empty-string result
                    }
                  } else numCell(row, col, ixfe, f64(stream, r.off + 6))
                }
              case _ => ()
            }
            i += 1
          }
      }
      // rows → spans (XlsxExtractor conventions)
      for ((_, rowCells) <- cells.groupBy(_._1._1).toVector.sortBy(_._1)) {
        val values = rowCells.toVector.sortBy(_._1._2).map(_._2)
        if (values.map(_.length).sum != 0) {
          val kept = values.filter(filterText)
          if (kept.nonEmpty)
            spans += Span(SpanKinds.Text, kept.mkString(" "), "", rowIdx)
          rowIdx += 1
          totalRows += 1
        }
      }
    }

    ExtractionResult.success(schema, spans.result(), Map(
      "sheets" -> sheetNames.result(),
      "rowCount" -> Seq((totalRows + 1).toString)
    ) ++ OleMeta.summaryPropsFromEntries(entries))
  }
}
