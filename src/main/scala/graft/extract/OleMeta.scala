package graft.extract

import graft.core._

/** OLE property-set metadata and legacy-binary-Office text.
  *
  *  - `summaryPropsFromEntries`: the \x05SummaryInformation /
  *    \x05DocumentSummaryInformation property-set streams ([MS-OLEPS])
  *    mapped to FtM-ish properties exactly as the reference does via olefile
  *    (`/root/reference/ingestors/support/ole.py:38-58`): title, author
  *    (+ last-saved-by + company), summary, generator, authoredAt,
  *    modifiedAt.
  *  - `docText`: Word 97 binary text via the FIB → Clx → PlcPcd piece
  *    table ([MS-DOC]); the reference shells out to LibreOffice for this
  *    (`documents/office.py:10-172`) — the piece walk is public spec and
  *    subprocess-free.
  *  - `pptText`: PowerPoint 97 TextCharsAtom/TextBytesAtom record walk
  *    ([MS-PPT]).
  */
object OleMeta {

  // bounds-checked: a read past the end is 0, never an exception
  private def u16(b: Array[Byte], o: Int): Int =
    if (o + 2 > b.length) 0 else Endian.le16(b, o)
  private def i32(b: Array[Byte], o: Int): Int =
    if (o + 4 > b.length) 0 else Endian.leI32(b, o)
  private def i64(b: Array[Byte], o: Int): Long =
    (i32(b, o).toLong & 0xffffffffL) | (i32(b, o + 4).toLong << 32)

  // ---- property sets -------------------------------------------------------

  private val SummaryStream = "SummaryInformation"
  private val DocSummaryStream = "DocumentSummaryInformation"

  /** FILETIME (100ns ticks since 1601-01-01 UTC) → ISO local datetime. */
  private def filetimeIso(ticks: Long): Option[String] = {
    if (ticks <= 0) return None
    val secs = ticks / 10000000L
    val epoch1601 = -11644473600L // 1601-01-01 as unix seconds
    val unix = epoch1601 + secs
    if (unix < 0 || unix > 4102444800L) return None // outside 1970..2100
    Some(java.time.LocalDateTime.ofEpochSecond(unix, 0,
      java.time.ZoneOffset.UTC).toString)
  }

  /** Decode one property-set stream → (propId → value as string). */
  private[extract] def parsePropertySet(d: Array[Byte]): Map[Int, String] = {
    if (d.length < 48 || u16(d, 0) != 0xfffe) return Map.empty
    val nSets = i32(d, 24)
    if (nSets < 1) return Map.empty
    val secOff = i32(d, 44)
    if (secOff < 0 || secOff + 8 > d.length) return Map.empty
    val nProps = i32(d, secOff + 4)
    if (nProps < 0 || nProps > 1000) return Map.empty
    // codepage (property 1) first — strings decode with it
    var codepage = 1252
    val idOffs = (0 until nProps).map { k =>
      (i32(d, secOff + 8 + 8 * k), i32(d, secOff + 12 + 8 * k))
    }
    for ((id, off) <- idOffs if id == 1) {
      val vo = secOff + off
      if (i32(d, vo) == 2) codepage = u16(d, vo + 4)
    }
    val cs =
      try java.nio.charset.Charset.forName(
        if (codepage == 65001) "UTF-8" else s"windows-$codepage")
      catch { case _: Exception => java.nio.charset.StandardCharsets.ISO_8859_1 }

    val out = Map.newBuilder[Int, String]
    for ((id, off) <- idOffs if id > 1) {
      val vo = secOff + off
      if (vo >= 0 && vo + 4 <= d.length) {
        i32(d, vo) match {
          case 30 => // VT_LPSTR
            val len = i32(d, vo + 4)
            if (len > 0 && vo + 8 + len <= d.length) {
              val raw = new String(d, vo + 8, len, cs)
              val s = raw.takeWhile(_ != '\u0000').trim
              if (s.nonEmpty) out += (id -> s)
            }
          case 31 => // VT_LPWSTR
            val cch = i32(d, vo + 4)
            if (cch > 0 && vo + 8 + 2 * cch <= d.length) {
              val s = new String(d, vo + 8, 2 * cch, "UTF-16LE")
                .takeWhile(_ != '\u0000').trim
              if (s.nonEmpty) out += (id -> s)
            }
          case 64 => // VT_FILETIME
            filetimeIso(i64(d, vo + 4)).foreach(s => out += (id -> s))
          case _ => ()
        }
      }
    }
    out.result()
  }

  /** ole.py:49-58 property mapping over both summary streams. */
  def summaryPropsFromEntries(entries: Vector[Cfbf.Entry]): Map[String, Seq[String]] = {
    def stream(name: String): Map[Int, String] =
      entries.find(e => e.path == name || e.path.endsWith("/" + name))
        .map(e => parsePropertySet(e.bytes)).getOrElse(Map.empty)
    val s = stream(SummaryStream)
    val ds = stream(DocSummaryStream)
    Seq(
      "title" -> s.get(2).toSeq,
      "author" -> (s.get(4).toSeq ++ s.get(8).toSeq ++ ds.get(15).toSeq).distinct,
      "summary" -> s.get(6).toSeq,
      "generator" -> s.get(18).toSeq,
      "authoredAt" -> s.get(12).toSeq,
      "modifiedAt" -> s.get(13).toSeq
    ).filter(_._2.nonEmpty).toMap
  }

  // ---- Word 97 binary text ---------------------------------------------

  /** Paragraph texts from the WordDocument piece table; None when the
    * container is not a Word binary file. Throws ProcessingError on
    * encrypted files. */
  def docText(entries: Vector[Cfbf.Entry]): Option[Vector[String]] = {
    val wd = entries.find(e => e.path == "WordDocument" ||
      e.path.endsWith("/WordDocument")).map(_.bytes).getOrElse(return None)
    if (wd.length < 160 || u16(wd, 0) != 0xa5ec) return None
    val flags = u16(wd, 0x000a)
    if ((flags & 0x0100) != 0)
      throw new ProcessingError(ProcessingError.EncryptedMsg)
    val whichTbl = if ((flags & 0x0200) != 0) "1Table" else "0Table"
    val tbl = entries.find(e => e.path == whichTbl ||
      e.path.endsWith("/" + whichTbl)).map(_.bytes).getOrElse(return None)

    // FibRgFcLcb97 position: base(32) + 2 + csw*2 + 2 + cslw*4 + 2
    val csw = u16(wd, 32)
    val cslwOff = 32 + 2 + csw * 2
    val cslw = u16(wd, cslwOff)
    val fcLcbOff = cslwOff + 2 + cslw * 4 + 2
    val fcClx = i32(wd, fcLcbOff + 33 * 8)
    val lcbClx = i32(wd, fcLcbOff + 33 * 8 + 4)
    if (lcbClx <= 0 || fcClx < 0 || fcClx + lcbClx > tbl.length) return None

    // Clx: skip Prc blocks (0x01), find Pcdt (0x02)
    var p = fcClx
    val end = fcClx + lcbClx
    var plcOff = -1
    var plcLen = 0
    while (p < end && plcOff < 0) {
      (tbl(p) & 0xff) match {
        case 0x01 => p += 3 + u16(tbl, p + 1)
        case 0x02 =>
          plcLen = i32(tbl, p + 1)
          plcOff = p + 5
        case _ => return None
      }
    }
    if (plcOff < 0 || plcLen < 4 || plcOff + plcLen > tbl.length) return None
    val n = (plcLen - 4) / 12
    if (n <= 0 || n > 1000000) return None
    val sb = new StringBuilder
    for (i <- 0 until n) {
      val cpStart = i32(tbl, plcOff + 4 * i)
      val cpEnd = i32(tbl, plcOff + 4 * (i + 1))
      val len = cpEnd - cpStart
      val fcRaw = i32(tbl, plcOff + 4 * (n + 1) + 8 * i + 2)
      val compressed = (fcRaw & 0x40000000) != 0
      val fc = fcRaw & 0x3fffffff
      if (len > 0 && len < 50000000) {
        if (compressed) {
          val off = fc / 2
          if (off + len <= wd.length)
            sb.append(new String(wd, off, len, "windows-1252"))
        } else {
          if (fc + 2 * len <= wd.length)
            sb.append(new String(wd, fc, 2 * len, "UTF-16LE"))
        }
      }
    }
    Some(cleanWordText(sb.toString))
  }

  /** Word stores \r paragraph marks and control bytes for fields/cells;
    * map to paragraph splits and spaces. */
  private def cleanWordText(raw: String): Vector[String] = {
    val sb = new StringBuilder(raw.length)
    var i = 0
    while (i < raw.length) {
      val c = raw.charAt(i)
      c match {
        case '\r' | '\u000b' | '\u000c' | '\u0007' => sb.append('\n')
        case '\t' => sb.append(' ')
        case x if x >= ' ' || x == '\n' => sb.append(x)
        case _ => () // field/picture/control marks (0x01, 0x13-0x15, ...)
      }
      i += 1
    }
    sb.toString.split('\n').iterator
      .map(TextUtil.collapseSpaces)
      .filter(_.nonEmpty)
      .toVector
  }

  // ---- PowerPoint 97 text -----------------------------------------------

  private val TextCharsAtom = 0x0fa0
  private val TextBytesAtom = 0x0fa8

  /** All text atoms from the PowerPoint Document stream, in record order. */
  def pptText(entries: Vector[Cfbf.Entry]): Option[Vector[String]] = {
    val ppt = entries.find(e => e.path == "PowerPoint Document" ||
      e.path.endsWith("/PowerPoint Document")).map(_.bytes).getOrElse(return None)
    val out = Vector.newBuilder[String]
    def walk(off: Int, end: Int, depth: Int): Unit = {
      if (depth > 32) return
      var p = off
      while (p + 8 <= end) {
        val verInst = u16(ppt, p)
        val typ = u16(ppt, p + 2)
        val len = i32(ppt, p + 4)
        if (len < 0 || p + 8 + len > end) return
        if ((verInst & 0x000f) == 0x000f) walk(p + 8, p + 8 + len, depth + 1)
        else if (typ == TextCharsAtom)
          out += new String(ppt, p + 8, len, "UTF-16LE")
        else if (typ == TextBytesAtom)
          out += new String(ppt, p + 8, len, "windows-1252")
        p += 8 + len
      }
    }
    walk(0, ppt.length, 0)
    val texts = out.result()
      .flatMap(_.split("[\r]").iterator)
      .map(TextUtil.collapseSpaces)
      .filter(_.nonEmpty)
    if (texts.isEmpty) None else Some(texts)
  }
}
