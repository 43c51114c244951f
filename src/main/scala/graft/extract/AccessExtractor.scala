package graft.extract

import Endian._
import graft.core._
import graft.core.TextUtil.filterText

/** From-scratch Access / Jet (.mdb) reader — the reference shells out to
  * mdb-tables/mdb-export
  * (`/root/reference/ingestors/tabular/access.py:29-55`); the Jet format
  * is publicly documented (mdbtools' HACKING spec). Scope:
  *
  *  - Jet3 (Access 97, version byte 0): 2048-byte pages, 18-byte column
  *    defs, 1-byte row headers/offsets, Latin-1 text;
  *  - Jet4 (Access 2000-2003, version byte 1): 4096-byte pages, 25-byte
  *    column defs, 2-byte row headers / var-offset tables, UCS-2 text
  *    (incl. the FF FE "compressed" toggle encoding), 2-byte-length
  *    UCS-2 column names;
  *  - both: table catalog bootstrapped from MSysObjects (TDEF page 2) —
  *    user tables are Type 1 / Flags 0 rows whose Id is the table's TDEF
  *    page; data pages discovered by their owner-TDEF back-pointer
  *    (bytes 4-7 of every 0x01 page) — no usage-map walk needed for
  *    read-only scans; TDEF chains (next-page pointer); fixed +
  *    offset-table variable columns; null-mask booleans;
  *  - types: bool/byte/int/long/currency/float/double/datetime/text;
  *    memo & OLE render empty (LVAL pages out of scope).
  *
  * ACE (.accdb, version bytes 2-5 = Access 2007-2016) parses through the
  * Jet4-compatible layout (see [[Jet.isAce]]); later versions fail cleanly.
  * Jet3 rows longer than 255 bytes use jump tables; their variable
  * columns decode as null (fixed columns still read), documented
  * limitation. Jet4 validation: no public fixture ships with the
  * reference (Books_be.mdb is Jet3), so the Jet4 path is pinned by a
  * roundtrip oracle against [[Jet4Writer]] — self-consistent with the
  * published layout, same evidence shape as the PST reader/writer pair. */
object Jet {

  final case class Col(name: String, typ: Int, colnum: Int, offV: Int,
                       flags: Int, offF: Int, size: Int) {
    def isFixed: Boolean = (flags & 1) != 0
  }
  final case class Table(name: String, cols: Vector[Col],
                         rows: Vector[Vector[String]])

  def isJet(b: Array[Byte]): Boolean =
    b.length > 128 && {
      val m = new String(b, 4, 15, "ISO-8859-1")
      // Jet3/Jet4 stamp "Standard Jet DB"; ACE (.accdb) "Standard ACE DB"
      m == "Standard Jet DB" || m == "Standard ACE DB"
    }

  def isJet3(b: Array[Byte]): Boolean = isJet(b) && (b(0x14) & 0xff) == 0
  def isJet4(b: Array[Byte]): Boolean = isJet(b) && (b(0x14) & 0xff) == 1
  /** ACE (.accdb): version byte 2 = Access 2007, 3 = 2010, 4 = 2013,
    * 5 = 2016+. Per the public mdbtools format docs ACE keeps the Jet4
    * page size, TDEF layout, and row format; the additions (complex
    * fields type 0x12, bigint 0x13) decode to empty cells through the
    * defensive `render` default, so layout drift degrades, never
    * garbles. Real-.accdb parity is unverified for the same reason as
    * Jet4 (no redistributable fixture) — pinned by the version-stamped
    * roundtrip in AccessSpec. */
  def isAce(b: Array[Byte]): Boolean =
    isJet(b) && { val v = b(0x14) & 0xff; v >= 2 && v <= 5 }

  /** Jet4 "compressed" UCS-2: FF FE marker, then 8-bit mode (chars are
    * the low UCS-2 byte) with 0x00 toggling 8-bit ↔ 16-bit runs. */
  private def jet4Text(raw: Array[Byte]): String = {
    if (raw.length >= 2 && (raw(0) & 0xff) == 0xff && (raw(1) & 0xff) == 0xfe) {
      val sb = new StringBuilder
      var i = 2
      var wide = false
      while (i < raw.length) {
        if (!wide) {
          if (raw(i) == 0) { wide = true; i += 1 }
          else { sb += (raw(i) & 0xff).toChar; i += 1 }
        } else {
          if (i + 1 < raw.length && raw(i) == 0 && raw(i + 1) == 0) {
            wide = false; i += 2
          } else if (i + 1 < raw.length) {
            sb += le16(raw, i).toChar; i += 2
          } else i += 1
        }
      }
      sb.toString
    } else new String(raw, "UTF-16LE")
  }

  def parse(d: Array[Byte]): Vector[Table] = {
    if (!isJet(d)) throw new ProcessingError("Not an Access database")
    val jet4 = isJet4(d) || isAce(d) // ACE rides the Jet4-compatible layout
    if (!isJet3(d) && !jet4)
      throw new ProcessingError(
        "Access extraction supports Jet3/Jet4 (.mdb) and ACE 2007-2016 " +
          "(.accdb); unknown format version " + (d(0x14) & 0xff))
    val PageSize = if (jet4) 4096 else 2048
    val nPages = d.length / PageSize

    // TDEF payload: first page from 0, continuation pages contribute
    // bytes 8.. (next pointer at offset 4 of each TDEF page)
    def tdefBytes(pg: Int): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      var p = pg
      var guard = 0
      while (p > 0 && p < nPages && guard < 64) {
        val off = p * PageSize
        if ((d(off) & 0xff) != 0x02)
          return out.toByteArray
        if (guard == 0) out.write(d, off, PageSize)
        else out.write(d, off + 8, PageSize - 8)
        p = leI32(d, off + 4)
        guard += 1
      }
      out.toByteArray
    }

    def tdefCols(pg: Int): Vector[Col] = {
      val t = tdefBytes(pg)
      if (t.length < 64) return Vector.empty
      // catalog offsets: Jet3 per the 2048-byte layout; Jet4 shifts the
      // header by 10 bytes (num_cols 0x19→0x2d, num_real_idx 0x1f→0x33,
      // real-index entries 8→12 bytes, column defs 18→25 bytes)
      val (numCols, numRealIdx, colStart0, idxSz, colSz) =
        if (jet4) (le16(t, 0x2d), leI32(t, 0x33), 0x3f, 12, 25)
        else (le16(t, 25), leI32(t, 31), 35 + 8, 8, 18)
      if (numCols <= 0 || numCols > 256 || numRealIdx < 0 || numRealIdx > 64)
        return Vector.empty
      val start = colStart0 + numRealIdx * idxSz
      if (start + numCols * colSz > t.length) return Vector.empty
      val defs = (0 until numCols).map { c =>
        val co = start + c * colSz
        if (jet4)
          Col("", t(co) & 0xff, le16(t, co + 5), le16(t, co + 7),
            t(co + 15) & 0xff, le16(t, co + 21), le16(t, co + 23))
        else
          Col("", t(co) & 0xff, le16(t, co + 1), le16(t, co + 3),
            t(co + 13) & 0xff, le16(t, co + 14), le16(t, co + 16))
      }.toVector
      var p = start + numCols * colSz
      defs.map { c =>
        if (jet4) {
          if (p + 2 > t.length) c
          else {
            val ln = le16(t, p) // byte length of the UCS-2 name
            val name =
              if (p + 2 + ln <= t.length) new String(t, p + 2, ln, "UTF-16LE")
              else ""
            p += 2 + ln
            c.copy(name = name)
          }
        } else {
          if (p >= t.length) c
          else {
            val ln = t(p) & 0xff
            val name =
              if (p + 1 + ln <= t.length) new String(t, p + 1, ln, "ISO-8859-1")
              else ""
            p += 1 + ln
            c.copy(name = name)
          }
        }
      }
    }

    /** All data pages owned by the given TDEF page. */
    def dataPages(tdefPg: Int): Vector[Int] =
      (0 until nPages).filter { p =>
        (d(p * PageSize) & 0xff) == 0x01 && leI32(d, p * PageSize + 4) == tdefPg
      }.toVector

    /** Decode one Jet3 row against the column catalog. */
    def crackRow3(row: Array[Byte], cols: Vector[Col]): Vector[String] = {
      if (row.isEmpty) return Vector.empty
      val ncols = row(0) & 0xff
      val maskSz = (ncols + 7) / 8
      if (row.length < 1 + maskSz) return Vector.empty
      val maskOff = row.length - maskSz
      def bit(i: Int): Boolean =
        (row(maskOff + i / 8) >> (i % 8) & 1) != 0
      val nvarDeclared = cols.count(!_.isFixed)
      val smallRow = row.length <= 255
      val nvar = if (nvarDeclared > 0 && smallRow) row(maskOff - 1) & 0xff else 0
      def varOff(i: Int): Int = row(maskOff - 2 - i) & 0xff

      cols.map { c =>
        val i = c.colnum
        if (c.typ == 1) { // boolean lives in the mask
          if (bit(i)) "1" else "0"
        } else if (i < ncols && !bit(i)) "" // NULL
        else {
          val raw: Array[Byte] =
            if (c.isFixed) {
              val o = 1 + c.offF
              if (o + c.size <= row.length) row.slice(o, o + c.size)
              else Array.empty
            } else if (smallRow && c.offV < nvar) {
              val a = varOff(c.offV)
              val b = varOff(c.offV + 1)
              if (a <= b && b <= row.length) row.slice(a, b) else Array.empty
            } else Array.empty // jump-table row: var cols skipped
          render(c.typ, raw)
        }
      }
    }

    /** Decode one Jet4 row: 2-byte column count, fixed data from offset 2,
      * trailer = [var offsets u16 ×(nvar+1), reversed][nvar u16][null mask]. */
    def crackRow4(row: Array[Byte], cols: Vector[Col]): Vector[String] = {
      if (row.length < 2) return Vector.empty
      val ncols = le16(row, 0)
      val maskSz = (ncols + 7) / 8
      if (ncols > 4096 || row.length < 2 + maskSz) return Vector.empty
      val maskOff = row.length - maskSz
      def bit(i: Int): Boolean =
        (row(maskOff + i / 8) >> (i % 8) & 1) != 0
      val nvarDeclared = cols.count(!_.isFixed)
      val nvar =
        if (nvarDeclared > 0 && maskOff >= 2) le16(row, maskOff - 2) else 0
      // entry i sits 2 bytes below entry i-1; entry 0 is nearest the count
      def varOff(i: Int): Int = {
        val o = maskOff - 4 - 2 * i
        if (o >= 0) le16(row, o) else -1
      }

      cols.map { c =>
        val i = c.colnum
        if (c.typ == 1) {
          if (bit(i)) "1" else "0"
        } else if (i < ncols && !bit(i)) ""
        else {
          val raw: Array[Byte] =
            if (c.isFixed) {
              val o = 2 + c.offF
              if (o + c.size <= row.length) row.slice(o, o + c.size)
              else Array.empty
            } else if (c.offV < nvar) {
              val a = varOff(c.offV)
              val b = varOff(c.offV + 1)
              if (a >= 0 && a <= b && b <= row.length) row.slice(a, b)
              else Array.empty
            } else Array.empty
          render(c.typ, raw)
        }
      }
    }

    def crackRow(row: Array[Byte], cols: Vector[Col]): Vector[String] =
      if (jet4) crackRow4(row, cols) else crackRow3(row, cols)

    def render(typ: Int, raw: Array[Byte]): String = typ match {
      case _ if raw.isEmpty => ""
      case 2 => (raw(0) & 0xff).toString
      case 3 => if (raw.length >= 2) le16(raw, 0).toShort.toString else ""
      case 4 => if (raw.length >= 4) leI32(raw, 0).toString else ""
      case 5 => // currency: scaled 1e4 int64
        if (raw.length >= 8) {
          val v = le64(raw, 0)
          val whole = v / 10000
          val frac = math.abs(v % 10000)
          if (frac == 0) whole.toString else s"$whole.${f"$frac%04d".reverse.dropWhile(_ == '0').reverse}"
        } else ""
      case 6 =>
        if (raw.length >= 4)
          java.lang.Float.intBitsToFloat(leI32(raw, 0)).toString else ""
      case 7 =>
        if (raw.length >= 8)
          java.lang.Double.longBitsToDouble(le64(raw, 0)).toString else ""
      case 8 => // datetime: fractional days since 1899-12-30
        if (raw.length >= 8) {
          val days = java.lang.Double.longBitsToDouble(le64(raw, 0))
          val whole = math.floor(days).toLong
          val secs = math.round(math.abs(days - whole) * 86400)
          val date = java.time.LocalDate.of(1899, 12, 30).plusDays(whole)
          val t = java.time.LocalTime.ofSecondOfDay(math.min(secs, 86399))
          if (secs == 0) date.toString else s"${date}T$t"
        } else ""
      case 10 =>
        if (jet4) jet4Text(raw) else new String(raw, "ISO-8859-1")
      case _ => "" // binary/memo/OLE/GUID: LVAL resolution out of scope
    }

    def tableRows(tdefPg: Int, cols: Vector[Col]): Vector[Vector[String]] = {
      // data-page header: Jet4 inserts a 4-byte free-space pointer, so
      // num_rows moves 0x08→0x0c and the offset table 0x0a→0x0e
      val (rowsAt, tblAt) = if (jet4) (0x0c, 0x0e) else (8, 10)
      val rows = Vector.newBuilder[Vector[String]]
      for (p <- dataPages(tdefPg)) {
        val off = p * PageSize
        val nRows = le16(d, off + rowsAt)
        if (nRows > 0 && nRows < PageSize / 2) {
          var prevEnd = PageSize
          for (r <- 0 until nRows) {
            val rawOff = le16(d, off + tblAt + 2 * r)
            val start = rawOff & 0x1fff
            val deleted = (rawOff & 0x8000) != 0
            val overflow = (rawOff & 0x4000) != 0
            if (!deleted && !overflow && start < prevEnd && start >= 0) {
              val row = d.slice(off + start, off + prevEnd)
              val cracked = crackRow(row, cols)
              if (cracked.nonEmpty) rows += cracked
            }
            if (start > 0 && start < prevEnd) prevEnd = start
          }
        }
      }
      rows.result()
    }

    // bootstrap: MSysObjects at TDEF page 2 lists every object
    val sysCols = tdefCols(2)
    if (sysCols.isEmpty)
      throw new ProcessingError("Access: cannot read MSysObjects catalog")
    val idIx = sysCols.indexWhere(_.name == "Id")
    val nameIx = sysCols.indexWhere(_.name == "Name")
    val typeIx = sysCols.indexWhere(_.name == "Type")
    val flagsIx = sysCols.indexWhere(_.name == "Flags")
    if (idIx < 0 || nameIx < 0 || typeIx < 0)
      throw new ProcessingError("Access: unexpected MSysObjects layout")

    val userTables = tableRows(2, sysCols).flatMap { r =>
      val name = r(nameIx)
      val objType = r(typeIx).toIntOption.getOrElse(-1) & 0x7f
      val flags = if (flagsIx >= 0) r(flagsIx).toLongOption.getOrElse(-1L) else 0L
      val id = r(idIx).toLongOption.getOrElse(-1L)
      if (objType == 1 && flags == 0L && !name.startsWith("MSys") &&
          id > 0 && id < nPages) Some(name -> id.toInt)
      else None
    }

    userTables.map { case (name, pg) =>
      val cols = tdefCols(pg)
      Table(name, cols, if (cols.nonEmpty) tableRows(pg, cols) else Vector.empty)
    }
  }
}

/** Minimal Jet4 .mdb writer for the x_mdb roundtrip oracle (the same
  * evidence shape as [[Pst.write]]: no public Jet4 fixture ships with the
  * reference, so reader and writer pin each other against the published
  * mdbtools layout). Emits a header page, an MSysObjects catalog
  * (Id/Type/Flags fixed longs + Name UCS-2 text) and one user table of
  * variable-length UCS-2 text columns.
  *
  * Real-world parity risk (acknowledged): the Jet4 row-trailer layout and
  * TDEF offsets here follow the mdbtools HACKING notes, but are pinned
  * only by this self-roundtrip — if genuine Access 2000-2003 files differ
  * (e.g. var-count field placement), cells would decode empty rather than
  * crash (the reader's bounds checks guarantee that degradation). When a
  * redistributable real fixture is obtainable (any of mdbtools' BSD-
  * licensed test .mdb files — none are vendored into /root/reference),
  * add it to FixtureSpec alongside the Jet3 Books_be.mdb fixture. */
object Jet4Writer {
  private val PageSize = 4096

  private def putU16(b: Array[Byte], o: Int, v: Int): Unit = {
    b(o) = (v & 0xff).toByte; b(o + 1) = ((v >> 8) & 0xff).toByte
  }
  private def putI32(b: Array[Byte], o: Int, v: Int): Unit = {
    putU16(b, o, v & 0xffff); putU16(b, o + 2, (v >>> 16) & 0xffff)
  }

  private final case class WCol(name: String, typ: Int, fixed: Boolean,
                                offF: Int, size: Int, offV: Int)

  private def tdefPage(cols: Seq[WCol]): Array[Byte] = {
    val pg = new Array[Byte](PageSize)
    pg(0) = 0x02; pg(1) = 0x01
    putI32(pg, 4, 0) // no continuation page
    putU16(pg, 0x29, cols.size) // max_cols
    putU16(pg, 0x2b, cols.count(!_.fixed))
    putU16(pg, 0x2d, cols.size)
    putI32(pg, 0x2f, 0); putI32(pg, 0x33, 0) // no indexes
    var p = 0x3f
    for ((c, i) <- cols.zipWithIndex) {
      pg(p) = c.typ.toByte
      putU16(pg, p + 5, i) // colnum
      putU16(pg, p + 7, c.offV)
      pg(p + 15) = (if (c.fixed) 1 else 0).toByte
      putU16(pg, p + 21, c.offF)
      putU16(pg, p + 23, c.size)
      p += 25
    }
    for (c <- cols) {
      val nm = c.name.getBytes("UTF-16LE")
      putU16(pg, p, nm.length)
      System.arraycopy(nm, 0, pg, p + 2, nm.length)
      p += 2 + nm.length
    }
    pg
  }

  /** One row: 2-byte col count, fixed cells at their offF, var cells
    * appended, then the reversed u16 offset table + nvar + null mask.
    * A None var cell is absent (zero-width) with its null bit cleared. */
  private def row(fixedVals: Seq[Array[Byte]],
                  varVals: Seq[Option[Array[Byte]]]): Array[Byte] = {
    val ncols = fixedVals.size + varVals.size
    val fixedSz = fixedVals.map(_.length).sum
    val out = new java.io.ByteArrayOutputStream()
    val head = new Array[Byte](2 + fixedSz)
    putU16(head, 0, ncols)
    var fo = 2
    for (v <- fixedVals) { System.arraycopy(v, 0, head, fo, v.length); fo += v.length }
    out.write(head)
    val offsets = new Array[Int](varVals.size + 1)
    var pos = 2 + fixedSz
    for ((v, i) <- varVals.zipWithIndex) {
      offsets(i) = pos
      val bytes = v.getOrElse(Array.empty[Byte])
      out.write(bytes); pos += bytes.length
    }
    offsets(varVals.size) = pos
    // trailer: entry i sits at maskOff-4-2i → write entries nvar..0
    val maskSz = (ncols + 7) / 8
    val trailer = new Array[Byte](2 * (varVals.size + 1) + 2 + maskSz)
    for (i <- offsets.indices)
      putU16(trailer, trailer.length - maskSz - 4 - 2 * i, offsets(i))
    putU16(trailer, trailer.length - maskSz - 2, varVals.size)
    // null mask: bit set = NOT null
    for (i <- 0 until fixedVals.size)
      trailer(trailer.length - maskSz + i / 8) =
        (trailer(trailer.length - maskSz + i / 8) | (1 << (i % 8))).toByte
    for ((v, j) <- varVals.zipWithIndex; if v.isDefined) {
      val i = fixedVals.size + j
      trailer(trailer.length - maskSz + i / 8) =
        (trailer(trailer.length - maskSz + i / 8) | (1 << (i % 8))).toByte
    }
    out.write(trailer)
    out.toByteArray
  }

  /** Pack rows into 0x01 data pages owned by `tdefPg`, filled back-to-front. */
  private def dataPages(tdefPg: Int, rows: Seq[Array[Byte]]): Seq[Array[Byte]] = {
    val pages = Seq.newBuilder[Array[Byte]]
    var pending = rows
    while (pending.nonEmpty) {
      val pg = new Array[Byte](PageSize)
      pg(0) = 0x01; pg(1) = 0x01
      putI32(pg, 4, tdefPg)
      var end = PageSize
      var n = 0
      var fits = true
      while (pending.nonEmpty && fits) {
        val r = pending.head
        val need = r.length + 2 // payload + offset-table slot
        if (end - r.length >= 0x0e + 2 * (n + 1) + 2 && need < PageSize - 0x10) {
          end -= r.length
          System.arraycopy(r, 0, pg, end, r.length)
          putU16(pg, 0x0e + 2 * n, end)
          n += 1
          pending = pending.tail
        } else fits = false
      }
      require(n > 0, "mdb row larger than a Jet4 page")
      putU16(pg, 0x0c, n)
      putU16(pg, 2, end - (0x0e + 2 * n)) // free space
      pages += pg
    }
    pages.result()
  }

  private def ucs2(s: String): Array[Byte] = s.getBytes("UTF-16LE")
  private def i32le(v: Int): Array[Byte] = {
    val b = new Array[Byte](4); putI32(b, 0, v); b
  }

  /** A Jet4 database with one user table of `nCols` UCS-2 text columns. */
  def write(table: String, nCols: Int, rows: Seq[Seq[String]]): Array[Byte] = {
    val header = new Array[Byte](PageSize)
    val magic = "Standard Jet DB".getBytes("ISO-8859-1") // NUL-terminated
    header(0) = 0x00; header(1) = 0x01
    System.arraycopy(magic, 0, header, 4, magic.length)
    header(0x14) = 0x01 // Jet4

    val sysCols = Seq(
      WCol("Id", 4, fixed = true, offF = 0, size = 4, offV = 0),
      WCol("Type", 4, fixed = true, offF = 4, size = 4, offV = 0),
      WCol("Flags", 4, fixed = true, offF = 8, size = 4, offV = 0),
      WCol("Name", 10, fixed = false, offF = 0, size = 0, offV = 0))
    val userTdefPg = 4
    val catalogRows = Seq(
      row(Seq(i32le(userTdefPg), i32le(1), i32le(0)), Seq(Some(ucs2(table)))))

    val userCols = (0 until nCols).map(i =>
      WCol(s"c$i", 10, fixed = false, offF = 0, size = 0, offV = i))
    val userRows = rows.map { r =>
      row(Seq.empty, (0 until nCols).map(i =>
        if (i < r.size) Some(ucs2(r(i))) else None))
    }

    val out = new java.io.ByteArrayOutputStream()
    out.write(header)
    out.write(new Array[Byte](PageSize)) // page 1: unused
    out.write(tdefPage(sysCols)) // page 2: MSysObjects TDEF
    dataPages(2, catalogRows).foreach(out.write) // page 3: catalog data
    out.write(tdefPage(userCols)) // page 4: user TDEF
    dataPages(userTdefPg, userRows).foreach(out.write)
    out.toByteArray
  }
}

/** AccessIngestor: tables → sheets, rows → text spans, Workbook schema —
  * the mdb-export stream re-expressed (`tabular/access.py:43-67`). */
object AccessExtractor extends Extractor {
  val name = "AccessIngestor"
  val schema = "Workbook"

  protected def run(doc: RawDoc): ExtractionResult = {
    val tables = Jet.parse(doc.bytes)
    if (tables.isEmpty)
      throw new ProcessingError("Access database contains no tables")
    val spans = Vector.newBuilder[Span]
    var rowIdx = 0
    var totalRows = 0
    for (t <- tables; r <- t.rows) {
      if (r.map(_.length).sum != 0) {
        val kept = r.filter(filterText)
        if (kept.nonEmpty)
          spans += Span(SpanKinds.Text, kept.mkString(" "), "", rowIdx)
        rowIdx += 1
        totalRows += 1
      }
    }
    ExtractionResult.success(schema, spans.result(), Map(
      "sheets" -> tables.map(_.name),
      "rowCount" -> Seq((totalRows + 1).toString)))
  }
}
