package graft.extract

import Endian._
import graft.core._
import graft.core.TextUtil.filterText

/** From-scratch SQLite3 reader — the reference queries via the sqlite3
  * driver (`/root/reference/ingestors/tabular/sqlite.py:14-81`); the file
  * format (header, table b-trees, varint records, overflow chains) is
  * public and stable. Scope: rowid table b-trees (leaf 0x0d / interior
  * 0x05), serial-type records, first-level overflow chains; WITHOUT ROWID
  * and index b-trees are skipped like the reference's VALID_TABLE filter
  * skips oddities.
  *
  * `Sqlite.write` is corpus/test support: enough of the format to build
  * single-table files (one interior level when rows exceed a page). */
object Sqlite {

  final case class Table(name: String, columns: Vector[String],
                         rows: Vector[Vector[String]])

  /** (value, bytesRead) varint at offset. */
  private def varint(b: Array[Byte], o: Int): (Long, Int) = {
    var v = 0L
    var i = 0
    while (i < 8) {
      if (o + i >= b.length) throw new ProcessingError("SQLite: truncated varint")
      val c = b(o + i) & 0xff
      v = (v << 7) | (c & 0x7f)
      if ((c & 0x80) == 0) return (v, i + 1)
      i += 1
    }
    if (o + 8 >= b.length) throw new ProcessingError("SQLite: truncated varint")
    ((v << 8) | (b(o + 8) & 0xffL), 9)
  }

  def isSqlite(b: Array[Byte]): Boolean =
    b.length > 100 && new String(b, 0, 15, "ISO-8859-1") == "SQLite format 3"

  def parse(bytes: Array[Byte], maxRows: Int = 2000000): Vector[Table] = {
    if (!isSqlite(bytes)) throw new ProcessingError("Not a SQLite database")
    var pageSize = be16(bytes, 16)
    if (pageSize == 1) pageSize = 65536
    if (pageSize < 512 || (pageSize & (pageSize - 1)) != 0)
      throw new ProcessingError("SQLite: bad page size")
    val usable = pageSize - (bytes(20) & 0xff) // reserved space per page

    def pageOff(pg: Long): Int = {
      val off = (pg - 1) * pageSize
      if (pg < 1 || off + pageSize > bytes.length)
        throw new ProcessingError("SQLite: page out of range")
      off.toInt
    }

    /** Cell payload with overflow chain resolution. */
    def payload(off: Int, total: Long, localMax: Int, localMin: Int): Array[Byte] = {
      // local bytes per the btree spec formula
      val local =
        if (total <= localMax) total.toInt
        else {
          val k = localMin + ((total - localMin) % (usable - 4)).toInt
          if (k <= localMax) k else localMin
        }
      if (total <= localMax) {
        val out = new Array[Byte](local)
        System.arraycopy(bytes, off, out, 0, local)
        out
      } else {
        // A crafted DB can declare a payload near 2 GB and/or loop its
        // overflow chain; cap accumulated bytes (like the codecs do) and
        // reject page revisits so one bad file can't OOM or hang a task.
        if (total > PackageLimits.MaxMemberBytes)
          throw new ProcessingError("SQLite: oversized cell payload")
        val out = new java.io.ByteArrayOutputStream(math.min(total, 1 << 20).toInt)
        out.write(bytes, off, local)
        var next = beU32(bytes, off + local)
        var remaining = total - local
        val visited = new java.util.HashSet[Long]()
        while (next != 0 && remaining > 0) {
          if (!visited.add(next))
            throw new ProcessingError("SQLite: cyclic overflow chain")
          val po = pageOff(next)
          val take = math.min(remaining, (usable - 4).toLong).toInt
          out.write(bytes, po + 4, take)
          remaining -= take
          next = beU32(bytes, po)
        }
        out.toByteArray
      }
    }

    /** Decode one record into column strings ('' for NULL). */
    def record(p: Array[Byte]): Vector[String] = {
      val (hdrLen, n0) = varint(p, 0)
      var ho = n0
      val types = Vector.newBuilder[Long]
      while (ho < hdrLen) {
        val (t, n) = varint(p, ho)
        types += t
        ho += n
      }
      var vo = hdrLen.toInt
      types.result().map { t =>
        def iN(n: Int): String = {
          var v = 0L
          var k = 0
          while (k < n) { v = (v << 8) | (p(vo + k) & 0xffL); k += 1 }
          // sign-extend
          val sh = 64 - 8 * n
          vo += n
          ((v << sh) >> sh).toString
        }
        t match {
          case 0 => ""
          case 1 => iN(1)
          case 2 => iN(2)
          case 3 => iN(3)
          case 4 => iN(4)
          case 5 => iN(6)
          case 6 => iN(8)
          case 7 =>
            var bits = 0L
            var k = 0
            while (k < 8) { bits = (bits << 8) | (p(vo + k) & 0xffL); k += 1 }
            vo += 8
            java.lang.Double.longBitsToDouble(bits).toString
          case 8 => "0"
          case 9 => "1"
          case n if n >= 13 && n % 2 == 1 =>
            val len = ((n - 13) / 2).toInt
            val s = new String(p, vo, len, "UTF-8")
            vo += len
            s
          case n if n >= 12 =>
            val len = ((n - 12) / 2).toInt
            vo += len
            s"[blob $len]"
          case _ => ""
        }
      }
    }

    /** Walk a table b-tree, calling f per record. A per-walk visited-page
      * set rejects crafted self-referencing interior pages (which the
      * depth bound alone does not: nCells^32 visits is an effective hang). */
    def walkTable(root: Long, f: Vector[String] => Unit): Unit = {
      var count = 0
      val visited = new java.util.HashSet[Long]()
      def walk(pg: Long, depth: Int): Unit = {
        if (depth > 32 || count >= maxRows) return
        if (!visited.add(pg))
          throw new ProcessingError("SQLite: cyclic b-tree")
        val off = pageOff(pg)
        val hdrOff = if (pg == 1) off + 100 else off
        val typ = bytes(hdrOff) & 0xff
        val nCells = be16(bytes, hdrOff + 3)
        val cellPtrBase = hdrOff + (if (typ == 5 || typ == 2) 12 else 8)
        typ match {
          case 0x0d => // table leaf
            val localMax = usable - 35
            val localMin = (usable - 12) * 32 / 255 - 23
            var i = 0
            while (i < nCells && count < maxRows) {
              val cp = off + be16(bytes, cellPtrBase + 2 * i)
              val (plen, n1) = varint(bytes, cp)
              val (_, n2) = varint(bytes, cp + n1) // rowid
              f(record(payload(cp + n1 + n2, plen, localMax, localMin)))
              count += 1
              i += 1
            }
          case 0x05 => // table interior
            var i = 0
            while (i < nCells) {
              walk(beU32(bytes, off + be16(bytes, cellPtrBase + 2 * i)), depth + 1)
              i += 1
            }
            walk(beU32(bytes, hdrOff + 8), depth + 1) // rightmost child
          case _ => () // index/overflow/freelist: skip
        }
      }
      walk(root, 0)
    }

    // sqlite_master rows: (type, name, tbl_name, rootpage, sql)
    val master = Vector.newBuilder[(String, String, Long, String)]
    walkTable(1, r =>
      if (r.length >= 5)
        master += ((r(0), r(1), r(3).toLongOption.getOrElse(0L), r(4))))

    val validName = "[\\w\\-]{2,4096}".r
    master.result().collect {
      case ("table", name, root, sql)
          if root > 0 && !name.startsWith("sqlite_") &&
            validName.pattern.matcher(name).matches() =>
        val cols = columnsFromSql(sql)
        val rows = Vector.newBuilder[Vector[String]]
        walkTable(root, rows += _)
        Table(name, cols, rows.result())
    }
  }

  /** Column names from CREATE TABLE sql: first identifier of each top-level
    * comma-separated definition, constraints skipped. */
  private[extract] def columnsFromSql(sql: String): Vector[String] = {
    val open = sql.indexOf('(')
    if (open < 0) return Vector.empty
    val body = sql.substring(open + 1, math.max(sql.lastIndexOf(')'), open + 1))
    var depth = 0
    val parts = Vector.newBuilder[String]
    val cur = new StringBuilder
    for (c <- body) c match {
      case '(' => depth += 1; cur.append(c)
      case ')' => depth -= 1; cur.append(c)
      case ',' if depth == 0 => parts += cur.toString; cur.clear()
      case _ => cur.append(c)
    }
    parts += cur.toString
    val constraint = Set("primary", "unique", "check", "foreign", "constraint")
    parts.result().flatMap { p =>
      val t = p.trim
      if (t.isEmpty) None
      else {
        val first = t.takeWhile(c => !c.isWhitespace && c != '(')
          .stripPrefix("\"").stripSuffix("\"")
          .stripPrefix("`").stripSuffix("`")
          .stripPrefix("[").stripSuffix("]")
        if (constraint.contains(first.toLowerCase)) None else Some(first)
      }
    }
  }

  // ---- writer (corpus/test support) ------------------------------------

  private def varintBytes(v0: Long): Array[Byte] = {
    var v = v0
    if (v < 0) throw new ProcessingError("writer: negative varint")
    val out = scala.collection.mutable.ArrayBuffer.empty[Byte]
    do {
      out.prepend(((v & 0x7f) | (if (out.isEmpty) 0 else 0x80)).toByte)
      v >>>= 7
    } while (v != 0)
    out.toArray
  }

  /** Record-header length varint — its value includes its own size, so
    * iterate to a fixed point at the 127/128 boundary. */
  private def headerVarint(typesLen: Int): Array[Byte] = {
    var n = 1
    var out = varintBytes(typesLen.toLong + n)
    while (out.length != n) { n = out.length; out = varintBytes(typesLen.toLong + n) }
    out
  }

  /** Serialize one record of TEXT values (rowid handled by caller). */
  private def recordBytes(values: Seq[String]): Array[Byte] = {
    val bodies = values.map(_.getBytes("UTF-8"))
    val types = bodies.map(b => varintBytes(b.length.toLong * 2 + 13))
    headerVarint(types.map(_.length).sum) ++ types.flatten ++ bodies.flatten
  }

  /** Single-table SQLite file: CREATE TABLE name(cols ... TEXT). Rows must
    * each fit a 4096-byte page (no overflow in the writer). */
  def write(tableName: String, columns: Seq[String],
            rows: Seq[Seq[String]]): Array[Byte] = {
    val pageSize = 4096
    val usable = pageSize

    def leafCell(rowid: Long, rec: Array[Byte]): Array[Byte] =
      varintBytes(rec.length) ++ varintBytes(rowid) ++ rec

    // pack rows into leaf pages
    final case class Leaf(cells: Vector[Array[Byte]], lastRowid: Long)
    val leaves = Vector.newBuilder[Leaf]
    var cur = Vector.empty[Array[Byte]]
    var curBytes = 0
    var lastRow = 0L
    rows.zipWithIndex.foreach { case (r, i) =>
      val cell = leafCell(i + 1, recordBytes(r))
      if (cell.length > usable - 35)
        throw new ProcessingError("writer: row exceeds page")
      if (curBytes + cell.length + 2 > usable - 8 - 8 && cur.nonEmpty) {
        leaves += Leaf(cur, lastRow)
        cur = Vector.empty
        curBytes = 0
      }
      cur :+= cell
      curBytes += cell.length + 2
      lastRow = i + 1
    }
    if (cur.nonEmpty || rows.isEmpty) leaves += Leaf(cur, lastRow)
    val leafPages = leaves.result()

    val multiLeaf = leafPages.length > 1
    // page plan: 1 = master, [2 = interior when multi-leaf], then leaves
    val rootPage = 2
    val firstLeafPage = if (multiLeaf) 3 else 2
    val nPages = firstLeafPage + leafPages.length - 1

    val out = new Array[Byte](nPages * pageSize)

    def putU16(o: Int, v: Int): Unit = {
      out(o) = ((v >> 8) & 0xff).toByte; out(o + 1) = (v & 0xff).toByte
    }
    def putU32(o: Int, v: Long): Unit = {
      out(o) = ((v >> 24) & 0xff).toByte; out(o + 1) = ((v >> 16) & 0xff).toByte
      out(o + 2) = ((v >> 8) & 0xff).toByte; out(o + 3) = (v & 0xff).toByte
    }

    /** Lay out one b-tree page. `extra` = header offset on page 1. */
    def writePage(page: Int, typ: Int, cells: Seq[Array[Byte]],
                  rightChild: Long = 0): Unit = {
      val base = (page - 1) * pageSize
      val hdrOff = base + (if (page == 1) 100 else 0)
      out(hdrOff) = typ.toByte
      putU16(hdrOff + 3, cells.length)
      val headerSize = if (typ == 5) 12 else 8
      if (typ == 5) putU32(hdrOff + 8, rightChild)
      var content = pageSize
      val ptrBase = hdrOff + headerSize
      cells.zipWithIndex.foreach { case (c, i) =>
        content -= c.length
        System.arraycopy(c, 0, out, base + content, c.length)
        putU16(ptrBase + 2 * i, content)
      }
      putU16(hdrOff + 5, content)
    }

    // page 1: header + sqlite_master leaf
    val magic = "SQLite format 3\u0000".getBytes("ISO-8859-1")
    System.arraycopy(magic, 0, out, 0, 16)
    putU16(16, pageSize)
    out(18) = 1; out(19) = 1 // file format versions
    out(21) = 64; out(22) = 32; out(23) = 32 // payload fractions
    putU32(28, nPages)
    putU32(44, 1) // schema format 1
    putU32(56, 1) // text encoding UTF-8
    putU32(96, 3008000) // sqlite version number

    val createSql = s"CREATE TABLE $tableName(" +
      columns.map(c => s"$c TEXT").mkString(", ") + ")"
    // sqlite_master row: (type TEXT, name TEXT, tbl_name TEXT,
    // rootpage INT8, sql TEXT)
    val masterCell = {
      val texts = Seq("table", tableName, tableName)
      val bodies = texts.map(_.getBytes("UTF-8")) ++
        Seq(Array[Byte](rootPage.toByte), createSql.getBytes("UTF-8"))
      val types = texts.map(t =>
        varintBytes(t.getBytes("UTF-8").length.toLong * 2 + 13)) ++
        Seq(varintBytes(1),
          varintBytes(createSql.getBytes("UTF-8").length.toLong * 2 + 13))
      val rec = headerVarint(types.map(_.length).sum) ++
        types.flatten ++ bodies.flatten
      varintBytes(rec.length) ++ varintBytes(1L) ++ rec
    }
    writePage(1, 0x0d, Seq(masterCell))

    if (multiLeaf) {
      // interior page: cells = (leftChildPage u32, key varint = last rowid)
      val interiorCells = leafPages.dropRight(1).zipWithIndex.map { case (lf, i) =>
        val child = firstLeafPage + i
        val cell = new Array[Byte](4) ++ varintBytes(lf.lastRowid)
        putU32Bytes(cell, 0, child.toLong)
        cell
      }
      writePage(rootPage, 0x05, interiorCells,
        rightChild = (firstLeafPage + leafPages.length - 1).toLong)
    }
    leafPages.zipWithIndex.foreach { case (lf, i) =>
      writePage(firstLeafPage + i, 0x0d, lf.cells)
    }
    out
  }

  private def putU32Bytes(a: Array[Byte], o: Int, v: Long): Unit = {
    a(o) = ((v >> 24) & 0xff).toByte; a(o + 1) = ((v >> 16) & 0xff).toByte
    a(o + 2) = ((v >> 8) & 0xff).toByte; a(o + 3) = (v & 0xff).toByte
  }
}

/** SQLiteIngestor: tables → sheets, rows → text spans, Workbook schema —
  * the reference's emit_row_dicts stream (`tabular/sqlite.py:33-68`). */
object SqliteExtractor extends Extractor {
  val name = "SQLiteIngestor"
  val schema = "Workbook"

  protected def run(doc: RawDoc): ExtractionResult = {
    val tables = Sqlite.parse(doc.bytes)
    if (tables.isEmpty)
      throw new ProcessingError("SQLite database contains no tables")
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
