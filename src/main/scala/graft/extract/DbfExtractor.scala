package graft.extract

import Endian._
import graft.core._

/** dBASE III/IV .dbf tables — fixed binary layout, parsed directly
  * (the reference uses the dbf lib, `/root/reference/ingestors/tabular/dbf.py:14-38`).
  * Header: version byte, record count (u32 @4), header size (u16 @8),
  * record size (u16 @10); 32-byte field descriptors until 0x0D; records are
  * fixed-width with a leading deletion flag. Rows stream through the same
  * emit contract as CSV (`support/table.py`). */
object DbfExtractor extends Extractor {
  val name = "DBFIngestor"
  val schema = "Table"

  final case class Field(fname: String, ftype: Char, flen: Int)

  protected def run(doc: RawDoc): ExtractionResult = {
    val b = doc.bytes
    if (b.length < 33) throw new ProcessingError("Invalid DBF file")
    val version = b(0) & 0x07
    if (version != 3 && version != 4 && (b(0) & 0xff) != 0x8b &&
        (b(0) & 0xff) != 0x83 && (b(0) & 0xff) != 0x03)
      throw new ProcessingError("Invalid DBF file: unknown version")
    val nRecords = leU32(b, 4)
    val headerSize = le16(b, 8)
    val recordSize = le16(b, 10)
    if (headerSize < 33 || headerSize > b.length || recordSize <= 0)
      throw new ProcessingError("Invalid DBF file: bad header")
    val fields = Vector.newBuilder[Field]
    var off = 32
    while (off + 32 <= headerSize && b(off) != 0x0d) {
      var end = off
      while (end < off + 11 && b(end) != 0) end += 1
      val fname = new String(b, off, end - off, "US-ASCII")
      fields += Field(fname, (b(off + 11) & 0xff).toChar, b(off + 16) & 0xff)
      off += 32
    }
    val fs = fields.result()
    if (fs.isEmpty) throw new ProcessingError("Invalid DBF file: no fields")
    if (fs.map(_.flen).sum + 1 != recordSize)
      throw new ProcessingError("Invalid DBF file: record size mismatch")

    val enc = Encoding.guessEncoding(b.drop(headerSize))
    val rows = Iterator.range(0, math.min(nRecords, Int.MaxValue).toInt).flatMap { r =>
      val ro = headerSize + r * recordSize
      if (ro + recordSize > b.length) None
      else if (b(ro) == '*') None // deleted record
      else {
        var fo = ro + 1
        Some(fs.map { f =>
          val raw = java.util.Arrays.copyOfRange(b, fo, fo + f.flen)
          fo += f.flen
          Encoding.decodeReplace(raw, enc).trim
        })
      }
    }
    // reuse the CSV/table row-emission semantics (headers come from the
    // field descriptors here, not synthesized)
    val spans = Vector.newBuilder[Span]
    var rowCount = 0
    for (row <- rows if row.map(_.length).sum != 0) {
      val kept = row.filter(TextUtil.filterText)
      if (kept.nonEmpty)
        spans += Span(SpanKinds.Text, kept.mkString(" "), "", rowCount)
      rowCount += 1
    }
    ExtractionResult.success(schema, spans.result(), Map(
      "rowCount" -> Seq((rowCount + 1).toString),
      "columns" -> Seq(fs.map(f => "\"" + f.fname + "\"").mkString("[", ", ", "]"))))
  }
}

object DbfWriter {
  /** Deterministic minimal dBASE III writer (test/corpus support). */
  def write(fields: Seq[(String, Int)], rows: Seq[Seq[String]]): Array[Byte] = {
    val recordSize = 1 + fields.map(_._2).sum
    val headerSize = 32 + fields.length * 32 + 1
    val out = java.nio.ByteBuffer.allocate(headerSize + rows.length * recordSize + 1)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put(0x03.toByte)
    out.put(Array(120, 1, 1).map(_.toByte)) // fixed date 2020-01-01
    out.putInt(rows.length)
    out.putShort(headerSize.toShort)
    out.putShort(recordSize.toShort)
    out.position(32)
    for ((fname, flen) <- fields) {
      val pos = out.position()
      out.put(fname.take(10).getBytes("US-ASCII"))
      out.position(pos + 11)
      out.put('C'.toByte)
      out.position(pos + 16)
      out.put(flen.toByte)
      out.position(pos + 32)
    }
    out.put(0x0d.toByte)
    for (row <- rows) {
      out.put(' '.toByte)
      for (((_, flen), v) <- fields.zip(row)) {
        val padded = v.padTo(flen, ' ').take(flen)
        out.put(padded.getBytes("US-ASCII"))
      }
    }
    out.put(0x1a.toByte)
    out.array()
  }
}
