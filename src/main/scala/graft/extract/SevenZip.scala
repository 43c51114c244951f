package graft.extract

import Endian._
import graft.core._

/** From-scratch 7-Zip container reader — the reference unpacks via py7zr
  * (`/root/reference/ingestors/packages/__init__.py` SevenZipIngestor);
  * the format is publicly documented (7zFormat.txt). Scope: plaintext or
  * LZMA/LZMA2-encoded headers, single-coder folders (LZMA1 / LZMA2 /
  * Copy), solid-archive substream splitting, UTF-16 names. AES-encrypted
  * archives fail with the encrypted contract; multi-coder (BCJ) chains
  * fail cleanly. */
object SevenZip {

  final case class Entry(name: String, bytes: Array[Byte])

  private val Magic = Array(0x37, 0x7a, 0xbc, 0xaf, 0x27, 0x1c).map(_.toByte)

  def isSevenZip(b: Array[Byte]): Boolean =
    b.length > 32 && b.take(6).sameElements(Magic)

  private final class Cursor(val d: Array[Byte], var p: Int, val end: Int) {
    def byte(): Int = {
      if (p >= end) throw new ProcessingError("7z: truncated header")
      val b = d(p) & 0xff; p += 1; b
    }
    /** 7z NUMBER: first byte's high bits select 0-8 extra LE bytes. */
    def number(): Long = {
      val first = byte()
      var mask = 0x80
      var value = 0L
      var i = 0
      while (i < 8) {
        if ((first & mask) == 0) {
          return value | ((first & (mask - 1)).toLong << (8 * i))
        }
        value |= (byte().toLong << (8 * i))
        mask >>= 1
        i += 1
      }
      value
    }
    def bytes(n: Int): Array[Byte] = {
      if (p + n > end) throw new ProcessingError("7z: truncated header")
      val out = java.util.Arrays.copyOfRange(d, p, p + n)
      p += n
      out
    }
    def skip(n: Long): Unit = {
      if (n < 0 || p + n > end) throw new ProcessingError("7z: truncated header")
      p += n.toInt
    }
    /** Bit vector of n bits (or all-defined shortcut byte). */
    def bitVector(n: Int): Array[Boolean] = {
      val out = new Array[Boolean](n)
      var b = 0
      var mask = 0
      var i = 0
      while (i < n) {
        if (mask == 0) { b = byte(); mask = 0x80 }
        out(i) = (b & mask) != 0
        mask >>= 1
        i += 1
      }
      out
    }
    def allDefinedVector(n: Int): Array[Boolean] =
      if (byte() != 0) Array.fill(n)(true) else bitVector(n)
  }

  private final case class Coder(id: Seq[Byte], props: Array[Byte],
                                 numIn: Int, numOut: Int)
  private final case class Folder(coders: Vector[Coder], unpackSizes: Vector[Long]) {
    def outputSize: Long = unpackSizes.lastOption.getOrElse(0L)
  }
  private final case class StreamsInfo(packPos: Long, packSizes: Vector[Long],
                                       folders: Vector[Folder],
                                       subStreamCounts: Vector[Int],
                                       subStreamSizes: Vector[Vector[Long]])

  private val IdLzma1 = Seq(0x03, 0x01, 0x01).map(_.toByte)
  private val IdLzma2 = Seq(0x21).map(_.toByte)
  private val IdCopy = Seq(0x00).map(_.toByte)
  private val IdAes = Seq(0x06, 0xf1, 0x07, 0x01).map(_.toByte)

  private def parseStreamsInfo(c: Cursor): StreamsInfo = {
    var packPos = 0L
    var packSizes = Vector.empty[Long]
    var folders = Vector.empty[Folder]
    var id = c.byte()
    if (id == 0x06) { // kPackInfo
      packPos = c.number()
      val numPack = c.number().toInt
      var sub = c.byte()
      while (sub != 0x00) {
        if (sub == 0x09) packSizes = Vector.fill(numPack)(c.number())
        else if (sub == 0x0a) { // pack CRCs
          val defined = c.allDefinedVector(numPack)
          c.skip(4L * defined.count(identity))
        } else throw new ProcessingError(s"7z: unexpected PackInfo prop $sub")
        sub = c.byte()
      }
      id = c.byte()
    }
    if (id == 0x07) { // kUnpackInfo
      if (c.byte() != 0x0b) throw new ProcessingError("7z: expected kFolder")
      val numFolders = c.number().toInt
      if (numFolders < 0 || numFolders > 100000)
        throw new ProcessingError("7z: absurd folder count")
      if (c.byte() != 0) throw new ProcessingError("7z: external folders unsupported")
      val rawFolders = (0 until numFolders).map { _ =>
        val numCoders = c.number().toInt
        if (numCoders < 1 || numCoders > 16)
          throw new ProcessingError("7z: bad coder count")
        var totalIn = 0
        var totalOut = 0
        val coders = (0 until numCoders).map { _ =>
          val flags = c.byte()
          val idSize = flags & 0x0f
          val idBytes = c.bytes(idSize).toSeq
          val (nIn, nOut) =
            if ((flags & 0x10) != 0) (c.number().toInt, c.number().toInt)
            else (1, 1)
          val props =
            if ((flags & 0x20) != 0) c.bytes(c.number().toInt)
            else Array.empty[Byte]
          totalIn += nIn
          totalOut += nOut
          Coder(idBytes, props, nIn, nOut)
        }.toVector
        val numBindPairs = totalOut - 1
        (0 until numBindPairs).foreach { _ => c.number(); c.number() }
        val numPackedStreams = totalIn - numBindPairs
        if (numPackedStreams > 1)
          (0 until numPackedStreams).foreach(_ => c.number())
        coders
      }.toVector
      if (c.byte() != 0x0c) throw new ProcessingError("7z: expected kCodersUnpackSize")
      folders = rawFolders.map { coders =>
        val nOut = coders.map(_.numOut).sum
        Folder(coders, (0 until nOut).map(_ => c.number()).toVector)
      }
      var sub = c.byte()
      while (sub != 0x00) {
        if (sub == 0x0a) {
          val defined = c.allDefinedVector(numFolders)
          c.skip(4L * defined.count(identity))
        } else throw new ProcessingError(s"7z: unexpected UnpackInfo prop $sub")
        sub = c.byte()
      }
      id = c.byte()
    }
    var counts = folders.map(_ => 1)
    var sizes: Vector[Vector[Long]] = folders.map(f => Vector(f.outputSize))
    if (id == 0x08) { // kSubStreamsInfo
      var sub = c.byte()
      if (sub == 0x0d) {
        counts = folders.map(_ => c.number().toInt)
        sub = c.byte()
      }
      if (sub == 0x09) {
        sizes = folders.zip(counts).map { case (f, n) =>
          val head = (0 until n - 1).map(_ => c.number()).toVector
          head :+ (f.outputSize - head.sum)
        }
        sub = c.byte()
      } else {
        sizes = folders.zip(counts).map { case (f, n) =>
          if (n == 1) Vector(f.outputSize)
          else throw new ProcessingError("7z: substream sizes missing")
        }
      }
      while (sub != 0x00) {
        if (sub == 0x0a) {
          val total = counts.sum
          val defined = c.allDefinedVector(total)
          c.skip(4L * defined.count(identity))
        } else throw new ProcessingError(s"7z: unexpected SubStreams prop $sub")
        sub = c.byte()
      }
      id = c.byte()
    }
    if (id != 0x00) throw new ProcessingError(s"7z: unexpected StreamsInfo prop $id")
    StreamsInfo(packPos, packSizes, folders, counts, sizes)
  }

  /** Decode folder i of `si` from the packed area. */
  private def decodeFolder(d: Array[Byte], si: StreamsInfo, i: Int,
                           cap: Long): Array[Byte] = {
    val folder = si.folders(i)
    if (folder.coders.exists(_.id == IdAes))
      throw new ProcessingError("Password protected 7z archive") // packages/__init__.py:36
    if (folder.coders.length != 1)
      throw new ProcessingError("7z: multi-coder folders unsupported")
    val coder = folder.coders.head
    // packed stream offset: base + sizes of preceding folders' streams
    val packStart = 32 + si.packPos + si.packSizes.take(i).sum
    val packSize = si.packSizes.lift(i).getOrElse(
      throw new ProcessingError("7z: missing pack stream"))
    if (packStart + packSize > d.length)
      throw new ProcessingError("7z: packed data out of range")
    val packed = java.util.Arrays.copyOfRange(d, packStart.toInt,
      (packStart + packSize).toInt)
    val outSize = folder.outputSize
    if (outSize > cap) throw new ProcessingError("7z: output exceeds cap")
    coder.id match {
      case IdLzma2 => Lzma.decodeLzma2(packed, outSize, cap)
      case IdLzma1 =>
        if (coder.props.length < 1)
          throw new ProcessingError("7z: lzma props missing")
        Lzma.decodeLzma1(coder.props(0) & 0xff, packed, outSize, cap)
      case IdCopy => packed
      case other =>
        throw new ProcessingError(
          s"7z: codec ${other.map(b => f"${b & 0xff}%02x").mkString} unsupported")
    }
  }

  def parse(d: Array[Byte],
            cap: Long = PackageLimits.MaxMemberBytes): Vector[Entry] = {
    if (!isSevenZip(d)) throw new ProcessingError("Not a 7z archive")
    val nextOff = le64(d, 12)
    val nextSize = le64(d, 20)
    if (nextSize == 0) throw new ProcessingError("7z: empty header")
    if (nextOff < 0 || nextSize < 0 || 32 + nextOff + nextSize > d.length)
      throw new ProcessingError("7z: truncated archive (fragment?)")
    var header = java.util.Arrays.copyOfRange(d, (32 + nextOff).toInt,
      (32 + nextOff + nextSize).toInt)

    // encoded header: StreamsInfo whose single folder decodes to the header
    if (header.nonEmpty && (header(0) & 0xff) == 0x17) {
      val c = new Cursor(header, 1, header.length)
      val si = parseStreamsInfo(c)
      if (si.folders.isEmpty) throw new ProcessingError("7z: bad encoded header")
      header = decodeFolder(d, si, 0, cap)
    }
    if (header.isEmpty || (header(0) & 0xff) != 0x01)
      throw new ProcessingError("7z: bad header id")

    val c = new Cursor(header, 1, header.length)
    var si: StreamsInfo = null
    var names = Vector.empty[String]
    var emptyStream: Array[Boolean] = Array.empty
    var id = c.byte()
    if (id == 0x02) { // kArchiveProperties: skip
      var t = c.number()
      while (t != 0) { c.skip(c.number()); t = c.number() }
      id = c.byte()
    }
    if (id == 0x03)
      throw new ProcessingError("7z: additional streams unsupported")
    if (id == 0x04) { // kMainStreamsInfo
      si = parseStreamsInfo(c)
      id = c.byte()
    }
    if (id == 0x05) { // kFilesInfo
      val numFiles = c.number().toInt
      if (numFiles < 0 || numFiles > 1000000)
        throw new ProcessingError("7z: absurd file count")
      emptyStream = new Array[Boolean](numFiles)
      var t = c.byte()
      while (t != 0x00) {
        val size = c.number()
        val endPos = c.p + size.toInt
        t match {
          case 0x0e => emptyStream = c.bitVector(numFiles)
          case 0x11 =>
            if (c.byte() != 0)
              throw new ProcessingError("7z: external names unsupported")
            val nb = Vector.newBuilder[String]
            val sb = new StringBuilder
            while (c.p + 1 < endPos) {
              val ch = (c.byte() | (c.byte() << 8)).toChar
              if (ch == '\u0000') { nb += sb.toString; sb.clear() }
              else sb.append(ch)
            }
            names = nb.result()
          case _ => ()
        }
        if (c.p < endPos) c.skip((endPos - c.p).toLong) // skip remainder
        if (c.p != endPos) throw new ProcessingError("7z: bad FilesInfo prop")
        t = c.byte()
      }
    }
    if (si == null || si.folders.isEmpty) {
      // archive of empty files only
      return names.map(n => Entry(n, Array.empty[Byte]))
    }

    // decode folders, slice substreams, pair with non-empty-stream names
    val contents = Vector.newBuilder[Array[Byte]]
    for (i <- si.folders.indices) {
      val folderBytes = decodeFolder(d, si, i, cap)
      var off = 0L
      for (sz <- si.subStreamSizes(i)) {
        if (sz < 0 || off + sz > folderBytes.length)
          throw new ProcessingError("7z: bad substream size")
        contents += java.util.Arrays.copyOfRange(folderBytes, off.toInt,
          (off + sz).toInt)
        off += sz
      }
    }
    val datas = contents.result()
    val withStreams =
      if (names.isEmpty) datas.zipWithIndex.map { case (b, i) => Entry(s"file$i", b) }
      else {
        val out = Vector.newBuilder[Entry]
        var k = 0
        for ((name, idx) <- names.zipWithIndex) {
          val empty = idx < emptyStream.length && emptyStream(idx)
          if (empty) out += Entry(name, Array.empty[Byte])
          else if (k < datas.length) { out += Entry(name, datas(k)); k += 1 }
        }
        out.result()
      }
    withStreams
  }
}

object SevenZipWriter {
  /** Corpus/test support: a valid single-file .7z with the Copy codec and
    * a plaintext header (what `7z a -m0=copy` produces structurally). */
  def write(name: String, data: Array[Byte]): Array[Byte] = {
    def num(v: Long): Array[Byte] = {
      // encode with the fewest prefix bits (values < 2^7 / 2^14 / 2^21 ...)
      if (v < 0x80) Array(v.toByte)
      else if (v < 0x4000) Array((0x80 | (v >> 8)).toByte, (v & 0xff).toByte)
      else if (v < 0x200000)
        Array((0xc0 | (v >> 16)).toByte, (v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
      else {
        // 4 extra LE bytes
        Array((0xf0 | (v >> 32)).toByte, (v & 0xff).toByte,
          ((v >> 8) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
          ((v >> 24) & 0xff).toByte)
      }
    }
    val nameUtf16 = (name + "\u0000").flatMap(c =>
      Seq((c & 0xff).toByte, ((c >> 8) & 0xff).toByte)).toArray
    val header =
      Array[Byte](0x01, 0x04) ++ // kHeader, kMainStreamsInfo
        (Array[Byte](0x06) ++ num(0) ++ num(1) ++ // kPackInfo: pos 0, 1 stream
          Array[Byte](0x09) ++ num(data.length) ++ Array[Byte](0x00)) ++
        (Array[Byte](0x07, 0x0b) ++ num(1) ++ Array[Byte](0x00) ++ // 1 folder
          num(1) ++ Array[Byte](0x01, 0x00) ++ // 1 coder, idSize 1, id Copy
          Array[Byte](0x0c) ++ num(data.length) ++ Array[Byte](0x00)) ++
        Array[Byte](0x00) ++ // end MainStreamsInfo
        (Array[Byte](0x05) ++ num(1) ++ // kFilesInfo, 1 file
          Array[Byte](0x11) ++ num(1 + nameUtf16.length) ++ Array[Byte](0x00) ++
          nameUtf16 ++
          Array[Byte](0x00)) ++
        Array[Byte](0x00) // end header
    val out = new java.io.ByteArrayOutputStream()
    out.write(Array[Byte](0x37, 0x7a, 0xbc.toByte, 0xaf.toByte, 0x27, 0x1c))
    out.write(Array[Byte](0, 4)) // version
    val startHeader = new Array[Byte](20)
    def putU64(a: Array[Byte], o: Int, v: Long): Unit = {
      var i = 0
      while (i < 8) { a(o + i) = ((v >> (8 * i)) & 0xff).toByte; i += 1 }
    }
    putU64(startHeader, 0, data.length.toLong) // next header offset
    putU64(startHeader, 8, header.length.toLong)
    val crc = new java.util.zip.CRC32()
    crc.update(header)
    var c = crc.getValue
    var i = 0
    while (i < 4) { startHeader(16 + i) = ((c >> (8 * i)) & 0xff).toByte; i += 1 }
    // start header CRC over the 20 bytes
    val crc0 = new java.util.zip.CRC32()
    crc0.update(startHeader)
    var c0 = crc0.getValue
    val crc0b = new Array[Byte](4)
    i = 0
    while (i < 4) { crc0b(i) = ((c0 >> (8 * i)) & 0xff).toByte; i += 1 }
    out.write(crc0b)
    out.write(startHeader)
    out.write(data)
    out.write(header)
    out.toByteArray
  }
}

/** SevenZipIngestor: members become children (`packages/__init__.py`). */
object SevenZipExtractor extends Extractor {
  val name = "SevenZipIngestor"
  val schema = "Package"

  protected def run(doc: RawDoc): ExtractionResult = {
    val entries =
      try SevenZip.parse(doc.bytes)
      catch {
        case p: ProcessingError => throw p
        case e: Exception =>
          throw new ProcessingError("Could not unpack the contents of this file.")
      }
    val children = entries.flatMap { e =>
      val nm = PackageLimits.safeName(e.name)
      if (nm.nonEmpty && e.bytes.nonEmpty) Some(ChildDoc(nm, "", e.bytes)) else None
    }
    ExtractionResult.success(schema, children = children.toVector)
  }
}
