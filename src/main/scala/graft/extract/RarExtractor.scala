package graft.extract

import Endian._
import graft.core._

import java.nio.charset.StandardCharsets
import java.util.zip.CRC32

/** From-scratch RAR archive reader for the publicly documented parts of the
  * format: RAR4 (v1.5–4.x) block headers and RAR5 vint block headers, both
  * with header-CRC validation, plus full payload extraction for
  * store-method (uncompressed) members and symlink members.
  *
  * The reference's RARIngestor (`/root/reference/ingestors/packages/rar.py`)
  * shells out to `rarfile`/unrar and so also decompresses LZSS/PPMd members;
  * those compression algorithms have no independent public specification
  * (the unrar source license forbids reimplementation), so compressed
  * members here are listed from their headers but skipped — mirroring the
  * reference's own per-member warn-and-continue contract
  * (`packages/rar.py:28-31`: "Failed to unpack [%s]" → member skipped, the
  * archive still succeeds). Error contracts reproduced exactly:
  * multi-volume continuation → "Cannot load RAR partials"
  * (`packages/rar.py:33-34`), header/parse errors → "Invalid RAR file: …"
  * (`packages/rar.py:37-38`), encrypted headers → password ProcessingError.
  *
  * Layout facts used here are from the public archive-format notes
  * (rarlab technote for RAR5; the widely mirrored RAR4 `technote.txt` block
  * tables, the same source the BSD-licensed `rarfile` library documents):
  *  - RAR4 block: crc:u16 type:u8 flags:u16 size:u16 [addSize:u32 when
  *    flags&0x8000]; header CRC = low 16 bits of CRC32 over the header
  *    bytes after the crc field. File block (0x74): packSize:u32 unpSize:u32
  *    hostOs:u8 fileCrc:u32 dosTime:u32 unpVer:u8 method:u8 nameSize:u16
  *    attr:u32 [highPack:u32 highUnp:u32 when flags&0x100] name. Method
  *    0x30 = store. Unix symlink = hostOs 3 with S_IFLNK attr; the stored
  *    data is the link target.
  *  - RAR5 block: crc32:u32 over [headerSize vint .. header end];
  *    headerSize:vint, then type:vint flags:vint [extraSize:vint when
  *    flags&1] [dataSize:vint when flags&2]. File block (type 2):
  *    fileFlags:vint unpSize:vint attr:vint [mtime:u32 when fileFlags&2]
  *    [dataCrc:u32 when fileFlags&4] compInfo:vint hostOs:vint
  *    nameLen:vint name; method = (compInfo>>7)&7, 0 = store. The extra
  *    area is the trailing extraSize bytes of the header, a sequence of
  *    [size:vint type:vint body] records where size counts from the type
  *    field; record type 5 is filesystem redirection
  *    [redirType:vint flags:vint targetLen:vint target] — symlinks store
  *    their target there (verified against the reference's badrar.rar
  *    fixture byte-for-byte). */
object Rar {

  /** mime_hint planted on child rows for members whose bodies cannot be
    * decoded (LZSS/PPMd — no public spec): Dispatch short-circuits these
    * into the reference's warn-and-skip failure ("Failed to unpack [%s]",
    * `packages/rar.py:28-30`) so the skip is a visible failure row, not a
    * silent hole in the corpus. */
  val UnsupportedMemberMime = "application/x-rar-member-unsupported"

  final case class Member(name: String, unpSize: Long, packSize: Long,
                          method: Int, encrypted: Boolean, directory: Boolean,
                          data: Option[Array[Byte]], linkTarget: Option[String])

  final case class Archive(version: Int, volume: Boolean, firstVolume: Boolean,
                           encryptedHeaders: Boolean, members: Vector[Member])

  private def crc32(b: Array[Byte], from: Int, until: Int): Long = {
    val c = new CRC32
    c.update(b, from, until - from)
    c.getValue
  }

  def isRar4(b: Array[Byte]): Boolean =
    b.length >= 7 && b(0) == 'R' && b(1) == 'a' && b(2) == 'r' &&
      b(3) == '!' && b(4) == 0x1a && b(5) == 0x07 && b(6) == 0x00
  def isRar5(b: Array[Byte]): Boolean =
    b.length >= 8 && b(0) == 'R' && b(1) == 'a' && b(2) == 'r' &&
      b(3) == '!' && b(4) == 0x1a && b(5) == 0x07 && b(6) == 0x01 &&
      b(7) == 0x00

  def parse(bytes: Array[Byte]): Archive =
    if (isRar5(bytes)) parse5(bytes)
    else if (isRar4(bytes)) parse4(bytes)
    else throw new ProcessingError("Invalid RAR file: not a RAR archive")

  // ---- RAR4 ----------------------------------------------------------------

  private def parse4(b: Array[Byte]): Archive = {
    import PackageLimits._
    var pos = 7
    var volume = false
    var firstVolume = false
    var encryptedHeaders = false
    var sawMain = false
    val members = Vector.newBuilder[Member]
    var count = 0
    var total = 0L
    var done = false
    while (!done && pos + 7 <= b.length) {
      val crc = le16(b, pos)
      val typ = b(pos + 2) & 0xff
      val flags = le16(b, pos + 3)
      val size = le16(b, pos + 5)
      if (size < 7)
        throw new ProcessingError("Invalid RAR file: bad block size")
      val hdrEnd = math.min(pos + size, b.length)
      if ((crc32(b, pos + 2, hdrEnd) & 0xffff) != crc && hdrEnd == pos + size)
        throw new ProcessingError("Invalid RAR file: header CRC mismatch")
      var addSize = 0L
      typ match {
        case 0x73 => // main archive header
          sawMain = true
          volume = (flags & 0x0001) != 0
          firstVolume = (flags & 0x0100) != 0
          encryptedHeaders = (flags & 0x0080) != 0
        case 0x74 => // file header
          if (pos + 32 > b.length)
            throw new ProcessingError("Invalid RAR file: truncated file header")
          val packSize0 = leU32(b, pos + 7)
          val unpSize0 = leU32(b, pos + 11)
          val hostOs = b(pos + 15) & 0xff
          val method = b(pos + 25) & 0xff
          val nameSize = le16(b, pos + 26)
          val attr = leU32(b, pos + 28)
          val large = (flags & 0x100) != 0
          val packSize = if (large) packSize0 | (leU32(b, pos + 32) << 32) else packSize0
          val unpSize = if (large) unpSize0 | (leU32(b, pos + 36) << 32) else unpSize0
          val nameOff = pos + 32 + (if (large) 8 else 0)
          if (nameOff + nameSize > pos + size)
            throw new ProcessingError("Invalid RAR file: name exceeds header")
          val rawName = java.util.Arrays.copyOfRange(b, nameOff, nameOff + nameSize)
          // unicode-name flag: bytes before the 0x00 separator are the
          // plain 8-bit name (the compressed-unicode tail needs RAR's own
          // name codec; the plain prefix is the documented fallback)
          val cut = rawName.indexOf(0.toByte)
          val name = new String(
            if ((flags & 0x200) != 0 && cut >= 0) rawName.take(cut) else rawName,
            StandardCharsets.UTF_8)
          val directory = (flags & 0xe0) == 0xe0
          val memberEnc = (flags & 0x0004) != 0
          addSize = packSize
          if (!directory) {
            count += 1
            if (count > MaxMembers)
              throw new ProcessingError("Invalid RAR file: too many members")
            val dataStart = pos + size
            val avail = packSize <= MaxMemberBytes &&
              dataStart + packSize <= b.length
            val isStore = method == 0x30 && !memberEnc
            val data =
              if (isStore && avail) {
                total += packSize
                if (total > MaxTotalBytes)
                  throw new ProcessingError("Invalid RAR file: expands too large")
                Some(java.util.Arrays.copyOfRange(b, dataStart,
                  dataStart + packSize.toInt))
              } else None
            val link =
              if (hostOs == 3 && (attr & 0xf000L) == 0xa000L && data.isDefined)
                Some(new String(data.get, StandardCharsets.UTF_8))
              else None
            members += Member(name, unpSize, packSize, method, memberEnc,
              directory, if (link.isDefined) None else data, link)
          }
        case 0x7b => done = true // end of archive
        case _ =>
          if ((flags & 0x8000) != 0 && pos + 11 <= b.length)
            addSize = leU32(b, pos + 7)
      }
      val next = pos + size + addSize
      if (next <= pos || next > Int.MaxValue) done = true else pos = next.toInt
    }
    if (!sawMain)
      throw new ProcessingError("Invalid RAR file: no archive header")
    Archive(4, volume, firstVolume, encryptedHeaders, members.result())
  }

  // ---- RAR5 ----------------------------------------------------------------

  private final class VintReader(b: Array[Byte], var pos: Int, val limit: Int) {
    def vint(): Long = {
      var v = 0L; var shift = 0; var more = true
      while (more) {
        if (pos >= limit || shift > 63)
          throw new ProcessingError("Invalid RAR file: truncated vint")
        val x = b(pos) & 0xff; pos += 1
        v |= (x & 0x7fL) << shift
        shift += 7
        more = (x & 0x80) != 0
      }
      v
    }
    def u32le(): Long = {
      if (pos + 4 > limit)
        throw new ProcessingError("Invalid RAR file: truncated u32")
      val v = leU32(b, pos); pos += 4; v
    }
  }

  private def parse5(b: Array[Byte]): Archive = {
    import PackageLimits._
    var pos = 8
    var volNum = 0L
    var volume = false
    var sawMain = false
    var encryptedHeaders = false
    val members = Vector.newBuilder[Member]
    var count = 0
    var total = 0L
    var done = false
    while (!done && pos + 5 <= b.length) {
      val storedCrc = leU32(b, pos)
      val r = new VintReader(b, pos + 4, b.length)
      val sizeFieldStart = r.pos
      val headerSize = r.vint()
      val headerEnd0 = r.pos + headerSize
      if (headerSize <= 0 || headerEnd0 > b.length)
        throw new ProcessingError("Invalid RAR file: truncated header")
      val headerEnd = headerEnd0.toInt
      if (crc32(b, sizeFieldStart, headerEnd) != storedCrc)
        throw new ProcessingError("Invalid RAR file: header CRC mismatch")
      val hr = new VintReader(b, r.pos, headerEnd)
      val typ = hr.vint()
      val flags = hr.vint()
      val extraSize = if ((flags & 1) != 0) hr.vint() else 0L
      val dataSize = if ((flags & 2) != 0) hr.vint() else 0L
      typ match {
        case 1 => // main archive header
          sawMain = true
          val archFlags = hr.vint()
          volume = (archFlags & 1) != 0
          if ((archFlags & 2) != 0) volNum = hr.vint()
        case 4 => // archive encryption header: everything after is opaque
          encryptedHeaders = true
          done = true
        case 2 => // file header (type 3 = service header: skipped)
          val fileFlags = hr.vint()
          val unpSize = hr.vint()
          val attr = hr.vint()
          if ((fileFlags & 2) != 0) hr.u32le() // mtime
          if ((fileFlags & 4) != 0) hr.u32le() // data crc32
          val compInfo = hr.vint()
          hr.vint() // host os
          val nameLen = hr.vint()
          if (hr.pos + nameLen > headerEnd)
            throw new ProcessingError("Invalid RAR file: name exceeds header")
          val name = new String(b, hr.pos, nameLen.toInt, StandardCharsets.UTF_8)
          val method = ((compInfo >> 7) & 7).toInt
          val directory = (fileFlags & 1) != 0
          // extra area: trailing extraSize bytes; scan for records
          var link: Option[String] = None
          var memberEnc = false
          if (extraSize > 0 && extraSize <= headerSize) {
            val er = new VintReader(b, headerEnd - extraSize.toInt, headerEnd)
            while (er.pos < er.limit) {
              val recSize = er.vint()
              val recEnd = er.pos + recSize
              if (recSize <= 0 || recEnd > er.limit) { er.pos = er.limit }
              else {
                val recType = er.vint()
                recType match {
                  case 1 => memberEnc = true // file encryption record
                  case 5 => // filesystem redirection
                    er.vint() // redirection type (1 = unix symlink)
                    er.vint() // redirection flags
                    val tl = er.vint()
                    if (er.pos + tl <= recEnd)
                      link = Some(new String(b, er.pos, tl.toInt,
                        StandardCharsets.UTF_8))
                  case _ => ()
                }
                er.pos = recEnd.toInt
              }
            }
          }
          if (!directory) {
            count += 1
            if (count > MaxMembers)
              throw new ProcessingError("Invalid RAR file: too many members")
            val isStore = method == 0 && !memberEnc
            val avail = dataSize <= MaxMemberBytes &&
              headerEnd + dataSize <= b.length
            val data =
              if (isStore && avail && dataSize > 0) {
                total += dataSize
                if (total > MaxTotalBytes)
                  throw new ProcessingError("Invalid RAR file: expands too large")
                Some(java.util.Arrays.copyOfRange(b, headerEnd,
                  headerEnd + dataSize.toInt))
              } else None
            val link2 =
              if (link.isEmpty && (attr & 0xf000L) == 0xa000L && data.isDefined)
                Some(new String(data.get, StandardCharsets.UTF_8))
              else link
            members += Member(name, unpSize, dataSize, method, memberEnc,
              directory, if (link2.isDefined) None else data, link2)
          }
        case 5 => done = true // end of archive
        case _ => ()
      }
      val next = headerEnd + dataSize
      if (next <= pos || next > Int.MaxValue) done = true else pos = next.toInt
    }
    if (!sawMain && !encryptedHeaders)
      throw new ProcessingError("Invalid RAR file: no archive header")
    Archive(5, volume || volNum > 0, volNum == 0, encryptedHeaders,
      members.result())
  }
}

/** RARIngestor analogue (`/root/reference/ingestors/packages/rar.py:12-43`).
  * Store-method and symlink members become child documents; compressed
  * members are listed but skipped (see [[Rar]] — the compression codecs
  * have no public spec). Multi-volume continuations and encrypted archives
  * reproduce the reference's ProcessingException contracts. */
object RarExtractor extends Extractor {
  val name = "RARIngestor"
  val schema = "Package"

  protected def run(doc: RawDoc): ExtractionResult = {
    import PackageLimits._
    val arch = Rar.parse(doc.bytes)
    if (arch.encryptedHeaders)
      throw new ProcessingError("Password protected RAR archive")
    if (arch.volume && !arch.firstVolume)
      throw new ProcessingError("Cannot load RAR partials")
    val children = Vector.newBuilder[ChildDoc]
    for (m <- arch.members) {
      val nm = safeName(m.name)
      if (nm.nonEmpty) m.linkTarget match {
        case Some(target) =>
          // rarfile materializes out-of-root symlinks as plain files whose
          // content is the target path (tests/test_packages.py:40-57)
          children += ChildDoc(nm, "", target.getBytes(StandardCharsets.UTF_8))
        case None => m.data match {
          case Some(d) => children += ChildDoc(nm, "", d)
          case None if !m.directory =>
            // compressed/encrypted member: the reference warns and skips
            // (`rar.py:28-30`); we surface the same skip as a failure row
            // via the planted mime hint (bytes empty, never decodable)
            children += ChildDoc(nm, Rar.UnsupportedMemberMime,
              Array.emptyByteArray)
          case None => ()
        }
      }
    }
    ExtractionResult.success(schema, children = children.result())
  }
}
