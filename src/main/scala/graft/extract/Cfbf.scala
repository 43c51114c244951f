package graft.extract

import Endian._
import graft.core.ProcessingError

import java.nio.{ByteBuffer, ByteOrder}
import scala.collection.mutable

/** From-scratch CFBF / OLE2 compound-file reader and (test-support) writer —
  * the container behind Outlook .msg, legacy Office and MSI files. The
  * reference reads these via olefile/msglite
  * (`/root/reference/ingestors/email/outlookmsg.py:18-128`); format per the
  * public [MS-CFB] specification.
  *
  * Reader scope: 512-byte sectors, FAT + miniFAT, directory tree walk to
  * full stream paths. Writer scope: what the tests need — small files,
  * one FAT sector, streams in the ministream, one level of storage
  * nesting. */
object Cfbf {

  private val EndOfChain = 0xfffffffe
  private val FreeSect = 0xffffffff

  final case class Entry(path: String, bytes: Array[Byte])

  def isCfbf(bytes: Array[Byte]): Boolean =
    graft.classify.Classifier.isOleMagic(bytes)

  /** Read all streams with their full storage paths ("a/b/stream"). */
  def parse(bytes: Array[Byte]): Vector[Entry] = {
    if (!isCfbf(bytes) || bytes.length < 512)
      throw new ProcessingError("Not an OLE compound file")
    val sectorShift = le16(bytes, 30)
    val sectorSize = 1 << sectorShift
    val miniShift = le16(bytes, 32)
    val miniSize = 1 << miniShift
    val firstDirSector = leI32(bytes, 48)
    val miniCutoff = leI32(bytes, 56)
    val firstMiniFat = leI32(bytes, 60)
    val firstDifat = leI32(bytes, 68)
    val numDifat = leI32(bytes, 72)

    def sectorOffset(sid: Int): Int = 512 + sid * sectorSize

    // DIFAT: 109 header entries + chained DIFAT sectors
    val fatSectors = mutable.ArrayBuffer.empty[Int]
    for (k <- 0 until 109) {
      val v = leI32(bytes, 76 + 4 * k)
      if (v != FreeSect && v >= 0) fatSectors += v
    }
    var difatSid = firstDifat
    var difatGuard = 0
    while (difatSid != EndOfChain && difatSid != FreeSect && difatSid >= 0 &&
           difatGuard < math.max(numDifat, 1) + 4) {
      val off = sectorOffset(difatSid)
      if (off + sectorSize > bytes.length)
        throw new ProcessingError("Corrupt OLE: DIFAT out of range")
      for (k <- 0 until (sectorSize / 4 - 1)) {
        val v = leI32(bytes, off + 4 * k)
        if (v != FreeSect && v >= 0) fatSectors += v
      }
      difatSid = leI32(bytes, off + sectorSize - 4)
      difatGuard += 1
    }

    // FAT as a flat array
    val fat = mutable.ArrayBuffer.empty[Int]
    for (sid <- fatSectors) {
      val off = sectorOffset(sid)
      if (off + sectorSize > bytes.length)
        throw new ProcessingError("Corrupt OLE: FAT out of range")
      for (k <- 0 until sectorSize / 4) fat += leI32(bytes, off + 4 * k)
    }

    def chain(start: Int): Vector[Int] = {
      val out = Vector.newBuilder[Int]
      // cycle + amplification guard: a legitimate chain can't revisit a
      // sector or contain more sectors than the file holds — crafted
      // cyclic/self-referencing FATs otherwise amplify a small input into
      // fat.length × sectorSize of output
      val seen = new java.util.BitSet(fat.length)
      val maxSectors = bytes.length / sectorSize + 2
      var sid = start
      var n = 0
      while (sid != EndOfChain && sid != FreeSect && sid >= 0) {
        if (n > maxSectors)
          throw new ProcessingError("Corrupt OLE: FAT chain exceeds file size")
        if (sid < fat.length) {
          if (seen.get(sid))
            throw new ProcessingError("Corrupt OLE: cyclic FAT chain")
          seen.set(sid)
        }
        out += sid
        sid = if (sid < fat.length) fat(sid) else EndOfChain
        n += 1
      }
      out.result()
    }

    def readChain(start: Int): Array[Byte] = {
      val sids = chain(start)
      val out = new java.io.ByteArrayOutputStream(sids.length * sectorSize)
      for (sid <- sids) {
        val off = sectorOffset(sid)
        if (off + sectorSize <= bytes.length)
          out.write(bytes, off, sectorSize)
      }
      out.toByteArray
    }

    // directory entries
    val dirBytes = readChain(firstDirSector)
    val numEntries = dirBytes.length / 128
    final case class Dir(id: Int, name: String, typ: Int, child: Int,
                         left: Int, right: Int, start: Int, size: Long)
    val dirs = (0 until numEntries).map { i =>
      val off = i * 128
      val nameLen = le16(dirBytes, off + 64)
      val name =
        if (nameLen >= 2)
          new String(dirBytes, off, math.min(nameLen - 2, 64), "UTF-16LE")
        else ""
      Dir(i, name, dirBytes(off + 66) & 0xff,
        leI32(dirBytes, off + 76), leI32(dirBytes, off + 68),
        leI32(dirBytes, off + 72), leI32(dirBytes, off + 116),
        leI32(dirBytes, off + 120).toLong & 0xffffffffL)
    }.toVector
    if (dirs.isEmpty || dirs.head.typ != 5)
      throw new ProcessingError("Corrupt OLE: no root entry")

    // ministream + miniFAT
    val miniStream = readChain(dirs.head.start)
    val miniFatBytes = readChain(firstMiniFat)
    def miniChain(start: Int): Vector[Int] = {
      val out = Vector.newBuilder[Int]
      val n = miniFatBytes.length / 4
      val seen = new java.util.BitSet(n)
      val maxSectors = miniStream.length / math.max(miniSize, 1) + 2
      var sid = start
      var cnt = 0
      while (sid != EndOfChain && sid != FreeSect && sid >= 0) {
        if (cnt > maxSectors)
          throw new ProcessingError("Corrupt OLE: miniFAT chain exceeds ministream")
        if (sid < n) {
          if (seen.get(sid))
            throw new ProcessingError("Corrupt OLE: cyclic miniFAT chain")
          seen.set(sid)
        }
        out += sid
        sid = if (sid < n) leI32(miniFatBytes, sid * 4) else EndOfChain
        cnt += 1
      }
      out.result()
    }

    def streamBytes(d: Dir): Array[Byte] = {
      val raw =
        if (d.size < miniCutoff) {
          val out = new java.io.ByteArrayOutputStream()
          for (sid <- miniChain(d.start)) {
            val off = sid * miniSize
            if (off + miniSize <= miniStream.length)
              out.write(miniStream, off, miniSize)
          }
          out.toByteArray
        } else readChain(d.start)
      raw.take(math.min(d.size, Int.MaxValue.toLong).toInt)
    }

    // walk the red-black sibling trees to get full paths
    val out = Vector.newBuilder[Entry]
    val seen = mutable.Set.empty[Int]
    def walkSibs(id: Int, prefix: String): Unit = {
      if (id < 0 || id >= dirs.length || id == FreeSect || !seen.add(id)) return
      val d = dirs(id)
      walkSibs(d.left, prefix)
      val path = if (prefix.isEmpty) d.name else s"$prefix/${d.name}"
      d.typ match {
        case 2 => out += Entry(path, streamBytes(d))
        case 1 => walkSibs(d.child, path)
        case _ => ()
      }
      walkSibs(d.right, prefix)
    }
    walkSibs(dirs.head.child, "")
    out.result()
  }

  // ---- minimal writer (deterministic; test fixtures + corpus) --------------

  /** Write a compound file with the given streams; path components before
    * the last are storages. Small-file layout: every stream goes to the
    * ministream; directory/miniFAT/ministream/FAT in regular sectors. */
  def write(streams: Seq[(String, Array[Byte])]): Array[Byte] = {
    val sectorSize = 512
    val miniSize = 64

    // ministream assembly
    val mini = new java.io.ByteArrayOutputStream()
    val miniFat = mutable.ArrayBuffer.empty[Int]
    val streamStart = mutable.LinkedHashMap.empty[String, Int]
    for ((path, data) <- streams) {
      val startMini = mini.size() / miniSize
      streamStart(path) = startMini
      mini.write(data)
      val pad = (miniSize - data.length % miniSize) % miniSize
      mini.write(new Array[Byte](pad))
      val nMini = math.max(1, (data.length + miniSize - 1) / miniSize)
      for (k <- 0 until nMini)
        miniFat += (if (k == nMini - 1) EndOfChain else startMini + k + 1)
    }
    val miniBytes = mini.toByteArray

    // directory: root + storages + streams, flat sibling chains
    final case class W(name: String, typ: Int, var child: Int = -1,
                       var next: Int = -1, start: Int = 0, size: Int = 0)
    val entries = mutable.ArrayBuffer[W](W("Root Entry", 5))
    val storageIds = mutable.LinkedHashMap.empty[String, Int]
    def storageFor(prefix: String): Int = {
      if (prefix.isEmpty) 0
      else storageIds.getOrElseUpdate(prefix, {
        val parent = storageFor(prefix.split('/').dropRight(1).mkString("/"))
        entries += W(prefix.split('/').last, 1)
        val id = entries.length - 1
        // prepend into parent's child chain
        entries(id).next = entries(parent).child
        entries(parent).child = id
        id
      })
    }
    for ((path, data) <- streams) {
      val parts = path.split('/')
      val parent = storageFor(parts.dropRight(1).mkString("/"))
      entries += W(parts.last, 2, start = streamStart(path), size = data.length)
      val id = entries.length - 1
      entries(id).next = entries(parent).child
      entries(parent).child = id
    }

    // sector layout: [ministream sectors][miniFAT sectors][dir sectors][FAT]
    def sectorsFor(n: Int) = (n + sectorSize - 1) / sectorSize
    val miniSectors = sectorsFor(miniBytes.length)
    val miniFatBytes = {
      val bb = ByteBuffer.allocate(((miniFat.length * 4 + sectorSize - 1) / sectorSize)
        * sectorSize).order(ByteOrder.LITTLE_ENDIAN)
      miniFat.foreach(bb.putInt)
      while (bb.remaining() > 0) bb.putInt(FreeSect)
      bb.array()
    }
    val miniFatSectors = sectorsFor(miniFatBytes.length)
    val dirBytesLen = ((entries.length * 128 + sectorSize - 1) / sectorSize) * sectorSize
    val dirSectors = dirBytesLen / sectorSize

    val miniStart = 0
    val miniFatStart = miniStart + miniSectors
    val dirStart = miniFatStart + miniFatSectors
    val fatStart = dirStart + dirSectors
    val totalDataSectors = fatStart + 1 // one FAT sector (supports ~small files)
    require(totalDataSectors <= sectorSize / 4,
      "Cfbf.write: file too large for the single-FAT-sector writer")

    // FAT
    val fat = Array.fill(sectorSize / 4)(FreeSect)
    def chainRange(start: Int, n: Int): Unit =
      for (k <- 0 until n) fat(start + k) = if (k == n - 1) EndOfChain else start + k + 1
    chainRange(miniStart, math.max(miniSectors, 1))
    if (miniFatSectors > 0) chainRange(miniFatStart, miniFatSectors)
    chainRange(dirStart, dirSectors)
    fat(fatStart) = 0xfffffffd // FATSECT marker

    // directory serialization
    val dirBuf = ByteBuffer.allocate(dirBytesLen).order(ByteOrder.LITTLE_ENDIAN)
    for ((e, idx) <- entries.zipWithIndex) {
      val off = idx * 128
      val nm = e.name.take(31)
      val nameBytes = nm.getBytes("UTF-16LE")
      dirBuf.position(off)
      dirBuf.put(nameBytes)
      dirBuf.position(off + 64)
      dirBuf.putShort((nameBytes.length + 2).toShort)
      dirBuf.put(off + 66, e.typ.toByte)
      dirBuf.put(off + 67, 1.toByte) // black
      dirBuf.putInt(off + 68, -1) // left
      dirBuf.putInt(off + 72, e.next) // right sibling = our flat chain
      dirBuf.putInt(off + 76, e.child)
      if (e.typ == 5) {
        dirBuf.putInt(off + 116, if (miniBytes.nonEmpty) miniStart else EndOfChain)
        dirBuf.putInt(off + 120, miniBytes.length)
      } else if (e.typ == 2) {
        dirBuf.putInt(off + 116, e.start)
        dirBuf.putInt(off + 120, e.size)
      } else {
        dirBuf.putInt(off + 116, 0)
        dirBuf.putInt(off + 120, 0)
      }
    }

    // header
    val header = ByteBuffer.allocate(512).order(ByteOrder.LITTLE_ENDIAN)
    header.put(Array(0xd0, 0xcf, 0x11, 0xe0, 0xa1, 0xb1, 0x1a, 0xe1).map(_.toByte))
    header.putShort(26, 0x003e.toShort) // minor version
    header.putShort(28, 0x0003.toShort) // major version 3
    header.putShort(24, 0.toShort)
    header.putShort(30, 9.toShort)  // sector shift 512
    header.putShort(32, 6.toShort)  // mini shift 64
    header.putInt(44, 1)            // number of FAT sectors
    header.putInt(48, dirStart)     // first directory sector
    header.putInt(56, 4096)         // mini cutoff
    header.putInt(60, if (miniFatSectors > 0) miniFatStart else EndOfChain)
    header.putInt(64, miniFatSectors)
    header.putInt(68, EndOfChain)   // no DIFAT chain
    header.putInt(72, 0)
    header.putInt(76, fatStart)     // DIFAT[0]
    for (k <- 1 until 109) header.putInt(76 + 4 * k, FreeSect)
    // byte-order mark
    header.putShort(28, 3.toShort)

    val out = new java.io.ByteArrayOutputStream()
    out.write(header.array())
    out.write(java.util.Arrays.copyOf(miniBytes, miniSectors * sectorSize))
    out.write(miniFatBytes)
    out.write(dirBuf.array())
    val fatBuf = ByteBuffer.allocate(sectorSize).order(ByteOrder.LITTLE_ENDIAN)
    fat.foreach(fatBuf.putInt)
    out.write(fatBuf.array())
    out.toByteArray
  }
}
