package graft.extract

import Endian._
import graft.core._

/** From-scratch Outlook PST (Unicode) reader + minimal writer, built from
  * the public [MS-PST] specification. The reference shells out to readpst
  * (`email/outlookpst.py:13-39`), exports one file per message into a
  * directory, and delegates to DirectoryIngestor; here the NDB/LTP layers
  * are parsed natively and each message becomes an RFC-822 child document —
  * the same "unpack to children, re-queue" shape as the reference.
  *
  * Scope (documented deltas):
  *  - Unicode PSTs only (wVer >= 23); ANSI files fail cleanly.
  *  - NDB_CRYPT_NONE payloads decode fully ([MS-PST] §2.2.2.6 permits
  *    bCryptMethod=0). NDB_CRYPT_PERMUTE files parse structurally (the
  *    node/block B-trees are never encoded) and report folder/message
  *    counts, but property payloads need the §5.1 byte-permutation table,
  *    whose 256 literal bytes are not reproducible in this offline build —
  *    children are skipped for such files rather than emitted garbled.
  *  - Block CRCs/signatures are not verified (robust parse, like the
  *    tolerant paths of readpst).
  */
object Pst {

  final case class Node(nid: Long, bidData: Long, bidSub: Long, nidParent: Long)
  final case class Prop(id: Int, ptype: Int, inline: Long, bytes: Array[Byte]) {
    def utf16: String = new String(bytes, java.nio.charset.StandardCharsets.UTF_16LE)
    def str: String = ptype match {
      case 0x1f => utf16
      case 0x1e => new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
      case _ => inline.toString
    }
  }

  final case class Parsed(cryptMethod: Int,
                          nodes: Vector[Node],
                          props: Map[Long, Map[Int, Prop]]) {
    def folders: Vector[Node] = nodes.filter(n => (n.nid & 0x1f) == 2)
    def messages: Vector[Node] = nodes.filter(n => (n.nid & 0x1f) == 4)
  }

  // nid types ([MS-PST] §2.2.2.1)
  val NidNormalFolder = 2L
  val NidNormalMessage = 4L

  def isPst(b: Array[Byte]): Boolean =
    b.length > 0x250 && b(0) == '!' && b(1) == 'B' && b(2) == 'D' && b(3) == 'N'

  def parse(bytes: Array[Byte], maxNodes: Int = 100000): Parsed = {
    if (!isPst(bytes)) throw new ProcessingError("Not a PST file")
    if (le16(bytes, 8) != 0x4d53) throw new ProcessingError("PST: bad client magic")
    val wVer = le16(bytes, 10)
    if (wVer < 23)
      throw new ProcessingError("ANSI PST is not supported; Unicode only")
    val crypt = bytes(0x201) & 0xff

    def slice(ib: Long, len: Int): Array[Byte] = {
      if (ib < 0 || len < 0 || ib + len > bytes.length)
        throw new ProcessingError("PST: reference out of range")
      java.util.Arrays.copyOfRange(bytes, ib.toInt, ib.toInt + len)
    }

    // ---- NDB: page b-trees ([MS-PST] §2.2.2.7) --------------------------
    val bbt = scala.collection.mutable.HashMap.empty[Long, (Long, Int)] // bid -> (ib, cb)
    val nbt = Vector.newBuilder[Node]
    var nNodes = 0
    val visitedPages = new java.util.HashSet[Long]()

    def walkPage(ib: Long, isNbt: Boolean, depth: Int): Unit = {
      if (depth > 32) throw new ProcessingError("PST: b-tree too deep")
      if (!visitedPages.add(ib)) throw new ProcessingError("PST: cyclic b-tree")
      val page = slice(ib, 512)
      val cEnt = page(488) & 0xff
      val cbEnt = page(490) & 0xff
      val cLevel = page(491) & 0xff
      if (cbEnt == 0 || cEnt * cbEnt > 488)
        throw new ProcessingError("PST: bad btpage")
      var i = 0
      while (i < cEnt) {
        val off = i * cbEnt
        if (cLevel > 0) {
          walkPage(le64(page, off + 16), isNbt, depth + 1) // BTENTRY.BREF.ib
        } else if (isNbt) {
          // NBTENTRY: nid(8) bidData(8) bidSub(8) nidParent(4)
          nbt += Node(le64(page, off) & 0xffffffffL, le64(page, off + 8),
            le64(page, off + 16), leU32(page, off + 24))
          nNodes += 1
          if (nNodes > maxNodes) throw new ProcessingError("PST: too many nodes")
        } else {
          // BBTENTRY: BREF(bid 8, ib 8) cb(2) cRef(2)
          bbt.put(le64(page, off), (le64(page, off + 8), le16(page, off + 16)))
        }
        i += 1
      }
    }
    walkPage(le64(bytes, 0xe8 + 8), isNbt = false, 0) // ROOT.BREFBBT.ib
    walkPage(le64(bytes, 0xd8 + 8), isNbt = true, 0)  // ROOT.BREFNBT.ib

    // ---- blocks ([MS-PST] §2.2.2.8) -------------------------------------
    val visitedBids = new java.util.HashSet[Long]()

    /** Leaf data blocks of a data tree, in order (XBLOCK/XXBLOCK expanded).
      * Payload decode only for crypt none; PERMUTE data is structurally
      * opaque here. */
    def dataBlocks(bid: Long, depth: Int = 0): Vector[Array[Byte]] = {
      if (bid == 0) return Vector.empty
      if (depth > 8) throw new ProcessingError("PST: data tree too deep")
      val (ib, cb) = bbt.getOrElse(bid,
        throw new ProcessingError("PST: dangling bid"))
      val raw = slice(ib, cb)
      if ((bid & 2) == 0) Vector(raw)
      else {
        if (raw.length < 8 || raw(0) != 1)
          throw new ProcessingError("PST: bad xblock")
        val cEnt = le16(raw, 2)
        if (8 + 8 * cEnt > raw.length) throw new ProcessingError("PST: xblock overflow")
        (0 until cEnt).toVector.flatMap(k => dataBlocks(le64(raw, 8 + 8 * k), depth + 1))
      }
    }

    /** Subnode tree: nid -> (bidData, bidSub) ([MS-PST] §2.2.2.8.3.3). */
    def subnodeMap(bid: Long, depth: Int = 0): Map[Long, (Long, Long)] = {
      if (bid == 0) return Map.empty
      if (depth > 8) throw new ProcessingError("PST: subnode tree too deep")
      if (!visitedBids.add(bid)) throw new ProcessingError("PST: cyclic subnode tree")
      val (ib, cb) = bbt.getOrElse(bid,
        throw new ProcessingError("PST: dangling subnode bid"))
      val raw = slice(ib, cb)
      if (raw.length < 8 || raw(0) != 2) throw new ProcessingError("PST: bad slblock")
      val cLevel = raw(1) & 0xff
      val cEnt = le16(raw, 2)
      if (cLevel == 0) {
        if (8 + 24 * cEnt > raw.length) throw new ProcessingError("PST: slblock overflow")
        (0 until cEnt).map { k =>
          val off = 8 + 24 * k
          (le64(raw, off) & 0xffffffffL) -> (le64(raw, off + 8), le64(raw, off + 16))
        }.toMap
      } else {
        if (8 + 16 * cEnt > raw.length) throw new ProcessingError("PST: siblock overflow")
        (0 until cEnt).flatMap(k => subnodeMap(le64(raw, 8 + 16 * k + 8), depth + 1)).toMap
      }
    }

    // ---- LTP: heap-on-node + BTH + PC ([MS-PST] §2.3.1-2.3.3) ------------
    def heapItem(blocks: Vector[Array[Byte]], hid: Long): Array[Byte] = {
      val hidIndex = ((hid >>> 5) & 0x7ff).toInt
      val hidBlock = ((hid >>> 16) & 0xffff).toInt
      if (hidIndex == 0) return Array.empty
      if (hidBlock >= blocks.length) throw new ProcessingError("PST: hid block range")
      val b = blocks(hidBlock)
      val ibHnpm = le16(b, 0)
      if (ibHnpm + 4 > b.length) throw new ProcessingError("PST: bad hnpagemap")
      val cAlloc = le16(b, ibHnpm)
      if (hidIndex > cAlloc) throw new ProcessingError("PST: hid alloc range")
      val start = le16(b, ibHnpm + 4 + 2 * (hidIndex - 1))
      val end = le16(b, ibHnpm + 4 + 2 * hidIndex)
      if (start > end || end > b.length) throw new ProcessingError("PST: hid bounds")
      java.util.Arrays.copyOfRange(b, start, end)
    }

    def readPc(node: Node): Map[Int, Prop] = {
      val blocks = dataBlocks(node.bidData)
      if (blocks.isEmpty) return Map.empty
      val b0 = blocks(0)
      if (b0.length < 12 || (b0(2) & 0xff) != 0xec)
        throw new ProcessingError("PST: not a heap node")
      if ((b0(3) & 0xff) != 0xbc)
        throw new ProcessingError("PST: not a property context")
      val hidUserRoot = leU32(b0, 4)
      val hdr = heapItem(blocks, hidUserRoot)
      if (hdr.length < 8 || (hdr(0) & 0xff) != 0xb5)
        throw new ProcessingError("PST: bad bth header")
      val cbKey = hdr(1) & 0xff; val cbEnt = hdr(2) & 0xff
      val levels = hdr(3) & 0xff
      if (cbKey != 2 || cbEnt != 6) throw new ProcessingError("PST: bad pc bth")
      lazy val subs = subnodeMap(node.bidSub)

      val out = Map.newBuilder[Int, Prop]
      def leafRecords(hid: Long, level: Int): Unit = {
        if (level < 0) return
        val data = heapItem(blocks, hid)
        if (level > 0) {
          val stride = cbKey + 4
          var o = 0
          while (o + stride <= data.length) {
            leafRecords(leU32(data, o + cbKey), level - 1)
            o += stride
          }
        } else {
          var o = 0
          while (o + 8 <= data.length) {
            val pid = le16(data, o)
            val ptype = le16(data, o + 2)
            val v = leU32(data, o + 4)
            val prop = ptype match {
              case 0x01 | 0x02 | 0x03 | 0x04 | 0x0a | 0x0b =>
                Prop(pid, ptype, v, Array.empty)
              case _ =>
                // 8-byte scalars, strings, binaries, multi-values: HNID
                val payload =
                  if (v == 0) Array.empty[Byte]
                  else if ((v & 0x1f) == 0) heapItem(blocks, v)
                  else subs.get(v & 0xffffffffL) match {
                    case Some((bd, _)) =>
                      val parts = dataBlocks(bd)
                      if (parts.length == 1) parts.head
                      else parts.foldLeft(Array.empty[Byte])(_ ++ _)
                    case None => Array.empty[Byte]
                  }
                Prop(pid, ptype, v, payload)
            }
            out += pid -> prop
            o += 8
          }
        }
      }
      leafRecords(leU32(hdr, 4), levels)
      out.result()
    }

    val nodes = nbt.result()
    val propsByNid =
      if (crypt != 0) Map.empty[Long, Map[Int, Prop]]
      else nodes.filter(n => (n.nid & 0x1f) == 2 || (n.nid & 0x1f) == 4)
        .flatMap { n =>
          try Some(n.nid -> readPc(n)) catch { case _: ProcessingError => None }
        }.toMap
    Parsed(crypt, nodes, propsByNid)
  }

  /** PidTagSubject prefix-control stripping ([MS-PST] §2.5.3.1.1.1: a
    * leading 0x01 byte marks "prefix length follows"). */
  def cleanSubject(s: String): String =
    if (s.nonEmpty && s.charAt(0) == '\u0001') s.drop(2) else s

  // =========================================================================
  // Writer: minimal, spec-conformant Unicode PST with bCryptMethod = NONE.
  // Single-level or two-level page b-trees, one HN data block per node PC.
  // =========================================================================

  def write(folderName: String, messages: Seq[(String, String, String)]): Array[Byte] = {
    require(messages.size <= 200, "writer: too many messages")
    val utf16 = java.nio.charset.StandardCharsets.UTF_16LE

    // ---- heap-on-node PC block ------------------------------------------
    def pcBlock(props: Seq[(Int, Int, Either[Long, String])]): Array[Byte] = {
      val sorted = props.sortBy(_._1)
      val items = Vector.newBuilder[Array[Byte]]
      // item 1: BTH header; item 2: records; items 3+: string payloads
      val recs = new java.io.ByteArrayOutputStream()
      val strings = Vector.newBuilder[Array[Byte]]
      var nextStrIdx = 3
      def le16(v: Int): Array[Byte] = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
      def le32(v: Long): Array[Byte] =
        Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
          ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
      for ((pid, ptype, value) <- sorted) {
        recs.write(le16(pid)); recs.write(le16(ptype))
        value match {
          case Left(v) => recs.write(le32(v))
          case Right(s) =>
            if (s.isEmpty) recs.write(le32(0))
            else {
              strings += s.getBytes(utf16)
              recs.write(le32(nextStrIdx.toLong << 5)) // hid of the item
              nextStrIdx += 1
            }
        }
      }
      items += Array[Byte](0xb5.toByte, 2, 6, 0) ++ le32(2L << 5) // BTH hdr -> records at hid idx 2
      items += recs.toByteArray
      strings.result().foreach(items += _)
      val all = items.result()

      val bos = new java.io.ByteArrayOutputStream()
      val offs = Vector.newBuilder[Int]
      var off = 12
      offs += off
      all.foreach { it => off += it.length; offs += off }
      val ibHnpm = off
      // HNHDR
      bos.write(le16(ibHnpm))
      bos.write(0xec); bos.write(0xbc)           // bSig, bClientSig = PC
      bos.write(le32(1L << 5))                   // hidUserRoot = item 1
      bos.write(Array[Byte](0, 0, 0, 0))         // rgbFillLevel
      all.foreach(bos.write)
      // HNPAGEMAP
      bos.write(le16(all.length)); bos.write(le16(0))
      offs.result().foreach(o => bos.write(le16(o)))
      val out = bos.toByteArray
      require(out.length <= 8176, "writer: PC exceeds one block")
      out
    }

    // ---- assemble nodes --------------------------------------------------
    val folderNid = (1L << 5) | NidNormalFolder
    final case class WNode(nid: Long, parent: Long, data: Array[Byte])
    val wnodes = Vector(
      WNode(folderNid, 0,
        pcBlock(Seq((0x3001, 0x1f, Right(folderName)), (0x3602, 0x03, Left(messages.size.toLong)))))
    ) ++ messages.zipWithIndex.map { case ((subject, sender, body), i) =>
      WNode(((i + 2).toLong << 5) | NidNormalMessage, folderNid,
        pcBlock(Seq(
          (0x001a, 0x1f, Right("IPM.Note")),
          (0x0037, 0x1f, Right(subject)),
          (0x0c1a, 0x1f, Right(sender)),
          (0x1000, 0x1f, Right(body)))))
    }

    // ---- lay out blocks + pages -----------------------------------------
    val out = new java.io.ByteArrayOutputStream()
    def pad(to: Int): Unit = while (out.size() % to != 0) out.write(0)
    def le16o(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    def le32o(v: Long): Unit = { le16o((v & 0xffff).toInt); le16o(((v >> 16) & 0xffff).toInt) }
    def le64o(v: Long): Unit = { le32o(v & 0xffffffffL); le32o((v >>> 32) & 0xffffffffL) }

    out.write(new Array[Byte](576)) // header placeholder (fields reach 0x20C)
    var bidNext = 4L
    val blockRefs = wnodes.map { n =>
      pad(64)
      val ib = out.size().toLong
      val bid = bidNext; bidNext += 4
      out.write(n.data)
      // pad so trailer lands at the end of a 64-byte-aligned envelope
      val total = ((n.data.length + 16 + 63) / 64) * 64
      while (out.size() < ib + total - 16) out.write(0)
      le16o(n.data.length); le16o(0) // cb, wSig (unverified)
      le32o(0)                       // dwCRC (unverified)
      le64o(bid)
      (n, bid, ib, n.data.length)
    }

    // leaf pages: NBT (32B entries), BBT (24B entries)
    def writePage(entries: Seq[Array[Byte]], cbEnt: Int, cLevel: Int, ptype: Int): Long = {
      pad(512)
      val ib = out.size().toLong
      val body = new java.io.ByteArrayOutputStream()
      entries.foreach(body.write)
      val rg = java.util.Arrays.copyOf(body.toByteArray, 488)
      out.write(rg)
      out.write(entries.size); out.write(488 / cbEnt); out.write(cbEnt); out.write(cLevel)
      le32o(0) // dwPadding
      out.write(ptype); out.write(ptype); le16o(0); le32o(0); le64o(ib) // trailer
      ib
    }
    def le(v: Long, n: Int): Array[Byte] =
      (0 until n).map(k => ((v >>> (8 * k)) & 0xff).toByte).toArray

    val nbtEntries = blockRefs.map { case (n, bid, _, _) =>
      le(n.nid, 8) ++ le(bid, 8) ++ le(0, 8) ++ le(n.parent, 4) ++ le(0, 4)
    }
    val bbtEntries = blockRefs.map { case (_, bid, ib, cb) =>
      le(bid, 8) ++ le(ib, 8) ++ le(cb, 2) ++ le(1, 2) ++ le(0, 4)
    }
    def writeTree(entries: Seq[Array[Byte]], keys: Seq[Long], cbEnt: Int, ptype: Int): Long = {
      val perPage = 488 / cbEnt
      if (entries.size <= perPage) writePage(entries, cbEnt, 0, ptype)
      else {
        val groups = entries.grouped(perPage).toVector
        val keyGroups = keys.grouped(perPage).toVector
        val leafRefs = groups.map(g => writePage(g, cbEnt, 0, ptype))
        val btEntries = leafRefs.zip(keyGroups).map { case (ib, ks) =>
          le(ks.head, 8) ++ le(0x1000 + ib, 8) ++ le(ib, 8)
        }
        writePage(btEntries, 24, 1, ptype)
      }
    }
    val nbtRoot = writeTree(nbtEntries, blockRefs.map(_._1.nid), 32, 0x81)
    val bbtRoot = writeTree(bbtEntries, blockRefs.map(_._2), 24, 0x80)
    pad(64)
    val eof = out.size().toLong

    // ---- header ----------------------------------------------------------
    val bytes = out.toByteArray
    val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put(0, '!'.toByte); bb.put(1, 'B'.toByte); bb.put(2, 'D'.toByte); bb.put(3, 'N'.toByte)
    bb.putShort(8, 0x4d53.toShort) // "SM"
    bb.putShort(10, 23)            // wVer: Unicode
    bb.putShort(12, 19)            // wVerClient
    bb.put(14, 1.toByte); bb.put(15, 1.toByte)   // platform
    bb.putLong(0xb8, eof)          // ROOT.ibFileEof
    bb.putLong(0xd8, 0x1000L + nbtRoot); bb.putLong(0xd8 + 8, nbtRoot) // BREFNBT
    bb.putLong(0xe8, 0x1000L + bbtRoot); bb.putLong(0xe8 + 8, bbtRoot) // BREFBBT
    bb.put(0x200, 0x80.toByte)     // bSentinel
    bb.put(0x201, 0.toByte)               // bCryptMethod = NDB_CRYPT_NONE
    bb.putLong(0x204, bidNext)     // bidNextB
    bytes
  }
}

/** OutlookPSTIngestor analogue (`email/outlookpst.py:13-39`). */
object PstExtractor extends Extractor {
  val name = "OutlookPSTIngestor"
  val schema = "Package"

  protected def run(doc: RawDoc): ExtractionResult = {
    val parsed = Pst.parse(doc.bytes)
    val folderNames: Map[Long, String] = parsed.folders.flatMap { f =>
      parsed.props.get(f.nid).flatMap(_.get(0x3001)).map(p => f.nid -> p.str)
    }.toMap

    val messages = parsed.messages.sortBy(_.nid)
    val children = Vector.newBuilder[ChildDoc]
    var emitted = 0
    if (parsed.cryptMethod == 0) {
      messages.zipWithIndex.foreach { case (m, i) =>
        parsed.props.get(m.nid).foreach { pc =>
          val subject = Pst.cleanSubject(pc.get(0x0037).map(_.str).getOrElse(""))
          val sender = pc.get(0x0c1a).map(_.str).getOrElse("")
          val body = pc.get(0x1000).map(_.str).getOrElse("")
          val folder = folderNames.getOrElse(m.nidParent, "pst")
          val eml = new StringBuilder()
          if (sender.nonEmpty) eml.append(s"From: $sender\r\n")
          eml.append(s"Subject: $subject\r\n")
          eml.append("Content-Type: text/plain; charset=utf-8\r\n\r\n")
          eml.append(body).append("\r\n")
          children += ChildDoc(s"$folder/$i.eml", "message/rfc822",
            eml.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          emitted += 1
        }
      }
    }
    val props = Map(
      "messageCount" -> Seq(messages.size.toString),
      "folderCount" -> Seq(parsed.folders.size.toString)) ++
      (if (parsed.cryptMethod != 0)
        Map("encoding" -> Seq(s"ndb-crypt-${parsed.cryptMethod}"))
      else Map.empty)
    ExtractionResult.success(schema, Vector.empty, props, children.result())
  }
}
