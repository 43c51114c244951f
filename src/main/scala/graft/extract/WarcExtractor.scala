package graft.extract

import graft.core._

import java.io.ByteArrayInputStream
import java.util.zip.GZIPInputStream

/** From-scratch WARC (Web ARChive, ISO 28500) reader — the container
  * format of Common Crawl and every large-scale web corpus, i.e. the
  * raw-input shape of the web-scale extraction tier this engine targets.
  * Beyond the reference's format set (ingest-file has no WARC ingestor);
  * built from the public WARC 1.0/1.1 spec only.
  *
  * Layout: a WARC file is a sequence of records, each
  * `WARC/1.x CRLF` + named header lines + CRLF CRLF + a Content-Length
  * block + CRLF CRLF. The `.warc.gz` convention stores each record as its
  * own gzip member (member-concatenated stream); `GZIPInputStream` reads
  * multi-member streams natively, and the per-member framing is what makes
  * record-granular splits possible on a cluster (an offset index maps
  * byte ranges to records; here we parallelize at file granularity via
  * `Sources.fromWarcs`, the standard Common Crawl shape of one task per
  * ~1 GB warc).
  *
  * Record routing (what a crawl pipeline keeps):
  *  - `response` records carrying `application/http` are parsed as HTTP:
  *    status line, headers, body (chunked transfer-encoding decoded);
  *    only 2xx responses become children, named by WARC-Target-URI with
  *    the HTTP Content-Type as the mime hint.
  *  - `resource`/`conversion` records become children with the record's
  *    own Content-Type.
  *  - `warcinfo`, `request`, `metadata`, `revisit`, `continuation` are
  *    skipped (no payload a corpus wants).
  */
object Warc {

  final case class Record(warcType: String, targetUri: String,
                          contentType: String, block: Array[Byte])

  def isWarcMagic(b: Array[Byte]): Boolean =
    b.length >= 7 && (asciiAt(b, 0, "WARC/0.") || asciiAt(b, 0, "WARC/1."))

  private def asciiAt(b: Array[Byte], off: Int, s: String): Boolean =
    b.length >= off + s.length &&
      (0 until s.length).forall(i => (b(off + i) & 0xff) == s.charAt(i))

  /** Parse a plain (already-decompressed) WARC byte stream. Tolerates
    * missing trailing CRLFs and stops cleanly at truncation; a malformed
    * record header aborts the scan rather than looping. */
  def records(bytes: Array[Byte], maxRecords: Int = PackageLimits.MaxMembers)
      : Vector[Record] = {
    val out = Vector.newBuilder[Record]
    var pos = 0
    var n = 0
    while (pos < bytes.length && n < maxRecords) {
      // skip inter-record CRLF padding
      while (pos < bytes.length && (bytes(pos) == '\r' || bytes(pos) == '\n'))
        pos += 1
      if (pos >= bytes.length) return out.result()
      if (!asciiAt(bytes, pos, "WARC/")) return out.result()
      // header block ends at the first empty line
      val (headers, bodyStart) = parseHeaderBlock(bytes, pos)
      val len = headers.getOrElse("content-length", "").trim match {
        case l if l.forall(_.isDigit) && l.nonEmpty => l.toLong
        case _ => return out.result() // unframeable without a length
      }
      if (len > PackageLimits.MaxMemberBytes)
        throw new ProcessingError(s"WARC record exceeds ${PackageLimits.MaxMemberBytes} bytes")
      val end = math.min(bytes.length.toLong, bodyStart + len).toInt
      out += Record(
        headers.getOrElse("warc-type", "").trim.toLowerCase,
        headers.getOrElse("warc-target-uri", "").trim.stripPrefix("<").stripSuffix(">"),
        headers.getOrElse("content-type", "").trim,
        java.util.Arrays.copyOfRange(bytes, bodyStart.toInt, end))
      n += 1
      pos = end
    }
    out.result()
  }

  /** Header lines from `start` (the WARC/ version line) to the empty
    * line; returns (lower-cased name -> value, offset of the block). */
  private def parseHeaderBlock(bytes: Array[Byte], start: Int)
      : (Map[String, String], Long) = {
    val headers = Map.newBuilder[String, String]
    var pos = lineEnd(bytes, start) // skip the version line itself
    var done = false
    while (!done && pos < bytes.length) {
      val eol = lineEnd(bytes, pos)
      val line = new String(bytes, pos, lineLen(bytes, pos, eol), "UTF-8")
      if (line.isEmpty) done = true
      else {
        val c = line.indexOf(':')
        if (c > 0)
          headers += line.substring(0, c).trim.toLowerCase -> line.substring(c + 1).trim
      }
      pos = eol
    }
    (headers.result(), pos.toLong)
  }

  /** Offset just past the newline terminating the line at `pos`. */
  private def lineEnd(b: Array[Byte], pos: Int): Int = {
    var i = pos
    while (i < b.length && b(i) != '\n') i += 1
    math.min(i + 1, b.length)
  }

  /** Length of the line at `pos` ending before `end`, minus CR/LF. */
  private def lineLen(b: Array[Byte], pos: Int, end: Int): Int = {
    var e = end
    while (e > pos && (b(e - 1) == '\n' || b(e - 1) == '\r')) e -= 1
    e - pos
  }

  final case class HttpResponse(status: Int, contentType: String,
                                body: Array[Byte])

  /** Parse an `application/http; msgtype=response` block: status line,
    * headers, body; decodes chunked transfer-encoding. Returns None when
    * the block isn't an HTTP response. */
  def parseHttpResponse(block: Array[Byte]): Option[HttpResponse] = {
    if (!asciiAt(block, 0, "HTTP/")) return None
    val statusEol = lineEnd(block, 0)
    val statusLine = new String(block, 0, lineLen(block, 0, statusEol), "UTF-8")
    val status = statusLine.split(' ') match {
      case parts if parts.length >= 2 && parts(1).forall(_.isDigit) &&
        parts(1).nonEmpty => parts(1).toInt
      case _ => return None
    }
    var pos = statusEol
    var contentType = ""
    var chunked = false
    var done = false
    while (!done && pos < block.length) {
      val eol = lineEnd(block, pos)
      val line = new String(block, pos, lineLen(block, pos, eol), "UTF-8")
      if (line.isEmpty) done = true
      else {
        val c = line.indexOf(':')
        if (c > 0) {
          val name = line.substring(0, c).trim.toLowerCase
          val value = line.substring(c + 1).trim
          if (name == "content-type") contentType = value
          if (name == "transfer-encoding" && value.toLowerCase.contains("chunked"))
            chunked = true
        }
      }
      pos = eol
    }
    val raw = java.util.Arrays.copyOfRange(block, pos, block.length)
    val body = if (chunked) decodeChunked(raw) else raw
    Some(HttpResponse(status, contentType, body))
  }

  /** RFC 7230 chunked transfer decoding: hex-size line, chunk, CRLF,
    * repeated until a zero-size chunk. Malformed framing yields the bytes
    * decoded so far (extraction robustness over strictness). */
  def decodeChunked(raw: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    var pos = 0
    var done = false
    while (!done && pos < raw.length) {
      val eol = lineEnd(raw, pos)
      val sizeLine = new String(raw, pos, lineLen(raw, pos, eol), "UTF-8")
      val hexPart = sizeLine.split(';')(0).trim // drop chunk extensions
      val size =
        try java.lang.Long.parseLong(hexPart, 16)
        catch { case _: NumberFormatException => -1L }
      if (size <= 0 || eol + size > raw.length) done = true
      else {
        out.write(raw, eol, size.toInt)
        pos = eol + size.toInt
        // exactly one CRLF terminates the chunk data
        if (pos < raw.length && raw(pos) == '\r') pos += 1
        if (pos < raw.length && raw(pos) == '\n') pos += 1
      }
    }
    out.toByteArray
  }

  /** Mime base without parameters: "text/html; charset=utf-8" -> "text/html". */
  def mimeBase(ct: String): String = {
    if (ct == null) return ""
    val semi = ct.indexOf(';')
    (if (semi >= 0) ct.substring(0, semi) else ct).trim.toLowerCase
  }

  /** The records a corpus keeps, as (uri-or-name, mimeHint, payload). */
  def payloads(bytes: Array[Byte]): Vector[(String, String, Array[Byte])] =
    records(bytes).flatMap { r =>
      r.warcType match {
        case "response" if mimeBase(r.contentType).startsWith("application/http") =>
          parseHttpResponse(r.block) match {
            case Some(h) if h.status >= 200 && h.status < 300 && r.targetUri.nonEmpty =>
              Some((r.targetUri, mimeBase(h.contentType), h.body))
            case _ => None
          }
        case "resource" | "conversion" if r.targetUri.nonEmpty =>
          Some((r.targetUri, mimeBase(r.contentType), r.block))
        case _ => None
      }
    }

  /** Decompress a member-concatenated `.warc.gz` (or pass plain bytes
    * through). */
  def plainBytes(bytes: Array[Byte]): Array[Byte] =
    if (bytes.length >= 2 && (bytes(0) & 0xff) == 0x1f && (bytes(1) & 0xff) == 0x8b)
      PackageLimits.readCapped(
        new GZIPInputStream(new ByteArrayInputStream(bytes)),
        PackageLimits.MaxTotalBytes)
    else bytes
}

object WarcExtractor extends Extractor {
  val name = "WARCIngestor"
  val schema = "Package"

  protected def run(doc: RawDoc): ExtractionResult = {
    val plain = Warc.plainBytes(doc.bytes)
    if (!Warc.isWarcMagic(plain))
      throw new ProcessingError("Invalid WARC file: bad magic")
    val recs = Warc.records(plain)
    if (recs.isEmpty)
      throw new ProcessingError("Invalid WARC file: no records")
    var total = 0L
    val children = Warc.payloads(plain).map { case (uri, mime, body) =>
      total += body.length
      if (total > PackageLimits.MaxTotalBytes)
        throw new ProcessingError("Invalid WARC file: expands too large")
      ChildDoc(uri, mime, body)
    }
    ExtractionResult.success(schema,
      properties = Map("recordCount" -> Seq(recs.length.toString)),
      children = children)
  }
}
