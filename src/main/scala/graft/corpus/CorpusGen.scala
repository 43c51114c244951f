package graft.corpus

import graft.core._
import org.apache.spark.sql.{Dataset, SparkSession}
import java.nio.charset.StandardCharsets

/** Deterministic synthetic interleaved-document corpus (FIXTURES.md §3):
  * every byte derives from splitmix64(seed ^ doc index) — no wall clock, no
  * external data. Format mix mirrors the reference's fixture coverage
  * (`/root/reference/tests/fixtures/`); sizes follow a long-tail
  * distribution (a few percent of docs carry most bytes) so the size-aware
  * partitioning is actually exercised. Generation is distributed
  * (spark.range → mapPartitions), so corpus size scales with the cluster. */
object CorpusGen {

  val DefaultSeed = 42L

  // -- deterministic RNG -----------------------------------------------------

  final class Rng(seed0: Long) {
    private var s = seed0
    def nextLong(): Long = {
      s += 0x9e3779b97f4a7c15L
      var z = s
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    def nextInt(bound: Int): Int = {
      val v = nextLong() % bound
      (if (v < 0) v + bound else v).toInt
    }
    def nextDouble(): Double = (nextLong() >>> 11) * 1.1102230246251565e-16
  }

  private val vocab: Array[String] = Array(
    "the", "fast", "key", "order", "sort", "table", "scan", "merge", "part",
    "window", "small", "hash", "join", "batch", "stream", "spark", "data",
    "line", "value", "group", "query", "row", "slow", "filter", "customer",
    "agg", "column", "vector", "big", "dup")

  private val accentWords: Array[String] = Array(
    "crédit", "naïve", "zürich", "françois", "señor", "köln", "münchen",
    "café", "résumé", "garçon")

  def words(rng: Rng, n: Int): Seq[String] =
    (0 until n).map(_ => vocab(rng.nextInt(vocab.length)))

  /** Long-tail word count: pareto-ish, median ~40 words, rare multi-10k. */
  def tailWordCount(rng: Rng): Int = {
    val u = math.max(rng.nextDouble(), 1e-6)
    math.min(20 + (12.0 / math.pow(u, 0.85)).toInt, 60000)
  }

  // -- format renderers (shared with the oracle-able extraction queries) ----

  def renderHtml(title: String, summary: String, keywords: Seq[String],
                 body: String): Array[Byte] = {
    val esc = (s: String) => s.replace("&", "&amp;").replace("<", "&lt;")
      .replace(">", "&gt;").replace("\"", "&quot;")
    val html =
      s"""<!DOCTYPE html>
         |<html>
         |<head>
         |<title>${esc(title)}</title>
         |<meta name="description" content="${esc(summary)}">
         |<meta name="keywords" content="${esc(keywords.mkString(","))}">
         |<style>body { color: black; }</style>
         |<script>var x = "ignored text";</script>
         |</head>
         |<body>
         |<h1>${esc(title)}</h1>
         |<p>${esc(body)}</p>
         |</body>
         |</html>
         |""".stripMargin
    html.getBytes("UTF-8")
  }

  def renderCsv(tokens: Seq[String], perRow: Int = 5): Array[Byte] = {
    val rows = tokens.grouped(perRow).map(_.mkString(",")).mkString("\n")
    ("col_a,col_b,col_c,col_d,col_e\n" + rows + "\n").getBytes("UTF-8")
  }

  def renderJson(title: String, tokens: Seq[String]): Array[Byte] = {
    val esc = (s: String) => s.replace("\\", "\\\\").replace("\"", "\\\"")
    val items = tokens.map(t => "\"" + esc(t) + "\"").mkString(", ")
    s"""{"title": "${esc(title)}", "count": ${tokens.length}, "items": [$items]}"""
      .getBytes("UTF-8")
  }

  def renderXml(tag: String, paragraphs: Seq[String]): Array[Byte] = {
    val esc = (s: String) => s.replace("&", "&amp;").replace("<", "&lt;")
    val body = paragraphs.map(p => s"  <p>${esc(p)}</p>").mkString("\n")
    s"""<?xml version="1.0" encoding="UTF-8"?>
       |<$tag>
       |$body
       |</$tag>
       |""".stripMargin.getBytes("UTF-8")
  }

  def renderEml(subject: String, from: String, to: String, body: String,
                htmlAlt: Boolean, attachment: Option[(String, Array[Byte])]): Array[Byte] = {
    val sb = new StringBuilder
    sb.append(s"From: Sender Person <$from>\r\n")
    sb.append(s"To: Recipient Person <$to>\r\n")
    sb.append(s"Subject: $subject\r\n")
    sb.append("Date: Mon, 3 Feb 2020 10:30:00 +0000\r\n")
    sb.append(s"Message-ID: <${TextUtil.makeId(subject, from)}@graft.test>\r\n")
    sb.append("MIME-Version: 1.0\r\n")
    attachment match {
      case None if !htmlAlt =>
        sb.append("Content-Type: text/plain; charset=utf-8\r\n\r\n")
        sb.append(body).append("\r\n")
      case None =>
        val b = "altbnd42"
        sb.append(s"""Content-Type: multipart/alternative; boundary="$b"\r\n\r\n""")
        sb.append(s"--$b\r\nContent-Type: text/plain; charset=utf-8\r\n\r\n$body\r\n")
        sb.append(s"--$b\r\nContent-Type: text/html; charset=utf-8\r\n\r\n")
        sb.append(s"<html><body><p>$body</p></body></html>\r\n")
        sb.append(s"--$b--\r\n")
      case Some((name, bytes)) =>
        val b = "mixbnd42"
        sb.append(s"""Content-Type: multipart/mixed; boundary="$b"\r\n\r\n""")
        sb.append(s"--$b\r\nContent-Type: text/plain; charset=utf-8\r\n\r\n$body\r\n")
        sb.append(s"--$b\r\nContent-Type: text/plain; charset=utf-8; name=\"$name\"\r\n")
        sb.append(s"Content-Disposition: attachment; filename=\"$name\"\r\n")
        sb.append("Content-Transfer-Encoding: base64\r\n\r\n")
        sb.append(java.util.Base64.getMimeEncoder(72, "\r\n".getBytes)
          .encodeToString(bytes)).append("\r\n")
        sb.append(s"--$b--\r\n")
    }
    sb.toString.getBytes("UTF-8")
  }

  def renderMbox(messages: Seq[Array[Byte]]): Array[Byte] = {
    val sb = new java.io.ByteArrayOutputStream()
    for (m <- messages) {
      sb.write("From alice@graft.test Mon Feb  3 10:30:00 2020\n".getBytes("UTF-8"))
      sb.write(m)
      sb.write('\n')
    }
    sb.toByteArray
  }

  def renderZip(members: Seq[(String, Array[Byte])]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val zos = new java.util.zip.ZipOutputStream(bos)
    for ((name, bytes) <- members) {
      val e = new java.util.zip.ZipEntry(name)
      e.setTime(1580725800000L) // fixed timestamp: byte-deterministic archives
      zos.putNextEntry(e)
      zos.write(bytes)
      zos.closeEntry()
    }
    zos.close()
    bos.toByteArray
  }

  /** Byte-deterministic RAR4 archive with store-method (0x30) members —
    * the roundtrip oracle input for [[graft.extract.RarExtractor]]. Header
    * layout per the public RAR4 block tables (see Rar's scaladoc): each
    * block is crc16(=low 16 bits of CRC32 over the header after the crc
    * field), type, flags, size; file blocks carry pack/unp sizes, host,
    * data CRC, DOS time, version, method, name. */
  /** RAR4 archive writer. `members` are store-method (fully extractable);
    * `compressedNames` marks members to write with method 0x33 ("normal"
    * LZSS compression) and opaque packed bytes — the shape a real RAR has
    * for compressed members, which the extractor must list-then-skip with
    * a failure child (no public codec spec). */
  def renderRar(members: Seq[(String, Array[Byte])],
                compressedNames: Set[String] = Set.empty): Array[Byte] = {
    import java.nio.{ByteBuffer, ByteOrder}
    val bos = new java.io.ByteArrayOutputStream()
    def crc16(h: Array[Byte]): Int = {
      val c = new java.util.zip.CRC32; c.update(h); (c.getValue & 0xffff).toInt
    }
    def writeBlock(h: Array[Byte]): Unit = {
      val c = crc16(h); bos.write(c & 0xff); bos.write((c >> 8) & 0xff)
      bos.write(h)
    }
    bos.write(Array[Byte]('R', 'a', 'r', '!', 0x1a, 0x07, 0x00))
    writeBlock(Array[Byte](0x73, 0x00, 0x00, 0x0d, 0x00, // type, flags, size=13
      0x00, 0x00, 0x00, 0x00, 0x00, 0x00))               // reserved
    for ((name, data) <- members) {
      val compressed = compressedNames.contains(name)
      val nb = name.getBytes("UTF-8")
      val size = 32 + nb.length
      val h = new Array[Byte](size - 2)
      val bb = ByteBuffer.wrap(h).order(ByteOrder.LITTLE_ENDIAN)
      bb.put(0x74.toByte)
      bb.putShort(0x8000.toShort) // LONG_BLOCK: data follows
      bb.putShort(size.toShort)
      bb.putInt(data.length)      // packSize
      // unpSize: for store = pack; compressed members claim a larger one
      bb.putInt(if (compressed) data.length * 3 + 7 else data.length)
      bb.put(3.toByte)            // host: unix
      val dc = new java.util.zip.CRC32; dc.update(data)
      bb.putInt(dc.getValue.toInt)
      bb.putInt(0x50414220)       // fixed DOS mtime: deterministic bytes
      bb.put(if (compressed) 29.toByte else 20.toByte) // unpVer
      bb.put(if (compressed) 0x33.toByte else 0x30.toByte) // method
      bb.putShort(nb.length.toShort)
      bb.putInt(0x81a4)           // attr 0644
      bb.put(nb)
      writeBlock(h)
      bos.write(data)
    }
    writeBlock(Array[Byte](0x7b, 0x00, 0x40, 0x07, 0x00)) // end, flags 0x4000
    bos.toByteArray
  }

  /** Minimal OOXML word document: [Content_Types] manifest + core props +
    * one w:p per paragraph. */
  def renderDocx(title: String, author: String, created: String,
                 paragraphs: Seq[String]): Array[Byte] = {
    val esc = (s: String) => s.replace("&", "&amp;").replace("<", "&lt;")
    val ct =
      """<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
        |<Override PartName="/word/document.xml" ContentType="application/vnd.openxmlformats-officedocument.wordprocessingml.document.main+xml"/>
        |</Types>""".stripMargin
    val doc = "<?xml version=\"1.0\"?><w:document xmlns:w=\"http://schemas.openxmlformats.org/wordprocessingml/2006/main\"><w:body>" +
      paragraphs.map(p => s"<w:p><w:r><w:t>${esc(p)}</w:t></w:r></w:p>").mkString +
      "</w:body></w:document>"
    val core =
      s"""<?xml version="1.0"?><cp:coreProperties xmlns:cp="http://schemas.openxmlformats.org/package/2006/metadata/core-properties" xmlns:dc="http://purl.org/dc/elements/1.1/" xmlns:dcterms="http://purl.org/dc/terms/">
         |<dc:title>${esc(title)}</dc:title><dc:creator>${esc(author)}</dc:creator>
         |<dcterms:created>${created}Z</dcterms:created>
         |</cp:coreProperties>""".stripMargin
    renderZip(Seq(
      ("[Content_Types].xml", ct.getBytes("UTF-8")),
      ("word/document.xml", doc.getBytes("UTF-8")),
      ("docProps/core.xml", core.getBytes("UTF-8"))))
  }

  /** Minimal XLSX: manifest + workbook + one sheet with inline strings. */
  def renderXlsx(sheetName: String, rows: Seq[Seq[String]]): Array[Byte] = {
    val esc = (s: String) => s.replace("&", "&amp;").replace("<", "&lt;")
    val ct =
      """<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
        |<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>
        |</Types>""".stripMargin
    val wb = s"""<?xml version="1.0"?><workbook xmlns="ns"><sheets><sheet name="${esc(sheetName)}" sheetId="1"/></sheets></workbook>"""
    val sheet = "<?xml version=\"1.0\"?><worksheet xmlns=\"ns\"><sheetData>" +
      rows.map { r =>
        "<row>" + r.map(v =>
          s"""<c t="inlineStr"><is><t>${esc(v)}</t></is></c>""").mkString + "</row>"
      }.mkString + "</sheetData></worksheet>"
    renderZip(Seq(
      ("[Content_Types].xml", ct.getBytes("UTF-8")),
      ("xl/workbook.xml", wb.getBytes("UTF-8")),
      ("xl/worksheets/sheet1.xml", sheet.getBytes("UTF-8"))))
  }

  private def xmlEsc(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  /** A realistic boilerplate-heavy page: nav menu, link sidebar, footer —
    * and one article div whose text is the payload. Exercises the
    * text-density main-content heuristic (HtmlDom.mainContent). */
  def renderBoilerplateHtml(title: String, article: String): Array[Byte] = {
    val esc = (s: String) => s.replace("&", "&amp;").replace("<", "&lt;")
    val nav = (1 to 8).map(i => s"""<a href="/s$i">Section number $i</a>""").mkString(" | ")
    val side = (1 to 10).map(i =>
      s"""<a href="/rel$i">Related reading item $i</a>""").mkString("<br>")
    val html =
      s"""<!DOCTYPE html><html><head><title>${esc(title)}</title></head>
         |<body>
         |<div class="menu">$nav</div>
         |<div class="wrap">
         |<div class="sidebar">$side<br>Subscribe to the newsletter today</div>
         |<div class="article"><p>${esc(article)}</p></div>
         |</div>
         |<div class="footer">Copyright legal terms privacy contact
         |<a href="/a">about</a> <a href="/b">jobs</a> <a href="/c">press</a></div>
         |</body></html>""".stripMargin
    html.getBytes("UTF-8")
  }

  /** Minimal ODT: content.xml paragraphs (+ mimetype entry like real ODF). */
  def renderOdt(paragraphs: Seq[String]): Array[Byte] = {
    val content =
      """<?xml version="1.0"?><office:document-content
        | xmlns:office="urn:oasis:names:tc:opendocument:xmlns:office:1.0"
        | xmlns:text="urn:oasis:names:tc:opendocument:xmlns:text:1.0">
        |<office:body><office:text>""".stripMargin +
        paragraphs.map(p => s"<text:p>${xmlEsc(p)}</text:p>").mkString +
        "</office:text></office:body></office:document-content>"
    renderZip(Seq(
      ("mimetype", "application/vnd.oasis.opendocument.text".getBytes("UTF-8")),
      ("content.xml", content.getBytes("UTF-8"))))
  }

  /** Minimal ODS: one table of rows. */
  def renderOds(sheetName: String, rows: Seq[Seq[String]]): Array[Byte] = {
    val content =
      """<?xml version="1.0"?><office:document-content
        | xmlns:office="urn:oasis:names:tc:opendocument:xmlns:office:1.0"
        | xmlns:table="urn:oasis:names:tc:opendocument:xmlns:table:1.0"
        | xmlns:text="urn:oasis:names:tc:opendocument:xmlns:text:1.0">
        |<office:body><office:spreadsheet>""".stripMargin +
        s"""<table:table table:name="${xmlEsc(sheetName)}">""" +
        rows.map(r => "<table:table-row>" + r.map(v =>
          s"<table:table-cell><text:p>${xmlEsc(v)}</text:p></table:table-cell>")
          .mkString + "</table:table-row>").mkString +
        "</table:table></office:spreadsheet></office:body></office:document-content>"
    renderZip(Seq(
      ("mimetype", "application/vnd.oasis.opendocument.spreadsheet".getBytes("UTF-8")),
      ("content.xml", content.getBytes("UTF-8"))))
  }

  /** Minimal SVG with a text node. */
  def renderSvg(text: String): Array[Byte] =
    (s"""<?xml version="1.0"?><svg xmlns="http://www.w3.org/2000/svg">""" +
      s"<text>${xmlEsc(text)}</text></svg>").getBytes("UTF-8")

  /** Apple emlx: byte-length prefix line + RFC822 payload + plist tail. */
  def renderEmlx(eml: Array[Byte]): Array[Byte] = {
    val prefix = (eml.length.toString + "\n").getBytes("US-ASCII")
    val plist = "<?xml version=\"1.0\"?><plist><dict/></plist>".getBytes("UTF-8")
    prefix ++ eml ++ plist
  }

  /** Outlook .msg via the CFBF writer (subject/body/sender/recipient,
    * optional attachment). */
  def renderMsg(subject: String, body: String,
                attachment: Option[(String, Array[Byte])] = None): Array[Byte] = {
    def u16(s: String) = s.getBytes("UTF-16LE")
    val base = Seq(
      "__substg1.0_0037001F" -> u16(subject),
      "__substg1.0_1000001F" -> u16(body),
      "__substg1.0_0C1F001F" -> u16("alice@graft.test"),
      "__recip_version1.0_#00000000/__substg1.0_39FE001F" ->
        u16("bob@graft.test"))
    val attach = attachment.toSeq.flatMap { case (name, bytes) =>
      Seq("__attach_version1.0_#00000000/__substg1.0_37010102" -> bytes,
        "__attach_version1.0_#00000000/__substg1.0_3707001F" -> u16(name))
    }
    graft.extract.Cfbf.write(base ++ attach)
  }

  /** Minimal OLM archive: one OPF message XML inside the zip. */
  def renderOlm(subject: String, body: String): Array[Byte] = {
    val xml =
      s"""<?xml version="1.0"?><emails><email>
         |<OPFMessageCopySubject>${xmlEsc(subject)}</OPFMessageCopySubject>
         |<OPFMessageCopyMessageID>mid-${subject.hashCode}</OPFMessageCopyMessageID>
         |<OPFMessageCopyFromAddresses>
         |<emailAddress OPFContactEmailAddressAddress="alice@graft.test"/>
         |</OPFMessageCopyFromAddresses>
         |<OPFMessageCopyBody>${xmlEsc(body)}</OPFMessageCopyBody>
         |</email></emails>""".stripMargin
    renderZip(Seq(
      ("Accounts/main/Inbox/message_0001.xml", xml.getBytes("UTF-8"))))
  }

  /** Minimal JPEG wrapping an EXIF APP1 (Make/Model/DateTime TIFF IFD) and
    * an SOF0 with real dimensions — no pixel data needed for metadata. */
  def renderJpegExif(make: String, model: String, dateTime: String,
                     width: Int, height: Int): Array[Byte] = {
    val tiff = graft.extract.Exif.writeTiff(make, model, dateTime)
    val out = new java.io.ByteArrayOutputStream()
    def w(bs: Int*): Unit = bs.foreach(b => out.write(b & 0xff))
    w(0xff, 0xd8) // SOI
    val app1len = 2 + 6 + tiff.length
    w(0xff, 0xe1, (app1len >> 8) & 0xff, app1len & 0xff)
    out.write("Exif".getBytes("US-ASCII")); w(0, 0)
    out.write(tiff)
    // SOF0, 1 component, 8-bit: len 11
    w(0xff, 0xc0, 0, 11, 8,
      (height >> 8) & 0xff, height & 0xff,
      (width >> 8) & 0xff, width & 0xff,
      1, 0x11, 0x11, 0)
    w(0xff, 0xd9) // EOI
    out.toByteArray
  }

  /** Minimal RIFF/WAVE: fmt (16-bit mono PCM at sampleRate) + zeroed data
    * chunk — duration = dataSize·1000 / byteRate. */
  def renderWav(sampleRate: Int, dataSize: Int): Array[Byte] = {
    def le32(v: Int) = Array[Byte]((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def le16(v: Int) = Array[Byte]((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    val byteRate = sampleRate * 2
    val fmt = "fmt ".getBytes("ISO-8859-1") ++ le32(16) ++
      le16(1) ++ le16(1) ++ le32(sampleRate) ++ le32(byteRate) ++
      le16(2) ++ le16(16)
    val data = "data".getBytes("ISO-8859-1") ++ le32(dataSize) ++
      new Array[Byte](dataSize)
    val body = "WAVE".getBytes("ISO-8859-1") ++ fmt ++ data
    "RIFF".getBytes("ISO-8859-1") ++ le32(body.length) ++ body
  }

  /** Minimal MP3: ID3v2.3 (TIT2 title + TLEN duration) + one valid MPEG1
    * Layer III 128kbps/44100 frame header + filler. */
  def renderMp3(title: String, durMs: Long): Array[Byte] = {
    def frame(id: String, text: String): Array[Byte] = {
      val payload = Array[Byte](0) ++ text.getBytes("ISO-8859-1")
      id.getBytes("ISO-8859-1") ++
        Array[Byte](((payload.length >> 24) & 0xff).toByte,
          ((payload.length >> 16) & 0xff).toByte,
          ((payload.length >> 8) & 0xff).toByte,
          (payload.length & 0xff).toByte, 0, 0) ++ payload
    }
    val frames = frame("TIT2", title) ++ frame("TLEN", durMs.toString)
    val sz = frames.length
    val hdr = "ID3".getBytes("ISO-8859-1") ++ Array[Byte](3, 0, 0,
      ((sz >> 21) & 0x7f).toByte, ((sz >> 14) & 0x7f).toByte,
      ((sz >> 7) & 0x7f).toByte, (sz & 0x7f).toByte)
    hdr ++ frames ++ Array[Byte](0xff.toByte, 0xfb.toByte, 0x90.toByte, 0) ++
      new Array[Byte](413)
  }

  /** Minimal BIFF8 .xls: CFBF container with a Workbook stream — globals
    * (BOF, BOUNDSHEET, SST) + one worksheet of LABELSST cells. All strings
    * ride the SST as UTF-16 (flags=1), mirroring what XlsExtractor reads. */
  def renderXls(sheetName: String, rows: Seq[Seq[String]]): Array[Byte] = {
    def u16b(v: Int) = Array[Byte]((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    def i32b(v: Int) = Array[Byte]((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def rec(id: Int, body: Array[Byte]): Array[Byte] =
      u16b(id) ++ u16b(body.length) ++ body
    def bof(dt: Int) = rec(0x0809,
      u16b(0x0600) ++ u16b(dt) ++ u16b(0x0dbb) ++ u16b(0x07cc) ++
        i32b(0) ++ i32b(0))
    val eof = rec(0x000a, Array.empty)

    // unique strings → SST order
    val strings = rows.flatten.map(_.take(255)).distinct.toVector
    val sstIndex = strings.zipWithIndex.toMap
    val sstBody = i32b(rows.map(_.length).sum) ++ i32b(strings.length) ++
      strings.toArray.flatMap(s =>
        u16b(s.length) ++ Array[Byte](1) ++ s.getBytes("UTF-16LE"))
    val cells = rows.zipWithIndex.flatMap { case (r, ri) =>
      r.zipWithIndex.map { case (v, ci) =>
        rec(0x00fd, u16b(ri) ++ u16b(ci) ++ u16b(0) ++ i32b(sstIndex(v.take(255))))
      }
    }
    val sheet = bof(0x0010) ++ cells.flatten ++ eof

    val nameBytes = sheetName.take(100).getBytes("UTF-16LE")
    def globals(plyPos: Int) = bof(0x0005) ++
      rec(0x0085, i32b(plyPos) ++ u16b(0) ++
        Array[Byte](sheetName.take(100).length.toByte, 1) ++ nameBytes) ++
      rec(0x00fc, sstBody) ++ eof
    val glen = globals(0).length
    val workbook = globals(glen) ++ sheet
    graft.extract.Cfbf.write(Seq("Workbook" -> workbook))
  }

  /** Minimal well-formed PDF: catalog → pages → one content stream per
    * page, Helvetica, one text line per `Tj` with explicit leading. */
  def renderPdf(pages: Seq[Seq[String]], title: String = ""): Array[Byte] = {
    val sb = new StringBuilder
    val offsets = scala.collection.mutable.ArrayBuffer.empty[Int]
    def obj(body: String): Int = {
      val num = offsets.length + 1
      offsets += sb.length
      sb.append(s"$num 0 obj\n$body\nendobj\n")
      num
    }
    def esc(s: String) = s.replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)")
    sb.append("%PDF-1.4\n")
    val nPages = pages.length
    // object numbering plan: 1=catalog, 2=pages, then per page (page, content), then font, info
    val catalogNum = 1
    val pagesNum = 2
    val fontNum = 3 + 2 * nPages
    val infoNum = fontNum + 1
    obj(s"<< /Type /Catalog /Pages $pagesNum 0 R >>")
    val kidRefs = (0 until nPages).map(i => s"${3 + 2 * i} 0 R").mkString(" ")
    obj(s"<< /Type /Pages /Kids [ $kidRefs ] /Count $nPages >>")
    for (p <- pages) {
      val pageNum = offsets.length + 1
      obj(s"<< /Type /Page /Parent $pagesNum 0 R /MediaBox [0 0 612 792] " +
        s"/Resources << /Font << /F1 $fontNum 0 R >> >> /Contents ${pageNum + 1} 0 R >>")
      val content = new StringBuilder("BT /F1 12 Tf 72 720 Td\n")
      p.zipWithIndex.foreach { case (line, li) =>
        if (li > 0) content.append("0 -14 Td\n")
        content.append(s"(${esc(line)}) Tj\n")
      }
      content.append("ET")
      obj(s"<< /Length ${content.length} >>\nstream\n$content\nendstream")
    }
    obj("<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    obj(s"<< /Title (${esc(title)}) /Producer (graft-gen) >>")
    val xrefPos = sb.length
    sb.append(s"xref\n0 ${offsets.length + 1}\n0000000000 65535 f \n")
    offsets.foreach(o => sb.append(f"$o%010d 00000 n \n"))
    sb.append(s"trailer\n<< /Size ${offsets.length + 1} /Root $catalogNum 0 R /Info $infoNum 0 R >>\n")
    sb.append(s"startxref\n$xrefPos\n%%EOF\n")
    sb.toString.getBytes(StandardCharsets.ISO_8859_1)
  }

  /** Single-page PDF exercising the reference's OCR trigger
    * (`support/pdf.py:105-147`): a `decoyText` text layer drawn with /F1,
    * an embedded image XObject /Im1 carrying `imageBytes`, and — when
    * `type3` — /F1 declared as a Type3 font, which makes the reference
    * (and our extractor) DISCARD the text layer and OCR the page images
    * instead. With `type3=false` the layer survives and image OCR text is
    * appended, the reference's normal-page behavior. The XObject stream
    * carries the raster bytes unfiltered — the stand-in for fitz
    * `extract_image`'s embedded-file bytes. */
  def renderPdfOcr(decoyText: String, imageBytes: Array[Byte],
                   title: String = "", type3: Boolean = true): Array[Byte] = {
    val sb = new StringBuilder
    val offsets = scala.collection.mutable.ArrayBuffer.empty[Int]
    def obj(body: String): Int = {
      val num = offsets.length + 1
      offsets += sb.length
      sb.append(s"$num 0 obj\n$body\nendobj\n")
      num
    }
    def esc(s: String) = s.replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)")
    sb.append("%PDF-1.4\n%âãÏÓ\n")
    obj("<< /Type /Catalog /Pages 2 0 R >>")
    obj("<< /Type /Pages /Kids [ 3 0 R ] /Count 1 >>")
    obj("<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
      "/Resources << /Font << /F1 5 0 R >> /XObject << /Im1 6 0 R >> >> " +
      "/Contents 4 0 R >>")
    val content = s"BT /F1 12 Tf 72 720 Td (${esc(decoyText)}) Tj ET\n" +
      "q 468 0 0 360 72 300 cm /Im1 Do Q"
    obj(s"<< /Length ${content.length} >>\nstream\n$content\nendstream")
    if (type3)
      obj("<< /Type /Font /Subtype /Type3 " +
        "/FontMatrix [0.001 0 0 0.001 0 0] /CharProcs << >> " +
        "/FontBBox [0 0 1000 1000] /FirstChar 0 /LastChar 0 /Widths [] >>")
    else
      obj("<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    offsets += sb.length
    sb.append(s"6 0 obj\n<< /Subtype /Image /Width 100 /Height 100 " +
      s"/ColorSpace /DeviceRGB /BitsPerComponent 8 " +
      s"/Length ${imageBytes.length} >>\nstream\n")
    sb.append(new String(imageBytes, StandardCharsets.ISO_8859_1))
    sb.append("\nendstream\nendobj\n")
    obj(s"<< /Title (${esc(title)}) /Producer (graft-gen) >>")
    val xrefPos = sb.length
    sb.append(s"xref\n0 ${offsets.length + 1}\n0000000000 65535 f \n")
    offsets.foreach(o => sb.append(f"$o%010d 00000 n \n"))
    sb.append(s"trailer\n<< /Size ${offsets.length + 1} /Root 1 0 R /Info 7 0 R >>\n")
    sb.append(s"startxref\n$xrefPos\n%%EOF\n")
    sb.toString.getBytes(StandardCharsets.ISO_8859_1)
  }

  def renderGzip(bytes: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(bytes)
    gz.close()
    bos.toByteArray
  }

  /** WARC file with the record mix a crawl produces: warcinfo + request
    * decoys, a 200 HTML response, a chunked-transfer 200 text response, a
    * 404 response, revisit + metadata decoys — only the two 200s should
    * surface as children. `gzipMembers` emits the Common Crawl
    * member-per-record `.warc.gz` convention. */
  def renderWarc(id: Long, html: Array[Byte], noteText: String,
                 gzipMembers: Boolean,
                 footerHtml: Option[Array[Byte]] = None): Array[Byte] = {
    val pageUri = s"http://graft.test/doc$id/page.html"
    val noteUri = s"http://graft.test/doc$id/notes.txt"
    val crlf2 = "\r\n\r\n".getBytes("UTF-8")
    def record(tpe: String, uri: String, ctype: String,
               block: Array[Byte]): Array[Byte] = {
      val sb = new StringBuilder
      sb.append("WARC/1.0\r\n")
      sb.append(s"WARC-Type: $tpe\r\n")
      sb.append(s"WARC-Record-ID: <urn:uuid:doc$id-$tpe-${block.length}>\r\n")
      sb.append("WARC-Date: 2020-01-01T00:00:00Z\r\n")
      if (uri.nonEmpty) sb.append(s"WARC-Target-URI: $uri\r\n")
      sb.append(s"Content-Type: $ctype\r\n")
      sb.append(s"Content-Length: ${block.length}\r\n\r\n")
      sb.toString.getBytes("UTF-8") ++ block ++ crlf2
    }
    def http200(ctype: String, body: Array[Byte],
                chunked: Boolean): Array[Byte] = {
      if (!chunked)
        (s"HTTP/1.1 200 OK\r\nContent-Type: $ctype\r\n" +
          s"Content-Length: ${body.length}\r\n\r\n").getBytes("UTF-8") ++ body
      else {
        val half = body.length / 2
        val out = new java.io.ByteArrayOutputStream()
        out.write((s"HTTP/1.1 200 OK\r\nContent-Type: $ctype\r\n" +
          "Transfer-Encoding: chunked\r\n\r\n").getBytes("UTF-8"))
        for (c <- Seq(body.slice(0, half), body.slice(half, body.length))
             if c.nonEmpty) {
          out.write(java.lang.Integer.toHexString(c.length).getBytes("UTF-8"))
          out.write('\r'); out.write('\n')
          out.write(c)
          out.write('\r'); out.write('\n')
        }
        out.write("0\r\n\r\n".getBytes("UTF-8"))
        out.toByteArray
      }
    }
    val recs = Seq(
      record("warcinfo", "", "application/warc-fields",
        "software: graft-corpusgen\r\n".getBytes("UTF-8")),
      record("request", pageUri, "application/http; msgtype=request",
        s"GET /doc$id/page.html HTTP/1.1\r\nHost: graft.test\r\n\r\n"
          .getBytes("UTF-8")),
      record("response", pageUri, "application/http; msgtype=response",
        http200("text/html; charset=utf-8", html, chunked = false)),
      record("response", noteUri, "application/http; msgtype=response",
        http200("text/plain; charset=utf-8", noteText.getBytes("UTF-8"),
          chunked = true)),
      record("response", s"http://graft.test/doc$id/missing.txt",
        "application/http; msgtype=response",
        "HTTP/1.1 404 Not Found\r\nContent-Type: text/plain\r\n\r\nnot here"
          .getBytes("UTF-8")),
      record("revisit", pageUri, "application/http; msgtype=response",
        Array.empty[Byte]),
      record("metadata", pageUri, "application/warc-fields",
        "fetchTimeMs: 12\r\n".getBytes("UTF-8"))) ++
      // optional site-shared footer page (a third 2xx payload): the
      // cross-site boilerplate the t_web_pipeline composition strips
      footerHtml.map(f => record("response",
        s"http://graft.test/doc$id/footer.html",
        "application/http; msgtype=response",
        http200("text/html; charset=utf-8", f, chunked = false))).toSeq
    if (gzipMembers) recs.map(renderGzip).reduce(_ ++ _)
    else recs.reduce(_ ++ _)
  }

  def renderTar(members: Seq[(String, Array[Byte])]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    for ((name, bytes) <- members) {
      val header = new Array[Byte](512)
      val nb = name.getBytes("UTF-8").take(100)
      System.arraycopy(nb, 0, header, 0, nb.length)
      def octal(v: Long, off: Int, len: Int): Unit = {
        val s = java.lang.Long.toOctalString(v)
        val padded = ("0" * (len - 1 - s.length)) + s
        System.arraycopy(padded.getBytes("US-ASCII"), 0, header, off,
          math.min(padded.length, len - 1))
      }
      octal(420, 100, 8)          // mode 0644
      octal(0, 108, 8); octal(0, 116, 8)
      octal(bytes.length, 124, 12)
      octal(1580725800L, 136, 12) // fixed mtime
      header(156) = '0'
      System.arraycopy("ustar 00".getBytes("US-ASCII"), 0, header, 257, 8)
      java.util.Arrays.fill(header, 148, 156, ' '.toByte)
      var sum = 0L
      header.foreach(b => sum += (b & 0xff))
      val cs = java.lang.Long.toOctalString(sum)
      val csPad = ("0" * (6 - cs.length)) + cs
      System.arraycopy(csPad.getBytes("US-ASCII"), 0, header, 148, 6)
      header(154) = 0; header(155) = ' '
      bos.write(header)
      bos.write(bytes)
      val pad = (512 - bytes.length % 512) % 512
      bos.write(new Array[Byte](pad))
    }
    bos.write(new Array[Byte](1024))
    bos.toByteArray
  }

  // -- document synthesis ----------------------------------------------------

  final case class GenDoc(doc_id: String, file_name: String, format: String,
                          bytes: Array[Byte])

  val formats: Vector[(String, Int)] = Vector(
    "html" -> 22, "txt" -> 11, "txt_latin1" -> 3, "txt_utf16" -> 2,
    "csv" -> 9, "json" -> 8, "xml" -> 5, "pdf" -> 7, "eml" -> 7,
    "eml_alt" -> 4, "eml_attach" -> 4, "mbox" -> 4, "zip" -> 6,
    "zip_nested" -> 2, "gz" -> 3, "bz2" -> 2, "7z" -> 1, "tar" -> 2,
    "msg" -> 3, "dbf" -> 2,
    "docx" -> 4, "xlsx" -> 3, "xls" -> 2, "vcf" -> 1, "ics" -> 1,
    "empty" -> 1, "garbage" -> 2)

  private val totalWeight = formats.map(_._2).sum

  def formatFor(rng: Rng): String = {
    var pick = rng.nextInt(totalWeight)
    for ((f, w) <- formats) {
      if (pick < w) return f
      pick -= w
    }
    "txt"
  }

  def generate(seed: Long, idx: Long): GenDoc = {
    val rng = new Rng(seed ^ (idx * 0x5851f42d4c957f2dL))
    val fmt = formatFor(rng)
    val id = s"doc$idx"
    val nWords = tailWordCount(rng)
    val body = words(rng, nWords).mkString(" ")
    val title = s"Title ${words(rng, 2).mkString(" ")} $idx"
    val tokens = words(rng, math.min(nWords, 2000))
    fmt match {
      case "html" => GenDoc(id, s"$id.html", fmt,
        renderHtml(title, s"Summary of $id", words(rng, 3).distinct, body))
      case "txt" => GenDoc(id, s"$id.txt", fmt, body.getBytes("UTF-8"))
      case "txt_latin1" =>
        val t = (accentWords(rng.nextInt(accentWords.length)) + " " + body).take(4000)
        GenDoc(id, s"$id.txt", fmt, t.getBytes("windows-1252"))
      case "txt_utf16" =>
        GenDoc(id, s"$id.txt", fmt, body.take(4000).getBytes("UTF-16LE"))
      case "csv" => GenDoc(id, s"$id.csv", fmt, renderCsv(tokens))
      case "json" => GenDoc(id, s"$id.json", fmt, renderJson(title, tokens))
      case "xml" => GenDoc(id, s"$id.xml", fmt,
        renderXml("doc", body.split(" ").grouped(12).map(_.mkString(" ")).toSeq.take(50)))
      case "pdf" =>
        val pages = body.split(" ").grouped(10).map(_.mkString(" "))
          .grouped(6).map(_.toSeq).toSeq.take(40)
        GenDoc(id, s"$id.pdf", fmt, renderPdf(pages, title))
      case "eml" => GenDoc(id, s"$id.eml", fmt,
        renderEml(title, "alice@graft.test", "bob@graft.test", body, htmlAlt = false, None))
      case "eml_alt" => GenDoc(id, s"$id.eml", fmt,
        renderEml(title, "alice@graft.test", "bob@graft.test",
          body.take(2000), htmlAlt = true, None))
      case "eml_attach" => GenDoc(id, s"$id.eml", fmt,
        renderEml(title, "carol@graft.test", "dave@graft.test", body.take(1000),
          htmlAlt = false,
          Some((s"note$idx.txt", words(rng, 30).mkString(" ").getBytes("UTF-8")))))
      case "mbox" =>
        val msgs = (0 until 1 + rng.nextInt(3)).map { m =>
          renderEml(s"$title part $m", "alice@graft.test", "bob@graft.test",
            words(rng, 40).mkString(" "), htmlAlt = false, None)
        }
        GenDoc(id, s"$id.mbox", fmt, renderMbox(msgs))
      case "zip" =>
        GenDoc(id, s"$id.zip", fmt, renderZip(Seq(
          (s"inner$idx.html", renderHtml(title, "", Nil, body.take(3000))),
          (s"inner$idx.txt", words(rng, 50).mkString(" ").getBytes("UTF-8")),
          (s"data/inner$idx.csv", renderCsv(words(rng, 25))))))
      case "zip_nested" =>
        val inner = renderZip(Seq(
          (s"deep$idx.txt", words(rng, 30).mkString(" ").getBytes("UTF-8"))))
        GenDoc(id, s"$id.zip", fmt, renderZip(Seq(
          (s"nested$idx.zip", inner),
          (s"top$idx.txt", words(rng, 20).mkString(" ").getBytes("UTF-8")))))
      case "gz" =>
        GenDoc(id, s"$id.txt.gz", fmt, renderGzip(body.take(8000).getBytes("UTF-8")))
      case "bz2" =>
        GenDoc(id, s"$id.txt.bz2", fmt,
          graft.extract.Bzip2.compress(body.take(8000).getBytes("UTF-8")))
      case "7z" =>
        GenDoc(id, s"$id.7z", fmt, graft.extract.SevenZipWriter.write(
          s"m$idx.txt", body.take(8000).getBytes("UTF-8")))
      case "tar" =>
        GenDoc(id, s"$id.tar", fmt, renderTar(Seq(
          (s"a$idx.txt", words(rng, 40).mkString(" ").getBytes("UTF-8")),
          (s"b$idx.json", renderJson(title, words(rng, 15))))))
      case "docx" =>
        GenDoc(id, s"$id.docx", fmt, renderDocx(title, "Gen Author",
          "2015-09-07T10:57:00",
          body.split(" ").grouped(12).map(_.mkString(" ")).toSeq.take(200)))
      case "xlsx" =>
        GenDoc(id, s"$id.xlsx", fmt,
          renderXlsx("Sheet1", words(rng, 24).grouped(4).map(_.toSeq).toSeq))
      case "xls" =>
        GenDoc(id, s"$id.xls", fmt,
          renderXls("Sheet1", words(rng, 24).grouped(4).map(_.toSeq).toSeq))
      case "msg" =>
        val subj = title
        def u16(s: String) = s.getBytes("UTF-16LE")
        GenDoc(id, s"$id.msg", fmt, graft.extract.Cfbf.write(Seq(
          "__substg1.0_0037001F" -> u16(subj),
          "__substg1.0_1000001F" -> u16(body.take(2000)),
          "__substg1.0_0C1F001F" -> u16("alice@graft.test"),
          "__recip_version1.0_#00000000/__substg1.0_39FE001F" ->
            u16("bob@graft.test"))))
      case "dbf" =>
        val rows = words(rng, 30).grouped(3)
          .map(g => g.map(_.take(12)).toSeq).toSeq
        GenDoc(id, s"$id.dbf", fmt, graft.extract.DbfWriter.write(
          Seq(("COL_A", 12), ("COL_B", 12), ("COL_C", 12)), rows))
      case "vcf" =>
        val n = words(rng, 2).map(_.capitalize).mkString(" ")
        val v = s"BEGIN:VCARD\r\nVERSION:3.0\r\nFN:$n\r\nEMAIL:user$idx@graft.test\r\nEND:VCARD\r\n"
        GenDoc(id, s"$id.vcf", fmt, v.getBytes("UTF-8"))
      case "ics" =>
        val s = words(rng, 3).mkString(" ")
        val v = "BEGIN:VCALENDAR\r\nBEGIN:VEVENT\r\n" +
          s"SUMMARY:$s\r\nORGANIZER:mailto:host$idx@graft.test\r\n" +
          "END:VEVENT\r\nEND:VCALENDAR\r\n"
        GenDoc(id, s"$id.ics", fmt, v.getBytes("UTF-8"))
      case "empty" => GenDoc(id, s"$id.bin", fmt, Array.empty[Byte])
      case "garbage" =>
        val junk = new Array[Byte](64 + rng.nextInt(512))
        junk.indices.foreach(i => junk(i) = rng.nextLong().toByte)
        // avoid accidental magic prefixes
        junk(0) = 0x01; if (junk.length > 1) junk(1) = 0x02
        GenDoc(id, s"$id.bin", fmt, junk)
      case other => GenDoc(id, s"$id.txt", other, body.getBytes("UTF-8"))
    }
  }

  /** Distributed corpus as (docs, blobs) — the input-table shape of
    * BASELINE.json.input_hint. */
  def corpus(spark: SparkSession, n: Long, seed: Long = DefaultSeed)
      : (Dataset[DocRow], Dataset[Blob]) = {
    import spark.implicits._
    val gens = spark.range(n).mapPartitions(_.map(i => {
      val g = generate(seed, i)
      (g.doc_id, g.file_name, TextUtil.sha1Hex(g.bytes), g.bytes)
    }))
    val docs = gens.map { case (id, fn, h, _) =>
      DocRow(id, Seq(Span("raw", fn, h, 0)))
    }
    val blobs = gens.map { case (_, _, h, b) => Blob(h, b) }
      .dropDuplicates("media_ref").as[Blob]
    (docs, blobs)
  }

  def sfFromDir(sfDir: String): Double = {
    val m = """sf([0-9.]+)""".r.findFirstMatchIn(sfDir)
    m.map(_.group(1).toDouble).getOrElse(0.01)
  }
}
