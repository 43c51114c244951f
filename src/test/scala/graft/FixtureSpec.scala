package graft

import graft.core.{ExtractionResult, ProcessingError}
import graft.extract._
import graft.pipeline.Dispatch
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}

/** Real-fixture parity: run the extractors over the reference's own test
  * fixtures (read-only at /root/reference/tests/fixtures) and assert the
  * goldens its pytest suite publishes — converting "synthetic-roundtrip
  * correct" into "reference-correct". Source for each golden is cited. */
class FixtureSpec extends AnyFunSuite {

  private val dir = Paths.get("/root/reference/tests/fixtures")

  private def bytes(name: String): Array[Byte] =
    Files.readAllBytes(dir.resolve(name))

  private def ingest(name: String, mime: String = ""): Dispatch.Ingested =
    Dispatch.ingest(name, mime, bytes(name))

  private def assume_(name: String): Unit =
    assume(Files.exists(dir.resolve(name)), s"fixture $name missing")

  /** The fixture `name`'s bytes, or, where the fixture is absent, a
    * synthesized input of the same format; None for formats nothing here
    * writes. */
  private def input(name: String): Option[Array[Byte]] =
    if (Files.exists(dir.resolve(name))) Some(bytes(name))
    else name.substring(name.lastIndexOf('.') + 1) match {
      case "gif" =>
        val out = new java.io.ByteArrayOutputStream()
        val img = new java.awt.image.BufferedImage(7, 5,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        assert(javax.imageio.ImageIO.write(img, "gif", out))
        Some(out.toByteArray)
      case "jpg" => Some(graft.queries.QueryLib.render("jpg_exif", 1, "")._2)
      case "tif" => Some(graft.queries.QueryLib.render("tiff_exif", 1, "")._2)
      case ext @ ("html" | "pdf" | "csv" | "xls" | "xlsx" | "docx" | "ods" | "eml" |
                  "zip" | "svg" | "json" | "txt" | "vcf" | "ics" | "dbf") =>
        Some(graft.queries.QueryLib.render(ext, 1,
          "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu")._2)
      case _ => None
    }

  /** Files in the fixture directory; empty where the directory is absent. */
  private def fixtureFiles: Array[java.io.File] =
    Option(new java.io.File(dir.toFile.getPath).listFiles())
      .getOrElse(Array.empty[java.io.File])

  // ---- tabular (tests/test_tabular.py, test_csv.py) ----------------------

  test("BIFF SST spanning CONTINUE records decodes (incl. mid-string grbit restart)") {
    def u16b(v: Int) = Array[Byte]((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    def i32b(v: Int) = Array[Byte]((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def rec(id: Int, body: Array[Byte]) = u16b(id) ++ u16b(body.length) ++ body
    val bof = (dt: Int) => rec(0x0809, u16b(0x0600) ++ u16b(dt) ++
      u16b(0) ++ u16b(0) ++ i32b(0) ++ i32b(0))
    val eof = rec(0x000a, Array.empty[Byte])
    // SST: one compressed string "firstHALF|secondHALF" split mid-string:
    // the SST record carries "firstHALF" chars; the CONTINUE restarts with
    // its own grbit byte (1 = 16-bit) for "|secondHALF" in UTF-16
    val part1 = "firstHALF"
    val part2 = "|secondHALF"
    val full = part1 + part2
    val sstBody = i32b(1) ++ i32b(1) ++
      u16b(full.length) ++ Array[Byte](0) ++ part1.getBytes("ISO-8859-1")
    val contBody = Array[Byte](1) ++ part2.getBytes("UTF-16LE")
    val cell = rec(0x00fd, u16b(0) ++ u16b(0) ++ u16b(0) ++ i32b(0))
    val nameB = "S".getBytes("UTF-16LE")
    def globals(pos: Int) = bof(0x0005) ++
      rec(0x0085, i32b(pos) ++ u16b(0) ++ Array[Byte](1, 1) ++ nameB) ++
      rec(0x00fc, sstBody) ++ rec(0x003c, contBody) ++ eof
    val glen = globals(0).length
    val stream = globals(glen) ++ bof(0x0010) ++ cell ++ eof
    val bytes = Cfbf.write(Seq("Workbook" -> stream))
    val r = XlsExtractor.extract(RawDoc("d", "cont.xls",
      "application/vnd.ms-excel", bytes))
    assert(r.status == ExtractionResult.Success, r.error)
    assert(r.spans.map(_.text) == Vector(full), r.spans.map(_.text))
  }

  test("rom.xls: unicode sheet name Лист1, success (test_tabular.py test_unicode_xls)") {
    assume_("rom.xls")
    val r = XlsExtractor.extract(RawDoc("d", "rom.xls",
      "application/vnd.ms-excel", bytes("rom.xls")))
    assert(r.status == ExtractionResult.Success, r.error)
    assert(r.properties.getOrElse("sheets", Nil).contains("Лист1"),
      r.properties.get("sheets"))
    assert(r.spans.nonEmpty)
  }

  test("password_protected.xls: ENCRYPTED_MSG failure (test_tabular.py)") {
    assume_("password_protected.xls")
    val r = XlsExtractor.extract(RawDoc("d", "password_protected.xls", "",
      bytes("password_protected.xls")))
    assert(r.status == ExtractionResult.Failure)
    assert(r.error == ProcessingError.EncryptedMsg)
  }

  test("file.xlsx: sheets + Mihai Viteazul + rowCount (test_tabular.py test_simple_xlsx)") {
    assume_("file.xlsx")
    val r = XlsxExtractor.extract(RawDoc("d", "file.xlsx", "", bytes("file.xlsx")))
    assert(r.status == ExtractionResult.Success, r.error)
    val sheets = r.properties.getOrElse("sheets", Nil)
    assert(sheets.contains("Sheet1"), sheets)
    assert(sheets.length == 2, sheets)
    assert(r.spans.exists(_.text.contains("Mihai Viteazul")),
      r.spans.map(_.text).take(5))
  }

  test("rom.ods: unicode sheet name Лист1 (test_tabular.py test_unicode_ods)") {
    assume_("rom.ods")
    val r = OdsExtractor.extract(RawDoc("d", "rom.ods", "", bytes("rom.ods")))
    assert(r.status == ExtractionResult.Success, r.error)
    assert(r.properties.getOrElse("sheets", Nil).contains("Лист1"))
  }

  test("countries.csv: rowCount 257 (test_csv.py:6-18)") {
    assume_("countries.csv")
    val r = CsvExtractor.extract(RawDoc("d", "countries.csv", "text/csv",
      bytes("countries.csv")))
    assert(r.status == ExtractionResult.Success, r.error)
    assert(r.properties.getOrElse("rowCount", Nil).headOption.contains("257"),
      r.properties.get("rowCount"))
  }

  // ---- legacy office (tests/test_doc.py) ----------------------------------

  test("doc.doc: Word piece-table text carries the published body goldens (test_doc.py:18-40)") {
    assume_("doc.doc")
    val r = RtfExtractor.extract(RawDoc("d", "doc.doc", "application/msword",
      bytes("doc.doc")))
    assert(r.status == ExtractionResult.Success, r.error)
    val all = r.spans.map(_.text).mkString("\n")
    assert(all.contains("This is a sample Microsoft Word Document."), all.take(400))
    assert(all.contains("The Level 3 Bookmark"), all.take(400))
  }

  test("slides.ppt: text atoms extracted (test_doc.py:43-52)") {
    assume_("slides.ppt")
    val r = RtfExtractor.extract(RawDoc("d", "slides.ppt",
      "application/vnd.ms-powerpoint", bytes("slides.ppt")))
    assert(r.status == ExtractionResult.Success, r.error)
    // 'Now' golden modulo the dynamic datetime field the reference renders
    assert(r.spans.exists(_.text.contains("Now")),
      r.spans.map(_.text).mkString("|").take(400))
  }

  // ---- html / pdf (tests/test_html.py, test_pdf.py) -----------------------

  test("doc.html: title/summary/keywords/body goldens (test_html.py:12-24)") {
    assume_("doc.html")
    val r = HtmlExtractor.extract(RawDoc("d", "doc.html", "text/html",
      bytes("doc.html")))
    assert(r.status == ExtractionResult.Success, r.error)
    assert(r.properties.getOrElse("title", Nil).headOption
      .contains("Ingestors Title"), r.properties.get("title"))
    assert(r.properties.getOrElse("summary", Nil).headOption
      .contains("Ingestors description"), r.properties.get("summary"))
    assert(r.properties.getOrElse("keywords", Nil).toSet ==
      Set("ingestors", "key", "words", "news"), r.properties.get("keywords"))
    val body = r.spans.map(_.text).mkString(" ")
    assert(body.contains("Ingestors Test web page"), body.take(300))
    assert(body.contains("The GitHub page"), body.take(300))
  }

  test("500 pages.pdf: 500 page spans (test_pdf.py:22-38 → 501 entities = 1 doc + 500 pages)") {
    assume_("500 pages.pdf")
    val r = PdfExtractor.extract(RawDoc("d", "500 pages.pdf", "application/pdf",
      bytes("500 pages.pdf")))
    assert(r.status == ExtractionResult.Success, r.error)
    assert(r.spans.count(_.kind == SpanKinds.Page) == 500,
      r.spans.count(_.kind == SpanKinds.Page))
  }

  test("readme.pdf body text (test_pdf.py:12-20)") {
    assume_("readme.pdf")
    val r = PdfExtractor.extract(RawDoc("d", "readme.pdf", "application/pdf",
      bytes("readme.pdf")))
    assert(r.status == ExtractionResult.Success, r.error)
    val body = r.spans.map(_.text).mkString(" ")
    assert(body.contains("Ingestors extract useful information"), body.take(300))
  }

  test("EDRM htm: title with « entity + body golden (test_html.py:26-37)") {
    // the « in the filename defeats Paths.get under a non-UTF-8
    // sun.jnu.encoding — resolve via a directory listing instead
    val f = fixtureFiles.find(_.getName.endsWith(".htm"))
    assume(f.isDefined, "EDRM fixture missing")
    val data = Files.readAllBytes(f.get.toPath)
    val r = HtmlExtractor.extract(RawDoc("d", f.get.getName, "text/html", data))
    assert(r.status == ExtractionResult.Success, r.error)
    assert(r.properties.getOrElse("title", Nil).headOption
      .contains("EDRM Micro Datasets « EDRM"), r.properties.get("title"))
    assert(r.properties.getOrElse("keywords", Nil).isEmpty,
      r.properties.get("keywords"))
    val body = r.spans.map(_.text).mkString(" ")
    assert(body.contains("Creating Practical Resources to Improve E-Discovery"),
      body.take(300))
  }

  test("udhr_ger.pdf: German body text with combining-diacritic normalization") {
    assume_("udhr_ger.pdf")
    val r = PdfExtractor.extract(RawDoc("d", "udhr_ger.pdf", "application/pdf",
      bytes("udhr_ger.pdf")))
    assert(r.status == ExtractionResult.Success, r.error)
    val body = java.text.Normalizer.normalize(
      r.spans.map(_.text).mkString(" "), java.text.Normalizer.Form.NFC)
    assert(body.contains("Allgemeine Erklärung der Menschenrechte"), body.take(200))
    assert(r.spans.count(_.kind == SpanKinds.Page) == 6)
  }

  // ---- packages (tests/test_packages.py) ----------------------------------

  test("test-documents.zip: members become children (test_packages.py:15-21)") {
    assume_("test-documents.zip")
    val r = ZipExtractor.extract(RawDoc("d", "test-documents.zip",
      "application/zip", bytes("test-documents.zip")))
    assert(r.status == ExtractionResult.Success, r.error)
    assert(r.children.nonEmpty)
  }

  test("500_pages.7z: LZMA2 archive unpacks to the pdf (test_archives.py:5-11)") {
    assume_("500_pages.7z")
    val r = SevenZipExtractor.extract(RawDoc("d", "500_pages.7z",
      "application/x-7z-compressed", bytes("500_pages.7z")))
    assert(r.status == ExtractionResult.Success, r.error)
    assert(r.children.length == 1, r.children.map(_.file_name))
    val child = r.children.head
    assert(child.file_name.endsWith(".pdf"), child.file_name)
    // decoded payload must be the real 500-page PDF
    assert(new String(child.bytes.take(5), "ISO-8859-1") == "%PDF-")
    val pdf = PdfExtractor.extract(RawDoc("c", child.file_name,
      "application/pdf", child.bytes))
    assert(pdf.status == ExtractionResult.Success, pdf.error)
    assert(pdf.spans.count(_.kind == SpanKinds.Page) == 500)
  }

  test("500_pages.7z.001: split fragment is a clean failure (test_archives.py:13-20)") {
    assume_("500_pages.7z.001")
    val r = SevenZipExtractor.extract(RawDoc("d", "500_pages.7z.001",
      "application/x-7z-compressed", bytes("500_pages.7z.001")))
    assert(r.status == ExtractionResult.Failure)
  }

  test("7z_password.7z: encrypted contract (test_packages.py:93-99)") {
    assume_("7z_password.7z")
    val r = SevenZipExtractor.extract(RawDoc("d", "7z_password.7z",
      "application/x-7z-compressed", bytes("7z_password.7z")))
    assert(r.status == ExtractionResult.Failure)
    // exact reference message (packages/__init__.py:36)
    assert(r.error == "Password protected 7z archive", r.error)
  }

  test("bad7zip.7z: symlink-escape fixture fails or stays contained (test_packages.py:78-90)") {
    assume_("bad7zip.7z")
    val r = SevenZipExtractor.extract(RawDoc("d", "bad7zip.7z",
      "application/x-7z-compressed", bytes("bad7zip.7z")))
    assert(r.children.forall(c => !c.file_name.startsWith("/") &&
      !c.file_name.contains("..")), r.children.map(_.file_name))
  }

  test("badzip.zip symlink escape: symlink becomes a normal file child (test_packages.py:15-32)") {
    assume_("badzip.zip")
    val r = ZipExtractor.extract(RawDoc("d", "badzip.zip", "application/zip",
      bytes("badzip.zip")))
    assert(r.status == ExtractionResult.Success, r.error)
    val child = r.children.find(_.file_name == "secret.txt")
    assert(child.isDefined, r.children.map(_.file_name))
    assert(new String(child.get.bytes, "UTF-8") ==
      "/ingestors/tests/fixtures/secret.txt")
  }

  test("test-documents.rar: RAR4 headers parse, archive succeeds as Package (test_packages.py:34-38)") {
    assume_("test-documents.rar")
    val arch = Rar.parse(bytes("test-documents.rar"))
    assert(arch.version == 4 && !arch.volume && !arch.encryptedHeaders)
    // member inventory from the fixture's own headers (crc-validated)
    assert(arch.members.map(m => m.name.replace('\\', '/')) == Vector(
      "test-documents/testEXCEL.xls", "test-documents/testHTML.html",
      "test-documents/testOpenOffice2.odt", "test-documents/testPDF.pdf",
      "test-documents/testPPT.ppt", "test-documents/testRTF.rtf",
      "test-documents/testTXT.txt", "test-documents/testWORD.doc",
      "test-documents/testXML.xml"))
    assert(arch.members.forall(_.method == 0x33)) // LZSS: skipped, no spec
    val r = RarExtractor.extract(RawDoc("d", "test-documents.rar",
      "application/rar", bytes("test-documents.rar")))
    assert(r.status == ExtractionResult.Success, r.error)
    assert(r.schema == "Package")
  }

  test("badrar.rar: RAR5 symlink member becomes a file whose body is the target (test_packages.py:40-57)") {
    assume_("badrar.rar")
    val r = RarExtractor.extract(RawDoc("d", "badrar.rar",
      "application/rar", bytes("badrar.rar")))
    assert(r.status == ExtractionResult.Success, r.error)
    val child = r.children.find(_.file_name == "secret.txt")
    assert(child.isDefined, r.children.map(_.file_name))
    assert(new String(child.get.bytes, "UTF-8") ==
      "/ingestors/tests/fixtures/secret.txt")
    // containment: the escape target path is content, never a child path
    assert(r.children.forall(c => !c.file_name.startsWith("/") &&
      !c.file_name.contains("..")))
  }

  test("badtar.tar / badrar.rar: escape fixtures stay contained") {
    assume_("badtar.tar")
    val t = TarExtractor.extract(RawDoc("d", "badtar.tar", "application/tar",
      bytes("badtar.tar")))
    // whatever the status, no child may carry an absolute or parent-escaping name
    assert(t.children.forall(c => !c.file_name.startsWith("/") &&
      !c.file_name.contains("..")), t.children.map(_.file_name))
  }

  // ---- media (tests/test_audio.py, test_tiff.py) ---------------------------

  test("memo.m4a: MediaInfo-parity metadata (test_audio.py:7-20)") {
    assume_("memo.m4a")
    val r = AudioExtractor.extract(RawDoc("d", "memo.m4a", "audio/x-m4a",
      bytes("memo.m4a")))
    assert(r.status == ExtractionResult.Success, r.error)
    assert(r.properties.getOrElse("title", Nil).contains("Core Media Audio"),
      r.properties.get("title"))
    assert(r.properties.getOrElse("generator", Nil)
      .contains("com.apple.VoiceMemos (iOS 11.4)"), r.properties.get("generator"))
    assert(r.properties.getOrElse("duration", Nil).headOption.contains("2808"),
      r.properties.get("duration"))
    assert(r.properties.getOrElse("samplingRate", Nil).headOption.contains("44100"),
      r.properties.get("samplingRate"))
    val at = r.properties.getOrElse("authoredAt", Nil)
    assert(at.contains("2018-06-20T12:09:28") && at.contains("2018-06-20T12:09:42"), at)
  }

  test("image fixtures: dimensions decoded from png/gif/jpg/webp headers") {
    val cases = Seq("regression_jpg.jpg", "regression_gif.gif",
      "regression_webp.webp")
    val checked = for (n <- cases; b <- input(n)) yield {
      val r = ImageExtractor.extract(RawDoc("d", n, "", b))
      assert(r.status == ExtractionResult.Success, s"$n: ${r.error}")
      val w = r.properties.getOrElse("width", Nil).headOption.flatMap(_.toIntOption)
      val h = r.properties.getOrElse("height", Nil).headOption.flatMap(_.toIntOption)
      assert(w.exists(_ > 0) && h.exists(_ > 0), s"$n dims: $w x $h")
      n
    }
    assert(checked.nonEmpty)
  }

  test("tiff fixtures: success with image span + contentHash (test_tiff.py shape)") {
    val checked = for (n <- Seq("multipage_tiff_example.tif", "hello_world_tiff.tif");
                       b <- input(n)) yield {
      val r = TiffExtractor.extract(RawDoc("d", n, "image/tiff", b))
      assert(r.status == ExtractionResult.Success, s"$n: ${r.error}")
      assert(r.spans.exists(_.kind == SpanKinds.Image))
      assert(r.properties.contains("contentHash"))
      n
    }
    assert(checked.nonEmpty)
  }

  // ---- email (tests/test_msg.py, test_outlookmsg.py, test_emlx.py) --------

  private def prop(r: ExtractionResult, k: String): Seq[String] =
    r.properties.getOrElse(k, Nil)
  private def bodyOf(r: ExtractionResult): String =
    r.spans.filter(_.kind == SpanKinds.Text).map(_.text).mkString("\n")

  test("testThunderbirdEml.eml: subject + body goldens (test_msg.py:9-15)") {
    assume_("testThunderbirdEml.eml")
    val r = EmlExtractor.extract(RawDoc("d", "testThunderbirdEml.eml",
      "message/rfc822", bytes("testThunderbirdEml.eml")))
    assert(r.status == ExtractionResult.Success, r.error)
    assert(prop(r, "subject").headOption.contains("JUnit test message"), prop(r, "subject"))
    assert(bodyOf(r).contains("Dear Vladimir"), bodyOf(r).take(200))
  }

  test("email_base64.eml: decoded body golden (test_msg.py:30-35)") {
    assume_("email_base64.eml")
    val r = EmlExtractor.extract(RawDoc("d", "email_base64.eml",
      "message/rfc822", bytes("email_base64.eml")))
    assert(r.status == ExtractionResult.Success, r.error)
    assert(bodyOf(r).contains("Base64 email payload"), bodyOf(r).take(200))
  }

  test("email_multipart_alternative.eml: plaintext body preferred (test_msg.py:37-48)") {
    assume_("email_multipart_alternative.eml")
    val r = EmlExtractor.extract(RawDoc("d", "email_multipart_alternative.eml",
      "message/rfc822", bytes("email_multipart_alternative.eml")))
    assert(r.status == ExtractionResult.Success, r.error)
    assert(bodyOf(r).contains("This is a **multipart/alternative** message."),
      bodyOf(r).take(300))
  }

  test("piste.msg: Outlook CFBF subject golden (test_outlookmsg.py:8-13)") {
    assume_("piste.msg")
    val r = MsgExtractor.extract(RawDoc("d", "piste.msg",
      "application/vnd.ms-outlook", bytes("piste.msg")))
    assert(r.status == ExtractionResult.Success, r.error)
    assert(prop(r, "subject").headOption.contains("Ab auf die Piste!"),
      prop(r, "subject"))
  }

  test("fnf.msg: RFC822-in-.msg sniffed by content (test_msg.py:17-22)") {
    assume_("fnf.msg")
    // despite the .msg extension this fixture is RFC822 text — the content
    // sniff must win the auction, exactly like libmagic does upstream
    val i = ingest("fnf.msg")
    assert(i.ingestor == "RFC822Ingestor", i.ingestor)
    val r = i.result
    assert(r.status == ExtractionResult.Success, r.error)
    assert(prop(r, "subject").exists(_.contains("Innovationskongress")),
      prop(r, "subject"))
  }

  test("plaintext.emlx: subject + Python body (test_emlx.py:8-14)") {
    assume_("plaintext.emlx")
    val r = EmlxExtractor.extract(RawDoc("d", "plaintext.emlx", "",
      bytes("plaintext.emlx")))
    assert(r.status == ExtractionResult.Success, r.error)
    assert(prop(r, "subject").headOption.contains("Re: Emlx library"),
      prop(r, "subject"))
    assert(bodyOf(r).contains("Python"), bodyOf(r).take(200))
  }

  test("richtext.emlx: subject golden (test_emlx.py:16-22)") {
    assume_("richtext.emlx")
    val r = EmlxExtractor.extract(RawDoc("d", "richtext.emlx", "",
      bytes("richtext.emlx")))
    assert(r.status == ExtractionResult.Success, r.error)
    assert(prop(r, "subject").exists(_.contains("Emlx library")), prop(r, "subject"))
  }

  test("plan.mbox: messages become children (test_msg.py:24-28)") {
    assume_("plan.mbox")
    val r = MboxExtractor.extract(RawDoc("d", "plan.mbox",
      "application/mbox", bytes("plan.mbox")))
    assert(r.status == ExtractionResult.Success, r.error)
    assert(r.children.nonEmpty)
  }

  // ---- text / tabular / misc ------------------------------------------------

  test("utf.txt + non_utf.txt + udhr_ger.txt: encoding goldens (test_text.py)") {
    assume_("utf.txt")
    val utf = PlainTextExtractor.extract(RawDoc("d", "utf.txt", "text/plain",
      bytes("utf.txt")))
    def nfkd(s: String) = java.text.Normalizer.normalize(s,
      java.text.Normalizer.Form.NFKD)
    assert(nfkd(bodyOf(utf)).contains(nfkd("Îș unî©ođ€.")), bodyOf(utf))
    val non = PlainTextExtractor.extract(RawDoc("d", "non_utf.txt", "text/plain",
      bytes("non_utf.txt")))
    assert(bodyOf(non).contains("größter"), bodyOf(non).take(200))
    val udhr = PlainTextExtractor.extract(RawDoc("d", "udhr_ger.txt", "text/plain",
      bytes("udhr_ger.txt")))
    assert(bodyOf(udhr).nonEmpty)
  }

  test("countries_nonutf.csv: rowCount 22 (test_csv.py:13-18)") {
    assume_("countries_nonutf.csv")
    val r = CsvExtractor.extract(RawDoc("d", "countries_nonutf.csv", "text/csv",
      bytes("countries_nonutf.csv")))
    assert(r.status == ExtractionResult.Success, r.error)
    assert(r.properties.getOrElse("rowCount", Nil).headOption.contains("22"),
      r.properties.get("rowCount"))
  }

  test("PAK_adm1.dbf: rowCount 9 + provinces (test_dbf.py:6-17)") {
    assume_("PAK_adm1.dbf")
    val r = DbfExtractor.extract(RawDoc("d", "PAK_adm1.dbf", "", bytes("PAK_adm1.dbf")))
    assert(r.status == ExtractionResult.Success, r.error)
    assert(r.properties.getOrElse("rowCount", Nil).headOption.contains("9"),
      r.properties.get("rowCount"))
    val body = bodyOf(r)
    assert(body.contains("Azad Kashmir") && body.contains("Pakistan"), body.take(300))
  }

  test("Books_be.mdb: Jet3 tables + rows (test_access.py: Authors, rowCount 4 = 3 rows + header)") {
    assume_("Books_be.mdb")
    val r = AccessExtractor.extract(RawDoc("d", "Books_be.mdb",
      "application/x-msaccess", bytes("Books_be.mdb")))
    assert(r.status == ExtractionResult.Success, r.error)
    val sheets = r.properties.getOrElse("sheets", Nil)
    assert(sheets.contains("Authors") && sheets.contains("Books"), sheets)
    val body = bodyOf(r)
    assert(body.contains("Carlson, Roger"), body.take(400))
    assert(body.contains("Clancy, Tom"), body.take(400))
    assert(body.contains("Shakespeare, William"), body.take(400))
    // 3 Authors + 5 Books rows, +1 header quirk
    assert(r.properties.getOrElse("rowCount", Nil).headOption.contains("9"),
      r.properties.get("rowCount"))
  }

  test("john-doe.vcf: person name + phone (test_vcard.py:8-16)") {
    assume_("john-doe.vcf")
    val r = VCardExtractor.extract(RawDoc("d", "john-doe.vcf", "", bytes("john-doe.vcf")))
    assert(r.status == ExtractionResult.Success, r.error)
    val all = r.properties.values.flatten.toSeq ++ r.spans.map(_.text)
    assert(all.exists(_.contains("John Doe")), all.take(10))
    assert(all.exists(_.replaceAll("[^+\\d]", "").contains("+17815551212")), all.take(10))
  }

  test("example_2.json: text leaves kept, numbers filtered (test_jsonfile.py)") {
    assume_("example_2.json")
    val r = JsonExtractor.extract(RawDoc("d", "example_2.json",
      "application/json", bytes("example_2.json")))
    assert(r.status == ExtractionResult.Success, r.error)
    val body = bodyOf(r)
    assert(body.contains("Golden State Warriros"), body.take(300))
    assert(!body.split("\\s+").contains("10"), body.take(300))
  }

  test("meetup.ics: event extracted (test_calendar.py)") {
    assume_("meetup.ics")
    val r = CalendarExtractor.extract(RawDoc("d", "meetup.ics", "", bytes("meetup.ics")))
    assert(r.status == ExtractionResult.Success, r.error)
    assert(r.spans.nonEmpty || r.properties.nonEmpty)
  }

  // ---- classification over real bytes -------------------------------------

  test("every fixture file dispatches totally (classify + extract, no throw)") {
    val files = fixtureFiles.filter(_.isFile)
    assume(files.nonEmpty)
    var succeeded = 0
    for (f <- files) {
      val data = Files.readAllBytes(f.toPath)
      val out = Dispatch.ingest(f.getName, "", data)
      assert(out.result.status == ExtractionResult.Success ||
        out.result.status == ExtractionResult.Failure,
        s"${f.getName}: ${out.result.status}")
      if (out.result.status == ExtractionResult.Success) succeeded += 1
    }
    // the majority of the reference's own fixtures must extract successfully
    assert(succeeded >= files.length * 2 / 3, s"$succeeded/${files.length}")
  }

  test("dispatch routes real fixtures to the reference ingestor classes") {
    val expect = Seq(
      "doc.html" -> "HTMLIngestor",
      "readme.pdf" -> "PDFIngestor",
      "countries.csv" -> "CSVIngestor",
      "rom.xls" -> "ExcelIngestor",
      "doc.doc" -> "DocumentIngestor",
      "slides.ppt" -> "DocumentIngestor",
      "file.xlsx" -> "ExcelXMLIngestor",
      "hello world word.docx" -> "OfficeOpenXMLIngestor",
      "rom.ods" -> "OpenOfficeSpreadsheetIngestor",
      "testThunderbirdEml.eml" -> "RFC822Ingestor",
      "john-doe.vcf" -> "VCardIngestor",
      "meetup.ics" -> "CalendarIngestor",
      "test-documents.zip" -> "ZipIngestor",
      "test-documents.tar" -> "TarIngestor",
      "utf.txt" -> "PlainTextIngestor",
      "image.svg" -> "SVGIngestor",
      "example_2.json" -> "JSONIngestor",
      "PAK_adm1.dbf" -> "DBFIngestor")
    val checked = for ((name, ing) <- expect; b <- input(name)) yield {
      val got = Dispatch.ingest(name, "", b).ingestor
      assert(got == ing, s"$name -> $got (expected $ing)")
      name
    }
    assert(checked.nonEmpty)
  }
}
