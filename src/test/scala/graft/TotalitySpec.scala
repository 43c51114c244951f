package graft

import graft.core.ExtractionResult
import graft.extract._
import graft.pipeline.Dispatch
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Parser total-ness (SURVEY §5): random bytes never throw — every input
  * yields a success or a failure row. Property-based via scalacheck
  * (driven directly; the scalatest bridge artifact is not on the
  * offline classpath). The mutation fuzz seeds from formats synthesised
  * in-process, plus the reference's Jet3 database (`Books_be.mdb`) only
  * where the reference fixtures are present. */
class TotalitySpec extends AnyFunSuite {

  private def check(name: String, prop: Prop, n: Int = 200): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default
        .withMinSuccessfulTests(n)
        .withInitialSeed(org.scalacheck.rng.Seed(42L)),
      prop)
    assert(res.passed, s"$name: ${res.status}")
  }

  private val bytesGen: Gen[Array[Byte]] =
    Gen.chooseNum(0, 4096).flatMap(n =>
      Gen.containerOfN[Array, Byte](n, Gen.choose(Byte.MinValue, Byte.MaxValue)))

  private val nameGen: Gen[String] = for {
    base <- Gen.alphaNumStr.map(_.take(12))
    ext <- Gen.oneOf("", ".txt", ".html", ".pdf", ".zip", ".csv", ".json",
      ".eml", ".xml", ".tar", ".gz", ".mbox", ".docx", ".xlsx", ".vcf", ".ics")
  } yield base + ext

  private def isTotal(r: ExtractionResult): Boolean =
    r.status == ExtractionResult.Success || r.status == ExtractionResult.Failure

  test("dispatch is total on arbitrary bytes and names") {
    check("dispatch", Prop.forAll(nameGen, bytesGen) { (name, bytes) =>
      isTotal(Dispatch.ingest(name, "", bytes).result)
    })
  }

  test("every individual extractor is total on arbitrary bytes") {
    val extractors: Seq[Extractor] = Seq(HtmlExtractor, PlainTextExtractor,
      XmlExtractor, JsonExtractor, CsvExtractor, ZipExtractor, GzipExtractor,
      TarExtractor, EmlExtractor, MboxExtractor, EmlxExtractor,
      VCardExtractor, CalendarExtractor, PdfExtractor, OoxmlExtractor,
      XlsxExtractor, OdsExtractor, OpenDocExtractor, SvgExtractor,
      ImageExtractor, WarcExtractor)
    check("extractors", Prop.forAll(bytesGen) { bytes =>
      extractors.forall(e => isTotal(e.extract(RawDoc("t", "f.bin", "", bytes))))
    }, n = 100)
  }

  test("html parser is total on arbitrary strings") {
    check("html", Prop.forAll(Gen.asciiPrintableStr) { s =>
      HtmlExtractor.extractText(HtmlDom.parse(s)) != null
    })
  }

  test("mime parser is total") {
    check("mime", Prop.forAll(bytesGen) { bytes =>
      Mime.parse(bytes).headers != null
    })
  }

  /** The reference's Jet3 database, the one seed not synthesised here;
    * empty where the fixture directory is absent. */
  private def jet3Seed: Seq[Array[Byte]] = {
    val p = java.nio.file.Paths.get("/root/reference/tests/fixtures/Books_be.mdb")
    if (java.nio.file.Files.exists(p)) Seq(java.nio.file.Files.readAllBytes(p))
    else Nil
  }

  test("structured bytes with flipped bits stay total (mutation fuzz)") {
    val seedDocs: Seq[Array[Byte]] = {
      val g = graft.corpus.CorpusGen
      Seq(
        g.renderZip(Seq(("a.txt", "hello".getBytes))),
        g.renderPdf(Seq(Seq("hello pdf"))),
        g.renderEml("s", "a@x.y", "b@x.y", "body", htmlAlt = true, None),
        g.renderTar(Seq(("a.txt", "hi".getBytes))),
        g.renderGzip("text".getBytes),
        g.renderXls("S", Seq(Seq("alpha", "beta"), Seq("gamma", "delta"))),
        g.renderMsg("subj", "msg body"),
        g.renderOdt(Seq("one paragraph")),
        g.renderWav(16000, 2000),
        g.renderMp3("t", 1234L),
        graft.extract.Bzip2.compress("bz2 payload for the fuzz".getBytes),
        graft.extract.SevenZipWriter.write("a.txt", "seven zip member".getBytes),
        graft.extract.Sqlite.write("t", Seq("a", "b"), Seq(Seq("x", "y")))
      ) ++ jet3Seed ++ Seq(
        // round-3 binary readers: Jet4, PST, RAR
        graft.extract.Jet4Writer.write("docs", 2,
          Seq(Seq("alpha", "beta"), Seq("gamma", "delta"))),
        graft.extract.Pst.write("Inbox",
          Seq(("subj", "a@x.y", "pst body text"))),
        graft.corpus.CorpusGen.renderRar(Seq(("a.txt", "rar member".getBytes))),
        // round-4: WARC, plain and member-per-record gzip
        g.renderWarc(9, g.renderHtml("T", "S", Nil, "warc body"), "note",
          gzipMembers = false),
        g.renderWarc(9, g.renderHtml("T", "S", Nil, "warc body"), "note",
          gzipMembers = true))
    }
    val mutGen = for {
      doc <- Gen.oneOf(seedDocs)
      nFlips <- Gen.chooseNum(1, 16)
      positions <- Gen.listOfN(nFlips, Gen.chooseNum(0, doc.length - 1))
    } yield {
      val b = doc.clone()
      positions.foreach(p => b(p) = (b(p) ^ 0x55).toByte)
      b
    }
    check("mutation", Prop.forAll(mutGen) { bytes =>
      isTotal(Dispatch.ingest("f.bin", "", bytes).result)
    })
  }

  test("robots.txt parse + evaluation are total on arbitrary text") {
    import graft.ops.RobotsTxt
    val lineGen: Gen[String] = Gen.oneOf(
      Gen.asciiPrintableStr.map(_.take(40)),
      Gen.oneOf("User-agent", "user-AGENT", "Allow", "Disallow", "Sitemap",
        "Crawl-delay", "junk").flatMap(k =>
        Gen.asciiPrintableStr.map(v => s"$k: ${v.take(20)}")))
    val txtGen: Gen[String] =
      Gen.chooseNum(0, 20).flatMap(n => Gen.listOfN(n, lineGen))
        .map(_.mkString("\n"))
    val urlGen: Gen[String] = Gen.oneOf(
      Gen.asciiPrintableStr.map(_.take(60)),
      Gen.asciiPrintableStr.map(s => "https://h.com/" + s.take(40)))
    check("robots", Prop.forAll(txtGen, urlGen) { (txt, url) =>
      // never throws, always a definite verdict — patterns from the fuzz
      // text include '*'/'$' runs, empty segments, colons in values
      val v = RobotsTxt.allowed(txt, "fuzzbot/1.0", url)
      v || !v
    })
  }
}
