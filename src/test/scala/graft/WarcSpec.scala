package graft

import graft.classify.Classifier
import graft.corpus.CorpusGen
import graft.extract.{RawDoc, Warc, WarcExtractor}
import graft.sources.Sources
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** From-scratch WARC reader: record framing, HTTP parse + chunked
  * transfer decode, gzip member-per-record streams, decoy-record
  * skipping, classifier routing (magic and the compound .warc.gz
  * extension vs Gzip), and the record-level distributed source. */
class WarcSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def sampleWarc(id: Long, gz: Boolean): Array[Byte] =
    CorpusGen.renderWarc(id,
      CorpusGen.renderHtml(s"Doc $id", s"Summary $id", Seq("k"), "hello world"),
      s"copy of doc $id", gzipMembers = gz)

  test("records: all seven framed records parse from a plain warc") {
    val recs = Warc.records(sampleWarc(7, gz = false))
    assert(recs.map(_.warcType) == Vector("warcinfo", "request", "response",
      "response", "response", "revisit", "metadata"))
    assert(recs(2).targetUri == "http://graft.test/doc7/page.html")
  }

  test("payloads: only the two 2xx responses survive; chunked body decodes") {
    for (gz <- Seq(false, true)) {
      val pays = Warc.payloads(Warc.plainBytes(sampleWarc(3, gz)))
      assert(pays.map(_._1) == Vector("http://graft.test/doc3/page.html",
        "http://graft.test/doc3/notes.txt"))
      assert(pays(0)._2 == "text/html")
      assert(new String(pays(1)._3, "UTF-8") == "copy of doc 3")
    }
  }

  test("decodeChunked: multi-chunk with extension and terminal zero chunk") {
    val enc = "5;ext=1\r\nhello\r\n6\r\n world\r\n0\r\n\r\n".getBytes("UTF-8")
    assert(new String(Warc.decodeChunked(enc), "UTF-8") == "hello world")
  }

  test("extractor: children carry URI names and mime hints; recordCount prop") {
    val r = WarcExtractor.extract(RawDoc("d", "doc3.warc", "", sampleWarc(3, gz = false)))
    assert(r.status == "success")
    assert(r.children.map(_.file_name) == Vector(
      "http://graft.test/doc3/page.html", "http://graft.test/doc3/notes.txt"))
    assert(r.children.map(_.mime_hint) == Vector("text/html", "text/plain"))
    assert(r.properties("recordCount") == Seq("7"))
  }

  test("classifier: warc magic and .warc.gz both route to WARCIngestor, plain gz does not") {
    val plain = sampleWarc(1, gz = false)
    val gzed = sampleWarc(1, gz = true)
    assert(Classifier.auction("doc1.warc", "", plain).toOption.get.ingestor == "WARCIngestor")
    // no extension at all: magic alone must still win
    assert(Classifier.auction("blob", "", plain).toOption.get.ingestor == "WARCIngestor")
    assert(Classifier.auction("doc1.warc.gz", "", gzed).toOption.get.ingestor == "WARCIngestor")
    val justGz = CorpusGen.renderGzip("plain text".getBytes("UTF-8"))
    assert(Classifier.auction("note.txt.gz", "", justGz).toOption.get.ingestor == "GzipIngestor")
  }

  test("truncated and garbage inputs fail as values, never exceptions") {
    val truncated = sampleWarc(1, gz = false).take(40)
    assert(WarcExtractor.extract(RawDoc("d", "t.warc", "", truncated)).status == "failure")
    assert(WarcExtractor.extract(RawDoc("d", "t.warc", "", "WARC/1.0\r\nno-length: x\r\n\r\n".getBytes("UTF-8"))).status == "failure")
    assert(WarcExtractor.extract(RawDoc("d", "t.warc", "", Array[Byte](1, 2, 3))).status == "failure")
  }

  test("fromWarcs: record-level source over a directory of mixed warc/warc.gz") {
    val dir = java.nio.file.Files.createTempDirectory("graft-warc")
    java.nio.file.Files.write(dir.resolve("a.warc"), sampleWarc(1, gz = false))
    java.nio.file.Files.write(dir.resolve("b.warc.gz"), sampleWarc(2, gz = true))
    java.nio.file.Files.write(dir.resolve("noise.txt"), "not a warc".getBytes)
    val docs = Sources.fromWarcs(spark, dir.toString).collect().sortBy(_.doc_id)
    assert(docs.length == 4)
    assert(docs.map(_.doc_id).toSeq == Seq("a.warc#0", "a.warc#1", "b.warc.gz#0", "b.warc.gz#1"))
    assert(docs(2).file_name == "http://graft.test/doc2/page.html")
    assert(docs(3).mime_hint == "text/plain")
    assert(new String(docs(3).bytes, "UTF-8") == "copy of doc 2")
  }

  test("fromWarcs: oversize listing row becomes a failure pending doc, not a silent skip") {
    val dir = java.nio.file.Files.createTempDirectory("graft-warc-big")
    java.nio.file.Files.write(dir.resolve("small.warc"), sampleWarc(1, gz = false))
    // the real small file plus made-up 3 GiB and exactly-2^31-byte entries
    // at paths that do not exist: reading either would fail the job, and
    // neither fits one JVM byte array
    def madeUp(name: String, length: Long) =
      Sources.Listed(name, dir.resolve(name).toUri.toString, length)
    val listed = Sources.list(spark, dir.toString) ++
      Seq(madeUp("huge.warc", 3L << 30), madeUp("edge.warc", 1L << 31))
    val docs = Sources.warcDocs(spark, listed).collect().sortBy(_.doc_id)
    assert(docs.map(_.doc_id).toSeq ==
      Seq("edge.warc", "huge.warc", "small.warc#0", "small.warc#1"))
    docs.take(2).foreach { over =>
      assert(over.mime_hint == Sources.OversizeMime && over.bytes.isEmpty)
      // dispatch turns the marker into the processingError failure contract
      val ing = graft.pipeline.Dispatch.ingest(over.file_name, over.mime_hint,
        over.bytes)
      assert(ing.result.status == "failure" &&
        ing.result.error.contains("exceeds the per-file size cap"), ing)
    }
  }

  test("sentinel mimes cannot be spoofed by crawled content") {
    // a response whose hostile Content-Type collides with an internal
    // dispatch sentinel: the source blanks it so the payload classifies
    // by magic bytes instead of short-circuiting into a failure row
    def warcWith(ct: String): Array[Byte] = {
      val http = ("HTTP/1.1 200 OK\r\nContent-Type: " + ct +
        "\r\nContent-Length: 5\r\n\r\nhello").getBytes("UTF-8")
      val head = ("WARC/1.0\r\nWARC-Type: response\r\n" +
        "WARC-Target-URI: http://x/y\r\n" +
        "Content-Type: application/http;msgtype=response\r\n" +
        s"Content-Length: ${http.length}\r\n\r\n").getBytes("UTF-8")
      head ++ http ++ "\r\n\r\n".getBytes("UTF-8")
    }
    val dir = java.nio.file.Files.createTempDirectory("graft-warc-spoof")
    java.nio.file.Files.write(dir.resolve("spoof.warc"),
      warcWith(Sources.OversizeMime))
    val docs = Sources.fromWarcs(spark, dir.toString).collect()
    assert(docs.length == 1 && docs(0).mime_hint == "" &&
      new String(docs(0).bytes, "UTF-8") == "hello")
    // and dispatch itself refuses the short-circuit when bytes exist
    val ing = graft.pipeline.Dispatch.ingest("x", Sources.OversizeMime,
      "hello there friend".getBytes("UTF-8"))
    assert(!ing.result.error.contains("per-file size cap"), ing)
  }
}
