package graft.queries

import graft.core._
import graft.corpus.CorpusGen
import graft.pipeline.Pipeline
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Shared plumbing for the query domains: renders the `documents` table
  * into real file formats, runs the extraction pipeline, and exposes the
  * outputs for projection. Rendering is deterministic (pure function of
  * (doc_id, text)), which makes full extraction roundtrips expressible as
  * DuckDB oracle SQL over the same parquet — the correctness gate then
  * verifies classifier + parser + pipeline end-to-end. */
object QueryLib extends Serializable {

  /** Shared planted PER/ORG surface forms (all pass the clean_name gate:
    * >4 chars, contain a space). */
  val MentionPeople: Vector[String] = Vector("John Smith", "Maria Garcia",
    "Ivan Petrov", "Fatima Hassan", "Chen Weimin", "Anna Kowalski",
    "Ahmed Khan", "Sofia Rossi", "David Cohen", "Yuki Tanaka")
  val MentionCompanies: Vector[String] = Vector("Acme Holdings Ltd",
    "Globex GmbH", "Initech LLC", "Umbrella Corp", "Stark Industries Inc",
    "Wayne Enterprises Plc", "Cyberdyne Systems SA", "Tyrell BV")

  def documents(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  def embeddings(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")

  /** (doc_id, text) → pending rows via a named renderer. */
  def renderPending(s: SparkSession, docs: DataFrame, renderer: String)
      : Dataset[PendingDoc] = {
    import s.implicits._
    docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text0) =>
        val text = if (text0 == null) "" else text0
        val (fileName, bytes) = render(renderer, id, text)
        PendingDoc(id.toString, "", Seq.empty, 0, fileName, "", bytes)
      })
  }

  def render(renderer: String, id: Long, text: String): (String, Array[Byte]) =
    renderer match {
      case "html" =>
        (s"doc$id.html", CorpusGen.renderHtml(s"Doc $id", s"Summary $id",
          Seq("alpha", "beta"), text))
      case "csv" =>
        val rows = text.split(" ").grouped(5).map(_.mkString(",")).mkString("\n")
        (s"doc$id.csv", (rows + "\n").getBytes("UTF-8"))
      case "json" =>
        val items = text.split(" ").map(t => "\"" + t + "\"").mkString(", ")
        (s"doc$id.json", s"""{"items": [$items]}""".getBytes("UTF-8"))
      case "eml_ids" =>
        // varied identities exercising EmailIdentity's three label shapes
        // (support/email.py:28-36): name+email, bare email, shared contact
        val eml = s"From: User$id Sender$id <sender$id@graft.test>\r\n" +
          s"To: recipient$id@graft.test\r\n" +
          s"Cc: Ali Baba <shared${id % 10}@graft.test>\r\n" +
          s"Subject: Doc $id\r\n" +
          "Content-Type: text/plain; charset=utf-8\r\n\r\n" +
          text + "\r\n"
        (s"doc$id.eml", eml.getBytes("UTF-8"))
      case "eml" =>
        val eml = s"From: Alice A <alice@graft.test>\r\n" +
          s"To: Bob B <bob@graft.test>\r\n" +
          s"Subject: Doc $id\r\n" +
          s"Message-ID: <m$id@graft.test>\r\n" +
          (if (id > 0) s"In-Reply-To: <m${id - 1}@graft.test>\r\n" else "") +
          "Content-Type: text/plain; charset=utf-8\r\n\r\n" +
          text + "\r\n"
        (s"doc$id.eml", eml.getBytes("UTF-8"))
      case "txt" => (s"doc$id.txt", text.getBytes("UTF-8"))
      case "pdf" =>
        val pages = text.split(" ").grouped(10).map(_.mkString(" "))
          .grouped(5).map(_.toSeq).toSeq
        (s"doc$id.pdf", CorpusGen.renderPdf(pages, s"Doc $id"))
      case "docx" =>
        val paras = text.split(" ").grouped(12).map(_.mkString(" ")).toSeq
        (s"doc$id.docx", CorpusGen.renderDocx(s"Doc $id", s"Author $id",
          "2015-09-07T10:57:00", paras))
      case "xlsx" =>
        val rows = text.split(" ").grouped(4).map(_.toSeq).toSeq
        (s"doc$id.xlsx", CorpusGen.renderXlsx(s"Sheet $id", rows))
      case "xls" =>
        val rows = text.split(" ").grouped(4).map(_.toSeq).toSeq
        (s"doc$id.xls", CorpusGen.renderXls(s"Sheet $id", rows))
      case "mbox" =>
        val n = (id % 3 + 1).toInt
        val msgs = (0 until n).map { i =>
          (s"From: Alice A <alice@graft.test>\r\n" +
            s"Subject: Doc $id part $i\r\n" +
            "Content-Type: text/plain; charset=utf-8\r\n\r\n" +
            text + "\r\n").getBytes("UTF-8")
        }
        (s"doc$id.mbox", CorpusGen.renderMbox(msgs))
      case "zip" =>
        (s"doc$id.zip", CorpusGen.renderZip(Seq(
          ("a.txt", text.getBytes("UTF-8")),
          ("b.txt", s"copy of doc $id".getBytes("UTF-8")))))
      case "targz" =>
        val tar = CorpusGen.renderTar(Seq(
          ("a.txt", text.getBytes("UTF-8")),
          ("b.txt", s"copy of doc $id".getBytes("UTF-8"))))
        (s"doc$id.tar.gz", CorpusGen.renderGzip(tar))
      case "warc" =>
        // even ids plain .warc, odd ids the member-per-record .warc.gz —
        // one oracle covers both container paths (same URIs and bodies)
        val html = CorpusGen.renderHtml(s"Doc $id", s"Summary $id",
          Seq("alpha", "beta"), text)
        val gz = id % 2 == 1
        (if (gz) s"doc$id.warc.gz" else s"doc$id.warc",
          CorpusGen.renderWarc(id, html, s"copy of doc $id", gz))
      case "warc_site" =>
        // the "warc" shape plus a SHARED footer page (identical bytes on
        // every site): the cross-site boilerplate t_web_pipeline's strip
        // stage must remove by corpus doc-frequency
        val html = CorpusGen.renderHtml(s"Doc $id", s"Summary $id",
          Seq("alpha", "beta"), text)
        val footer = CorpusGen.renderHtml("Footer", "Footer", Seq(),
          "subscribe to the graft newsletter for updates")
        val gz = id % 2 == 1
        (if (gz) s"doc$id.warc.gz" else s"doc$id.warc",
          CorpusGen.renderWarc(id, html, s"copy of doc $id", gz,
            footerHtml = Some(footer)))
      case "html_boiler" =>
        (s"doc$id.html", CorpusGen.renderBoilerplateHtml(s"Doc $id", text))
      case "xml" =>
        (s"doc$id.xml", CorpusGen.renderXml("doc",
          text.split(" ").grouped(12).map(_.mkString(" ")).toSeq))
      case "tiff_exif" =>
        (s"doc$id.tif", graft.extract.Exif.writeTiff(
          s"Cam${id % 3}", s"Mod${id % 5}",
          f"2021:06:15 10:11:${id % 60}%02d"))
      case "jpg_exif" =>
        (s"doc$id.jpg", CorpusGen.renderJpegExif(
          s"Cam${id % 3}", s"Mod${id % 5}",
          f"2021:06:15 10:11:${id % 60}%02d",
          100 + (id % 50).toInt, 200 + (id % 30).toInt))
      case "svg" =>
        (s"doc$id.svg", CorpusGen.renderSvg(text))
      case "odt" =>
        (s"doc$id.odt", CorpusGen.renderOdt(
          text.split(" ").grouped(12).map(_.mkString(" ")).toSeq))
      case "ods" =>
        (s"doc$id.ods", CorpusGen.renderOds(s"Sheet $id",
          text.split(" ").grouped(4).map(_.toSeq).toSeq))
      case "dbf" =>
        val rows = text.split(" ").grouped(3)
          .map(_.map(_.take(24)).toSeq).toSeq
        (s"doc$id.dbf", graft.extract.DbfWriter.write(
          Seq(("COL_A", 24), ("COL_B", 24), ("COL_C", 24)), rows))
      case "pst" =>
        // two messages per store; bodies capped to keep each PC one block
        (s"doc$id.pst", graft.extract.Pst.write(s"Inbox $id", Seq(
          (s"Msg A $id", s"alice$id@graft.test", text.take(1200)),
          (s"Msg B $id", s"bob$id@graft.test", s"second body $id"))))
      case "msg" =>
        (s"doc$id.msg", CorpusGen.renderMsg(s"Doc $id", text))
      case "msg_attach" =>
        (s"doc$id.msg", CorpusGen.renderMsg(s"Doc $id", s"body $id",
          Some((s"att$id.txt", text.getBytes("UTF-8")))))
      case "emlx" =>
        val (_, eml) = render("eml", id, text)
        (s"doc$id.emlx", CorpusGen.renderEmlx(eml))
      case "olm" =>
        (s"doc$id.olm", CorpusGen.renderOlm(s"Doc $id", text))
      case "vcf" =>
        val v = s"BEGIN:VCARD\r\nVERSION:3.0\r\nFN:Person $id\r\n" +
          s"EMAIL:user$id@graft.test\r\nEND:VCARD\r\n"
        (s"doc$id.vcf", v.getBytes("UTF-8"))
      case "ics" =>
        val v = "BEGIN:VCALENDAR\r\nBEGIN:VEVENT\r\n" +
          s"SUMMARY:Event $id\r\nORGANIZER:mailto:host$id@graft.test\r\n" +
          "END:VEVENT\r\nEND:VCALENDAR\r\n"
        (s"doc$id.ics", v.getBytes("UTF-8"))
      case "sqlite" =>
        val rows = text.split(" ").grouped(5).map(_.toSeq).toSeq
        (s"doc$id.sqlite", graft.extract.Sqlite.write("docs",
          (0 until 5).map(i => s"c$i"), rows))
      case "mdb" =>
        val rows = text.split(" ").grouped(5).map(_.toSeq).toSeq
        (s"doc$id.mdb", graft.extract.Jet4Writer.write("docs", 5, rows))
      case "wav" =>
        (s"doc$id.wav", CorpusGen.renderWav(16000, ((id % 100).toInt + 1) * 1000))
      case "mp3" =>
        (s"doc$id.mp3", CorpusGen.renderMp3(s"Doc $id", (id % 100) * 250 + 100))
      case "bz2" =>
        (s"doc$id.txt.bz2",
          graft.extract.Bzip2.compress(text.getBytes("UTF-8")))
      case "7z" =>
        (s"doc$id.7z", graft.extract.SevenZipWriter.write(
          s"inner$id.txt", text.getBytes("UTF-8")))
      case "rar" =>
        // c.bin is an LZSS-compressed member (opaque packed bytes): the
        // extractor lists it and emits a warn-and-skip failure child
        (s"doc$id.rar", CorpusGen.renderRar(Seq(
          "a.txt" -> text.getBytes("UTF-8"),
          "b.txt" -> s"copy of doc $id".getBytes("UTF-8"),
          "c.bin" -> Array.tabulate(64)(i => ((id * 31 + i) & 0xff).toByte)),
          compressedNames = Set("c.bin")))
      case "ocr" =>
        // OCR fixture mix: even ids → BMP glyph raster (ids ≡ 6 mod 10
        // undersized, below the 2 KiB OCR window → engine never runs);
        // odd ids → PDF with a Type3 font + the raster as an image
        // XObject (text layer is a decoy the Type3 trigger must discard).
        // Normalization (ASCII-strip then uppercase) happens BEFORE the
        // 120-char cap so the oracle can replay it in DuckDB.
        val norm = graft.ocr.Raster.normalize(text).take(120)
        if (id % 2 == 0) {
          if (id % 10 == 6)
            (s"doc$id.bmp", graft.ocr.Raster.renderText(norm.take(4), scale = 1))
          else
            (s"doc$id.bmp",
              graft.ocr.Raster.renderText(norm, scale = 2, minWidthChars = 30))
        } else
          (s"doc$id.pdf", CorpusGen.renderPdfOcr("DECOY TEXT LAYER",
            graft.ocr.Raster.renderText(norm, scale = 2, minWidthChars = 30),
            s"Doc $id"))
      case "rtf" =>
        val esc = text.replace("\\", "\\\\").replace("{", "\\{").replace("}", "\\}")
        val rtf = "{\\rtf1\\ansi{\\fonttbl{\\f0 Helvetica;}}\\f0\\fs24 " +
          esc + "\\par}"
        (s"doc$id.rtf", rtf.getBytes("UTF-8"))
      case other => throw new IllegalArgumentException(s"renderer $other")
    }

  /** properties["name"][0] as a column (FtM first-value). */
  def prop(name: String): Column =
    element_at(element_at(col("properties"), name), 1)

  /** render → extraction: the pipeline output of a roundtrip query. */
  private[queries] def extract(s: SparkSession, dir: String, renderer: String)
      : Pipeline.Output =
    Pipeline.run(s, renderPending(s, documents(s, dir), renderer))

  /** Seq-ordered concatenation of each document's `kind` spans:
    * (doc_id, body). */
  private[graft] def body(spans: DataFrame, kind: String): DataFrame =
    spans.filter(col("kind") === kind)
      .groupBy(col("doc_id"))
      .agg(concat_ws(" ", array_sort(collect_list(struct(col("seq"), col("text"))))
        .getField("text")).as("body"))

  /** A span's text with surrounding whitespace cut, as the email
    * oracles read it. */
  private[queries] def trimmed: Column =
    regexp_replace(col("text"), """^\s+|\s+$""", "")

  /** One `text` expression per text span: (doc_id, body). */
  private[queries] def spanBody(out: Pipeline.Output, text: Column): DataFrame =
    out.spans.toDF().filter(col("kind") === "text")
      .select(col("doc_id"), text.as("body"))

  /** Root meta `props` joined to a (doc_id, body) frame:
    * (doc_id, props…, body) ordered by doc_id. */
  private[queries] def metaBody(out: Pipeline.Output, body: DataFrame,
                                props: Column*): DataFrame = {
    val meta = out.meta.toDF().select(col("doc_id") +: props: _*)
    meta.join(body, "doc_id")
      .select(col("doc_id").cast("long").as("doc_id") +:
        meta.columns.toSeq.tail.map(col) :+ col("body"): _*)
      .orderBy("doc_id")
  }

  /** Depth-1 children keyed by their parent, joined to each child's text
    * span: (doc_id, cols…, bodyName) ordered by doc_id then cols. */
  private[queries] def childBodies(out: Pipeline.Output, joinType: String,
                                   text: Column, bodyName: String,
                                   cols: Column*): DataFrame = {
    val children = out.meta.toDF().filter(col("depth") === 1)
      .select(col("parent_id").cast("long").as("doc_id") +:
        col("doc_id").as("child_id") +: cols: _*)
    val bodies = spanBody(out, text).toDF("child_id", bodyName)
    val keys = children.columns.toSeq.filter(_ != "child_id")
    children.join(bodies, Seq("child_id"), joinType)
      .select((keys :+ bodyName).map(col): _*)
      .orderBy(keys.map(col): _*)
  }

  /** The decontamination bench: every 20th document, tokens 6..40 — a
    * planted substring, so overlap is real, not whole-doc identity. */
  private[queries] def benchSlice(s: SparkSession, docs: DataFrame): DataFrame = {
    import s.implicits._
    docs.filter(col("doc_id") % 20 === 0)
      .select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
      .map { case (id, t) =>
        val toks = TextUtil.tokens(if (t == null) "" else t)
        (id, toks.slice(5, 40).mkString(" "))
      }.toDF("doc_id", "text")
  }

  /** Token-canonical half copies of an (id, text) frame under id +
    * `idOffset`: every 20-gram of a copy occurs in its source, so the
    * duplicated-substring ops have genuine shared runs to find. */
  private[graft] def halfCopies(s: SparkSession, base: DataFrame,
                                idOffset: Long): DataFrame = {
    import s.implicits._
    base.as[(Long, String)].map { case (id, t) =>
      val toks = TextUtil.tokens(t)
      (id + idOffset, toks.take(math.max(toks.length / 2, 21)).mkString(" "))
    }.toDF(base.columns.toSeq: _*)
  }

  /** An empty fixture directory under java.io.tmpdir for this process:
    * concurrent runs on the same corpus never share one, and a rerun in
    * the same process starts from nothing. One shutdown hook per
    * directory deletes it when the JVM exits; deleting it when the query
    * is done would put thousands of file deletes inside a timed run. */
  private[queries] def freshDir(name: String, dir: String): java.io.File = {
    val root = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"${name}_${ProcessHandle.current().pid()}_" +
        dir.replaceAll("[^A-Za-z0-9]", "_"))
    deleteRec(root)
    root.mkdirs()
    if (hookedDirs.add(root)) sys.addShutdownHook(deleteRec(root))
    root
  }

  private val hookedDirs = java.util.concurrent.ConcurrentHashMap.newKeySet[java.io.File]()

  private def deleteRec(f: java.io.File): Unit = {
    val kids = f.listFiles()
    if (kids != null) kids.foreach(deleteRec)
    f.delete(); ()
  }

  /** Documents plus near-duplicate mutants (id + 10_000_000, every 10th
    * token dropped) for the near-dup operator oracles. Only docs with ≥
    * minTokens get a mutant, so the expected pair set is exactly
    * predictable in SQL. */
  def withMutants(s: SparkSession, docs: DataFrame, minTokens: Int): DataFrame = {
    import s.implicits._
    val base = docs.select(col("doc_id").cast("long"), col("text"))
    val mutants = base.as[(Long, String)].flatMap { case (id, text) =>
      val toks = text.split(" ")
      if (toks.length < minTokens) Iterator.empty
      else {
        val kept = toks.zipWithIndex.collect { case (t, i) if i % 10 != 9 => t }
        Iterator((id + 10000000L, kept.mkString(" ")))
      }
    }.toDF("doc_id", "text")
    base.toDF("doc_id", "text").unionByName(mutants)
  }
}
