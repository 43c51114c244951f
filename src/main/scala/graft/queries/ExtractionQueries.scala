package graft.queries

import graft.core.PendingDoc
import graft.corpus.CorpusGen
import graft.pipeline.Pipeline
import graft.queries.QueryLib._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{extract => _, _}

/** x_* end-to-end extraction roundtrips (render → classify → extract →
  * project, DuckDB-oracle-verified), the media and OCR extractor paths,
  * and the full-corpus rows-only run. */
object ExtractionQueries {

  /** render → pipeline → (doc_id, body) for formats whose whole text
    * roundtrips verbatim. */
  private def bodyRoundtrip(s: SparkSession, dir: String,
                            renderer: String): DataFrame =
    body(extract(s, dir, renderer).spans.toDF(), "text")
      .select(col("doc_id").cast("long").as("doc_id"), col("body"))
      .orderBy("doc_id")

  /** Root meta `props` joined to the seq-ordered text body. */
  private def textRoundtrip(s: SparkSession, dir: String, renderer: String,
                            props: Column*): DataFrame = {
    val out = extract(s, dir, renderer)
    metaBody(out, body(out.spans.toDF(), "text"), props: _*)
  }

  private def rowCount = prop("rowCount").cast("long").as("row_count")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x_html" -> ((s, dir) => {
      val out = extract(s, dir, "html")
      metaBody(out, spanBody(out, col("text")), prop("title").as("title"))
    }),
    "x_csv" -> ((s, dir) => textRoundtrip(s, dir, "csv", rowCount)),
    "x_json" -> ((s, dir) => bodyRoundtrip(s, dir, "json")),
    "x_eml" -> ((s, dir) => {
      val out = extract(s, dir, "eml")
      metaBody(out, spanBody(out, trimmed), prop("subject").as("subject"))
    }),
    "x_rtf" -> ((s, dir) =>
      extract(s, dir, "rtf").spans.toDF().filter(col("kind") === "text")
        .select(col("doc_id").cast("long").as("doc_id"), col("text").as("body"))
        .orderBy("doc_id")),
    // RAR roundtrip: RAR4 store-method writer → pipeline (RARIngestor
    // header parse + member extraction → PlainText children). Left join:
    // the compressed member (c.bin) has a failure child row with no body —
    // the reference's warn-and-skip made observable
    "x_rar" -> ((s, dir) =>
      childBodies(extract(s, dir, "rar"), "left", col("text"), "body",
          col("file_name"), col("processing_status").as("status"))
        .select(col("doc_id"), col("file_name"), col("body"), col("status"))),
    // 7z roundtrip: Copy-codec container written Spark-side → pipeline
    // (SevenZipIngestor header+folder decode → PlainText child)
    "x_7z" -> ((s, dir) =>
      childBodies(extract(s, dir, "7z"), "inner", col("text"), "body",
        col("file_name"))),
    // bz2 roundtrip: Spark-side bzip2 encoder → pipeline (BZ2Ingestor
    // decode → PlainText child) → body equals the original text
    "x_bz2" -> ((s, dir) =>
      childBodies(extract(s, dir, "bz2"), "inner", col("text"), "body",
        col("file_name"))),
    "x_targz" -> ((s, dir) =>
      childBodies(extract(s, dir, "targz"), "inner", col("text"), "body",
        col("file_name"))),
    // WARC roundtrip (beyond the reference's formats: the Common Crawl
    // container): even ids plain .warc, odd ids member-per-record
    // .warc.gz; the 200 html + chunked 200 text responses become children
    // named by target URI, the warcinfo/request/404/revisit/metadata
    // records must not
    "x_warc" -> ((s, dir) =>
      childBodies(extract(s, dir, "warc"), "inner", col("text"), "body",
        col("file_name").as("uri"))),
    "x_zip_children" -> ((s, dir) =>
      childBodies(extract(s, dir, "zip"), "inner", col("text"), "body",
        col("file_name"))),
    "x_pdf" -> ((s, dir) => {
      val out = extract(s, dir, "pdf")
      metaBody(out, body(out.spans.toDF(), "page")
          .select(col("doc_id"), regexp_replace(col("body"), "\n", " ").as("body")),
        prop("title").as("title"), prop("pageCount").cast("long").as("page_count"))
    }),
    "x_docx" -> ((s, dir) => textRoundtrip(s, dir, "docx",
      prop("title").as("title"), prop("authoredAt").as("authored_at"))),
    "x_xlsx" -> ((s, dir) =>
      textRoundtrip(s, dir, "xlsx", prop("sheets").as("sheet"), rowCount)),
    "x_sqlite" -> ((s, dir) =>
      textRoundtrip(s, dir, "sqlite", prop("sheets").as("table_name"), rowCount)),
    // Jet4 .mdb roundtrip: from-scratch writer (Jet4Writer) -> Jet reader
    // -> AccessIngestor rows; pins the Jet4 page/row/TDEF layout the same
    // way x_pst pins [MS-PST] (no public Jet4 fixture; Books_be.mdb is
    // Jet3 and covered by FixtureSpec).
    "x_mdb" -> ((s, dir) =>
      textRoundtrip(s, dir, "mdb", prop("sheets").as("table_name"), rowCount)),
    "x_xls" -> ((s, dir) =>
      textRoundtrip(s, dir, "xls", prop("sheets").as("sheet"), rowCount)),
    "x_mbox" -> ((s, dir) =>
      childBodies(extract(s, dir, "mbox"), "inner", trimmed, "body",
        prop("subject").as("subject"))),
    // Boilerplate strip: nav/sidebar/footer chrome must vanish, the
    // article text must survive verbatim (text-density main-content
    // heuristic of the north star).
    "x_html_main" -> ((s, dir) =>
      extract(s, dir, "html_boiler").meta.toDF()
        .select(col("doc_id").cast("long").as("doc_id"),
          prop("mainText").as("main_text"))
        .orderBy("doc_id")),
    // ---- simple body roundtrips: render → extract → body == text -------
    // §2.1 directory source end-to-end: a rendered on-disk tree through
    // the binaryFile DSv2 scan (SKIP_ENTRIES observable: .git/__MACOSX
    // files exist on disk but must never become rows). The fixture tree
    // is written driver-side because the operator under test IS the
    // filesystem scan; bounded by the verify corpus size. Row ids are
    // root-relative, so the directory's name never reaches the output.
    "x_dir" -> ((s, dir) => {
      import s.implicits._
      val docs = documents(s, dir)
        .select(col("doc_id").cast("long"), col("text"))
        .as[(Long, String)].collect()
      val root = freshDir("graft_xdir", dir)
      for ((id, text) <- docs) {
        val sub = new java.io.File(root, s"sub${id % 10}")
        sub.mkdirs()
        java.nio.file.Files.write(new java.io.File(sub, s"doc$id.txt").toPath,
          (if (text == null) "" else text).getBytes("UTF-8"))
      }
      val git = new java.io.File(root, ".git"); git.mkdirs()
      java.nio.file.Files.write(new java.io.File(git, "config").toPath,
        "skip me".getBytes("UTF-8"))
      val mac = new java.io.File(root, "__MACOSX"); mac.mkdirs()
      java.nio.file.Files.write(new java.io.File(mac, "._doc0.txt").toPath,
        "skip me".getBytes("UTF-8"))
      val out = Pipeline.run(s,
        graft.sources.Sources.fromDirectory(s, root.getAbsolutePath))
      out.spans.toDF().filter(col("kind") === "text")
        .select(col("doc_id").as("path"), col("text").as("body"))
        .orderBy("path")
    }),
    "x_txt" -> ((s, dir) => bodyRoundtrip(s, dir, "txt")),
    "x_xml" -> ((s, dir) => bodyRoundtrip(s, dir, "xml")),
    "x_svg" -> ((s, dir) => bodyRoundtrip(s, dir, "svg")),
    "x_odt" -> ((s, dir) => bodyRoundtrip(s, dir, "odt")),
    "x_ods" -> ((s, dir) =>
      textRoundtrip(s, dir, "ods", prop("sheets").as("sheet"), rowCount)),
    "x_dbf" -> ((s, dir) => textRoundtrip(s, dir, "dbf", rowCount)),
    "x_msg" -> ((s, dir) => textRoundtrip(s, dir, "msg",
      prop("subject").as("subject"), prop("emitters").as("sender"))),
    // .msg attachments become children re-ingested at depth 1
    "x_msg_attach" -> ((s, dir) =>
      childBodies(extract(s, dir, "msg_attach"), "inner", col("text"),
        "att_body", col("file_name"))),
    "x_emlx" -> ((s, dir) => {
      val out = extract(s, dir, "emlx")
      metaBody(out, spanBody(out, trimmed), prop("subject").as("subject"))
    }),
    // OLM archive: zip → message XML child (depth 1) → subject/body
    "x_olm" -> ((s, dir) =>
      childBodies(extract(s, dir, "olm"), "inner", col("text"), "body",
        prop("subject").as("subject"))),
    "x_vcf" -> ((s, dir) =>
      extract(s, dir, "vcf").meta.toDF()
        .select(col("doc_id").cast("long").as("doc_id"),
          prop("peopleMentioned").as("person"),
          prop("emailMentioned").as("email"))
        .orderBy("doc_id")),
    "x_ics" -> ((s, dir) =>
      extract(s, dir, "ics").meta.toDF()
        .select(col("doc_id").cast("long").as("doc_id"),
          prop("eventsMentioned").as("event"),
          prop("emailMentioned").as("email"))
        .orderBy("doc_id")),
    "x_classify" -> ((s, dir) => {
      import s.implicits._
      val pending = documents(s, dir)
        .select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
        .mapPartitions(_.map { case (id, text) =>
          val fmt = (id % 9) match {
            case 0 => "html"; case 1 => "csv"; case 2 => "json"
            case 3 => "eml"; case 4 => "txt"; case 5 => "zip"
            case 6 => "pdf"; case 7 => "docx"; case 8 => "xlsx"
          }
          val (fn, bytes) = render(fmt, id, if (text == null) "" else text)
          PendingDoc(id.toString, "", Seq.empty, 0, fn, "", bytes)
        })
      Pipeline.run(s, pending).meta.toDF().filter(col("depth") === 0)
        .select(col("doc_id").cast("long").as("doc_id"), col("ingestor"),
          col("mime_type"), col("processing_status").as("status"))
        .orderBy("doc_id")
    }),
    // EXIF roundtrip: JPEG APP1 IFD + SOF dims → ImageIngestor metadata
    "x_image" -> ((s, dir) =>
      extract(s, dir, "jpg_exif").meta.toDF()
        .select(col("doc_id").cast("long").as("doc_id"),
          element_at(element_at(col("properties"), "generator"), 1).as("make"),
          element_at(element_at(col("properties"), "generator"), 2).as("model"),
          prop("authoredAt").as("authored_at"),
          prop("width").cast("long").as("width"),
          prop("height").cast("long").as("height"))
        .orderBy("doc_id")),
    // OCR end-to-end: BMP images + Type3-flagged PDFs through the pipeline
    // (size window, Type3 text-layer suppression, engine, cache — see
    // graft.ocr.Ocr; reference support/ocr.py + support/pdf.py:105-147)
    "x_ocr" -> ((s, dir) => {
      val out = extract(s, dir, "ocr")
      val meta = out.meta.toDF().select(col("doc_id"), col("ingestor"))
      val texts = out.spans.toDF()
        .filter(col("kind").isin("text", "page") && length(trim(col("text"))) > 0)
        .select(col("doc_id"), trim(col("text")).as("ocr_text"))
      meta.join(texts, Seq("doc_id"), "left")
        .select(col("doc_id").cast("long").as("doc_id"), col("ingestor"),
          col("ocr_text"))
        .orderBy("doc_id")
    }),
    // the cluster-scale OCR cache shape: distinct-by-content-hash, OCR
    // once per distinct image, join text back on the hash (ocr.py's Redis
    // tag cache re-expressed as a dataflow)
    "t_ocr_cache" -> ((s, dir) => {
      import s.implicits._
      val imgs = documents(s, dir)
        .select(col("doc_id").cast("long").as("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          (id, graft.ocr.Raster.renderText("GROUP " + (id % 50),
            scale = 2, minWidthChars = 30))
        }).toDF("doc_id", "img")
      graft.ocr.Ocr.ocrDataFrame(s, imgs, "doc_id", "img")
        .orderBy("doc_id")
    }),
    "m_media_meta" -> ((s, dir) => {
      val media = documents(s, dir)
        .select(col("doc_id").cast("long").as("doc_id"),
          element_at(array(lit("image"), lit("audio"), lit("video")),
            (col("doc_id") % 3 + 1).cast("int")).as("kind"),
          encode(col("text"), "UTF-8").as("payload"))
      graft.ops.Multimodal.decodeMedia(s, media, "doc_id", "kind", "payload")
        .toDF()
        .select(col("doc_id"), col("kind"), col("byte_len"))
        .orderBy("doc_id")
    }),
    // Real media-extractor path end-to-end: classify + AudioIngestor over
    // rendered WAV/MP3 containers; metadata (title/duration/samplingRate)
    // must match the byte-exact values the renderers encoded.
    "m_media_real" -> ((s, dir) => {
      import s.implicits._
      val pending = documents(s, dir)
        .select(col("doc_id").cast("long")).as[Long]
        .mapPartitions(_.map { id =>
          val (fn, bytes) = render(if (id % 2 == 0) "wav" else "mp3", id, "")
          PendingDoc(id.toString, "", Seq.empty, 0, fn, "", bytes)
        })
      Pipeline.run(s, pending).meta.toDF()
        .select(col("doc_id").cast("long").as("doc_id"),
          col("ingestor"),
          coalesce(prop("title"), lit("")).as("title"),
          prop("duration").cast("long").as("duration"),
          prop("samplingRate").cast("long").as("sampling_rate"))
        .orderBy("doc_id")
    }),
    // TIFF EXIF roundtrip through TIFFIngestor (IFD walker on the container)
    "x_tiff" -> ((s, dir) =>
      extract(s, dir, "tiff_exif").meta.toDF()
        .select(col("doc_id").cast("long").as("doc_id"),
          col("ingestor"),
          element_at(element_at(col("properties"), "generator"), 1).as("make"),
          element_at(element_at(col("properties"), "generator"), 2).as("model"),
          prop("authoredAt").as("authored_at"))
        .orderBy("doc_id")),
    // PST roundtrip: from-scratch [MS-PST] writer (crypt none) -> NDB/LTP
    // reader -> one eml child per message -> RFC822 pipeline. Matches the
    // reference's readpst-export-then-delegate shape (outlookpst.py:13-39).
    "x_pst" -> ((s, dir) =>
      childBodies(extract(s, dir, "pst"), "inner", trimmed, "body",
        col("file_name"), prop("subject").as("subject"))),
    // EmailIdentity -> Person rows (support/email.py:18-49): eml roundtrip
    // through the pipeline, identities re-keyed per the reference's rules
    // (valid email wins, else >10-char name; bare-email labels flip).
    "x_eml_persons" -> ((s, dir) =>
      graft.analysis.Analyze.emailPersons(s, extract(s, dir, "eml_ids").meta)
        .select(col("doc_id").cast("long").as("doc_id"),
          col("person_key"), col("name"), col("email"))
        .orderBy("doc_id", "person_key")),

    // ---- full corpus (rows-only smoke of every extractor family) -------
    "pipeline_corpus" -> ((s, dir) => {
      val n = math.max(500L, (CorpusGen.sfFromDir(dir) * 50000L).toLong)
      val (docs, blobs) = CorpusGen.corpus(s, n)
      val out = Pipeline.run(s, Pipeline.initialPending(s, docs, blobs))
      // histogram serialized to JSON: the driver's pandas compare cannot
      // sort raw array columns
      Pipeline.metrics(out.meta)
        .withColumn("duration_hist", to_json(col("duration_hist")))
        .orderBy("ingestor")
    })
  )
}
