package graft

import graft.analysis.Analyze
import graft.corpus.CorpusGen
import graft.ops.{Dedup, Similarity, TextOps, Multimodal}
import graft.pipeline.Pipeline
import graft.queries.QueryLib
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Query naming: x_* are end-to-end extraction roundtrips (render → classify
  * → extract → project, DuckDB-oracle-verified); t_* are training-data text
  * ops; s_* similarity search; e_* embedding dedup; m_* multimodal; a_*
  * analysis stage; pipeline_* full-corpus runs (rows-only checks). */
object SparkEntry {

  /** Seq-ordered concatenation of a document's text spans. */
  private def joinedBody(out: Pipeline.Output): DataFrame =
    out.spans.toDF().filter(col("kind") === "text")
      .groupBy(col("doc_id"))
      .agg(concat_ws(" ", array_sort(collect_list(struct(col("seq"), col("text"))))
        .getField("text")).as("body"))

  /** render → pipeline → (doc_id, body) for formats whose whole text
    * roundtrips verbatim. */
  private def bodyRoundtrip(s: SparkSession, dir: String,
                            renderer: String): DataFrame = {
    val out = QueryLib.run(s, QueryLib.renderPending(s, QueryLib.documents(s, dir), renderer))
    joinedBody(out)
      .select(col("doc_id").cast("long").as("doc_id"), col("body"))
      .orderBy("doc_id")
  }

  /** Deterministic multi-line "web page" per document for the line-level
    * ops (C4 filter, boilerplate line dedup): the flat testdata text has
    * no lines or sentences, so both engines synthesize the same page —
    * a shared header line, token-decade body lines with terminal
    * punctuation on (id+i)%3!=0, a footer on id%4, a lorem-ipsum line on
    * id%17, a brace line on id%23. The DuckDB oracles rebuild it with the
    * identical arithmetic (the planted-structure pattern of
    * t_decontaminate). */
  private def pagedDocs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    QueryLib.documents(s, dir)
      .select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
      .map { case (id, text) =>
        val toks = graft.core.TextUtil.tokens(if (text == null) "" else text)
        val nBody = (toks.length + 9) / 10
        val sb = new StringBuilder("subscribe to our newsletter today.")
        var i = 0
        while (i < nBody) {
          sb.append('\n').append(toks.slice(10 * i, 10 * i + 10).mkString(" "))
          if ((id + i) % 3 != 0) sb.append('.')
          i += 1
        }
        if (id % 4 == 0) sb.append("\ncopyright example site all rights reserved")
        if (id % 17 == 0) sb.append("\nlorem ipsum dolor sit amet.")
        if (id % 23 == 0) sb.append("\nenable javascript { window.load }")
        (id, sb.toString)
      }.toDF("doc_id", "page")
  }

  /** The page-synthesis CTE shared by the line-op oracles — must stay in
    * lockstep with [[pagedDocs]]. */
  private val PagedCte: String =
    """WITH tk AS (
      |  SELECT CAST(doc_id AS BIGINT) AS id,
      |         list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS toks
      |  FROM documents),
      |pg AS (
      |  SELECT id,
      |    'subscribe to our newsletter today.' ||
      |    coalesce(list_aggregate(
      |      list_transform(range(0, CAST(ceil(len(toks) / 10.0) AS BIGINT)),
      |        i -> chr(10) || array_to_string(toks[10*i+1:10*i+10], ' ') ||
      |             CASE WHEN (id + i) % 3 <> 0 THEN '.' ELSE '' END),
      |      'string_agg', ''), '') ||
      |    CASE WHEN id % 4 = 0 THEN chr(10) || 'copyright example site all rights reserved' ELSE '' END ||
      |    CASE WHEN id % 17 = 0 THEN chr(10) || 'lorem ipsum dolor sit amet.' ELSE '' END ||
      |    CASE WHEN id % 23 = 0 THEN chr(10) || 'enable javascript { window.load }' ELSE '' END
      |    AS page
      |  FROM tk)""".stripMargin

  /** Deterministic interleaved SPANS table per document — the exact input
    * shape the north rule names: (doc_id, spans: array<struct<kind,text,
    * media_ref,offset>>). Per doc: a shared boilerplate header span,
    * 8-token body text spans, an image span after body group i when
    * (id+i)%5==0 (media_ref = blob-id-i), a shared footer span on id%4.
    * The i_spans_* oracles rebuild the exploded rows with identical
    * arithmetic (the pagedDocs pattern, lifted to the nested shape). */
  private def spanDocs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    QueryLib.documents(s, dir)
      .select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
      .map { case (id, text) =>
        val toks = graft.core.TextUtil.tokens(if (text == null) "" else text)
        val n = (toks.length + 7) / 8
        val buf = scala.collection.mutable.ArrayBuffer.empty[graft.core.Span]
        buf += graft.core.Span("text", "subscribe to our newsletter today.", "", 0)
        var i = 0
        while (i < n) {
          buf += graft.core.Span("text", toks.slice(8 * i, 8 * i + 8).mkString(" "), "", 8 * i)
          if ((id + i) % 5 == 0)
            buf += graft.core.Span("image", "", s"blob-$id-$i", 8 * i)
          i += 1
        }
        if (id % 4 == 0)
          buf += graft.core.Span("text",
            "copyright example site all rights reserved", "", 8 * n)
        (id, buf.toSeq)
      }.toDF("doc_id", "spans")
  }

  /** Exploded-rows synthesis CTE shared by the i_spans_* oracles — must
    * stay in lockstep with [[spanDocs]] (pos = array index: header 0,
    * body group i at 1+i+m(i) where m(i) = media spans before group i,
    * media after group i at 2+i+m(i), footer at 1+n+m(n)). */
  private val SpanCte: String =
    """WITH tk AS (
      |  SELECT CAST(doc_id AS BIGINT) AS id,
      |         list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS toks
      |  FROM documents),
      |nn AS (
      |  SELECT id, toks, CAST(ceil(len(toks) / 8.0) AS BIGINT) AS ng FROM tk),
      |sp AS (
      |  SELECT id, CAST(0 AS BIGINT) AS pos, 'text' AS kind,
      |         'subscribe to our newsletter today.' AS stext,
      |         '' AS media_ref, CAST(0 AS BIGINT) AS off
      |  FROM nn
      |  UNION ALL
      |  SELECT id, 1 + i + len(list_filter(range(0, i), j -> (id + j) % 5 = 0)),
      |         'text', array_to_string(toks[8*i+1:8*i+8], ' '), '', 8*i
      |  FROM nn, unnest(range(0, ng)) AS r(i)
      |  UNION ALL
      |  SELECT id, 2 + i + len(list_filter(range(0, i), j -> (id + j) % 5 = 0)),
      |         'image', '', 'blob-' || id || '-' || i, 8*i
      |  FROM nn, unnest(range(0, ng)) AS r(i) WHERE (id + i) % 5 = 0
      |  UNION ALL
      |  SELECT id, 1 + ng + len(list_filter(range(0, ng), j -> (id + j) % 5 = 0)),
      |         'text', 'copyright example site all rights reserved', '', 8*ng
      |  FROM nn WHERE id % 4 = 0)""".stripMargin

  /** Flagship: full extraction pipeline over the synthetic interleaved
    * corpus at smoke scale; driver checks rows > 0. */
  def entry(spark: SparkSession): DataFrame = {
    val (docs, blobs) = CorpusGen.corpus(spark, 1000)
    val pending = Pipeline.initialPending(spark, docs, blobs)
    Pipeline.run(spark, pending).spans.toDF()
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- extraction roundtrips (oracle-verified end-to-end) ----------
    "x_html" -> ((s, dir) => {
      val out = QueryLib.run(s, QueryLib.renderPending(s, QueryLib.documents(s, dir), "html"))
      val meta = out.meta.toDF().select(col("doc_id"),
        QueryLib.prop("title").as("title"))
      val body = out.spans.toDF().filter(col("kind") === "text")
        .select(col("doc_id"), col("text").as("body"))
      meta.join(body, "doc_id")
        .select(col("doc_id").cast("long").as("doc_id"), col("title"), col("body"))
        .orderBy("doc_id")
    }),
    "x_csv" -> ((s, dir) => {
      val out = QueryLib.run(s, QueryLib.renderPending(s, QueryLib.documents(s, dir), "csv"))
      val meta = out.meta.toDF().select(col("doc_id"),
        QueryLib.prop("rowCount").cast("long").as("row_count"))
      val body = out.spans.toDF().filter(col("kind") === "text")
        .groupBy(col("doc_id"))
        .agg(concat_ws(" ", array_sort(collect_list(struct(col("seq"), col("text"))))
          .getField("text")).as("body"))
      meta.join(body, "doc_id")
        .select(col("doc_id").cast("long").as("doc_id"), col("row_count"), col("body"))
        .orderBy("doc_id")
    }),
    "x_json" -> ((s, dir) => {
      val out = QueryLib.run(s, QueryLib.renderPending(s, QueryLib.documents(s, dir), "json"))
      out.spans.toDF().filter(col("kind") === "text")
        .groupBy(col("doc_id"))
        .agg(concat_ws(" ", array_sort(collect_list(struct(col("seq"), col("text"))))
          .getField("text")).as("body"))
        .select(col("doc_id").cast("long").as("doc_id"), col("body"))
        .orderBy("doc_id")
    }),
    "x_eml" -> ((s, dir) => {
      val out = QueryLib.run(s, QueryLib.renderPending(s, QueryLib.documents(s, dir), "eml"))
      val meta = out.meta.toDF().select(col("doc_id"),
        QueryLib.prop("subject").as("subject"))
      val body = out.spans.toDF().filter(col("kind") === "text")
        .select(col("doc_id"),
          regexp_replace(col("text"), """^\s+|\s+$""", "").as("body"))
      meta.join(body, "doc_id")
        .select(col("doc_id").cast("long").as("doc_id"), col("subject"), col("body"))
        .orderBy("doc_id")
    }),
    "x_rtf" -> ((s, dir) => {
      val out = QueryLib.run(s, QueryLib.renderPending(s, QueryLib.documents(s, dir), "rtf"))
      out.spans.toDF().filter(col("kind") === "text")
        .select(col("doc_id").cast("long").as("doc_id"), col("text").as("body"))
        .orderBy("doc_id")
    }),
    // 7z roundtrip: Copy-codec container written Spark-side → pipeline
    // (SevenZipIngestor header+folder decode → PlainText child)
    // RAR roundtrip: RAR4 store-method writer → pipeline (RARIngestor
    // header parse + member extraction → PlainText children)
    "x_rar" -> ((s, dir) => {
      val out = QueryLib.run(s, QueryLib.renderPending(s, QueryLib.documents(s, dir), "rar"))
      val children = out.meta.toDF().filter(col("depth") === 1)
        .select(col("parent_id").cast("long").as("doc_id"),
          col("doc_id").as("child_id"), col("file_name"),
          col("processing_status").as("status"))
      val body = out.spans.toDF().filter(col("kind") === "text")
        .select(col("doc_id").as("child_id"), col("text").as("body"))
      // left join: the compressed member (c.bin) has a failure child row
      // with no body — the reference's warn-and-skip made observable
      children.join(body, Seq("child_id"), "left")
        .select(col("doc_id"), col("file_name"), col("body"), col("status"))
        .orderBy("doc_id", "file_name")
    }),
    "x_7z" -> ((s, dir) => {
      val out = QueryLib.run(s, QueryLib.renderPending(s, QueryLib.documents(s, dir), "7z"))
      val children = out.meta.toDF().filter(col("depth") === 1)
        .select(col("parent_id").cast("long").as("doc_id"),
          col("doc_id").as("child_id"), col("file_name"))
      val body = out.spans.toDF().filter(col("kind") === "text")
        .select(col("doc_id").as("child_id"), col("text").as("body"))
      children.join(body, "child_id")
        .select(col("doc_id"), col("file_name"), col("body"))
        .orderBy("doc_id")
    }),
    // bz2 roundtrip: Spark-side bzip2 encoder → pipeline (BZ2Ingestor
    // decode → PlainText child) → body equals the original text
    "x_bz2" -> ((s, dir) => {
      val out = QueryLib.run(s, QueryLib.renderPending(s, QueryLib.documents(s, dir), "bz2"))
      val children = out.meta.toDF().filter(col("depth") === 1)
        .select(col("parent_id").cast("long").as("doc_id"),
          col("doc_id").as("child_id"), col("file_name"))
      val body = out.spans.toDF().filter(col("kind") === "text")
        .select(col("doc_id").as("child_id"), col("text").as("body"))
      children.join(body, "child_id")
        .select(col("doc_id"), col("file_name"), col("body"))
        .orderBy("doc_id")
    }),
    "x_targz" -> ((s, dir) => {
      val out = QueryLib.run(s, QueryLib.renderPending(s, QueryLib.documents(s, dir), "targz"))
      val children = out.meta.toDF().filter(col("depth") === 1)
        .select(col("parent_id").cast("long").as("doc_id"),
          col("doc_id").as("child_id"), col("file_name"))
      val body = out.spans.toDF().filter(col("kind") === "text")
        .select(col("doc_id").as("child_id"), col("text").as("body"))
      children.join(body, "child_id")
        .select(col("doc_id"), col("file_name"), col("body"))
        .orderBy("doc_id", "file_name")
    }),
    // WARC roundtrip (beyond the reference's formats: the Common Crawl
    // container): even ids plain .warc, odd ids member-per-record
    // .warc.gz; the 200 html + chunked 200 text responses become children
    // named by target URI, the warcinfo/request/404/revisit/metadata
    // records must not
    "x_warc" -> ((s, dir) => {
      val out = QueryLib.run(s, QueryLib.renderPending(s, QueryLib.documents(s, dir), "warc"))
      val children = out.meta.toDF().filter(col("depth") === 1)
        .select(col("parent_id").cast("long").as("doc_id"),
          col("doc_id").as("child_id"), col("file_name").as("uri"))
      val body = out.spans.toDF().filter(col("kind") === "text")
        .select(col("doc_id").as("child_id"), col("text").as("body"))
      children.join(body, "child_id")
        .select(col("doc_id"), col("uri"), col("body"))
        .orderBy("doc_id", "uri")
    }),
    "x_zip_children" -> ((s, dir) => {
      val out = QueryLib.run(s, QueryLib.renderPending(s, QueryLib.documents(s, dir), "zip"))
      val children = out.meta.toDF().filter(col("depth") === 1)
        .select(col("parent_id").cast("long").as("doc_id"),
          col("doc_id").as("child_id"), col("file_name"))
      val body = out.spans.toDF().filter(col("kind") === "text")
        .select(col("doc_id").as("child_id"), col("text").as("body"))
      children.join(body, "child_id")
        .select(col("doc_id"), col("file_name"), col("body"))
        .orderBy("doc_id", "file_name")
    }),
    "x_pdf" -> ((s, dir) => {
      val out = QueryLib.run(s, QueryLib.renderPending(s, QueryLib.documents(s, dir), "pdf"))
      val meta = out.meta.toDF().select(col("doc_id"),
        QueryLib.prop("title").as("title"),
        QueryLib.prop("pageCount").cast("long").as("page_count"))
      val body = out.spans.toDF().filter(col("kind") === "page")
        .groupBy(col("doc_id"))
        .agg(regexp_replace(
          concat_ws(" ", array_sort(collect_list(struct(col("seq"), col("text"))))
            .getField("text")), "\n", " ").as("body"))
      meta.join(body, "doc_id")
        .select(col("doc_id").cast("long").as("doc_id"), col("title"),
          col("page_count"), col("body"))
        .orderBy("doc_id")
    }),
    "x_docx" -> ((s, dir) => {
      val out = QueryLib.run(s, QueryLib.renderPending(s, QueryLib.documents(s, dir), "docx"))
      val meta = out.meta.toDF().select(col("doc_id"),
        QueryLib.prop("title").as("title"),
        QueryLib.prop("authoredAt").as("authored_at"))
      val body = out.spans.toDF().filter(col("kind") === "text")
        .groupBy(col("doc_id"))
        .agg(concat_ws(" ", array_sort(collect_list(struct(col("seq"), col("text"))))
          .getField("text")).as("body"))
      meta.join(body, "doc_id")
        .select(col("doc_id").cast("long").as("doc_id"), col("title"),
          col("authored_at"), col("body"))
        .orderBy("doc_id")
    }),
    "x_xlsx" -> ((s, dir) => {
      val out = QueryLib.run(s, QueryLib.renderPending(s, QueryLib.documents(s, dir), "xlsx"))
      val meta = out.meta.toDF().select(col("doc_id"),
        QueryLib.prop("rowCount").cast("long").as("row_count"),
        QueryLib.prop("sheets").as("sheet"))
      val body = out.spans.toDF().filter(col("kind") === "text")
        .groupBy(col("doc_id"))
        .agg(concat_ws(" ", array_sort(collect_list(struct(col("seq"), col("text"))))
          .getField("text")).as("body"))
      meta.join(body, "doc_id")
        .select(col("doc_id").cast("long").as("doc_id"), col("sheet"),
          col("row_count"), col("body"))
        .orderBy("doc_id")
    }),
    "x_sqlite" -> ((s, dir) => {
      val out = QueryLib.run(s, QueryLib.renderPending(s, QueryLib.documents(s, dir), "sqlite"))
      val meta = out.meta.toDF().select(col("doc_id"),
        QueryLib.prop("rowCount").cast("long").as("row_count"),
        QueryLib.prop("sheets").as("table_name"))
      val body = out.spans.toDF().filter(col("kind") === "text")
        .groupBy(col("doc_id"))
        .agg(concat_ws(" ", array_sort(collect_list(struct(col("seq"), col("text"))))
          .getField("text")).as("body"))
      meta.join(body, "doc_id")
        .select(col("doc_id").cast("long").as("doc_id"), col("table_name"),
          col("row_count"), col("body"))
        .orderBy("doc_id")
    }),
    // Jet4 .mdb roundtrip: from-scratch writer (Jet4Writer) -> Jet reader
    // -> AccessIngestor rows; pins the Jet4 page/row/TDEF layout the same
    // way x_pst pins [MS-PST] (no public Jet4 fixture; Books_be.mdb is
    // Jet3 and covered by FixtureSpec).
    "x_mdb" -> ((s, dir) => {
      val out = QueryLib.run(s, QueryLib.renderPending(s, QueryLib.documents(s, dir), "mdb"))
      val meta = out.meta.toDF().select(col("doc_id"),
        QueryLib.prop("rowCount").cast("long").as("row_count"),
        QueryLib.prop("sheets").as("table_name"))
      val body = out.spans.toDF().filter(col("kind") === "text")
        .groupBy(col("doc_id"))
        .agg(concat_ws(" ", array_sort(collect_list(struct(col("seq"), col("text"))))
          .getField("text")).as("body"))
      meta.join(body, "doc_id")
        .select(col("doc_id").cast("long").as("doc_id"), col("table_name"),
          col("row_count"), col("body"))
        .orderBy("doc_id")
    }),
    "x_xls" -> ((s, dir) => {
      val out = QueryLib.run(s, QueryLib.renderPending(s, QueryLib.documents(s, dir), "xls"))
      val meta = out.meta.toDF().select(col("doc_id"),
        QueryLib.prop("rowCount").cast("long").as("row_count"),
        QueryLib.prop("sheets").as("sheet"))
      val body = out.spans.toDF().filter(col("kind") === "text")
        .groupBy(col("doc_id"))
        .agg(concat_ws(" ", array_sort(collect_list(struct(col("seq"), col("text"))))
          .getField("text")).as("body"))
      meta.join(body, "doc_id")
        .select(col("doc_id").cast("long").as("doc_id"), col("sheet"),
          col("row_count"), col("body"))
        .orderBy("doc_id")
    }),
    "x_mbox" -> ((s, dir) => {
      val out = QueryLib.run(s, QueryLib.renderPending(s, QueryLib.documents(s, dir), "mbox"))
      val children = out.meta.toDF().filter(col("depth") === 1)
        .select(col("parent_id").cast("long").as("doc_id"),
          col("doc_id").as("child_id"),
          QueryLib.prop("subject").as("subject"))
      val body = out.spans.toDF().filter(col("kind") === "text")
        .select(col("doc_id").as("child_id"),
          regexp_replace(col("text"), """^\s+|\s+$""", "").as("body"))
      children.join(body, "child_id")
        .select(col("doc_id"), col("subject"), col("body"))
        .orderBy("doc_id", "subject")
    }),
    // Boilerplate strip: nav/sidebar/footer chrome must vanish, the
    // article text must survive verbatim (text-density main-content
    // heuristic of the north star).
    "x_html_main" -> ((s, dir) => {
      val out = QueryLib.run(s, QueryLib.renderPending(s, QueryLib.documents(s, dir), "html_boiler"))
      out.meta.toDF()
        .select(col("doc_id").cast("long").as("doc_id"),
          QueryLib.prop("mainText").as("main_text"))
        .orderBy("doc_id")
    }),
    // ---- simple body roundtrips: render → extract → body == text -------
    // §2.1 directory source end-to-end: a rendered on-disk tree through
    // the binaryFile DSv2 scan (SKIP_ENTRIES observable: .git/__MACOSX
    // files exist on disk but must never become rows). The fixture tree
    // is written driver-side because the operator under test IS the
    // filesystem scan; bounded by the verify corpus size.
    "x_dir" -> ((s, dir) => {
      import s.implicits._
      val docs = QueryLib.documents(s, dir)
        .select(col("doc_id").cast("long"), col("text"))
        .as[(Long, String)].collect()
      val root = new java.io.File(System.getProperty("java.io.tmpdir"),
        "graft_xdir_" + dir.replaceAll("[^A-Za-z0-9]", "_"))
      def deleteRec(f: java.io.File): Unit = {
        val kids = f.listFiles()
        if (kids != null) kids.foreach(deleteRec)
        f.delete(); ()
      }
      if (root.exists()) deleteRec(root)
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
      val out = QueryLib.run(s,
        graft.sources.Sources.fromDirectory(s, root.getAbsolutePath))
      out.spans.toDF().filter(col("kind") === "text")
        .select(col("doc_id").as("path"), col("text").as("body"))
        .orderBy("path")
    }),
    "x_txt" -> ((s, dir) => bodyRoundtrip(s, dir, "txt")),
    "x_xml" -> ((s, dir) => bodyRoundtrip(s, dir, "xml")),
    "x_svg" -> ((s, dir) => bodyRoundtrip(s, dir, "svg")),
    "x_odt" -> ((s, dir) => bodyRoundtrip(s, dir, "odt")),
    "x_ods" -> ((s, dir) => {
      val out = QueryLib.run(s, QueryLib.renderPending(s, QueryLib.documents(s, dir), "ods"))
      val meta = out.meta.toDF().select(col("doc_id"),
        QueryLib.prop("rowCount").cast("long").as("row_count"),
        QueryLib.prop("sheets").as("sheet"))
      meta.join(joinedBody(out), "doc_id")
        .select(col("doc_id").cast("long").as("doc_id"), col("sheet"),
          col("row_count"), col("body"))
        .orderBy("doc_id")
    }),
    "x_dbf" -> ((s, dir) => {
      val out = QueryLib.run(s, QueryLib.renderPending(s, QueryLib.documents(s, dir), "dbf"))
      val meta = out.meta.toDF().select(col("doc_id"),
        QueryLib.prop("rowCount").cast("long").as("row_count"))
      meta.join(joinedBody(out), "doc_id")
        .select(col("doc_id").cast("long").as("doc_id"),
          col("row_count"), col("body"))
        .orderBy("doc_id")
    }),
    "x_msg" -> ((s, dir) => {
      val out = QueryLib.run(s, QueryLib.renderPending(s, QueryLib.documents(s, dir), "msg"))
      val meta = out.meta.toDF().select(col("doc_id"),
        QueryLib.prop("subject").as("subject"),
        QueryLib.prop("emitters").as("sender"))
      meta.join(joinedBody(out), "doc_id")
        .select(col("doc_id").cast("long").as("doc_id"), col("subject"),
          col("sender"), col("body"))
        .orderBy("doc_id")
    }),
    // .msg attachments become children re-ingested at depth 1
    "x_msg_attach" -> ((s, dir) => {
      val out = QueryLib.run(s, QueryLib.renderPending(s, QueryLib.documents(s, dir), "msg_attach"))
      val children = out.meta.toDF().filter(col("depth") === 1)
        .select(col("parent_id").cast("long").as("doc_id"),
          col("doc_id").as("child_id"), col("file_name"))
      val body = out.spans.toDF().filter(col("kind") === "text")
        .select(col("doc_id").as("child_id"), col("text").as("att_body"))
      children.join(body, "child_id")
        .select(col("doc_id"), col("file_name"), col("att_body"))
        .orderBy("doc_id")
    }),
    "x_emlx" -> ((s, dir) => {
      val out = QueryLib.run(s, QueryLib.renderPending(s, QueryLib.documents(s, dir), "emlx"))
      val meta = out.meta.toDF().select(col("doc_id"),
        QueryLib.prop("subject").as("subject"))
      val body = out.spans.toDF().filter(col("kind") === "text")
        .select(col("doc_id"),
          regexp_replace(col("text"), """^\s+|\s+$""", "").as("body"))
      meta.join(body, "doc_id")
        .select(col("doc_id").cast("long").as("doc_id"), col("subject"), col("body"))
        .orderBy("doc_id")
    }),
    // OLM archive: zip → message XML child (depth 1) → subject/body
    "x_olm" -> ((s, dir) => {
      val out = QueryLib.run(s, QueryLib.renderPending(s, QueryLib.documents(s, dir), "olm"))
      val children = out.meta.toDF().filter(col("depth") === 1)
        .select(col("parent_id").cast("long").as("doc_id"),
          col("doc_id").as("child_id"),
          QueryLib.prop("subject").as("subject"))
      val body = out.spans.toDF().filter(col("kind") === "text")
        .select(col("doc_id").as("child_id"), col("text").as("body"))
      children.join(body, "child_id")
        .select(col("doc_id"), col("subject"), col("body"))
        .orderBy("doc_id")
    }),
    "x_vcf" -> ((s, dir) => {
      val out = QueryLib.run(s, QueryLib.renderPending(s, QueryLib.documents(s, dir), "vcf"))
      out.meta.toDF()
        .select(col("doc_id").cast("long").as("doc_id"),
          QueryLib.prop("peopleMentioned").as("person"),
          QueryLib.prop("emailMentioned").as("email"))
        .orderBy("doc_id")
    }),
    "x_ics" -> ((s, dir) => {
      val out = QueryLib.run(s, QueryLib.renderPending(s, QueryLib.documents(s, dir), "ics"))
      out.meta.toDF()
        .select(col("doc_id").cast("long").as("doc_id"),
          QueryLib.prop("eventsMentioned").as("event"),
          QueryLib.prop("emailMentioned").as("email"))
        .orderBy("doc_id")
    }),
    "x_classify" -> ((s, dir) => {
      import s.implicits._
      val pending = QueryLib.documents(s, dir)
        .select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
        .mapPartitions(_.map { case (id, text) =>
          val fmt = (id % 9) match {
            case 0 => "html"; case 1 => "csv"; case 2 => "json"
            case 3 => "eml"; case 4 => "txt"; case 5 => "zip"
            case 6 => "pdf"; case 7 => "docx"; case 8 => "xlsx"
          }
          val (fn, bytes) = QueryLib.render(fmt, id, if (text == null) "" else text)
          graft.core.PendingDoc(id.toString, "", Seq.empty, 0, fn, "", bytes)
        })
      QueryLib.run(s, pending).meta.toDF().filter(col("depth") === 0)
        .select(col("doc_id").cast("long").as("doc_id"), col("ingestor"),
          col("mime_type"), col("processing_status").as("status"))
        .orderBy("doc_id")
    }),

    // ---- training-data text ops --------------------------------------
    "t_dedup_exact" -> ((s, dir) =>
      Dedup.exact(QueryLib.documents(s, dir), "doc_id", "text")
        .select(col("doc_id").cast("long").as("doc_id"), col("n_dups"))
        .orderBy("doc_id")),
    "t_token_count" -> ((s, dir) =>
      QueryLib.documents(s, dir)
        .select(col("doc_id").cast("long").as("doc_id"),
          TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))
        .orderBy("doc_id")),
    // Incremental dedup vs a prior corpus snapshot (bloom prefilter +
    // exact verify; bloom is performance-only so the oracle is the plain
    // text-equality join). Prior = every third document.
    "t_dedup_incr" -> ((s, dir) => {
      val docs = QueryLib.documents(s, dir)
      val prior = docs.filter(col("doc_id") % 3 === 0)
      Dedup.dedupAgainst(s, prior, docs, "doc_id", "text")
        .orderBy("id")
    }),
    // Snapshot diff between two corpus versions — churn-only output
    // (added / removed / changed), id+hash exchange, text never shuffles.
    // Prior = all docs; current drops id%11==3, rewrites id%7==0, and
    // adds +1M-offset copies of id%5==0.
    "t_corpus_diff" -> ((s, dir) => {
      val docs = QueryLib.documents(s, dir)
      val id = col("doc_id").cast("long")
      val prior = docs.select(id.as("id"), col("text"))
      val current = docs.filter(id % 11 =!= 3)
        .select(id.as("id"),
          when(id % 7 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"))
        .unionByName(docs.filter(id % 5 === 0)
          .select((id + 1000000L).as("id"), col("text")))
      Dedup.corpusDiff(prior, current, "id", "text").orderBy("id")
    }),
    // End-to-end corpus dedup (exact collapse -> star LSH -> connected
    // components -> survivor), exact-verified so the oracle is the
    // ground-truth jaccard>=0.8 graph: exhaustive shingle-jaccard pairs +
    // recursive-CTE reachability closure in DuckDB. Pins LSH recall,
    // star-link connectivity, AND the CC labeling in one query.
    "t_dedup_corpus" -> ((s, dir) => {
      val base = QueryLib.documents(s, dir)
        .select(col("doc_id").cast("long").as("id"), col("text"))
      val dup = base.select((col("id") + 1000000L).as("id"), col("text"))
      graft.ops.Dedup.dedupCorpus(s, base.unionByName(dup), "id", "text", 0.8,
          verify = "exact")
        .orderBy("id")
    }),
    // Duplicated-substring signal (Lee et al. 2021 hash-gram form):
    // 20-token grams shared across docs; planted half-copies guarantee
    // genuine shared runs
    "t_shared_ngrams" -> ((s, dir) => {
      import s.implicits._
      val base = QueryLib.documents(s, dir)
        .select(col("doc_id").cast("long").as("id"), col("text"))
      // half-document copies (token-canonical so the oracle derives the
      // identical token sequence): every gram of a copy occurs in its source
      val halves = base.as[(Long, String)].map { case (id, t) =>
        val toks = graft.core.TextUtil.tokens(t)
        val l = math.max(toks.length / 2, 21)
        (id + 1000000L, toks.take(l).mkString(" "))
      }.toDF("id", "text")
      TextOps.sharedNgramStats(s, base.unionByName(halves), "id", "text")
        .orderBy("id")
    }),
    // the Lee et al. 2021 REMOVAL transform on the same planted
    // half-copies: tokens covered by a cross-document 20-gram are cut,
    // so each half-copy empties and each source keeps its unique tail
    "t_strip_dupsub" -> ((s, dir) => {
      import s.implicits._
      val base = QueryLib.documents(s, dir)
        .select(col("doc_id").cast("long").as("id"), col("text"))
      val halves = base.as[(Long, String)].map { case (id, t) =>
        val toks = graft.core.TextUtil.tokens(t)
        val l = math.max(toks.length / 2, 21)
        (id + 1000000L, toks.take(l).mkString(" "))
      }.toDF("id", "text")
      TextOps.stripDupSubstrings(s, base.unionByName(halves), "id", "text")
        .orderBy("id")
    }),
    // PII redaction: planted email + phone per doc, the exact
    // regexp_replace chain replayed by the DuckDB oracle
    "t_redact" -> ((s, dir) => {
      val aug = QueryLib.documents(s, dir)
        .select(col("doc_id").cast("long").as("doc_id"),
          concat(col("text"), lit(" reach user"), col("doc_id"),
            lit("@example.com or +1 555 01"),
            lpad((col("doc_id") % 100).cast("string"), 2, "0"),
            lit(" today")).as("aug"))
      aug.select(col("doc_id"), TextOps.redactPii(col("aug")).as("redacted"))
        .orderBy("doc_id")
    }),
    // LLM context-window chunking: 50-token windows, stride 25
    "t_token_windows" -> ((s, dir) => {
      TextOps.tokenWindows(s, QueryLib.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id", "win_idx")
    }),
    // Corpus data card: per-(source, lang) rollup — docs/tokens/chars/
    // distinct content + milli tokens-per-doc
    "t_stats" -> ((s, dir) => {
      TextOps.corpusStats(QueryLib.documents(s, dir), "text",
          Seq("source", "lang"))
        .orderBy("source", "lang")
    }),
    // Data-mixing epoch assignment: per-stratum token budgets -> per-doc
    // repetition factors (n_full epochs + deterministic fractional draw)
    "t_mix" -> ((s, dir) => {
      val docs = QueryLib.documents(s, dir)
        .select(col("doc_id"), col("lang"),
          TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))
      TextOps.mixEpochs(s, docs, "doc_id", "lang", "n_tokens",
          budgets = Map("en" -> 2000000L, "de" -> 500000L), salt = "mix")
        .orderBy("id")
    }),
    // Sequence packing (GPT-style concat-and-chunk): documents in id
    // order form one virtual token stream cut every 512 tokens; output =
    // per-(chunk, doc) segment index. Spark runs the distributed
    // two-phase prefix sum; the oracle is the equivalent single-node
    // global window sum — same integers, opposite execution shape.
    "t_pack" -> ((s, dir) => {
      TextOps.packSequences(s, QueryLib.documents(s, dir), "doc_id", "text",
          contextLen = 512)
        .orderBy("chunk_id", "doc_id")
    }),
    // Deterministic stratified sampling (training-data mixing weights by
    // language): md5-prefix threshold, portable to any engine with md5 —
    // the oracle replicates the exact predicate.
    "t_sample_stratified" -> ((s, dir) => {
      TextOps.stratifiedSample(QueryLib.documents(s, dir), "doc_id", "lang",
          Map("en" -> 0.5, "de" -> 0.25), defaultRate = 0.1, salt = "graft")
        .select(col("doc_id").cast("long").as("doc_id"), col("lang"))
        .orderBy("doc_id")
    }),
    // Connected components over a deterministic chain graph (doc links to
    // doc+1 except across decade boundaries): pins the iterative min-label
    // propagation — chains need ~9 propagation rounds, so the loop (and its
    // convergence early-exit) is genuinely exercised, not just one round.
    "t_dedup_clusters" -> ((s, dir) => {
      val docs = QueryLib.documents(s, dir)
        .select(col("doc_id").cast("long").as("id"))
      val links = docs.toDF("id_a")
        .join(docs.toDF("id_b"), col("id_b") === col("id_a") + 1)
        .filter(col("id_a") % 10 =!= 9)
        .select(col("id_a"), col("id_b"))
      val comp = graft.ops.Dedup.connectedComponents(s, links)
      docs.join(comp, Seq("id"), "left")
        .select(col("id"), coalesce(col("component"), col("id")).as("component"))
        .orderBy("id")
    }),
    // Gopher repetition filters (Rae et al. 2021): duplicate-line /
    // duplicate-trigram / top-bigram fractions as integer milli-ratios
    "t_repetition" -> ((s, dir) => {
      TextOps.repetitionStats(s, QueryLib.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id")
    }),
    // benchmark decontamination: mark train docs sharing any exact
    // 13-token gram with the eval set (every 20th doc, tokens 6..40 —
    // a planted substring so overlap is real, not whole-doc identity)
    "t_decontaminate" -> ((s, dir) => {
      import s.implicits._
      val docs = QueryLib.documents(s, dir)
      val bench = docs.filter(col("doc_id") % 20 === 0)
        .select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
        .map { case (id, t) =>
          val toks = graft.core.TextUtil.tokens(if (t == null) "" else t)
          (id, toks.slice(5, 40).mkString(" "))
        }.toDF("doc_id", "text")
      TextOps.decontaminate(s, docs, bench, "doc_id", "text", 13)
        .orderBy("doc_id")
    }),
    // corpus text normalization: native codegen'd NFC (planted combining
    // sequences must compose) + control strip, oracled against DuckDB's
    // independent nfc_normalize implementation
    "t_normalize" -> ((s, dir) => {
      val planted = concat(lit("Cafe\u0301 nai\u0308ve \u0007"),
        substring(col("text"), 1, 200))
      QueryLib.documents(s, dir)
        .select(col("doc_id").cast("long").as("doc_id"), planted.as("raw"))
        .select(col("doc_id"), TextOps.normalizeText(col("raw")).as("text"))
        .orderBy("doc_id")
    }),
    // ftfy-style mojibake repair: the corruption is applied in the query
    // (UTF-8 bytes mis-decoded as cp1252), the repair must recover the
    // EXACT clean string — which the oracle derives directly, without ever
    // simulating the corruption (independent derivation); id%10==1 plants
    // genuine high-byte text that must pass through untouched
    "t_fix_mojibake" -> ((s, dir) => {
      import s.implicits._
      QueryLib.documents(s, dir)
        .select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
        .mapPartitions(_.map { case (id, t0) =>
          val t = if (t0 == null) "" else t0
          val corrupted =
            if (id % 10 == 1) "À la carte " + t.take(120)
            else
              TextOps.corruptAsMojibake(
                "naïve café — “quoted” übermaß " + t.take(120))
          (id, TextOps.fixMojibake(corrupted))
        }).toDF("doc_id", "fixed")
        .orderBy("doc_id")
    }),
    // crawl-grade URL canonicalization (scheme/host lowering, www +
    // default-port strip, tracking-param drop, param sort, fragment drop,
    // path normalization) + registrable domain — all one codegen'd
    // expression chain over deterministically synthesized messy URLs
    "t_url_canon" -> ((s, dir) => {
      val id = col("doc_id").cast("long")
      val host = graft.ops.UrlOps.hostOf(col("url"))
      QueryLib.documents(s, dir)
        .select(id.as("doc_id"), messyUrl(id).as("url"))
        .select(col("doc_id"),
          graft.ops.UrlOps.canonicalizeUrl(col("url")).as("canon"),
          host.as("host"),
          graft.ops.UrlOps.registrableDomain(host).as("domain"))
        .orderBy("doc_id")
    }),
    // crawl blocklist filter over the same messy-URL corpus: one exact
    // host rule (misses the :8080 variants — ports are part of the host
    // key), one registrable-domain rule (port-insensitive), two path/query
    // regexes, first-match-wins — all one codegen'd scan predicate
    "t_url_filter" -> ((s, dir) => {
      val id = col("doc_id").cast("long")
      QueryLib.documents(s, dir)
        .select(id.as("doc_id"), messyUrl(id).as("url"))
        .select(col("doc_id"), col("url"),
          graft.ops.UrlOps.urlFilter(col("url"),
            blockedHosts = Seq("site2.example.com"),
            blockedDomains = Seq("example.co.uk"),
            blockedPatterns = Seq("""\?.*z=9""", "/Path2[0-9]")).as("verdict"))
        .orderBy("doc_id")
    }),
    // robots.txt admission filter (RFC 9309): per-host robots — even
    // sites carry a graftbot-specific group (so their '*' disallow-all
    // must be IGNORED for graftbot: group selection), odd sites only a
    // '*' group with a $-anchored rule and a mid-pattern wildcard —
    // applied over the messy-URL corpus via broadcast join with a
    // per-partition parse cache
    "t_robots" -> ((s, dir) => {
      import s.implicits._
      val robotsA =
        """User-agent: graftbot
          |Disallow: /Path1
          |Allow: /Path12
          |User-agent: *
          |Disallow: /
          |""".stripMargin
      val robotsB =
        """User-agent: otherbot
          |Disallow: /
          |User-agent: *
          |Disallow: /Path3$
          |Disallow: /Path4*7
          |""".stripMargin
      val robots = (0 until 7).flatMap { k =>
        val txt = if (k % 2 == 0) robotsA else robotsB
        for (dom <- Seq(".example.com", ".example.co.uk");
             port <- Seq("", ":8080"))
          yield (s"site$k$dom$port", txt)
      }.toDF("host", "robots_txt")
      val id = col("doc_id").cast("long")
      val urls = QueryLib.documents(s, dir)
        .select(id.as("doc_id"), messyUrl(id).as("url"))
      graft.ops.UrlOps.robotsFilter(urls, "url", robots,
          "host", "robots_txt", "graftbot")
        .orderBy("doc_id")
    }),
    // per-canonical-URL first-seen dedup (the crawl frontier collapse):
    // 25 planted canonical groups, winner = min doc_id, dup count checked
    // against a hand-written expected canonical (independent derivation,
    // not mirrored code)
    "t_url_dedup" -> ((s, dir) => {
      val id = col("doc_id").cast("long")
      val url = concat(lit("https://www.example.com/page"),
        (id % 25).cast("string"),
        when(id % 2 === 0, "?utm_source=x").otherwise(""))
      val docs = QueryLib.documents(s, dir)
        .select(id.as("doc_id"), url.as("url"))
      graft.ops.UrlOps.dedupByCanonicalUrl(docs, "url", "doc_id")
        .select(col("doc_id"), col("url"), col("canon_url"), col("n_dups"))
        .orderBy("canon_url")
    }),
    // tumbling-window event metrics over the events table — the BATCH
    // shape of the streaming watermarked aggregation (same shared
    // function), value summed in integer cents so both engines agree
    "m_events_window" -> ((s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet")
      graft.streaming.StreamingIngest.windowedMetrics(ev, window_ = "1 hour")
        .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss")
            .as("window_start"),
          col("event_type"), col("n"), col("value_cents"))
        .orderBy("window_start", "event_type")
    }),
    // gap-based sessionization (30-min timeout) over the events table —
    // one lag-window exchange on user_id, the session groupBy reuses it
    // (single-shuffle plan); integer micros/cents end-to-end
    "m_sessionize" -> ((s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet")
      graft.streaming.StreamingIngest.sessionize(ev, gapSecs = 1800L)
        .orderBy("user_id", "session_seq")
    }),
    // fixed-iteration PageRank (10 rounds, damping 0.85) over a
    // deterministic crawl-graph shape (ring + doubling + hub edges per
    // doc id) in integer micro-units — floor'd at every step, so the
    // DuckDB recursive-CTE oracle reproduces the rank vector EXACTLY
    "t_pagerank" -> ((s, dir) => {
      val ids = QueryLib.documents(s, dir)
        .select(col("doc_id").cast("long").as("i"))
      val n = ids.count()
      val edges = ids.select(col("i").as("src"), ((col("i") + 1) % n).as("dst"))
        .union(ids.select(col("i"), (col("i") * 2) % n))
        .union(ids.select(col("i"), lit(0L)))
      // explicit scale pins the oracle (auto would derive n * 1e6)
      graft.ops.Graph.pageRank(s, edges, iterations = 10, scale = 1000000L)
        .select(col("id").as("doc_id"), col("r").as("rank_micro"))
        .orderBy("doc_id")
    }),
    // CCNet-style self-perplexity filter: mean NLL under the corpus's
    // own add-one bigram LM, floored to integer micros per bigram so
    // both engines agree exactly
    "t_lm_score" -> ((s, dir) => {
      TextOps.lmScore(s, QueryLib.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id")
    }),
    // DSIR importance weights: hashed unigram+bigram features, target
    // distribution = every 10th doc, λ(bucket) floored to integer micros
    // for engine-exact per-doc sums
    "t_dsir" -> ((s, dir) => {
      TextOps.dsirWeights(s, QueryLib.documents(s, dir), "doc_id", "text",
          col("doc_id") % 10 === 0)
        .orderBy("doc_id")
    }),
    // BM25 top-20 retrieval (Robertson idf, k1=1.2 b=0.75) for a fixed
    // 3-term query; float-safe round+rank output (score_milli floor,
    // doc-id tiebreak) — both engines evaluate the identical double
    // formula
    "t_bm25" -> ((s, dir) => {
      TextOps.bm25TopK(s,
        QueryLib.documents(s, dir).select(col("doc_id"), col("text")),
        "doc_id", "text", Seq("scan", "merge", "query"), 20)
        .orderBy("rank")
    }),
    // crawl-graph edge emitter: DOM-walk each page's <a href>s, resolve
    // against the page URL (absolute / relative / ../ / root-relative /
    // protocol-relative; fragment+javascript+mailto decoys dropped),
    // canonicalize. Oracle = HAND-WRITTEN expected edges (independent
    // derivation, nothing mirrored)
    "t_outlinks" -> ((s, dir) => {
      import s.implicits._
      val pages = QueryLib.documents(s, dir)
        .select(col("doc_id").cast("long")).as[Long]
        .map { id =>
          val html =
            s"""<html><body>
               |<a href="http://Other.example.com/abs$id?utm_source=f&amp;b=2">absolute</a>
               |<a href="sub/page$id.html">relative</a>
               |<a href="../up$id.html">updir</a>
               |<a href="/root$id.html">rootrel</a>
               |<a href="//cdn.example.net/x$id">protorel</a>
               |<a href="#frag">skip</a>
               |<a href="javascript:void(0)">skip</a>
               |<a href="mailto:a@b.c">skip</a>
               |</body></html>""".stripMargin
          (id, html, s"https://WWW.Example.com/dir/deep/page$id.html")
        }.toDF("doc_id", "html", "page_url")
      graft.ops.UrlOps.outlinks(s, pages, "doc_id", "html", "page_url")
        .select(col("doc_id"),
          graft.ops.UrlOps.canonicalizeUrl(col("dst")).as("dst"))
        .orderBy("doc_id", "dst")
    }),
    // deterministic train/val/test split (98/1/1): stable md5-threshold
    // buckets — a doc's split never changes as the corpus grows, which is
    // what keeps eval sets uncontaminated across dataset versions
    "t_split" -> ((s, dir) =>
      QueryLib.documents(s, dir)
        .select(col("doc_id").cast("long").as("doc_id"),
          TextOps.splitColumn(col("doc_id"), "graft", 0.98, 0.01)
            .as("split"))
        .orderBy("doc_id")),
    // deterministic corpus shuffle + shard assignment (the training-data
    // writer step): md5-salted shuffle key, 8 equal-width prefix shards,
    // rank within shard — one id+key exchange, text never shuffles
    "t_shard" -> ((s, dir) =>
      TextOps.shardCorpus(QueryLib.documents(s, dir), "doc_id", 8, "s5")
        .orderBy("id")),
    // within-doc consecutive duplicate-line collapse (uniq): planted
    // nav/content stutters; the oracle derives the cleaned page
    // independently (no algorithm replay)
    "t_uniq_lines" -> ((s, dir) => {
      val id = col("doc_id").cast("long")
      val s80 = substring(col("text"), 1, 80)
      val synth = concat(lit("nav\nnav\n"),
        when(id % 3 === 0, "nav\n").otherwise(""),
        s80, lit("\n"), s80, lit("\nfooter"))
      TextOps.collapseRepeatedLines(
        QueryLib.documents(s, dir).select(id.as("doc_id"), synth.as("text")),
        "doc_id", "text").orderBy("id")
    }),
    // release hygiene: the train split checked for 13-gram overlap with
    // the test split — splitColumn ∘ decontaminate, the exact check a
    // dataset release runs before shipping eval sets with the corpus
    "t_split_decontam" -> ((s, dir) => {
      val docs = QueryLib.documents(s, dir)
        .select(col("doc_id").cast("long").as("doc_id"), col("text"),
          TextOps.splitColumn(col("doc_id"), "graft", 0.98, 0.01).as("split"))
      val train = docs.filter(col("split") === "train")
        .select(col("doc_id"), col("text"))
      val test = docs.filter(col("split") === "test")
        .select(col("doc_id"), col("text"))
      TextOps.decontaminate(s, train, test, "doc_id", "text", 13)
        .orderBy("doc_id")
    }),
    // anchor-text corpus: per canonical link target, total references +
    // dominant anchor (count desc, lexicographic tiebreak). The HTML
    // parse + href resolution is the pinned surface; whitespace-collapse
    // and the empty-anchor drop are observable (decoy <a>s)
    "t_anchors" -> ((s, dir) => {
      import s.implicits._
      val pages = QueryLib.documents(s, dir)
        .select(col("doc_id").cast("long")).as[Long]
        .map { id =>
          val html =
            s"""<html><body>
               |<a href="/p${id % 10}">Label  ${id % 3}</a>
               |<a href="/p${id % 10}">Label ${id % 3}</a>
               |<a href="http://ext.example.org/q">Go</a>
               |<a href="/skip">   </a>
               |<a href="#frag">Nope</a>
               |</body></html>""".stripMargin
          (id, html, s"https://host${id % 4}.example.com/dir/page.html")
        }.toDF("doc_id", "html", "page_url")
      graft.ops.UrlOps.anchorTexts(s, pages, "doc_id", "html", "page_url")
        .orderBy("dst")
    }),
    // per-source quota: top-10 docs per source by size (window top-N)
    "t_domain_cap" -> ((s, dir) => {
      TextOps.capPerSource(QueryLib.documents(s, dir)
          .select(col("doc_id").cast("long").as("doc_id"), col("source"),
            col("n_chars")),
        "doc_id", "source", "n_chars", 10)
        .orderBy("source", "rk")
    }),
    // Gopher-rule keep/reject composition over the same signals (first
    // failing rule is the reason; engine-portable integer milli math)
    "t_filter_gopher" -> ((s, dir) => {
      TextOps.filterGopher(s, QueryLib.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id")
    }),
    // End-to-end corpus curation recipe (quality gate -> exact dedup ->
    // benchmark decontamination -> per-source cap -> stratified mixing),
    // composed from the individually-oracled stages; the oracle replays
    // the full five-stage SQL so the COMPOSITION (stage order, verdict
    // semi-join semantics) is pinned, not just each stage.
    "t_curate" -> ((s, dir) => {
      import s.implicits._
      val docs = QueryLib.documents(s, dir)
      val bench = docs.filter(col("doc_id") % 20 === 0)
        .select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
        .map { case (id, t) =>
          val toks = graft.core.TextUtil.tokens(if (t == null) "" else t)
          (id, toks.slice(5, 40).mkString(" "))
        }.toDF("doc_id", "text")
      TextOps.curateCorpus(s, docs, "doc_id", "text", "lang", "source",
          "n_chars", bench, cap = 10,
          rates = Map("en" -> 0.5, "de" -> 0.25), defaultRate = 0.1,
          salt = "graft")
        .orderBy("id")
    }),
    // THE end-to-end web-ingestion composition (the LLM-data story the
    // brief describes, as ONE oracled chain): real WARC files on disk ->
    // fromWarcs record source -> full extraction pipeline -> per-site
    // reassembly of the interleaved spans -> cross-site boilerplate strip
    // (the shared footer page every site carries) -> five-stage curation
    // -> sequence packing. The oracle replays the whole chain in SQL, so
    // the COMPOSITION is pinned end-to-end: the packed segment table only
    // matches if extraction bodies, the strip verdict, every curation
    // stage, and the prefix-sum packing all agree.
    "t_web_pipeline" -> ((s, dir) => {
      import s.implicits._
      // 1. render the corpus into real .warc/.warc.gz files (each site =
      // page + notes + the SHARED footer page)
      val docs0 = QueryLib.documents(s, dir)
        .select(col("doc_id").cast("long"), col("text"))
        .as[(Long, String)].collect()
      // per-process dir: a concurrent Verify/Bench pair on the same
      // corpus must not delete each other's WARC files mid-crawl
      val root = new java.io.File(System.getProperty("java.io.tmpdir"),
        "graft_webpipe_" + ProcessHandle.current().pid() + "_" +
          dir.replaceAll("[^A-Za-z0-9]", "_"))
      def deleteRec(f: java.io.File): Unit = {
        val kids = f.listFiles()
        if (kids != null) kids.foreach(deleteRec)
        f.delete(); ()
      }
      if (root.exists()) deleteRec(root)
      root.mkdirs()
      // each site's bytes are a pure function of (id, text) and land in a
      // distinct file, so the render + gzip + write loop (~5k gzip+write
      // calls per invocation) spreads across a bounded pool — a driver-
      // serial term that grows linearly with the fixture corpus. The first
      // failure is rethrown as itself, as the sequential loop did, after
      // the pool's other writers are stopped, so none of them can race the
      // next run's deleteRec
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.max(2, math.min(Runtime.getRuntime.availableProcessors(), 16)))
      try {
        docs0.map { case (id, text) =>
          pool.submit(new java.util.concurrent.Callable[Unit] {
            def call(): Unit = {
              val (name, bytes) = QueryLib.render("warc_site", id,
                if (text == null) "" else text)
              java.nio.file.Files.write(
                new java.io.File(root, name).toPath, bytes)
              ()
            }
          })
        }.foreach { f =>
          try f.get()
          catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
        }
      } catch { case t: Throwable =>
        pool.shutdownNow()
        pool.awaitTermination(1, java.util.concurrent.TimeUnit.MINUTES)
        throw t
      } finally pool.shutdown()
      // 2. crawl source -> extraction
      val out = QueryLib.run(s,
        graft.sources.Sources.fromWarcs(s, root.getAbsolutePath))
      val recs = out.meta.toDF()
        .select(col("doc_id").as("rec_id"), col("file_name").as("uri"))
      val recBodies = out.spans.toDF().filter(col("kind") === "text")
        .select(col("doc_id").as("rec_id"), col("text"))
      // 3. reassemble the interleaved per-site documents (span order =
      // URI order: footer < notes < page, deterministically)
      val nested = recs.join(recBodies, "rec_id")
        .select(regexp_extract(col("rec_id"), "^doc(\\d+)\\.warc", 1)
          .cast("long").as("doc_id"), col("uri"), col("text"))
        .groupBy("doc_id")
        .agg(transform(
          array_sort(collect_list(struct(col("uri"), col("text")))),
          e => struct(lit("text").as("kind"), e.getField("text").as("text"),
            lit("").as("media_ref"), lit(0).as("offset"))).as("spans"))
      // 4. cross-site boilerplate strip in the NESTED shape (narrow strip
      // + narrow body reassembly: the site-assembly groupBy above is the
      // composition's ONLY text-carrying exchange)
      val stripped = graft.ops.SpanOps.stripBoilerplateNested(s, nested,
        minDocs = 5)
      val body = stripped.select(col("doc_id").cast("long").as("doc_id"),
        array_join(transform(
          filter(col("spans"), sp => sp.getField("kind") === "text"),
          sp => sp.getField("text")), " ").as("text"))
      // 5. five-stage curation over the reassembled bodies
      val meta = QueryLib.documents(s, dir)
        .select(col("doc_id").cast("long").as("doc_id"), col("lang"),
          col("source"))
      val corpus = body.join(meta, "doc_id")
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          length(col("text")).cast("long").as("n_chars"))
      val bench = corpus.filter(col("doc_id") % 20 === 0)
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, t) =>
          val toks = graft.core.TextUtil.tokens(if (t == null) "" else t)
          (id, toks.slice(5, 40).mkString(" "))
        }.toDF("doc_id", "text")
      val kept = TextOps.curateCorpus(s, corpus, "doc_id", "text", "lang",
        "source", "n_chars", bench, cap = 10,
        rates = Map("en" -> 0.5, "de" -> 0.25), defaultRate = 0.1,
        salt = "graft")
      // 6. pack the survivors into 512-position training contexts
      val survivors = corpus
        .join(kept.select(col("id").as("doc_id")), Seq("doc_id"), "left_semi")
      TextOps.packSequences(s, survivors, "doc_id", "text", 512)
        .orderBy("chunk_id", "doc_id")
    }),
    // C4 cleaning rules (Raffel et al. 2020) over synthesized multi-line
    // pages (the flat testdata text carries no lines/sentences, so both
    // engines derive the same page deterministically — the planted-
    // structure pattern t_decontaminate uses)
    "t_filter_c4" -> ((s, dir) => {
      TextOps.filterC4(s, pagedDocs(s, dir), "doc_id", "page")
        .orderBy("doc_id")
    }),
    // cross-document boilerplate line stats (CCNet/RefinedWeb line dedup):
    // header/footer/notice lines planted across docs must be found by
    // corpus-wide doc-frequency, never by per-doc inspection
    "t_line_dedup" -> ((s, dir) => {
      TextOps.lineDedupStats(s, pagedDocs(s, dir), "doc_id", "page", 5)
        .orderBy("doc_id")
    }),
    // main-content extraction OVER the interleaved spans table (the north
    // rule's input shape): corpus-frequency boilerplate strip — text spans
    // in >=5 distinct docs drop, media spans and unique text survive with
    // original positions (hash-only df exchange + one left_anti join)
    "i_spans_strip" -> ((s, dir) => {
      graft.ops.SpanOps.stripBoilerplate(s, spanDocs(s, dir), minDocs = 5)
        .select(col("doc_id"), col("pos").cast("long").as("pos"), col("kind"),
          col("text"), col("media_ref"), col("offset").cast("long").as("off"))
        .orderBy("doc_id", "pos")
    }),
    // interleaved spans -> model-input text with media placeholder tokens
    // (pure codegen'd transform/array_join over the nested array; no
    // explode, no shuffle)
    "i_spans_render" -> ((s, dir) => {
      graft.ops.SpanOps.renderInterleaved(spanDocs(s, dir))
        .orderBy("doc_id")
    }),
    // multimodal sequence packing over the interleaved shape: text spans
    // count their tokens, media spans count one placeholder position;
    // 512-position contexts via the shared two-phase prefix sum
    "i_spans_pack" -> ((s, dir) => {
      graft.ops.SpanOps.packInterleaved(s, spanDocs(s, dir),
          contextLen = 512)
        .orderBy("chunk_id", "doc_id")
    }),
    // patch-aware multimodal packing: media spans cost
    // ceil(w/28)*ceil(h/28) ViT patch tokens read from a dims side table
    // (synthesized per media_ref from md5 arithmetic both engines
    // replay); refs with md5-digit4 == 0 are ABSENT from dims and fall
    // back to cost 1 — exercising the unknown-dims path
    "i_spans_pack_patches" -> ((s, dir) => {
      val docs = spanDocs(s, dir)
      def hx(n: Int) = expr(
        s"(instr('0123456789abcdef', substr(md5(media_ref), $n, 1)) - 1)")
      val refs = graft.ops.SpanOps.explodeSpans(docs)
        .filter(col("kind") =!= "text").select("media_ref").distinct()
      val dims = refs
        .filter(hx(4) =!= 0)
        .select(col("media_ref"),
          (lit(28) * (lit(3) + hx(1) % 6) + hx(3) % 2).as("width"),
          (lit(28) * (lit(2) + hx(2) % 5)).as("height"))
      graft.ops.SpanOps.packInterleavedPatches(s, docs, dims,
          patchSize = 28, contextLen = 512)
        .orderBy("chunk_id", "doc_id")
    }),
    // caption-pair mining over the interleaved shape: each media span
    // pairs with the nearest non-empty text span, distance ties broken
    // toward the following span (figure-caption convention) — pure
    // nested-array argmin, zero shuffle
    "i_pairs" -> ((s, dir) => {
      graft.ops.SpanOps.minePairs(spanDocs(s, dir))
        .filter(col("caption_pos") >= 0)
        .orderBy("doc_id", "media_pos")
    }),
    // token-budget corpus selection: rank by the stopword-ratio quality
    // score (desc, id tiebreak), keep the strict order-prefix whose
    // running token total fits the budget — the distributed prefix sum,
    // never a global-order window
    "t_select_budget" -> ((s, dir) => {
      val score = TextOps.qualityColumns(col("text"))
        .toMap.apply("stopword_ratio_milli")
      TextOps.selectByBudget(s, QueryLib.documents(s, dir), "doc_id",
          "text", score, budgetTokens = 12000L)
        .orderBy("id")
    }),
    // corpus vocabulary: token -> (tf, df), top-100 by tf with
    // deterministic tiebreak — the tokenizer-training word count
    "t_vocab" -> ((s, dir) => {
      TextOps.vocab(s, QueryLib.documents(s, dir), "doc_id", "text", 100)
        .orderBy("rank")
    }),
    // BPE tokenizer training: first 12 learned merges over the corpus
    // word-count table (Sennrich et al. 2016). The merge table IS the
    // output artifact; oracle = 12 unrolled count→argmax→rewrite CTE
    // steps in DuckDB (same convention as t_pagerank's unrolled rounds).
    "t_bpe" -> ((s, dir) => {
      TextOps.bpeMerges(s, QueryLib.documents(s, dir), "text", 12)
        .orderBy("step")
    }),
    // BPE tokenizer APPLICATION: train 12 merges, then encode the corpus
    // vocabulary with them. encode(trainCorpus) must equal the trainer's
    // final symbol table — the oracle is the w12 CTE, so the Spark-side
    // encode fold (space-bounded single-pass replaces in merge order) is
    // pinned against an independent replay of the training rewrite.
    "t_bpe_encode" -> ((s, dir) => {
      val docs = QueryLib.documents(s, dir)
      val merges = TextOps.bpeMerges(s, docs, "text", 12)
        .orderBy("step").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      TextOps.bpeEncode(s, docs, "text", merges).orderBy("word")
    }),
    // BPE DECODE as the full per-document roundtrip: encode every
    // normalized word with the trained merges, decode the pieces back.
    // decoded must equal the normalized token stream (decode∘encode is
    // the identity — losslessness), and n_pieces pins that the merges
    // actually applied (the oracle recomputes it from an independent
    // replay of the training rewrite, so an unapplied or misordered
    // merge fold shows up as a count mismatch).
    "t_bpe_roundtrip" -> ((s, dir) => {
      val docs = QueryLib.documents(s, dir)
      val merges = TextOps.bpeMerges(s, docs, "text", 12)
        .orderBy("step").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      TextOps.bpeRoundtrip(docs, "doc_id", "text", merges).orderBy("doc_id")
    }),
    "t_quality" -> ((s, dir) => {
      val cols = TextOps.qualityColumns(col("text"))
        .map { case (n, c) => c.as(n) }
      QueryLib.documents(s, dir)
        .select(col("doc_id").cast("long").as("doc_id") +: cols: _*)
        .orderBy("doc_id")
    }),
    // Accuracy gate for the 26-language detector: each doc carries a
    // held-out sentence (disjoint from the trigram training paragraphs) in
    // language ordered(doc_id % 26); the detector must name it exactly.
    // Held-out gate for the from-scratch fastText lid.176 inference: 69
    // languages / 20+ scripts, every sentence written for this gate and
    // pinned to the model's confident top-1. Falls back to the trigram
    // scorer's 29-language corpus when no model file is present (the
    // oracle below assumes the model, like FixtureSpec assumes fixtures).
    "t_lang_id" -> ((s, dir) => {
      import s.implicits._
      val useModel = graft.analysis.FastTextLid.get.isDefined
      val corpus =
        if (useModel) graft.analysis.FastTextLid.heldOut
        else graft.ops.LangId.ordered.map(l => l -> graft.ops.LangId.testSentences(l))
      QueryLib.documents(s, dir)
        .select(col("doc_id").cast("long")).as[Long]
        .mapPartitions { it =>
          val lid = graft.analysis.FastTextLid.get
          it.map { id =>
            val text = corpus((id % corpus.size).toInt)._2
            val detected = lid match {
              case Some(m) => m.detect(text).map(_._1).getOrElse("und")
              case None => TextOps.detectLanguage(text)
            }
            (id, detected)
          }
        }.toDF("doc_id", "detected_lang")
        .orderBy("doc_id")
    }),
    "t_fingerprint" -> ((s, dir) => {
      import s.implicits._
      QueryLib.documents(s, dir)
        .select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
        .mapPartitions(_.map { case (id, t) =>
          (id, TextOps.fingerprint(
            graft.core.TextUtil.tokens(if (t == null) "" else t).toIndexedSeq))
        }).toDF("doc_id", "fingerprint")
        .orderBy("doc_id")
    }),
    "t_minhash_lsh" -> ((s, dir) => {
      val dd = QueryLib.withMutants(s, QueryLib.documents(s, dir), 30)
      Dedup.minhashLsh(s, dd, "doc_id", "text", 0.35)
        .select(col("id_a"), col("id_b")).orderBy("id_a", "id_b")
    }),
    "t_ngram_jaccard" -> ((s, dir) => {
      val dd = QueryLib.withMutants(s, QueryLib.documents(s, dir), 30)
      Dedup.ngramJaccardExact(s, dd, "doc_id", "text", 0.35)
        .select(col("id_a"), col("id_b")).orderBy("id_a", "id_b")
    }),
    "t_simhash" -> ((s, dir) => {
      val dd = QueryLib.withMutants(s, QueryLib.documents(s, dir), 50)
      Dedup.simhashPairs(s, dd, "doc_id", "text", 3)
        .select(col("id_a"), col("id_b"), col("dist")).orderBy("id_a", "id_b")
    }),

    // ---- similarity search -------------------------------------------
    "s_ann_brute" -> ((s, dir) => {
      val emb = QueryLib.embeddings(s, dir)
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 20),
          "vec_id", "embedding", 5)
        .select(col("qid"), col("rank"), col("cid"))
        .orderBy("qid", "rank")
    }),
    // Planted-neighbor gate: queries are exact-direction copies (×2.0f is
    // lossless in float) of the first 100 corpus vectors, so each query's
    // rank-1 neighbor MUST be its planted original (cosine 1.0, identical
    // signatures in every LSH table) — an exact end-to-end check of the
    // bucketing + candidate join + rescore path.
    "s_ann_lsh" -> ((s, dir) => {
      val emb = QueryLib.embeddings(s, dir)
      val planted = emb.filter(col("vec_id") < 100)
        .select((col("vec_id") + 1000000L).as("vec_id"),
          transform(col("embedding"), x => x * 2.0f).as("embedding"))
      Similarity.lshTopK(s, emb, planted, "vec_id", "embedding", 5)
        .filter(col("rank") === 1)
        .select(col("qid"), col("cid"))
        .orderBy("qid")
    }),
    // IVF variant, same planted-neighbor gate: spherical-k-means assignment
    // is scaling-invariant, so each x2.0f query lands in its original's
    // cell and rank-1 must be the planted original.
    "s_ann_ivf" -> ((s, dir) => {
      val emb = QueryLib.embeddings(s, dir)
      val planted = emb.filter(col("vec_id") < 100)
        .select((col("vec_id") + 1000000L).as("vec_id"),
          transform(col("embedding"), x => x * 2.0f).as("embedding"))
      Similarity.ivfTopK(s, emb, planted, "vec_id", "embedding", 5)
        .filter(col("rank") === 1)
        .select(col("qid"), col("cid"))
        .orderBy("qid")
    }),
    // IVF-PQ variant (Jégou et al. IVFADC): same planted gate — the ×2.0f
    // query normalizes to the original's exact unit vector, so it shares
    // the original's cell, the original tops the ADC shortlist, and the
    // exact rescore pins rank-1 (sim 1.0) deterministically.
    "s_ann_ivfpq" -> ((s, dir) => {
      val emb = QueryLib.embeddings(s, dir)
      val planted = emb.filter(col("vec_id") < 100)
        .select((col("vec_id") + 1000000L).as("vec_id"),
          transform(col("embedding"), x => x * 2.0f).as("embedding"))
      Similarity.ivfPqTopK(s, emb, planted, "vec_id", "embedding", 5)
        .filter(col("rank") === 1)
        .select(col("qid"), col("cid"))
        .orderBy("qid")
    }),
    "e_embed_dups" -> ((s, dir) => {
      // Plants BOTH exact-direction copies (×2 scale, cos = 1) and slightly
      // perturbed near-dups (coord0 ×1.05 → cos ≥ 0.9997 at any vector
      // scale) so the oracle pins the LSH recall contract, not just the
      // trivial identical-signature case (see Dedup.embeddingDups scaladoc).
      val emb = QueryLib.embeddings(s, dir)
        .select(col("vec_id").cast("long"), col("embedding"))
      val scaled = emb.select((col("vec_id") + 1000000L).as("vec_id"),
        transform(col("embedding"), x => x * 2.0f).as("embedding"))
      val perturbed = emb.select((col("vec_id") + 2000000L).as("vec_id"),
        transform(col("embedding"),
          (x, i) => when(i === 0, x * 1.05f).otherwise(x)).as("embedding"))
      Dedup.embeddingDups(s, emb.unionByName(scaled).unionByName(perturbed),
          "vec_id", "embedding", 0.999)
        .select(col("id_a"), col("id_b")).orderBy("id_a", "id_b")
    }),
    // SemDeDup (Abbas et al. 2023): k-means clusters bound the pairwise
    // stage; within-cluster cosine ≥ τ removes all but the min-id
    // exemplar. Planted ×2 / ×4 exact-direction copies co-cluster with
    // their originals bit-deterministically (cosine assignment is
    // scaling-invariant), so removed = exactly the copies: the oracle
    // pins cluster-routing + exhaustive within-cluster recall (background
    // max pairwise cosine on this table is 0.60 at every SF).
    "e_semdedup" -> ((s, dir) => {
      val emb = QueryLib.embeddings(s, dir)
        .select(col("vec_id").cast("long"), col("embedding"))
      val x2 = emb.select((col("vec_id") + 1000000L).as("vec_id"),
        transform(col("embedding"), x => x * 2.0f).as("embedding"))
      val x4 = emb.select((col("vec_id") + 2000000L).as("vec_id"),
        transform(col("embedding"), x => x * 4.0f).as("embedding"))
      Similarity.semDedup(s, emb.unionByName(x2).unionByName(x4),
          "vec_id", "embedding", 0.999)
        .orderBy("removed_id")
    }),
    // symmetric int8 vector quantization (the compression step before an
    // embedding corpus rides a shuffle / lands in the ANN index):
    // integer outputs so the oracle replays the identical float32→double
    // widening and ties-away-from-zero rounding
    "e_quantize" -> ((s, dir) =>
      Similarity.quantizeInt8(QueryLib.embeddings(s, dir),
        "vec_id", "embedding").orderBy("id")),

    // ---- multimodal ---------------------------------------------------
    // EXIF roundtrip: JPEG APP1 IFD + SOF dims → ImageIngestor metadata
    "x_image" -> ((s, dir) => {
      val out = QueryLib.run(s, QueryLib.renderPending(s, QueryLib.documents(s, dir), "jpg_exif"))
      out.meta.toDF()
        .select(col("doc_id").cast("long").as("doc_id"),
          element_at(element_at(col("properties"), "generator"), 1).as("make"),
          element_at(element_at(col("properties"), "generator"), 2).as("model"),
          QueryLib.prop("authoredAt").as("authored_at"),
          QueryLib.prop("width").cast("long").as("width"),
          QueryLib.prop("height").cast("long").as("height"))
        .orderBy("doc_id")
    }),
    // OCR end-to-end: BMP images + Type3-flagged PDFs through the pipeline
    // (size window, Type3 text-layer suppression, engine, cache — see
    // graft.ocr.Ocr; reference support/ocr.py + support/pdf.py:105-147)
    "x_ocr" -> ((s, dir) => {
      val out = QueryLib.run(s, QueryLib.renderPending(s, QueryLib.documents(s, dir), "ocr"))
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
      val imgs = QueryLib.documents(s, dir)
        .select(col("doc_id").cast("long").as("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          (id, graft.ocr.Raster.renderText("GROUP " + (id % 50),
            scale = 2, minWidthChars = 30))
        }).toDF("doc_id", "img")
      graft.ocr.Ocr.ocrDataFrame(s, imgs, "doc_id", "img")
        .orderBy("doc_id")
    }),
    "m_media_meta" -> ((s, dir) => {
      import s.implicits._
      val media = QueryLib.documents(s, dir)
        .select(col("doc_id").cast("long").as("doc_id"),
          element_at(array(lit("image"), lit("audio"), lit("video")),
            (col("doc_id") % 3 + 1).cast("int")).as("kind"),
          encode(col("text"), "UTF-8").as("payload"))
      Multimodal.decodeMedia(s, media, "doc_id", "kind", "payload")
        .toDF()
        .select(col("doc_id"), col("kind"), col("byte_len"))
        .orderBy("doc_id")
    }),

    // Real media-extractor path end-to-end: classify + AudioIngestor over
    // rendered WAV/MP3 containers; metadata (title/duration/samplingRate)
    // must match the byte-exact values the renderers encoded.
    "m_media_real" -> ((s, dir) => {
      import s.implicits._
      val pending = QueryLib.documents(s, dir)
        .select(col("doc_id").cast("long")).as[Long]
        .mapPartitions(_.map { id =>
          val fmt = if (id % 2 == 0) "wav" else "mp3"
          val (fn, bytes) = QueryLib.render(fmt, id, "")
          graft.core.PendingDoc(id.toString, "", Seq.empty, 0, fn, "", bytes)
        })
      QueryLib.run(s, pending).meta.toDF()
        .select(col("doc_id").cast("long").as("doc_id"),
          col("ingestor"),
          coalesce(QueryLib.prop("title"), lit("")).as("title"),
          QueryLib.prop("duration").cast("long").as("duration"),
          QueryLib.prop("samplingRate").cast("long").as("sampling_rate"))
        .orderBy("doc_id")
    }),

    // TIFF EXIF roundtrip through TIFFIngestor (IFD walker on the container)
    "x_tiff" -> ((s, dir) => {
      val out = QueryLib.run(s, QueryLib.renderPending(s, QueryLib.documents(s, dir), "tiff_exif"))
      out.meta.toDF()
        .select(col("doc_id").cast("long").as("doc_id"),
          col("ingestor"),
          element_at(element_at(col("properties"), "generator"), 1).as("make"),
          element_at(element_at(col("properties"), "generator"), 2).as("model"),
          QueryLib.prop("authoredAt").as("authored_at"))
        .orderBy("doc_id")
    }),

    // ---- analysis stage ------------------------------------------------
    "a_patterns" -> ((s, dir) => {
      val spans = QueryLib.documents(s, dir)
        .select(col("doc_id").cast("long").as("doc_id"),
          concat(col("text"), lit(" contact user"), col("doc_id"),
            lit("@example.com and user"), col("doc_id") % 10,
            lit("@example.com")).as("text"))
      Analyze.extractPatterns(spans)
        .filter(col("prop") === "emailMentioned")
        .select(col("doc_id"), col("value").as("email"))
        .orderBy("doc_id", "email")
    }),
    "a_tag_agg" -> ((s, dir) => {
      val spans = QueryLib.documents(s, dir)
        .select(col("doc_id").cast("long").as("doc_id"),
          concat(col("text"), lit(" contact user"), col("doc_id"),
            lit("@example.com and user"), col("doc_id") % 10,
            lit("@example.com")).as("text"))
      Analyze.aggregateTags(Analyze.extractPatterns(spans)
          .filter(col("prop") === "emailMentioned"))
        .select(col("doc_id"), col("key"), col("freq"))
        .orderBy("doc_id", "key")
    }),
    "a_chunks" -> ((s, dir) => {
      // text_chunks (analysis/util.py:17-28) at a visible chunk size
      import s.implicits._
      QueryLib.documents(s, dir)
        .select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
        .flatMap { case (id, t) =>
          graft.core.TextUtil.textChunks(Seq(if (t == null) "" else t), 100)
            .zipWithIndex.map { case (c, i) => (id, i, c) }
        }.toDF("doc_id", "chunk_idx", "chunk")
        .orderBy("doc_id", "chunk_idx")
    }),
    // Mention synthesis with detectedSchema (analysis/__init__.py:70-79):
    // planted PER/ORG values (including one per doc the clean_name gate
    // must reject) -> cleanNameTags -> aggregate -> Mention rows.
    "a_mentions" -> ((s, dir) => {
      import s.implicits._
      val people = QueryLib.MentionPeople
      val companies = QueryLib.MentionCompanies
      val tags = QueryLib.documents(s, dir)
        .select(col("doc_id").cast("long")).as[Long]
        .flatMap { id =>
          Seq(
            (id, "peopleMentioned", people((id % people.size).toInt)),
            (id, "companiesMentioned", companies((id % companies.size).toInt)),
            (id, "peopleMentioned", "Cher"),          // no space -> rejected
            (id, "companiesMentioned", "  A B  "))    // <=4 chars -> rejected
        }.toDF("doc_id", "prop", "value")
      val agg = Analyze.aggregateTags(Analyze.cleanNameTags(s, tags))
      Analyze.mentions(agg)
        .select(col("mention_id"), col("document").cast("long").as("document"),
          col("detected_prop"), col("detected_schema"), col("resolved_key"))
        .orderBy("document", "detected_prop", "resolved_key")
    }),
    // TagAggregatorFasttext gate: synthesized person/company/trash values
    // per doc — the type model must keep exactly the person + company
    // groups and drop the trash group (entropy-confidence >= 0.85 filter).
    "a_typed_tags" -> ((s, dir) => {
      import s.implicits._
      val people = Vector("John Smith", "Maria Garcia", "Ivan Petrov",
        "Fatima Hassan", "Chen Wei", "Anna Kowalski", "Ahmed Khan",
        "Sofia Rossi", "David Cohen", "Yuki Tanaka")
      val companies = Vector("Acme Holdings Ltd", "Globex GmbH",
        "Initech LLC", "Umbrella Corp", "Stark Industries Inc",
        "Wayne Enterprises Plc", "Cyberdyne Systems SA", "Tyrell BV")
      val tags = QueryLib.documents(s, dir)
        .select(col("doc_id").cast("long")).as[Long]
        .flatMap { id =>
          Seq(
            (id, "peopleMentioned", people((id % 10).toInt)),
            (id, "companiesMentioned", companies((id % 8).toInt)),
            (id, "peopleMentioned", s"zq9#x$id 77&&"))
        }.toDF("doc_id", "prop", "value")
      Analyze.aggregateTagsTyped(s, tags)
        .select(col("doc_id"), col("prop"), col("key"))
        .orderBy("doc_id", "prop", "key")
    }),
    // contextCountry resolution: mentions inherit the countries tagged from
    // the doc's location values (analysis/country.py gazetteer path).
    "a_mentions_country" -> ((s, dir) => {
      import s.implicits._
      val cities = Vector("Berlin", "Paris", "London", "Madrid", "Rome",
        "Tokyo", "Toronto", "Mumbai", "Cairo", "Sydney")
      val people = QueryLib.MentionPeople
      val tags = QueryLib.documents(s, dir)
        .select(col("doc_id").cast("long")).as[Long]
        .flatMap { id =>
          Seq(
            (id, "peopleMentioned", people((id % people.size).toInt)),
            (id, "locationMentioned", cities((id % 10).toInt)))
        }.toDF("doc_id", "prop", "value")
      Analyze.mentionsWithCountry(s, Analyze.aggregateTags(tags))
        .select(col("document").cast("long").as("document"),
          col("resolved_key"), col("detected_schema"),
          concat_ws(",", col("context_country")).as("context_country"))
        .orderBy("document", "resolved_key")
    }),
    "a_thread_join" -> ((s, dir) => {
      val out = QueryLib.run(s, QueryLib.renderPending(s, QueryLib.documents(s, dir), "eml"))
      Analyze.threadEmails(s, out.meta)
        .select(col("doc_id").cast("long").as("doc_id"),
          col("in_reply_to_doc").cast("long").as("in_reply_to_doc"))
        .orderBy("doc_id")
    }),
    // PST roundtrip: from-scratch [MS-PST] writer (crypt none) -> NDB/LTP
    // reader -> one eml child per message -> RFC822 pipeline. Matches the
    // reference's readpst-export-then-delegate shape (outlookpst.py:13-39).
    "x_pst" -> ((s, dir) => {
      val out = QueryLib.run(s, QueryLib.renderPending(s, QueryLib.documents(s, dir), "pst"))
      val kids = out.meta.toDF().filter(col("depth") === 1)
        .select(col("doc_id"), col("parent_id"), col("file_name"),
          QueryLib.prop("subject").as("subject"))
      val body = out.spans.toDF().filter(col("kind") === "text")
        .select(col("doc_id"),
          regexp_replace(col("text"), """^\s+|\s+$""", "").as("body"))
      kids.join(body, "doc_id")
        .select(col("parent_id").cast("long").as("doc_id"), col("file_name"),
          col("subject"), col("body"))
        .orderBy("doc_id", "file_name")
    }),
    // EmailIdentity -> Person rows (support/email.py:18-49): eml roundtrip
    // through the pipeline, identities re-keyed per the reference's rules
    // (valid email wins, else >10-char name; bare-email labels flip).
    "x_eml_persons" -> ((s, dir) => {
      val out = QueryLib.run(s, QueryLib.renderPending(s, QueryLib.documents(s, dir), "eml_ids"))
      Analyze.emailPersons(s, out.meta)
        .select(col("doc_id").cast("long").as("doc_id"),
          col("person_key"), col("name"), col("email"))
        .orderBy("doc_id", "person_key")
    }),

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

  /** Exhaustive-jaccard ground truth for the near-dup operators: rebuilds
    * the doc+mutant corpus and computes every pair with shingle-jaccard
    * ≥ 0.35 directly in DuckDB (the Spark side must find exactly these —
    * LSH recall included). */
  private val jaccardPairsOracle: String =
    """WITH toks AS (
      |  SELECT doc_id AS id, list_filter(string_split(text, ' '), x -> len(x) > 0) AS t
      |  FROM documents),
      |all_docs AS (
      |  SELECT id, t FROM toks
      |  UNION ALL
      |  SELECT id + 10000000 AS id, list_filter(t, (x, i) -> i % 10 != 0) AS t
      |  FROM toks WHERE len(t) >= 30),
      |sh AS (
      |  SELECT id,
      |         CASE WHEN len(t) >= 3
      |              THEN list_distinct(list_transform(range(1, len(t) - 1),
      |                     i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
      |              ELSE list_distinct(t) END AS s
      |  FROM all_docs),
      |ex AS (SELECT id, unnest(s) AS g, len(s) AS sz FROM sh),
      |pairs AS (
      |  SELECT a.id AS id_a, b.id AS id_b, a.sz AS sa, b.sz AS sb, count(*) AS inter
      |  FROM ex a JOIN ex b ON a.g = b.g AND a.id < b.id
      |  GROUP BY 1, 2, 3, 4)
      |SELECT id_a, id_b FROM pairs
      |WHERE CAST(inter AS DOUBLE) / (sa + sb - inter) >= 0.35
      |ORDER BY id_a, id_b""".stripMargin

  /** Shared CTE prefix for the BPE oracles: w0 = the distinct word-count
    * symbol table; per step i, pair counts p_i, the (count desc, pair asc)
    * argmax b_i, and the rewritten table w_i. MATERIALIZED is load-bearing:
    * each w_i is consumed by BOTH p_{i+1} and w_{i+1}, so an inlining
    * planner expands the chain into a 2^K-leaf tree — measured 478 s vs
    * 0.8 s at sf0.001 in DuckDB. */
  /** Deterministically messy URL per doc id — shared by t_url_canon and
    * t_url_filter (scheme/www/port/path/query/fragment variants keyed on
    * id residues; the oracle rebuilds the identical string in SQL). */
  private def messyUrl(id: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = concat(
    when(id % 3 === 0, "HTTP").otherwise("https"), lit("://"),
    when(id % 2 === 0, "WWW.").otherwise(""),
    lit("site"), (id % 7).cast("string"),
    when(id % 3 === 0, ".example.co.uk").otherwise(".example.com"),
    when(id % 5 === 0, when(id % 3 === 0, ":80").otherwise(":443"))
      .when(id % 5 === 1, ":8080").otherwise(""),
    lit("/Path"), (id % 50).cast("string"),
    when(id % 4 === 0, "/").otherwise(""),
    when(id % 2 === 0, "?utm_source=feed&b=2&a=1")
      .when(id % 11 === 0, "?z=9").otherwise(""),
    when(id % 6 === 0, concat(lit("#sec"), id.cast("string"))).otherwise(""))

  private def bpeCtes(k: Int): String = {
    val sb = new StringBuilder
    sb.append(
      "WITH w0 AS MATERIALIZED (\n" +
      "  SELECT trim(regexp_replace(w, '(.)', '\\1 ', 'g')) || ' </w>' AS sym, c\n" +
      "  FROM (\n" +
      "    SELECT w, count(*) AS c FROM (\n" +
      "      SELECT lower(unnest(list_filter(string_split_regex(text, '\\s+'),\n" +
      "        x -> len(x) > 0))) AS w\n" +
      "      FROM documents)\n" +
      "    WHERE regexp_matches(w, '^[a-z]+$')\n" +
      "    GROUP BY w))")
    for (i <- 1 to k) {
      val p = i - 1
      sb.append(s""",
        |p$i AS MATERIALIZED (
        |  SELECT s[j] AS l, s[j+1] AS r, sum(c) AS cnt
        |  FROM (SELECT string_split(sym, ' ') AS s, c FROM w$p),
        |       unnest(range(1, len(s))) AS t(j)
        |  GROUP BY l, r),
        |b$i AS MATERIALIZED (SELECT l, r, cnt FROM p$i ORDER BY cnt DESC, l ASC, r ASC LIMIT 1),
        |w$i AS MATERIALIZED (
        |  SELECT trim(replace(' ' || sym || ' ',
        |           ' ' || b.l || ' ' || b.r || ' ',
        |           ' ' || b.l || b.r || ' ')) AS sym, c
        |  FROM w$p, b$i b)""".stripMargin)
    }
    sb.toString
  }

  /** Gopher-rule CTE chain (t, g, bi, bm, m, r) over `documents`; `r`
    * ends with (doc_id, reason). Shared by t_filter_gopher and the
    * composed t_curate pipeline oracle. */
  private val GopherCtes: String =
    """WITH t AS (
      |  SELECT doc_id,
      |         CAST(length(text) AS BIGINT) AS n_chars,
      |         list_filter(string_split(text, chr(10)), x -> len(x) > 0) AS lines,
      |         list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS toks,
      |         CAST(length(text) - length(regexp_replace(text, '[!-/:-@\[-`{-~]', '', 'g')) AS BIGINT) AS n_punct
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, n_chars, n_punct, lines, toks,
      |         CAST(len(toks) AS BIGINT) AS n_tokens,
      |         CAST(len(list_filter(toks, x -> list_contains(
      |           ['the','a','an','and','or','of','to','in','is','it','on',
      |            'for','with','as','at','by','that','this','be','are'], x))) AS BIGINT) AS n_stop,
      |         list_transform(range(1, len(toks)),
      |           i -> toks[i] || ' ' || toks[i+1]) AS bgs,
      |         list_transform(range(1, len(toks) - 1),
      |           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS tgs
      |  FROM t),
      |bi AS (
      |  SELECT doc_id, bg, count(*) AS cnt
      |  FROM (SELECT doc_id, unnest(bgs) AS bg FROM g) GROUP BY doc_id, bg),
      |bm AS (SELECT doc_id, max(cnt) AS maxf FROM bi GROUP BY doc_id),
      |m AS (
      |  SELECT g.doc_id AS doc_id, n_tokens, n_stop,
      |         CASE WHEN n_tokens > 0 THEN n_chars * 1000 // n_tokens ELSE 0 END AS avg_tok_milli,
      |         CASE WHEN n_chars > 0 THEN n_punct * 1000 // n_chars ELSE 0 END AS punct_milli,
      |         CASE WHEN len(lines) > 0 THEN
      |           (len(lines) - len(list_distinct(lines))) * 1000 // len(lines)
      |           ELSE 0 END AS dup_line_milli,
      |         CASE WHEN len(tgs) > 0 THEN
      |           (len(tgs) - len(list_distinct(tgs))) * 1000 // len(tgs)
      |           ELSE 0 END AS dup_tri_milli,
      |         CASE WHEN len(bgs) > 0 THEN
      |           coalesce(bm.maxf, 0) * 1000 // len(bgs)
      |           ELSE 0 END AS top_bi_milli
      |  FROM g LEFT JOIN bm ON g.doc_id = bm.doc_id),
      |r AS (
      |  SELECT doc_id,
      |    CASE WHEN n_tokens < 50 THEN 'too_few_tokens'
      |         WHEN n_tokens > 100000 THEN 'too_many_tokens'
      |         WHEN avg_tok_milli < 3000 OR avg_tok_milli > 10000 THEN 'bad_mean_word_len'
      |         WHEN n_stop < 2 THEN 'too_few_stopwords'
      |         WHEN punct_milli > 300 THEN 'high_punct_ratio'
      |         WHEN dup_line_milli > 300 THEN 'high_dup_lines'
      |         WHEN dup_tri_milli > 300 THEN 'high_dup_trigrams'
      |         WHEN top_bi_milli > 200 THEN 'top_bigram_heavy'
      |         ELSE NULL END AS reason
      |  FROM m)""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "x_html" ->
      """SELECT doc_id,
        |       'Doc ' || doc_id AS title,
        |       trim('Doc ' || doc_id || ' ' || text) AS body
        |FROM documents ORDER BY doc_id""".stripMargin,
    "x_csv" ->
      """SELECT doc_id,
        |       CAST(ceil(len(string_split(text, ' ')) / 5.0) AS BIGINT) + 1 AS row_count,
        |       text AS body
        |FROM documents ORDER BY doc_id""".stripMargin,
    "x_json" ->
      "SELECT doc_id, text AS body FROM documents ORDER BY doc_id",
    "x_eml" ->
      "SELECT doc_id, 'Doc ' || doc_id AS subject, text AS body FROM documents ORDER BY doc_id",
    "x_rtf" ->
      "SELECT doc_id, text AS body FROM documents ORDER BY doc_id",
    "x_bz2" ->
      """SELECT doc_id, 'doc' || doc_id || '.txt' AS file_name, text AS body
        |FROM documents ORDER BY doc_id""".stripMargin,
    "x_7z" ->
      """SELECT doc_id, 'inner' || doc_id || '.txt' AS file_name, text AS body
        |FROM documents ORDER BY doc_id""".stripMargin,
    "x_rar" ->
      """SELECT doc_id, 'a.txt' AS file_name, text AS body, 'success' AS status FROM documents
        |UNION ALL
        |SELECT doc_id, 'b.txt' AS file_name, 'copy of doc ' || doc_id AS body, 'success' AS status FROM documents
        |UNION ALL
        |SELECT doc_id, 'c.bin' AS file_name, NULL AS body, 'failure' AS status FROM documents
        |ORDER BY doc_id, file_name""".stripMargin,
    "x_targz" ->
      """SELECT doc_id, 'a.txt' AS file_name, text AS body FROM documents
        |UNION ALL
        |SELECT doc_id, 'b.txt' AS file_name, 'copy of doc ' || doc_id AS body FROM documents
        |ORDER BY doc_id, file_name""".stripMargin,
    "x_warc" ->
      """SELECT doc_id,
        |       'http://graft.test/doc' || doc_id || '/notes.txt' AS uri,
        |       'copy of doc ' || doc_id AS body
        |FROM documents
        |UNION ALL
        |SELECT doc_id,
        |       'http://graft.test/doc' || doc_id || '/page.html' AS uri,
        |       trim('Doc ' || doc_id || ' ' || text) AS body
        |FROM documents
        |ORDER BY doc_id, uri""".stripMargin,
    "x_zip_children" ->
      """SELECT doc_id, 'a.txt' AS file_name, text AS body FROM documents
        |UNION ALL
        |SELECT doc_id, 'b.txt' AS file_name, 'copy of doc ' || doc_id AS body FROM documents
        |ORDER BY doc_id, file_name""".stripMargin,
    "x_pdf" ->
      """SELECT doc_id,
        |       'Doc ' || doc_id AS title,
        |       CAST(ceil(len(string_split(text, ' ')) / 50.0) AS BIGINT) AS page_count,
        |       text AS body
        |FROM documents ORDER BY doc_id""".stripMargin,
    "x_docx" ->
      """SELECT doc_id,
        |       'Doc ' || doc_id AS title,
        |       '2015-09-07T10:57:00' AS authored_at,
        |       text AS body
        |FROM documents ORDER BY doc_id""".stripMargin,
    "x_xlsx" ->
      """SELECT doc_id,
        |       'Sheet ' || doc_id AS sheet,
        |       CAST(ceil(len(string_split(text, ' ')) / 4.0) AS BIGINT) + 1 AS row_count,
        |       text AS body
        |FROM documents ORDER BY doc_id""".stripMargin,
    "x_sqlite" ->
      """SELECT doc_id,
        |       'docs' AS table_name,
        |       CAST(ceil(len(string_split(text, ' ')) / 5.0) AS BIGINT) + 1 AS row_count,
        |       text AS body
        |FROM documents ORDER BY doc_id""".stripMargin,
    "x_mdb" ->
      """SELECT doc_id,
        |       'docs' AS table_name,
        |       CAST(ceil(len(string_split(text, ' ')) / 5.0) AS BIGINT) + 1 AS row_count,
        |       text AS body
        |FROM documents ORDER BY doc_id""".stripMargin,
    "x_xls" ->
      """SELECT doc_id,
        |       'Sheet ' || doc_id AS sheet,
        |       CAST(ceil(len(string_split(text, ' ')) / 4.0) AS BIGINT) + 1 AS row_count,
        |       text AS body
        |FROM documents ORDER BY doc_id""".stripMargin,
    "x_mbox" ->
      """SELECT doc_id,
        |       'Doc ' || doc_id || ' part ' || part AS subject,
        |       text AS body
        |FROM (SELECT doc_id, text, unnest(range(doc_id % 3 + 1)) AS part
        |      FROM documents)
        |ORDER BY doc_id, subject""".stripMargin,
    "x_html_main" ->
      "SELECT doc_id, text AS main_text FROM documents ORDER BY doc_id",
    "x_dir" ->
      """SELECT 'sub' || (doc_id % 10) || '/doc' || doc_id || '.txt' AS path,
        |       text AS body
        |FROM documents ORDER BY path""".stripMargin,
    "x_txt" ->
      "SELECT doc_id, text AS body FROM documents ORDER BY doc_id",
    "x_xml" ->
      "SELECT doc_id, text AS body FROM documents ORDER BY doc_id",
    "x_svg" ->
      "SELECT doc_id, text AS body FROM documents ORDER BY doc_id",
    "x_odt" ->
      "SELECT doc_id, text AS body FROM documents ORDER BY doc_id",
    "x_ods" ->
      """SELECT doc_id,
        |       'Sheet ' || doc_id AS sheet,
        |       CAST(ceil(len(string_split(text, ' ')) / 4.0) AS BIGINT) + 1 AS row_count,
        |       text AS body
        |FROM documents ORDER BY doc_id""".stripMargin,
    "x_dbf" ->
      """SELECT doc_id,
        |       CAST(ceil(len(string_split(text, ' ')) / 3.0) AS BIGINT) + 1 AS row_count,
        |       array_to_string(list_transform(string_split(text, ' '),
        |         x -> substring(x, 1, 24)), ' ') AS body
        |FROM documents ORDER BY doc_id""".stripMargin,
    "x_msg" ->
      """SELECT doc_id,
        |       'Doc ' || doc_id AS subject,
        |       'alice@graft.test' AS sender,
        |       text AS body
        |FROM documents ORDER BY doc_id""".stripMargin,
    "x_msg_attach" ->
      """SELECT doc_id, 'att' || doc_id || '.txt' AS file_name, text AS att_body
        |FROM documents ORDER BY doc_id""".stripMargin,
    "x_emlx" ->
      "SELECT doc_id, 'Doc ' || doc_id AS subject, text AS body FROM documents ORDER BY doc_id",
    "x_olm" ->
      "SELECT doc_id, 'Doc ' || doc_id AS subject, text AS body FROM documents ORDER BY doc_id",
    "x_vcf" ->
      """SELECT doc_id,
        |       'Person ' || doc_id AS person,
        |       'user' || doc_id || '@graft.test' AS email
        |FROM documents ORDER BY doc_id""".stripMargin,
    "x_ics" ->
      """SELECT doc_id,
        |       'Event ' || doc_id AS event,
        |       'host' || doc_id || '@graft.test' AS email
        |FROM documents ORDER BY doc_id""".stripMargin,
    "x_classify" ->
      """SELECT doc_id,
        |       CASE doc_id % 9
        |         WHEN 0 THEN 'HTMLIngestor' WHEN 1 THEN 'CSVIngestor'
        |         WHEN 2 THEN 'JSONIngestor' WHEN 3 THEN 'RFC822Ingestor'
        |         WHEN 4 THEN 'PlainTextIngestor' WHEN 5 THEN 'ZipIngestor'
        |         WHEN 6 THEN 'PDFIngestor' WHEN 7 THEN 'OfficeOpenXMLIngestor'
        |         WHEN 8 THEN 'ExcelXMLIngestor'
        |       END AS ingestor,
        |       CASE doc_id % 9
        |         WHEN 0 THEN 'text/html' WHEN 1 THEN 'text/csv'
        |         WHEN 2 THEN 'application/json' WHEN 3 THEN 'message/rfc822'
        |         WHEN 4 THEN 'text/plain' WHEN 5 THEN 'application/zip'
        |         WHEN 6 THEN 'application/pdf'
        |         WHEN 7 THEN 'application/vnd.openxmlformats-officedocument.wordprocessingml.document'
        |         WHEN 8 THEN 'application/vnd.openxmlformats-officedocument.spreadsheetml.sheet'
        |       END AS mime_type,
        |       'success' AS status
        |FROM documents ORDER BY doc_id""".stripMargin,
    "t_dedup_exact" ->
      """SELECT min(doc_id) AS doc_id, count(*) AS n_dups
        |FROM documents GROUP BY text ORDER BY doc_id""".stripMargin,
    "t_dedup_incr" ->
      """WITH p AS (SELECT DISTINCT text FROM documents WHERE doc_id % 3 = 0)
        |SELECT CAST(d.doc_id AS BIGINT) AS id, p.text IS NOT NULL AS is_dup
        |FROM documents d LEFT JOIN p ON d.text = p.text
        |ORDER BY id""".stripMargin,
    "t_corpus_diff" ->
      """SELECT id, status FROM (
        |  SELECT CAST(doc_id AS BIGINT) + 1000000 AS id, 'added' AS status
        |  FROM documents WHERE doc_id % 5 = 0
        |  UNION ALL
        |  SELECT CAST(doc_id AS BIGINT), 'removed'
        |  FROM documents WHERE doc_id % 11 = 3
        |  UNION ALL
        |  SELECT CAST(doc_id AS BIGINT), 'changed'
        |  FROM documents WHERE doc_id % 7 = 0 AND doc_id % 11 <> 3
        |) ORDER BY id""".stripMargin,
    "t_token_count" ->
      """SELECT doc_id,
        |       CAST(len(list_filter(string_split_regex(text, '\s+'),
        |                            x -> len(x) > 0)) AS BIGINT) AS n_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "t_dedup_corpus" ->
      """WITH RECURSIVE d AS (
        |  SELECT CAST(doc_id AS BIGINT) AS id, text FROM documents
        |  UNION ALL
        |  SELECT CAST(doc_id AS BIGINT) + 1000000, text FROM documents),
        |toks AS (
        |  SELECT id, list_filter(string_split(text, ' '), x -> len(x) > 0) AS t
        |  FROM d),
        |sh AS (
        |  SELECT id,
        |         CASE WHEN len(t) >= 3
        |              THEN list_distinct(list_transform(range(1, len(t) - 1),
        |                     i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
        |              ELSE list_distinct(t) END AS s
        |  FROM toks),
        |ex AS (SELECT id, unnest(s) AS g, len(s) AS sz FROM sh),
        |pairs AS (
        |  SELECT a.id AS id_a, b.id AS id_b
        |  FROM ex a JOIN ex b ON a.g = b.g AND a.id < b.id
        |  GROUP BY a.id, b.id, a.sz, b.sz
        |  HAVING CAST(count(*) AS DOUBLE) / (a.sz + b.sz - count(*)) >= 0.8),
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION ALL SELECT id_b, id_a FROM pairs),
        |reach AS (
        |  SELECT id, id AS comp FROM d
        |  UNION
        |  SELECT e.dst AS id, r.comp FROM reach r JOIN edges e ON e.src = r.id)
        |SELECT id, min(comp) AS representative,
        |       id = min(comp) AS keep
        |FROM reach GROUP BY id ORDER BY id""".stripMargin,
    "t_shared_ngrams" ->
      """WITH base AS (
        |  SELECT CAST(doc_id AS BIGINT) AS id,
        |         list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS toks
        |  FROM documents),
        |alldocs AS (
        |  SELECT id, toks FROM base
        |  UNION ALL
        |  SELECT id + 1000000,
        |         toks[1:greatest(CAST(len(toks) // 2 AS BIGINT), 21)]
        |  FROM base),
        |g AS (
        |  SELECT id, unnest(list_distinct(list_transform(
        |           range(1, len(toks) - 18),
        |           i -> array_to_string(toks[i:i+19], ' ')))) AS gram
        |  FROM alldocs WHERE len(toks) >= 20),
        |d AS (SELECT gram, count(DISTINCT id) AS nd FROM g GROUP BY gram)
        |SELECT id, CAST(count(*) AS BIGINT) AS n_grams,
        |       CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS shared_grams
        |FROM g JOIN d USING (gram) GROUP BY id ORDER BY id""".stripMargin,
    "t_strip_dupsub" ->
      """WITH base AS (
        |  SELECT CAST(doc_id AS BIGINT) AS id,
        |         list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS toks
        |  FROM documents),
        |alldocs AS (
        |  SELECT id, toks FROM base
        |  UNION ALL
        |  SELECT id + 1000000,
        |         toks[1:greatest(CAST(len(toks) // 2 AS BIGINT), 21)]
        |  FROM base),
        |g AS (
        |  SELECT id, i, array_to_string(toks[i:i+19], ' ') AS gram
        |  FROM alldocs, unnest(range(1, len(toks) - 18)) AS r(i)
        |  WHERE len(toks) >= 20),
        |d AS (
        |  SELECT gram FROM (
        |    SELECT gram, count(DISTINCT id) AS nd FROM g GROUP BY gram)
        |  WHERE nd >= 2),
        |cov AS (
        |  SELECT DISTINCT g.id, jj
        |  FROM g JOIN d USING (gram), unnest(range(g.i, g.i + 20)) AS rr(jj)),
        |tokrows AS (
        |  SELECT id, j, toks[j] AS tok, len(toks) AS nt
        |  FROM alldocs, unnest(range(1, len(toks) + 1)) AS r2(j)),
        |outq AS (
        |  SELECT t.id,
        |         coalesce(string_agg(CASE WHEN c.jj IS NULL THEN t.tok END,
        |           ' ' ORDER BY t.j), '') AS clean_text,
        |         max(t.nt) AS n_tokens,
        |         sum(CASE WHEN c.jj IS NOT NULL THEN 1 ELSE 0 END) AS n_removed
        |  FROM tokrows t LEFT JOIN cov c ON t.id = c.id AND t.j = c.jj
        |  GROUP BY t.id)
        |SELECT id, clean_text, CAST(n_tokens AS BIGINT) AS n_tokens,
        |       CAST(n_removed AS BIGINT) AS n_removed
        |FROM outq ORDER BY id""".stripMargin,
    "t_redact" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  regexp_replace(
        |    regexp_replace(
        |      regexp_replace(
        |        text || ' reach user' || doc_id || '@example.com or +1 555 01'
        |          || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') || ' today',
        |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |      '\b([A-Za-z]{2} ?[0-9]{2} ?[A-Za-z0-9]{4} ?[0-9]{7}([A-Za-z0-9]?){0,16})\b', '[IBAN]', 'g'),
        |    '(\+?[\d\-\(\)\/\s]{5,}\d{2})', '[PHONE]', 'g') AS redacted
        |FROM documents ORDER BY doc_id""".stripMargin,
    "t_token_windows" ->
      """WITH t AS (
        |  SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |         list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS toks
        |  FROM documents),
        |w AS (
        |  SELECT doc_id, toks, unnest(range(1, len(toks) + 1, 25)) AS start
        |  FROM t WHERE len(toks) > 0)
        |SELECT doc_id,
        |       CAST((start - 1) // 25 AS BIGINT) AS win_idx,
        |       array_to_string(toks[start:least(start + 49, len(toks))], ' ')
        |         AS window_text
        |FROM w ORDER BY doc_id, win_idx""".stripMargin,
    "t_stats" ->
      """SELECT source, lang, count(*) AS n_docs,
        |  CAST(sum(len(list_filter(string_split_regex(text, '\s+'),
        |                           x -> len(x) > 0))) AS BIGINT) AS n_tokens,
        |  CAST(sum(length(text)) AS BIGINT) AS n_chars,
        |  CAST(count(DISTINCT text) AS BIGINT) AS n_uniq,
        |  CAST(sum(len(list_filter(string_split_regex(text, '\s+'),
        |                           x -> len(x) > 0))) * 1000
        |       // count(*) AS BIGINT) AS tokens_per_doc_milli
        |FROM documents GROUP BY source, lang
        |ORDER BY source, lang""".stripMargin,
    "t_mix" ->
      """WITH d AS (
        |  SELECT CAST(doc_id AS BIGINT) AS id, lang AS stratum,
        |         CAST(len(list_filter(string_split_regex(text, '\s+'),
        |                              x -> len(x) > 0)) AS BIGINT) AS n_tokens
        |  FROM documents),
        |t AS (SELECT stratum, sum(n_tokens) AS stratum_tokens
        |      FROM d GROUP BY stratum),
        |b AS (SELECT * FROM (VALUES ('en', 2000000), ('de', 500000))
        |      AS v(stratum, budget)),
        |e AS (SELECT t.stratum,
        |             CAST(b.budget * 1000 // t.stratum_tokens AS BIGINT)
        |               AS epochs_milli
        |      FROM t JOIN b USING (stratum))
        |SELECT d.id, d.stratum, d.n_tokens, e.epochs_milli,
        |       CAST(e.epochs_milli // 1000 AS BIGINT) AS n_full,
        |       substring(md5(CAST(d.id AS VARCHAR) || 'mix'), 1, 6) <
        |         printf('%06x', (e.epochs_milli % 1000) * 16777216 // 1000)
        |         AS include_extra
        |FROM d JOIN e USING (stratum) ORDER BY id""".stripMargin,
    "t_pack" ->
      """WITH t AS (
        |  SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |         CAST(len(list_filter(string_split_regex(text, '\s+'),
        |                              x -> len(x) > 0)) AS BIGINT) AS n
        |  FROM documents),
        |o AS (
        |  SELECT doc_id, n,
        |         CAST(sum(n) OVER (ORDER BY doc_id) - n AS BIGINT) AS off
        |  FROM t WHERE n > 0)
        |SELECT CAST(c AS BIGINT) AS chunk_id, doc_id,
        |       CAST(greatest(0, c * 512 - off) AS BIGINT) AS doc_from,
        |       CAST(least(n, (c + 1) * 512 - off)
        |            - greatest(0, c * 512 - off) AS BIGINT) AS seg_len
        |FROM o, unnest(range(off // 512, (off + n - 1) // 512 + 1)) AS u(c)
        |ORDER BY chunk_id, doc_id""".stripMargin,
    "t_sample_stratified" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id, lang FROM documents
        |WHERE substring(md5(CAST(doc_id AS VARCHAR) || 'graft'), 1, 6) <
        |  CASE lang WHEN 'en' THEN '800000' WHEN 'de' THEN '400000'
        |            ELSE '199999' END
        |ORDER BY doc_id""".stripMargin,
    "t_dedup_clusters" ->
      """WITH d AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents),
        |m AS (SELECT id,
        |        CASE WHEN id % 10 = 0
        |               OR lag(id) OVER (ORDER BY id) IS DISTINCT FROM id - 1
        |             THEN id END AS run_start
        |      FROM d)
        |SELECT id,
        |       max(run_start) OVER (ORDER BY id ROWS UNBOUNDED PRECEDING)
        |         AS component
        |FROM m ORDER BY id""".stripMargin,
    "t_repetition" ->
      """WITH t AS (
        |  SELECT doc_id,
        |         list_filter(string_split(text, chr(10)), x -> len(x) > 0) AS lines,
        |         list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS toks
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, lines, toks,
        |         list_transform(range(1, len(toks)),
        |           i -> toks[i] || ' ' || toks[i+1]) AS bgs,
        |         list_transform(range(1, len(toks) - 1),
        |           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS tgs
        |  FROM t),
        |bi AS (
        |  SELECT doc_id, bg, count(*) AS cnt
        |  FROM (SELECT doc_id, unnest(bgs) AS bg FROM g) GROUP BY doc_id, bg),
        |bm AS (SELECT doc_id, max(cnt) AS maxf FROM bi GROUP BY doc_id)
        |SELECT g.doc_id AS doc_id,
        |       CAST(len(lines) AS BIGINT) AS n_lines,
        |       CAST(CASE WHEN len(lines) > 0 THEN
        |         (len(lines) - len(list_distinct(lines))) * 1000 // len(lines)
        |         ELSE 0 END AS BIGINT) AS dup_line_ratio_milli,
        |       CAST(CASE WHEN len(tgs) > 0 THEN
        |         (len(tgs) - len(list_distinct(tgs))) * 1000 // len(tgs)
        |         ELSE 0 END AS BIGINT) AS dup_trigram_ratio_milli,
        |       CAST(CASE WHEN len(bgs) > 0 THEN
        |         coalesce(bm.maxf, 0) * 1000 // len(bgs)
        |         ELSE 0 END AS BIGINT) AS top_bigram_ratio_milli
        |FROM g LEFT JOIN bm ON g.doc_id = bm.doc_id
        |ORDER BY doc_id""".stripMargin,
    "t_decontaminate" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |         list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS t
        |  FROM documents),
        |tg AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t) - 11),
        |    i -> array_to_string(t[i:i+12], ' ')))) AS gram
        |  FROM toks WHERE len(t) >= 13),
        |bt AS (SELECT doc_id, t[6:40] AS t FROM toks WHERE doc_id % 20 = 0),
        |bg AS (
        |  SELECT DISTINCT unnest(list_distinct(list_transform(range(1, len(t) - 11),
        |    i -> array_to_string(t[i:i+12], ' ')))) AS gram
        |  FROM bt WHERE len(t) >= 13),
        |c AS (SELECT DISTINCT tg.doc_id FROM tg JOIN bg USING (gram))
        |SELECT toks.doc_id AS doc_id, c.doc_id IS NOT NULL AS contaminated
        |FROM toks LEFT JOIN c ON toks.doc_id = c.doc_id
        |ORDER BY doc_id""".stripMargin,
    "t_normalize" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  regexp_replace(nfc_normalize('Cafe' || chr(769) || ' nai' ||
        |      chr(776) || 've ' || chr(7) || substr(text, 1, 200)),
        |    '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g') AS text
        |FROM documents ORDER BY doc_id""".stripMargin,
    "t_fix_mojibake" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  CASE WHEN doc_id % 10 = 1 THEN 'À la carte ' || substr(text, 1, 120)
        |       ELSE 'naïve café — “quoted” übermaß ' || substr(text, 1, 120)
        |  END AS fixed
        |FROM documents ORDER BY doc_id""".stripMargin,
    "t_url_canon" ->
      """WITH u AS (
        |  SELECT CAST(doc_id AS BIGINT) AS id,
        |    (CASE WHEN doc_id % 3 = 0 THEN 'HTTP' ELSE 'https' END) || '://' ||
        |    (CASE WHEN doc_id % 2 = 0 THEN 'WWW.' ELSE '' END) ||
        |    'site' || (doc_id % 7) ||
        |    (CASE WHEN doc_id % 3 = 0 THEN '.example.co.uk' ELSE '.example.com' END) ||
        |    (CASE WHEN doc_id % 5 = 0 THEN
        |            (CASE WHEN doc_id % 3 = 0 THEN ':80' ELSE ':443' END)
        |          WHEN doc_id % 5 = 1 THEN ':8080' ELSE '' END) ||
        |    '/Path' || (doc_id % 50) ||
        |    (CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END) ||
        |    (CASE WHEN doc_id % 2 = 0 THEN '?utm_source=feed&b=2&a=1'
        |          WHEN doc_id % 11 = 0 THEN '?z=9' ELSE '' END) ||
        |    (CASE WHEN doc_id % 6 = 0 THEN '#sec' || doc_id ELSE '' END) AS url
        |  FROM documents),
        |c AS (
        |  SELECT id, url,
        |    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        |    regexp_replace(lower(regexp_extract(url, '^[^:/?#]+://([^/?#]+)', 1)),
        |      '^www\.', '') AS hostport,
        |    regexp_extract(url, '^[^:/?#]+://[^/?#]*([^?#]*)', 1) AS rawpath,
        |    regexp_extract(url, '\?([^#]*)', 1) AS rawq
        |  FROM u),
        |d AS (
        |  SELECT id, scheme,
        |    CASE WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$', '')
        |         WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
        |         ELSE hostport END AS host,
        |    CASE WHEN regexp_replace(rawpath, '/+$', '') = '' THEN '/'
        |         ELSE regexp_replace(rawpath, '/+$', '') END AS path,
        |    list_sort(list_filter(string_split(rawq, '&'),
        |      p -> len(p) > 0 AND NOT regexp_matches(p,
        |        '^(utm_[^=]*|gclid|fbclid|ref)='))) AS params
        |  FROM c),
        |e AS (
        |  SELECT id, scheme, host, path, params,
        |         string_split(regexp_replace(host, ':[0-9]+$', ''), '.') AS labels,
        |         regexp_replace(host, ':[0-9]+$', '') AS bare
        |  FROM d)
        |SELECT id AS doc_id,
        |  scheme || '://' || host || path ||
        |    (CASE WHEN len(params) = 0 THEN ''
        |          ELSE '?' || array_to_string(params, '&') END) AS canon,
        |  host,
        |  CASE WHEN len(labels) <= 2 THEN bare
        |       WHEN (labels[-2] || '.' || labels[-1]) IN ('co.uk', 'org.uk',
        |         'ac.uk', 'gov.uk', 'co.jp', 'co.in', 'co.nz', 'co.za',
        |         'co.kr', 'com.au', 'net.au', 'org.au', 'com.br', 'com.mx',
        |         'com.cn', 'com.tw', 'com.sg', 'com.hk')
        |         THEN labels[-3] || '.' || labels[-2] || '.' || labels[-1]
        |       ELSE labels[-2] || '.' || labels[-1] END AS domain
        |FROM e ORDER BY doc_id""".stripMargin,
    "t_url_filter" ->
      """WITH u AS (
        |  SELECT CAST(doc_id AS BIGINT) AS id,
        |    (CASE WHEN doc_id % 3 = 0 THEN 'HTTP' ELSE 'https' END) || '://' ||
        |    (CASE WHEN doc_id % 2 = 0 THEN 'WWW.' ELSE '' END) ||
        |    'site' || (doc_id % 7) ||
        |    (CASE WHEN doc_id % 3 = 0 THEN '.example.co.uk' ELSE '.example.com' END) ||
        |    (CASE WHEN doc_id % 5 = 0 THEN
        |            (CASE WHEN doc_id % 3 = 0 THEN ':80' ELSE ':443' END)
        |          WHEN doc_id % 5 = 1 THEN ':8080' ELSE '' END) ||
        |    '/Path' || (doc_id % 50) ||
        |    (CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END) ||
        |    (CASE WHEN doc_id % 2 = 0 THEN '?utm_source=feed&b=2&a=1'
        |          WHEN doc_id % 11 = 0 THEN '?z=9' ELSE '' END) ||
        |    (CASE WHEN doc_id % 6 = 0 THEN '#sec' || doc_id ELSE '' END) AS url
        |  FROM documents),
        |c AS (
        |  SELECT id, url,
        |    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        |    regexp_replace(lower(regexp_extract(url, '^[^:/?#]+://([^/?#]+)', 1)),
        |      '^www\.', '') AS hostport
        |  FROM u),
        |d AS (
        |  SELECT id, url,
        |    CASE WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$', '')
        |         WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
        |         ELSE hostport END AS host
        |  FROM c),
        |e AS (
        |  SELECT id, url, host,
        |         string_split(regexp_replace(host, ':[0-9]+$', ''), '.') AS labels,
        |         regexp_replace(host, ':[0-9]+$', '') AS bare
        |  FROM d)
        |SELECT id AS doc_id, url,
        |  CASE WHEN host = 'site2.example.com' THEN 'blocked:host'
        |       WHEN (CASE WHEN len(labels) <= 2 THEN bare
        |             WHEN (labels[-2] || '.' || labels[-1]) IN ('co.uk', 'org.uk',
        |               'ac.uk', 'gov.uk', 'co.jp', 'co.in', 'co.nz', 'co.za',
        |               'co.kr', 'com.au', 'net.au', 'org.au', 'com.br', 'com.mx',
        |               'com.cn', 'com.tw', 'com.sg', 'com.hk')
        |               THEN labels[-3] || '.' || labels[-2] || '.' || labels[-1]
        |             ELSE labels[-2] || '.' || labels[-1] END) = 'example.co.uk'
        |         THEN 'blocked:domain'
        |       WHEN regexp_matches(url, '\?.*z=9') THEN 'blocked:pattern0'
        |       WHEN regexp_matches(url, '/Path2[0-9]') THEN 'blocked:pattern1'
        |       ELSE 'ok' END AS verdict
        |FROM e ORDER BY doc_id""".stripMargin,
    "t_robots" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  (CASE WHEN doc_id % 3 = 0 THEN 'HTTP' ELSE 'https' END) || '://' ||
        |  (CASE WHEN doc_id % 2 = 0 THEN 'WWW.' ELSE '' END) ||
        |  'site' || (doc_id % 7) ||
        |  (CASE WHEN doc_id % 3 = 0 THEN '.example.co.uk' ELSE '.example.com' END) ||
        |  (CASE WHEN doc_id % 5 = 0 THEN
        |          (CASE WHEN doc_id % 3 = 0 THEN ':80' ELSE ':443' END)
        |        WHEN doc_id % 5 = 1 THEN ':8080' ELSE '' END) ||
        |  '/Path' || (doc_id % 50) ||
        |  (CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END) ||
        |  (CASE WHEN doc_id % 2 = 0 THEN '?utm_source=feed&b=2&a=1'
        |        WHEN doc_id % 11 = 0 THEN '?z=9' ELSE '' END) ||
        |  (CASE WHEN doc_id % 6 = 0 THEN '#sec' || doc_id ELSE '' END) AS url,
        |  CASE WHEN (doc_id % 7) % 2 = 0 THEN
        |    NOT (doc_id % 50 IN (1,10,11,13,14,15,16,17,18,19))
        |  ELSE
        |    NOT ((doc_id % 50 = 3 AND doc_id % 11 <> 0) OR doc_id % 50 = 47)
        |  END AS allowed
        |FROM documents ORDER BY doc_id""".stripMargin,
    "t_url_dedup" ->
      """WITH u AS (
        |  SELECT CAST(doc_id AS BIGINT) AS id,
        |    'https://www.example.com/page' || (doc_id % 25) ||
        |    (CASE WHEN doc_id % 2 = 0 THEN '?utm_source=x' ELSE '' END) AS url
        |  FROM documents),
        |c AS (
        |  SELECT id, url,
        |         'https://example.com/page' || (id % 25) AS canon_url
        |  FROM u),
        |w AS (
        |  SELECT canon_url, min(id) AS id, count(*) AS n_dups
        |  FROM c GROUP BY canon_url)
        |SELECT c.id AS doc_id, c.url, c.canon_url,
        |       CAST(w.n_dups AS BIGINT) AS n_dups
        |FROM c JOIN w ON c.canon_url = w.canon_url AND c.id = w.id
        |ORDER BY c.canon_url""".stripMargin,
    "m_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us,
        |         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
        |         lag(epoch_us(ts)) OVER
        |           (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev
        |  FROM events),
        |m AS (
        |  SELECT *, CASE WHEN prev IS NULL OR us - prev > 1800000000
        |                 THEN 1 ELSE 0 END AS new_s
        |  FROM e),
        |s AS (
        |  SELECT *, sum(new_s) OVER (PARTITION BY user_id
        |    ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS session_seq
        |  FROM m)
        |SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
        |       min(event_id) AS start_id,
        |       count(*) AS n_events,
        |       max(us) - min(us) AS dur_us,
        |       CAST(sum(cents) AS BIGINT) AS value_cents
        |FROM s GROUP BY user_id, session_seq
        |ORDER BY user_id, session_seq""".stripMargin,
    "m_events_window" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
        |         AS window_start,
        |       event_type,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |         AS value_cents
        |FROM events
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // 10 unrolled iteration CTEs rather than WITH RECURSIVE: DuckDB
    // (1.x) mis-evaluates a correlated aggregate over a second CTE
    // inside a recursive term (verified against an independent integer
    // reference implementation — the recursive form attributes wrong
    // out-degrees); the unrolled plain-join form matches it exactly
    "t_pagerank" -> {
      val pre =
        """WITH
          |ids AS (SELECT CAST(doc_id AS BIGINT) AS i FROM documents),
          |nn AS (SELECT count(*) AS n FROM ids),
          |edges AS (
          |  SELECT i AS src, (i + 1) % n AS dst FROM ids, nn
          |  UNION SELECT i, (2 * i) % n FROM ids, nn
          |  UNION SELECT i, 0 FROM ids, nn),
          |ew AS (
          |  SELECT e.src, e.dst, o.d
          |  FROM edges e JOIN (SELECT src, count(*) AS d FROM edges
          |                     GROUP BY src) o ON o.src = e.src),
          |bb AS (SELECT CAST(floor(15 * 1000000.0 / (100 * n)) AS BIGINT)
          |         AS base FROM nn),
          |r0 AS (SELECT i AS id, CAST(floor(1000000.0 / n) AS BIGINT) AS r
          |       FROM ids, nn)""".stripMargin
      val steps = (1 to 10).map { k =>
        s""",
           |r$k AS (
           |  SELECT n2.i AS id,
           |         bb.base + CAST(floor(85 * coalesce(agg.s, 0) / 100.0)
           |           AS BIGINT) AS r
           |  FROM ids n2 CROSS JOIN bb
           |  LEFT JOIN (
           |    SELECT ew.dst AS di,
           |           sum(CAST(floor(p.r * 1.0 / ew.d) AS BIGINT)) AS s
           |    FROM ew JOIN r${k - 1} p ON p.id = ew.src
           |    GROUP BY ew.dst) agg ON agg.di = n2.i)""".stripMargin
      }.mkString
      pre + steps +
        "\nSELECT id AS doc_id, r AS rank_micro FROM r10 ORDER BY doc_id"
    },
    "t_dsir" ->
      """WITH tk AS (
        |  SELECT CAST(doc_id AS BIGINT) AS id, doc_id % 10 = 0 AS tgt,
        |         list_filter(string_split_regex(text, '\s+'),
        |           x -> len(x) > 0) AS toks
        |  FROM documents),
        |fu AS (
        |  SELECT id, tgt, unnest(toks) AS f FROM tk
        |  UNION ALL
        |  SELECT id, tgt, toks[i] || ' ' || toks[i+1]
        |  FROM tk, unnest(range(1, len(toks))) AS r(i)),
        |fb AS (
        |  SELECT id, tgt,
        |         (instr('0123456789abcdef', substr(md5(f), 1, 1)) - 1) * 256 +
        |         (instr('0123456789abcdef', substr(md5(f), 2, 1)) - 1) * 16 +
        |         (instr('0123456789abcdef', substr(md5(f), 3, 1)) - 1) AS b
        |  FROM fu),
        |cnt AS (
        |  SELECT b, count(*) AS rc,
        |         sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS tc
        |  FROM fb GROUP BY b),
        |tot AS (SELECT sum(rc) AS r, sum(tc) AS t FROM cnt),
        |lam AS (
        |  SELECT b, CAST(floor((ln((tc + 1.0) / (t + 4096)) -
        |           ln((rc + 1.0) / (r + 4096))) * 1000000) AS BIGINT) AS lmicro
        |  FROM cnt, tot),
        |db AS (SELECT id, b, count(*) AS n FROM fb GROUP BY id, b),
        |sc AS (
        |  SELECT id, sum(n) AS n_feats, sum(n * lmicro) AS smicro
        |  FROM db JOIN lam USING (b) GROUP BY id)
        |SELECT id AS doc_id, CAST(n_feats AS BIGINT) AS n_feats,
        |       CAST(floor(smicro / n_feats / 1000.0) AS BIGINT) AS w_milli
        |FROM sc ORDER BY doc_id""".stripMargin,
    "t_lm_score" ->
      """WITH tk AS (
        |  SELECT CAST(doc_id AS BIGINT) AS id,
        |         list_filter(string_split_regex(text, '\s+'),
        |           x -> len(x) > 0) AS toks
        |  FROM documents),
        |bg AS (
        |  SELECT id, toks[i] AS w1, toks[i+1] AS w2
        |  FROM tk, unnest(range(1, len(toks))) AS r(i)),
        |uni AS (
        |  SELECT w1, count(*) AS u FROM (
        |    SELECT id, unnest(toks) AS w1 FROM tk) GROUP BY w1),
        |vv AS (SELECT count(*) AS v FROM uni),
        |big AS (SELECT w1, w2, count(*) AS b FROM bg GROUP BY w1, w2),
        |scored AS (
        |  SELECT bg.id, count(*) AS n_bigrams,
        |         sum(CAST(floor(-ln((big.b + 1.0) / (uni.u + vv.v))
        |           * 1000000) AS BIGINT)) AS smicro
        |  FROM bg JOIN big USING (w1, w2) JOIN uni USING (w1), vv
        |  GROUP BY bg.id)
        |SELECT id AS doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams,
        |       CAST(floor(smicro / n_bigrams / 1000.0) AS BIGINT)
        |         AS nll_milli
        |FROM scored ORDER BY doc_id""".stripMargin,
    "t_bm25" ->
      """WITH toks AS (
        |  SELECT CAST(doc_id AS BIGINT) AS id,
        |         unnest(list_filter(string_split_regex(text, '\s+'),
        |           x -> len(x) > 0)) AS tok
        |  FROM documents),
        |tf AS (SELECT id, tok, count(*) AS tf FROM toks GROUP BY id, tok),
        |dl AS (SELECT id, count(*) AS dl FROM toks GROUP BY id),
        |stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
        |dfreq AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
        |q AS (SELECT unnest(['scan', 'merge', 'query']) AS tok),
        |scored AS (
        |  SELECT tf.id,
        |         sum(CAST(floor(
        |           ln((stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)
        |             * tf.tf * 2.2
        |             / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl))
        |           * 1000000) AS BIGINT)) AS smicro
        |  FROM tf JOIN q USING (tok) JOIN dfreq USING (tok)
        |       JOIN dl ON tf.id = dl.id, stats
        |  GROUP BY tf.id)
        |SELECT CAST(row_number() OVER (ORDER BY smicro DESC, id) AS BIGINT)
        |         AS rank,
        |       id AS doc_id,
        |       CAST(floor(smicro / 1000.0) AS BIGINT) AS score_milli
        |FROM scored ORDER BY smicro DESC, id LIMIT 20""".stripMargin,
    "t_split" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  CASE WHEN substring(md5(CAST(doc_id AS VARCHAR) || 'graft'), 1, 6)
        |            < 'fae147' THEN 'train'
        |       WHEN substring(md5(CAST(doc_id AS VARCHAR) || 'graft'), 1, 6)
        |            < 'fd70a3' THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,
    "t_shard" ->
      """WITH k AS (
        |  SELECT CAST(doc_id AS BIGINT) AS id,
        |         md5(CAST(doc_id AS VARCHAR) || 's5') AS h
        |  FROM documents),
        |s AS (
        |  SELECT id, h,
        |    CAST((CASE WHEN substring(h,1,6) >= '200000' THEN 1 ELSE 0 END)
        |       + (CASE WHEN substring(h,1,6) >= '400000' THEN 1 ELSE 0 END)
        |       + (CASE WHEN substring(h,1,6) >= '600000' THEN 1 ELSE 0 END)
        |       + (CASE WHEN substring(h,1,6) >= '800000' THEN 1 ELSE 0 END)
        |       + (CASE WHEN substring(h,1,6) >= 'a00000' THEN 1 ELSE 0 END)
        |       + (CASE WHEN substring(h,1,6) >= 'c00000' THEN 1 ELSE 0 END)
        |       + (CASE WHEN substring(h,1,6) >= 'e00000' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS shard
        |  FROM k)
        |SELECT id, shard,
        |       CAST(row_number() OVER (PARTITION BY shard ORDER BY h, id)
        |         AS BIGINT) AS pos
        |FROM s ORDER BY id""".stripMargin,
    "t_uniq_lines" ->
      """SELECT CAST(doc_id AS BIGINT) AS id,
        |  'nav' || chr(10) || substring(text, 1, 80) || chr(10) || 'footer'
        |    AS cleaned,
        |  CAST(CASE WHEN doc_id % 3 = 0 THEN 3 ELSE 2 END AS BIGINT)
        |    AS n_removed
        |FROM documents ORDER BY id""".stripMargin,
    "t_split_decontam" ->
      """WITH s AS (
        |  SELECT doc_id, text,
        |    substring(md5(CAST(doc_id AS VARCHAR) || 'graft'), 1, 6) AS b
        |  FROM documents),
        |toks AS (
        |  SELECT doc_id, b,
        |         list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS t
        |  FROM s),
        |tg AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t) - 11),
        |    i -> array_to_string(t[i:i+12], ' ')))) AS gram
        |  FROM toks WHERE b < 'fae147' AND len(t) >= 13),
        |bg AS (
        |  SELECT DISTINCT unnest(list_distinct(list_transform(range(1, len(t) - 11),
        |    i -> array_to_string(t[i:i+12], ' ')))) AS gram
        |  FROM toks WHERE b >= 'fd70a3' AND len(t) >= 13),
        |c AS (SELECT DISTINCT tg.doc_id FROM tg JOIN bg USING (gram))
        |SELECT toks.doc_id AS doc_id, c.doc_id IS NOT NULL AS contaminated
        |FROM toks LEFT JOIN c ON toks.doc_id = c.doc_id
        |WHERE toks.b < 'fae147'
        |ORDER BY doc_id""".stripMargin,
    "t_anchors" ->
      """WITH d AS (
        |  SELECT doc_id % 4 AS h, doc_id % 10 AS p, doc_id % 3 AS a
        |  FROM documents),
        |pa AS (SELECT h, p, a, 2 * count(*) AS c FROM d GROUP BY 1, 2, 3),
        |tot AS (SELECT h, p, CAST(sum(c) AS BIGINT) AS n_refs
        |        FROM pa GROUP BY 1, 2),
        |top AS (SELECT h, p, a,
        |          row_number() OVER (PARTITION BY h, p
        |            ORDER BY c DESC, a ASC) AS rk
        |        FROM pa)
        |SELECT dst, top_anchor, n_refs FROM (
        |  SELECT 'https://host' || t.h || '.example.com/p' || t.p AS dst,
        |         'Label ' || top.a AS top_anchor, t.n_refs
        |  FROM tot t JOIN top ON top.h = t.h AND top.p = t.p AND top.rk = 1
        |  UNION ALL
        |  SELECT 'http://ext.example.org/q', 'Go',
        |         (SELECT CAST(count(*) AS BIGINT) FROM documents)
        |) ORDER BY dst""".stripMargin,
    "t_outlinks" ->
      """WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents),
        |e AS (
        |  SELECT id, 'http://other.example.com/abs' || id || '?b=2' AS dst
        |  FROM ids
        |  UNION ALL SELECT id, 'https://cdn.example.net/x' || id FROM ids
        |  UNION ALL SELECT id,
        |    'https://example.com/dir/deep/sub/page' || id || '.html' FROM ids
        |  UNION ALL SELECT id,
        |    'https://example.com/dir/up' || id || '.html' FROM ids
        |  UNION ALL SELECT id,
        |    'https://example.com/root' || id || '.html' FROM ids)
        |SELECT id AS doc_id, dst FROM e ORDER BY doc_id, dst""".stripMargin,
    "t_domain_cap" ->
      """SELECT doc_id, source, CAST(rk AS BIGINT) AS rk FROM (
        |  SELECT doc_id, source,
        |         row_number() OVER (PARTITION BY source
        |           ORDER BY n_chars DESC, doc_id) AS rk
        |  FROM documents) WHERE rk <= 10
        |ORDER BY source, rk""".stripMargin,
    "t_filter_gopher" -> (GopherCtes +
      """
        |SELECT doc_id, reason IS NULL AS keep, reason
        |FROM r ORDER BY doc_id""".stripMargin),
    "t_curate" -> (GopherCtes +
      """,
        |keep AS (SELECT doc_id FROM r WHERE reason IS NULL),
        |d1 AS (
        |  SELECT d.doc_id, d.text, d.lang AS stratum, d.source, d.n_chars
        |  FROM documents d JOIN keep USING (doc_id)),
        |reps AS (SELECT min(doc_id) AS doc_id FROM d1 GROUP BY text),
        |d2 AS (SELECT d1.* FROM d1 JOIN reps USING (doc_id)),
        |toks2 AS (
        |  SELECT doc_id,
        |         list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS t
        |  FROM d2),
        |tg AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t) - 11),
        |    i -> array_to_string(t[i:i+12], ' ')))) AS gram
        |  FROM toks2 WHERE len(t) >= 13),
        |bt AS (
        |  SELECT doc_id, t[6:40] AS t
        |  FROM (SELECT doc_id,
        |          list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS t
        |        FROM documents WHERE doc_id % 20 = 0)),
        |bg AS (
        |  SELECT DISTINCT unnest(list_distinct(list_transform(range(1, len(t) - 11),
        |    i -> array_to_string(t[i:i+12], ' ')))) AS gram
        |  FROM bt WHERE len(t) >= 13),
        |contam AS (SELECT DISTINCT tg.doc_id FROM tg JOIN bg USING (gram)),
        |d3 AS (
        |  SELECT d2.* FROM d2 LEFT JOIN contam ON d2.doc_id = contam.doc_id
        |  WHERE contam.doc_id IS NULL),
        |rk AS (
        |  SELECT doc_id, row_number() OVER (PARTITION BY source
        |    ORDER BY n_chars DESC, doc_id) AS rk
        |  FROM d3),
        |d4 AS (SELECT d3.* FROM d3 JOIN rk USING (doc_id) WHERE rk.rk <= 10)
        |SELECT CAST(doc_id AS BIGINT) AS id, stratum, source,
        |       CAST(len(list_filter(string_split_regex(text, '\s+'),
        |                            x -> len(x) > 0)) AS BIGINT) AS n_tokens
        |FROM d4
        |WHERE substring(md5(CAST(doc_id AS VARCHAR) || 'graft'), 1, 6) <
        |  CASE stratum WHEN 'en' THEN '800000' WHEN 'de' THEN '400000'
        |               ELSE '199999' END
        |ORDER BY id""".stripMargin),
    // Full-chain replay of the web-ingestion composition: the reassembled
    // post-strip body is 'copy of doc N' (notes record) ++ the extracted
    // page body (the shared footer page is stripped by corpus
    // doc-frequency), then the exact five-stage curation SQL of t_curate
    // over that derived corpus, then the t_pack prefix-sum suffix.
    // GopherCtes is reused verbatim with the base table swapped to `web`,
    // so the quality-gate SQL cannot drift between the two oracles.
    "t_web_pipeline" -> {
      val gopherOnWeb = GopherCtes
        .replaceFirst("^WITH ", "")
        .replace("FROM documents", "FROM web")
      """WITH web AS MATERIALIZED (
        |  SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |         'copy of doc ' || doc_id || ' ' ||
        |           trim('Doc ' || doc_id || ' ' || text) AS text,
        |         lang, source
        |  FROM documents),
        |""".stripMargin + gopherOnWeb +
      """,
        |keep AS (SELECT doc_id FROM r WHERE reason IS NULL),
        |d1 AS (
        |  SELECT d.doc_id, d.text, d.lang AS stratum, d.source,
        |         CAST(length(d.text) AS BIGINT) AS n_chars
        |  FROM web d JOIN keep USING (doc_id)),
        |reps AS (SELECT min(doc_id) AS doc_id FROM d1 GROUP BY text),
        |d2 AS (SELECT d1.* FROM d1 JOIN reps USING (doc_id)),
        |toks2 AS (
        |  SELECT doc_id,
        |         list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS t
        |  FROM d2),
        |tg AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t) - 11),
        |    i -> array_to_string(t[i:i+12], ' ')))) AS gram
        |  FROM toks2 WHERE len(t) >= 13),
        |bt AS (
        |  SELECT doc_id, t[6:40] AS t
        |  FROM (SELECT doc_id,
        |          list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS t
        |        FROM web WHERE doc_id % 20 = 0)),
        |bg AS (
        |  SELECT DISTINCT unnest(list_distinct(list_transform(range(1, len(t) - 11),
        |    i -> array_to_string(t[i:i+12], ' ')))) AS gram
        |  FROM bt WHERE len(t) >= 13),
        |contam AS (SELECT DISTINCT tg.doc_id FROM tg JOIN bg USING (gram)),
        |d3 AS (
        |  SELECT d2.* FROM d2 LEFT JOIN contam ON d2.doc_id = contam.doc_id
        |  WHERE contam.doc_id IS NULL),
        |rk AS (
        |  SELECT doc_id, row_number() OVER (PARTITION BY source
        |    ORDER BY n_chars DESC, doc_id) AS rk
        |  FROM d3),
        |d4 AS (SELECT d3.* FROM d3 JOIN rk USING (doc_id) WHERE rk.rk <= 10),
        |s5 AS MATERIALIZED (
        |  SELECT doc_id,
        |         CAST(len(list_filter(string_split_regex(text, '\s+'),
        |                              x -> len(x) > 0)) AS BIGINT) AS n
        |  FROM d4
        |  WHERE substring(md5(CAST(doc_id AS VARCHAR) || 'graft'), 1, 6) <
        |    CASE stratum WHEN 'en' THEN '800000' WHEN 'de' THEN '400000'
        |                 ELSE '199999' END),
        |o AS (
        |  SELECT doc_id, n,
        |         CAST(sum(n) OVER (ORDER BY doc_id) - n AS BIGINT) AS off
        |  FROM s5 WHERE n > 0)
        |SELECT CAST(c AS BIGINT) AS chunk_id, doc_id,
        |       CAST(greatest(0, c * 512 - off) AS BIGINT) AS doc_from,
        |       CAST(least(n, (c + 1) * 512 - off)
        |            - greatest(0, c * 512 - off) AS BIGINT) AS seg_len
        |FROM o, unnest(range(off // 512, (off + n - 1) // 512 + 1)) AS u(c)
        |ORDER BY chunk_id, doc_id""".stripMargin
    },
    "t_filter_c4" -> (PagedCte +
      """,
        |l AS (
        |  SELECT id, page,
        |         list_filter(string_split(page, chr(10)), x -> len(x) > 0) AS lines
        |  FROM pg),
        |k AS (
        |  SELECT id, page,
        |         CAST(len(lines) AS BIGINT) AS n_lines,
        |         CAST(len(list_filter(lines, x ->
        |           (ends_with(x, '.') OR ends_with(x, '!') OR
        |            ends_with(x, '?') OR ends_with(x, '"'))
        |           AND len(list_filter(string_split_regex(x, '\s+'),
        |                 w -> len(w) > 0)) >= 5)) AS BIGINT) AS n_kept
        |  FROM l),
        |r AS (
        |  SELECT id, n_lines, n_kept,
        |    CASE WHEN contains(lower(page), 'lorem ipsum') THEN 'lorem_ipsum'
        |         WHEN contains(page, '{') THEN 'brace'
        |         WHEN n_kept < 3 THEN 'too_few_sentences'
        |         ELSE NULL END AS reason
        |  FROM k)
        |SELECT id AS doc_id, n_lines, n_kept, reason IS NULL AS keep, reason
        |FROM r ORDER BY doc_id""".stripMargin),
    "t_line_dedup" -> (PagedCte +
      """,
        |l AS (
        |  SELECT id, unnest(list_filter(string_split(page, chr(10)),
        |    x -> len(x) > 0)) AS line
        |  FROM pg),
        |b AS (
        |  SELECT line FROM (
        |    SELECT line, count(DISTINCT id) AS ddf FROM l GROUP BY line)
        |  WHERE ddf >= 5),
        |per AS (
        |  SELECT l.id AS id, count(*) AS n_lines,
        |         sum(CASE WHEN b.line IS NOT NULL THEN 1 ELSE 0 END) AS n_boiler
        |  FROM l LEFT JOIN b ON l.line = b.line GROUP BY l.id)
        |SELECT id AS doc_id, CAST(n_lines AS BIGINT) AS n_lines,
        |       CAST(n_boiler AS BIGINT) AS n_boiler,
        |       CAST(n_boiler * 1000 // n_lines AS BIGINT) AS boiler_milli
        |FROM per ORDER BY doc_id""".stripMargin),
    "i_spans_strip" -> (SpanCte +
      """,
        |bdf AS (
        |  SELECT stext, count(DISTINCT id) AS ddf FROM sp
        |  WHERE kind = 'text' GROUP BY stext),
        |kept AS (
        |  SELECT sp.id, sp.pos, sp.kind, sp.stext, sp.media_ref, sp.off
        |  FROM sp LEFT JOIN bdf
        |    ON sp.kind = 'text' AND sp.stext = bdf.stext
        |  WHERE bdf.ddf IS NULL OR bdf.ddf < 5)
        |SELECT id AS doc_id, pos, kind, stext AS text, media_ref, off
        |FROM kept ORDER BY doc_id, pos""".stripMargin),
    "i_spans_render" -> (SpanCte +
      """
        |SELECT id AS doc_id,
        |       string_agg(CASE WHEN kind = 'text' THEN stext
        |                       ELSE '<|media|>' END, chr(10) ORDER BY pos) AS text,
        |       CAST(sum(CASE WHEN kind <> 'text' THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_media
        |FROM sp GROUP BY id ORDER BY doc_id""".stripMargin),
    "i_spans_pack" -> (SpanCte +
      """,
        |n1 AS (
        |  SELECT id, CAST(sum(CASE WHEN kind = 'text'
        |    THEN len(list_filter(string_split_regex(stext, '\s+'),
        |                         x -> len(x) > 0))
        |    ELSE 1 END) AS BIGINT) AS n
        |  FROM sp GROUP BY id),
        |o AS (
        |  SELECT id, n,
        |         CAST(sum(n) OVER (ORDER BY id) - n AS BIGINT) AS off
        |  FROM n1 WHERE n > 0)
        |SELECT CAST(c AS BIGINT) AS chunk_id, id AS doc_id,
        |       CAST(greatest(0, c * 512 - off) AS BIGINT) AS doc_from,
        |       CAST(least(n, (c + 1) * 512 - off)
        |            - greatest(0, c * 512 - off) AS BIGINT) AS seg_len
        |FROM o, unnest(range(off // 512, (off + n - 1) // 512 + 1)) AS u(c)
        |ORDER BY chunk_id, doc_id""".stripMargin),
    "i_spans_pack_patches" -> (SpanCte +
      """,
        |mc AS (
        |  SELECT id,
        |    CASE WHEN kind = 'text'
        |      THEN len(list_filter(string_split_regex(stext, '\s+'),
        |                           x -> len(x) > 0))
        |    WHEN (instr('0123456789abcdef', substr(md5(media_ref), 4, 1)) - 1) <> 0
        |      THEN (3 + (instr('0123456789abcdef', substr(md5(media_ref), 1, 1)) - 1) % 6
        |            + CASE WHEN (instr('0123456789abcdef',
        |                         substr(md5(media_ref), 3, 1)) - 1) % 2 > 0
        |                   THEN 1 ELSE 0 END)
        |         * (2 + (instr('0123456789abcdef', substr(md5(media_ref), 2, 1)) - 1) % 5)
        |    ELSE 1 END AS cost
        |  FROM sp),
        |n1 AS (
        |  SELECT id, CAST(sum(cost) AS BIGINT) AS n FROM mc GROUP BY id),
        |o AS (
        |  SELECT id, n,
        |         CAST(sum(n) OVER (ORDER BY id) - n AS BIGINT) AS off
        |  FROM n1 WHERE n > 0)
        |SELECT CAST(c AS BIGINT) AS chunk_id, id AS doc_id,
        |       CAST(greatest(0, c * 512 - off) AS BIGINT) AS doc_from,
        |       CAST(least(n, (c + 1) * 512 - off)
        |            - greatest(0, c * 512 - off) AS BIGINT) AS seg_len
        |FROM o, unnest(range(off // 512, (off + n - 1) // 512 + 1)) AS u(c)
        |ORDER BY chunk_id, doc_id""".stripMargin),
    "i_pairs" -> (SpanCte +
      """,
        |media AS (
        |  SELECT id, pos AS media_pos, media_ref FROM sp
        |  WHERE kind <> 'text' AND len(media_ref) > 0),
        |txt AS (
        |  SELECT id, pos AS tpos, stext FROM sp
        |  WHERE kind = 'text' AND len(trim(stext)) > 0),
        |best AS (
        |  SELECT m.id, m.media_pos, m.media_ref, t.tpos, t.stext,
        |         row_number() OVER (PARTITION BY m.id, m.media_pos
        |           ORDER BY abs(t.tpos - m.media_pos), t.tpos DESC) AS rn
        |  FROM media m JOIN txt t ON m.id = t.id)
        |SELECT id AS doc_id, media_pos, media_ref,
        |       tpos AS caption_pos, stext AS caption
        |FROM best WHERE rn = 1 ORDER BY doc_id, media_pos""".stripMargin),
    "t_select_budget" ->
      """WITH t AS (
        |  SELECT CAST(doc_id AS BIGINT) AS id,
        |         list_filter(string_split_regex(text, '\s+'),
        |                     x -> len(x) > 0) AS toks
        |  FROM documents),
        |c AS (
        |  SELECT id,
        |         CAST(CASE WHEN len(toks) > 0
        |           THEN floor(len(list_filter(toks, x -> list_contains(
        |             ['the','a','an','and','or','of','to','in','is','it','on',
        |              'for','with','as','at','by','that','this','be','are'], x)))
        |             * 1000 / len(toks)) ELSE 0 END AS BIGINT) AS score,
        |         CAST(len(toks) AS BIGINT) AS n
        |  FROM t WHERE len(toks) > 0),
        |cum AS (
        |  SELECT id, score, n,
        |         sum(n) OVER (ORDER BY score DESC, id
        |                      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM c)
        |SELECT id, score, n AS n_tokens, CAST(cum AS BIGINT) AS cum_tokens
        |FROM cum WHERE cum <= 12000 ORDER BY id""".stripMargin,
    "t_vocab" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(list_filter(string_split_regex(text, '\s+'),
        |    x -> len(x) > 0)) AS token
        |  FROM documents),
        |a AS (
        |  SELECT token, count(*) AS tf, count(DISTINCT doc_id) AS df
        |  FROM tok GROUP BY token)
        |SELECT CAST(row_number() OVER (ORDER BY tf DESC, token) AS BIGINT) AS rank,
        |       token, tf, df
        |FROM a ORDER BY tf DESC, token LIMIT 100""".stripMargin,
    "t_bpe" -> {
      val K = 12
      val sb = new StringBuilder(bpeCtes(K))
      sb.append("\nSELECT * FROM (\n")
      sb.append((1 to K).map(i =>
        s"  SELECT CAST($i AS BIGINT) AS step, l AS lsym, r AS rsym," +
          s" CAST(cnt AS BIGINT) AS pair_count FROM b$i")
        .mkString("\n  UNION ALL\n"))
      sb.append("\n) ORDER BY step")
      sb.toString
    },
    "t_bpe_encode" -> (bpeCtes(12) +
      """
        |SELECT replace(replace(sym, ' ', ''), '</w>', '') AS word,
        |       sym AS pieces, CAST(c AS BIGINT) AS n
        |FROM w12 ORDER BY word""".stripMargin),
    "t_bpe_roundtrip" -> (bpeCtes(12) +
      """,
        |vocab AS MATERIALIZED (
        |  SELECT replace(replace(sym, ' ', ''), '</w>', '') AS w,
        |         CAST(len(string_split(sym, ' ')) AS BIGINT) AS np
        |  FROM w12),
        |dw AS (
        |  SELECT doc_id, unnest(list_filter(list_transform(
        |    list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0),
        |    x -> lower(x)), x -> regexp_matches(x, '^[a-z]+$'))) AS w
        |  FROM documents),
        |np AS (
        |  SELECT dw.doc_id, sum(vocab.np) AS n_pieces
        |  FROM dw JOIN vocab ON dw.w = vocab.w GROUP BY dw.doc_id),
        |dec AS (
        |  SELECT doc_id, array_to_string(list_filter(list_transform(
        |    list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0),
        |    x -> lower(x)), x -> regexp_matches(x, '^[a-z]+$')), ' ') AS decoded
        |  FROM documents)
        |SELECT CAST(d.doc_id AS BIGINT) AS doc_id, dec.decoded,
        |       CAST(coalesce(np.n_pieces, 0) AS BIGINT) AS n_pieces
        |FROM documents d
        |JOIN dec ON d.doc_id = dec.doc_id
        |LEFT JOIN np ON d.doc_id = np.doc_id
        |ORDER BY doc_id""".stripMargin),
    "t_quality" ->
      """WITH t AS (
        |  SELECT doc_id,
        |         CAST(length(text) AS BIGINT) AS n_chars,
        |         list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS toks,
        |         CAST(length(text) - length(regexp_replace(text, '[!-/:-@\[-`{-~]', '', 'g')) AS BIGINT) AS n_punct
        |  FROM documents)
        |SELECT doc_id, n_chars,
        |       CAST(len(toks) AS BIGINT) AS n_tokens,
        |       n_punct,
        |       CAST(len(list_filter(toks, x -> list_contains(
        |         ['the','a','an','and','or','of','to','in','is','it','on',
        |          'for','with','as','at','by','that','this','be','are'], x))) AS BIGINT)
        |         AS n_stopwords,
        |       CAST(CASE WHEN len(toks) > 0
        |         THEN floor(n_chars * 1000 / len(toks)) ELSE 0 END AS BIGINT)
        |         AS avg_token_len_milli,
        |       CAST(CASE WHEN len(toks) > 0
        |         THEN floor(len(list_filter(toks, x -> list_contains(
        |           ['the','a','an','and','or','of','to','in','is','it','on',
        |            'for','with','as','at','by','that','this','be','are'], x)))
        |           * 1000 / len(toks)) ELSE 0 END AS BIGINT) AS stopword_ratio_milli
        |FROM t ORDER BY doc_id""".stripMargin,
    "t_fingerprint" ->
      """WITH t AS (
        |  SELECT doc_id,
        |         list_filter(string_split(text, ' '), x -> len(x) > 0) AS toks
        |  FROM documents),
        |tok AS (
        |  SELECT doc_id,
        |    list_transform(toks, s ->
        |      list_reduce(
        |        list_prepend(CAST(0 AS HUGEINT),
        |          list_transform(range(1, len(s) + 1),
        |            i -> CAST(unicode(s[i]) AS HUGEINT))),
        |        (acc, c) -> (acc * 31 + c) % 18446744073709551616::HUGEINT)) AS th
        |  FROM t),
        |fp AS (
        |  SELECT doc_id,
        |    list_reduce(
        |      list_prepend(CAST(1125899906842597 AS HUGEINT), th),
        |      (acc, x) -> (acc * 1000003 + x) % 18446744073709551616::HUGEINT)
        |      AS u
        |  FROM tok)
        |SELECT doc_id,
        |       CAST(CASE WHEN u >= 9223372036854775808::HUGEINT
        |                 THEN u - 18446744073709551616::HUGEINT
        |                 ELSE u END AS BIGINT) AS fingerprint
        |FROM fp ORDER BY doc_id""".stripMargin,
    "t_minhash_lsh" -> jaccardPairsOracle,
    "t_ngram_jaccard" -> jaccardPairsOracle,
    // Exhaustive simhash ground truth: FNV-1a (charAt semantics) per token
    // in HUGEINT mod-2^64 arithmetic, 64-bit majority signature, all pairs
    // with hamming ≤ 3 — the banded Spark plan must find exactly these
    // (pigeonhole: ≤3 differing bits ⇒ some 16-bit chunk equal).
    "t_simhash" ->
      """WITH toks AS (
        |  SELECT doc_id AS id, list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS t
        |  FROM documents),
        |all_docs AS (
        |  SELECT id, t FROM toks
        |  UNION ALL
        |  SELECT id + 10000000 AS id, list_filter(t, (x, i) -> i % 10 != 0) AS t
        |  FROM toks WHERE len(t) >= 50),
        |th AS (
        |  SELECT id, list_transform(t, tok -> list_reduce(
        |    list_prepend(14695981039346656037::HUGEINT,
        |      list_transform(range(1, len(tok)+1), j -> CAST(unicode(tok[j]) AS HUGEINT))),
        |    (h, c) -> ((h - (h % 65536) + CAST(xor(CAST(h % 65536 AS BIGINT), CAST(c AS BIGINT)) AS HUGEINT)) * 1099511628211::HUGEINT) % 18446744073709551616::HUGEINT
        |  )) AS ths
        |  FROM all_docs),
        |sigs AS (
        |  SELECT id, list_aggregate(list_transform(range(64), i ->
        |    CASE WHEN 2 * len(list_filter(ths, h -> (h >> CAST(i AS HUGEINT)) % 2 = 1)) - len(ths) > 0
        |         THEN (1::HUGEINT << CAST(i AS HUGEINT)) ELSE 0::HUGEINT END), 'sum') AS s
        |  FROM th),
        |sb AS (
        |  SELECT id, CAST(CASE WHEN coalesce(s, 0::HUGEINT) >= 9223372036854775808::HUGEINT
        |                       THEN s - 18446744073709551616::HUGEINT
        |                       ELSE coalesce(s, 0::HUGEINT) END AS BIGINT) AS sig
        |  FROM sigs)
        |SELECT a.id AS id_a, b.id AS id_b, CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS dist
        |FROM sb a JOIN sb b ON a.id < b.id
        |WHERE bit_count(xor(a.sig, b.sig)) <= 3
        |ORDER BY id_a, id_b""".stripMargin,
    "t_lang_id" -> {
      val langs = graft.analysis.FastTextLid.heldOut.map(_._1)
      val cases = langs.zipWithIndex
        .map { case (l, i) => s"WHEN $i THEN '$l'" }.mkString(" ")
      s"SELECT doc_id, CASE doc_id % ${langs.size} $cases END AS detected_lang " +
        "FROM documents ORDER BY doc_id"
    },
    "e_semdedup" ->
      """SELECT removed_id FROM (
        |  SELECT vec_id + 1000000 AS removed_id FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 2000000 FROM embeddings
        |) ORDER BY removed_id""".stripMargin,
    "e_quantize" ->
      """WITH t AS (
        |  SELECT vec_id AS id,
        |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |m AS (
        |  SELECT id, v, list_max(list_transform(v, x -> abs(x))) AS maxabs
        |  FROM t)
        |SELECT id, CAST(round(maxabs * 1e6) AS BIGINT) AS scale_micros,
        |       array_to_string(list_transform(v, x ->
        |         CAST(CAST(CASE WHEN maxabs = 0 THEN 0
        |           ELSE round(x * 127 / maxabs) END AS BIGINT) AS VARCHAR)), ' ') AS q
        |FROM m ORDER BY id""".stripMargin,
    "e_embed_dups" ->
      """SELECT id_a, id_b FROM (
        |  SELECT vec_id AS id_a, vec_id + 1000000 AS id_b FROM embeddings
        |  UNION ALL
        |  SELECT vec_id, vec_id + 2000000 FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000, vec_id + 2000000 FROM embeddings
        |) ORDER BY id_a, id_b""".stripMargin,
    "s_ann_lsh" ->
      """SELECT vec_id + 1000000 AS qid, vec_id AS cid FROM embeddings
        |WHERE vec_id < 100 ORDER BY qid""".stripMargin,
    "s_ann_ivf" ->
      """SELECT vec_id + 1000000 AS qid, vec_id AS cid FROM embeddings
        |WHERE vec_id < 100 ORDER BY qid""".stripMargin,
    "s_ann_ivfpq" ->
      """SELECT vec_id + 1000000 AS qid, vec_id AS cid FROM embeddings
        |WHERE vec_id < 100 ORDER BY qid""".stripMargin,
    "s_ann_brute" ->
      """WITH v AS (SELECT vec_id, embedding FROM embeddings),
        |scored AS (
        |  SELECT q.vec_id AS qid, c.vec_id AS cid,
        |         round(list_dot_product(q.embedding, c.embedding) /
        |           (sqrt(list_dot_product(q.embedding, q.embedding)) *
        |            sqrt(list_dot_product(c.embedding, c.embedding))), 6) AS sim
        |  FROM v q JOIN v c ON q.vec_id < 20 AND q.vec_id <> c.vec_id),
        |ranked AS (
        |  SELECT qid, cid, sim,
        |         row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid ASC) AS rank
        |  FROM scored)
        |SELECT qid, rank, cid FROM ranked WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,
    "x_tiff" ->
      """SELECT doc_id,
        |       'TIFFIngestor' AS ingestor,
        |       'Cam' || (doc_id % 3) AS make,
        |       'Mod' || (doc_id % 5) AS model,
        |       '2021-06-15T10:11:' || lpad(CAST(doc_id % 60 AS VARCHAR), 2, '0')
        |         AS authored_at
        |FROM documents ORDER BY doc_id""".stripMargin,
    "x_image" ->
      """SELECT doc_id,
        |       'Cam' || (doc_id % 3) AS make,
        |       'Mod' || (doc_id % 5) AS model,
        |       '2021-06-15T10:11:' || lpad(CAST(doc_id % 60 AS VARCHAR), 2, '0')
        |         AS authored_at,
        |       100 + doc_id % 50 AS width,
        |       200 + doc_id % 30 AS height
        |FROM documents ORDER BY doc_id""".stripMargin,
    "m_media_real" ->
      """SELECT doc_id,
        |       'AudioIngestor' AS ingestor,
        |       CASE WHEN doc_id % 2 = 0 THEN '' ELSE 'Doc ' || doc_id END AS title,
        |       CASE WHEN doc_id % 2 = 0
        |            THEN CAST(floor((doc_id % 100 + 1) * 1000 * 1000.0 / 32000) AS BIGINT)
        |            ELSE doc_id % 100 * 250 + 100 END AS duration,
        |       CASE WHEN doc_id % 2 = 0 THEN 16000 ELSE 44100 END AS sampling_rate
        |FROM documents ORDER BY doc_id""".stripMargin,
    "x_ocr" ->
      """WITH norm AS (
        |  SELECT doc_id,
        |         trim(substr(upper(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')), 1, 120)) AS n
        |  FROM documents)
        |SELECT doc_id,
        |       CASE WHEN doc_id % 2 = 0 THEN 'ImageIngestor'
        |            ELSE 'PDFIngestor' END AS ingestor,
        |       CASE WHEN doc_id % 10 = 6 THEN NULL
        |            WHEN n = '' THEN NULL
        |            WHEN TRY_CAST(n AS DOUBLE) IS NOT NULL THEN NULL
        |            ELSE n END AS ocr_text
        |FROM norm ORDER BY doc_id""".stripMargin,
    "t_ocr_cache" ->
      """SELECT doc_id, 'GROUP ' || (doc_id % 50) AS ocr_text
        |FROM documents ORDER BY doc_id""".stripMargin,
    "m_media_meta" ->
      """SELECT doc_id,
        |       CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
        |         ELSE 'video' END AS kind,
        |       CAST(octet_length(encode(text)) AS BIGINT) AS byte_len
        |FROM documents ORDER BY doc_id""".stripMargin,
    "a_patterns" ->
      """SELECT doc_id, email FROM (
        |  SELECT doc_id, 'user' || doc_id || '@example.com' AS email FROM documents
        |  UNION ALL
        |  SELECT doc_id, 'user' || (doc_id % 10) || '@example.com' AS email FROM documents
        |) ORDER BY doc_id, email""".stripMargin,
    "a_tag_agg" ->
      """SELECT doc_id, email AS key, CAST(count(*) AS BIGINT) AS freq FROM (
        |  SELECT doc_id, 'user' || doc_id || '@example.com' AS email FROM documents
        |  UNION ALL
        |  SELECT doc_id, 'user' || (doc_id % 10) || '@example.com' AS email FROM documents
        |) GROUP BY doc_id, email ORDER BY doc_id, key""".stripMargin,
    "a_chunks" ->
      """SELECT doc_id,
        |       CAST(i AS INT) AS chunk_idx,
        |       substr(text, CAST(i * 100 + 1 AS BIGINT), 100) AS chunk
        |FROM (SELECT doc_id, text,
        |             unnest(range(CAST(ceil(length(text) / 100.0) AS BIGINT))) AS i
        |      FROM documents WHERE length(text) >= 5)
        |ORDER BY doc_id, chunk_idx""".stripMargin,
    "a_mentions" -> {
      val pCase = QueryLib.MentionPeople.zipWithIndex
        .map { case (p, i) => s"WHEN $i THEN '${p.toLowerCase}'" }.mkString(" ")
      val cCase = QueryLib.MentionCompanies.zipWithIndex
        .map { case (c, i) => s"WHEN $i THEN '${c.toLowerCase}'" }.mkString(" ")
      s"""SELECT substr(sha256('mention|' || document || '|' || detected_prop || '|' || resolved_key), 1, 20) AS mention_id,
         |       document, detected_prop, detected_schema, resolved_key FROM (
         |  SELECT doc_id AS document, 'peopleMentioned' AS detected_prop,
         |         'Person' AS detected_schema,
         |         CASE doc_id % ${QueryLib.MentionPeople.size} $pCase END AS resolved_key
         |  FROM documents
         |  UNION ALL
         |  SELECT doc_id, 'companiesMentioned', 'Organization',
         |         CASE doc_id % ${QueryLib.MentionCompanies.size} $cCase END
         |  FROM documents
         |) ORDER BY document, detected_prop, resolved_key""".stripMargin
    },
    "a_typed_tags" -> {
      val people = Vector("john smith", "maria garcia", "ivan petrov",
        "fatima hassan", "chen wei", "anna kowalski", "ahmed khan",
        "sofia rossi", "david cohen", "yuki tanaka")
      val companies = Vector("acme holdings ltd", "globex gmbh",
        "initech llc", "umbrella corp", "stark industries inc",
        "wayne enterprises plc", "cyberdyne systems sa", "tyrell bv")
      val pCase = people.zipWithIndex.map { case (p, i) => s"WHEN $i THEN '$p'" }.mkString(" ")
      val cCase = companies.zipWithIndex.map { case (c, i) => s"WHEN $i THEN '$c'" }.mkString(" ")
      s"""SELECT doc_id, prop, key FROM (
         |  SELECT doc_id, 'companiesMentioned' AS prop,
         |         CASE doc_id % 8 $cCase END AS key FROM documents
         |  UNION ALL
         |  SELECT doc_id, 'peopleMentioned' AS prop,
         |         CASE doc_id % 10 $pCase END AS key FROM documents
         |) ORDER BY doc_id, prop, key""".stripMargin
    },
    "a_mentions_country" -> {
      val cc = Vector("de", "fr", "gb", "es", "it", "jp", "ca", "in", "eg", "au")
      val ccCase = cc.zipWithIndex.map { case (c, i) => s"WHEN $i THEN '$c'" }.mkString(" ")
      val pCase = QueryLib.MentionPeople.zipWithIndex
        .map { case (p, i) => s"WHEN $i THEN '${p.toLowerCase}'" }.mkString(" ")
      s"""SELECT doc_id AS document,
         |       CASE doc_id % ${QueryLib.MentionPeople.size} $pCase END AS resolved_key,
         |       'Person' AS detected_schema,
         |       CASE doc_id % 10 $ccCase END AS context_country
         |FROM documents ORDER BY document, resolved_key""".stripMargin
    },
    "a_thread_join" ->
      """SELECT doc_id, doc_id - 1 AS in_reply_to_doc FROM documents
        |WHERE doc_id > 0 ORDER BY doc_id""".stripMargin,
    "x_pst" ->
      """SELECT doc_id, file_name, subject, body FROM (
        |  SELECT doc_id, 'Inbox ' || doc_id || '/0.eml' AS file_name,
        |         'Msg A ' || doc_id AS subject,
        |         trim(substr(text, 1, 1200)) AS body FROM documents
        |  UNION ALL
        |  SELECT doc_id, 'Inbox ' || doc_id || '/1.eml',
        |         'Msg B ' || doc_id, 'second body ' || doc_id FROM documents
        |) ORDER BY doc_id, file_name""".stripMargin,
    "x_eml_persons" ->
      """SELECT doc_id, person_key, name, email FROM (
        |  SELECT doc_id, 'sender' || doc_id || '@graft.test' AS person_key,
        |         'User' || doc_id || ' Sender' || doc_id AS name,
        |         'sender' || doc_id || '@graft.test' AS email FROM documents
        |  UNION ALL
        |  SELECT doc_id, 'recipient' || doc_id || '@graft.test', '',
        |         'recipient' || doc_id || '@graft.test' FROM documents
        |  UNION ALL
        |  SELECT doc_id, 'shared' || (doc_id % 10) || '@graft.test', 'Ali Baba',
        |         'shared' || (doc_id % 10) || '@graft.test' FROM documents
        |) ORDER BY doc_id, person_key""".stripMargin
  )
}
