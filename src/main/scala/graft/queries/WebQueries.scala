package graft.queries

import graft.ops.TextOps
import graft.pipeline.Pipeline
import graft.queries.QueryLib._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Web and crawl queries: URL canonicalization, filters and dedup,
  * robots.txt, link graphs, PageRank, and the end-to-end WARC → extract
  * → strip → curate → pack composition. */
object WebQueries {

  /** Deterministically messy URL per doc id — shared by t_url_canon,
    * t_url_filter and t_robots (scheme/www/port/path/query/fragment
    * variants keyed on id residues; their [[graft.SparkEntry.oracleSql]]
    * texts rebuild the identical string in SQL). */
  private def messyUrl(id: Column): Column = concat(
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

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // crawl-grade URL canonicalization (scheme/host lowering, www +
    // default-port strip, tracking-param drop, param sort, fragment drop,
    // path normalization) + registrable domain — all one codegen'd
    // expression chain over deterministically synthesized messy URLs
    "t_url_canon" -> ((s, dir) => {
      val id = col("doc_id").cast("long")
      val host = graft.ops.UrlOps.hostOf(col("url"))
      documents(s, dir)
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
      documents(s, dir)
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
      val urls = documents(s, dir)
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
      val docs = documents(s, dir)
        .select(id.as("doc_id"), url.as("url"))
      graft.ops.UrlOps.dedupByCanonicalUrl(docs, "url", "doc_id")
        .select(col("doc_id"), col("url"), col("canon_url"), col("n_dups"))
        .orderBy("canon_url")
    }),
    // fixed-iteration PageRank (10 rounds, damping 0.85) over a
    // deterministic crawl-graph shape (ring + doubling + hub edges per
    // doc id) in integer micro-units — floor'd at every step, so the
    // DuckDB recursive-CTE oracle reproduces the rank vector EXACTLY
    "t_pagerank" -> ((s, dir) => {
      val ids = documents(s, dir)
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
    // crawl-graph edge emitter: DOM-walk each page's <a href>s, resolve
    // against the page URL (absolute / relative / ../ / root-relative /
    // protocol-relative; fragment+javascript+mailto decoys dropped),
    // canonicalize. Oracle = HAND-WRITTEN expected edges (independent
    // derivation, nothing mirrored)
    "t_outlinks" -> ((s, dir) => {
      import s.implicits._
      val pages = documents(s, dir)
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
    // anchor-text corpus: per canonical link target, total references +
    // dominant anchor (count desc, lexicographic tiebreak). The HTML
    // parse + href resolution is the pinned surface; whitespace-collapse
    // and the empty-anchor drop are observable (decoy <a>s)
    "t_anchors" -> ((s, dir) => {
      import s.implicits._
      val pages = documents(s, dir)
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
      val docs0 = documents(s, dir)
        .select(col("doc_id").cast("long"), col("text"))
        .as[(Long, String)].collect()
      // per-process dir: a concurrent Verify/Bench pair on the same
      // corpus must not delete each other's WARC files mid-crawl
      val root = freshDir("graft_webpipe", dir)
      // each site's bytes are a pure function of (id, text) and land in a
      // distinct file, so the render + gzip + write loop (~5k gzip+write
      // calls per invocation) spreads across a bounded pool — a driver-
      // serial term that grows linearly with the fixture corpus. The first
      // failure is rethrown as itself, as the sequential loop did, after
      // the pool's other writers are stopped, so none of them can race the
      // next run's cleanup
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.max(2, math.min(Runtime.getRuntime.availableProcessors(), 16)))
      try {
        docs0.map { case (id, text) =>
          pool.submit(new java.util.concurrent.Callable[Unit] {
            def call(): Unit = {
              val (name, bytes) = render("warc_site", id,
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
      val out = Pipeline.run(s,
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
      val meta = documents(s, dir)
        .select(col("doc_id").cast("long").as("doc_id"), col("lang"),
          col("source"))
      val corpus = body.join(meta, "doc_id")
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          length(col("text")).cast("long").as("n_chars"))
      val kept = TextOps.curateCorpus(s, corpus, "doc_id", "text", "lang",
        "source", "n_chars", benchSlice(s, corpus), cap = 10,
        rates = Map("en" -> 0.5, "de" -> 0.25), defaultRate = 0.1,
        salt = "graft")
      // 6. pack the survivors into 512-position training contexts
      val survivors = corpus
        .join(kept.select(col("id").as("doc_id")), Seq("doc_id"), "left_semi")
      TextOps.packSequences(s, survivors, "doc_id", "text", 512)
        .orderBy("chunk_id", "doc_id")
    })
  )
}
