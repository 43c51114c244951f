package graft

import graft.corpus.CorpusGen
import graft.pipeline.Pipeline
import graft.queries._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract (SURVEY.md §7): `queries` is the union of the
  * per-domain query maps under `graft.queries`; `oracleSql` holds the
  * DuckDB text each query's output is checked against.
  *
  * Query naming: x_* are end-to-end extraction roundtrips (render → classify
  * → extract → project, DuckDB-oracle-verified); t_* are training-data text
  * ops; s_* similarity search; e_* embedding dedup; m_* multimodal; a_*
  * analysis stage; pipeline_* full-corpus runs (rows-only checks). */
object SparkEntry {

  /** The page-synthesis CTE shared by the line-op oracles — must stay in
    * lockstep with [[graft.queries.TextQueries]]' pagedDocs. */
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

  /** Exploded-rows synthesis CTE shared by the i_spans_* oracles — must
    * stay in lockstep with [[graft.queries.SpanQueries]]' spanDocs (pos =
    * array index: header 0, body group i at 1+i+m(i) where m(i) = media
    * spans before group i, media after group i at 2+i+m(i), footer at
    * 1+n+m(n)). */
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

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    ExtractionQueries.queries ++ TextQueries.queries ++ WebQueries.queries ++
      SpanQueries.queries ++ VectorQueries.queries ++ AnalysisQueries.queries


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
