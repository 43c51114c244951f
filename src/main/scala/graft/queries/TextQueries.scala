package graft.queries

import graft.ops.{Dedup, TextOps}
import graft.queries.QueryLib._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** t_* training-data text ops over the `documents` table: dedup, quality
  * filters, decontamination, curation, packing, tokenizer training and
  * language id. */
object TextQueries {

  /** Deterministic multi-line "web page" per document for the line-level
    * ops (C4 filter, boilerplate line dedup): the flat testdata text has
    * no lines or sentences, so both engines synthesize the same page —
    * a shared header line, token-decade body lines with terminal
    * punctuation on (id+i)%3!=0, a footer on id%4, a lorem-ipsum line on
    * id%17, a brace line on id%23. The DuckDB oracles rebuild it with the
    * identical arithmetic in [[graft.SparkEntry.PagedCte]] (the
    * planted-structure pattern of t_decontaminate). */
  private def pagedDocs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    documents(s, dir)
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

  /** (id, text) documents plus their half copies under id + 1M. */
  private def withHalves(s: SparkSession, dir: String): DataFrame = {
    val base = documents(s, dir)
      .select(col("doc_id").cast("long").as("id"), col("text"))
    base.unionByName(halfCopies(s, base, 1000000L))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t_dedup_exact" -> ((s, dir) =>
      Dedup.exact(documents(s, dir), "doc_id", "text")
        .select(col("doc_id").cast("long").as("doc_id"), col("n_dups"))
        .orderBy("doc_id")),
    "t_token_count" -> ((s, dir) =>
      documents(s, dir)
        .select(col("doc_id").cast("long").as("doc_id"),
          TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))
        .orderBy("doc_id")),
    // Incremental dedup vs a prior corpus snapshot (bloom prefilter +
    // exact verify; bloom is performance-only so the oracle is the plain
    // text-equality join). Prior = every third document.
    "t_dedup_incr" -> ((s, dir) => {
      val docs = documents(s, dir)
      val prior = docs.filter(col("doc_id") % 3 === 0)
      Dedup.dedupAgainst(s, prior, docs, "doc_id", "text")
        .orderBy("id")
    }),
    // Snapshot diff between two corpus versions — churn-only output
    // (added / removed / changed), id+hash exchange, text never shuffles.
    // Prior = all docs; current drops id%11==3, rewrites id%7==0, and
    // adds +1M-offset copies of id%5==0.
    "t_corpus_diff" -> ((s, dir) => {
      val docs = documents(s, dir)
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
      val base = documents(s, dir)
        .select(col("doc_id").cast("long").as("id"), col("text"))
      val dup = base.select((col("id") + 1000000L).as("id"), col("text"))
      graft.ops.Dedup.dedupCorpus(s, base.unionByName(dup), "id", "text", 0.8,
          verify = "exact")
        .orderBy("id")
    }),
    // Duplicated-substring signal (Lee et al. 2021 hash-gram form):
    // 20-token grams shared across docs; planted half-copies guarantee
    // genuine shared runs
    "t_shared_ngrams" -> ((s, dir) =>
      TextOps.sharedNgramStats(s, withHalves(s, dir), "id", "text")
        .orderBy("id")),
    // the Lee et al. 2021 REMOVAL transform on the same planted
    // half-copies: tokens covered by a cross-document 20-gram are cut,
    // so each half-copy empties and each source keeps its unique tail
    "t_strip_dupsub" -> ((s, dir) =>
      TextOps.stripDupSubstrings(s, withHalves(s, dir), "id", "text")
        .orderBy("id")),
    // PII redaction: planted email + phone per doc, the exact
    // regexp_replace chain replayed by the DuckDB oracle
    "t_redact" -> ((s, dir) => {
      val aug = documents(s, dir)
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
      TextOps.tokenWindows(s, documents(s, dir), "doc_id", "text")
        .orderBy("doc_id", "win_idx")
    }),
    // Corpus data card: per-(source, lang) rollup — docs/tokens/chars/
    // distinct content + milli tokens-per-doc
    "t_stats" -> ((s, dir) => {
      TextOps.corpusStats(documents(s, dir), "text",
          Seq("source", "lang"))
        .orderBy("source", "lang")
    }),
    // Data-mixing epoch assignment: per-stratum token budgets -> per-doc
    // repetition factors (n_full epochs + deterministic fractional draw)
    "t_mix" -> ((s, dir) => {
      val docs = documents(s, dir)
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
      TextOps.packSequences(s, documents(s, dir), "doc_id", "text",
          contextLen = 512)
        .orderBy("chunk_id", "doc_id")
    }),
    // Deterministic stratified sampling (training-data mixing weights by
    // language): md5-prefix threshold, portable to any engine with md5 —
    // the oracle replicates the exact predicate.
    "t_sample_stratified" -> ((s, dir) => {
      TextOps.stratifiedSample(documents(s, dir), "doc_id", "lang",
          Map("en" -> 0.5, "de" -> 0.25), defaultRate = 0.1, salt = "graft")
        .select(col("doc_id").cast("long").as("doc_id"), col("lang"))
        .orderBy("doc_id")
    }),
    // Connected components over a deterministic chain graph (doc links to
    // doc+1 except across decade boundaries): pins the iterative min-label
    // propagation — chains need ~9 propagation rounds, so the loop (and its
    // convergence early-exit) is genuinely exercised, not just one round.
    "t_dedup_clusters" -> ((s, dir) => {
      val docs = documents(s, dir)
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
      TextOps.repetitionStats(s, documents(s, dir), "doc_id", "text")
        .orderBy("doc_id")
    }),
    // benchmark decontamination: mark train docs sharing any exact
    // 13-token gram with the eval set (every 20th doc, tokens 6..40 —
    // a planted substring so overlap is real, not whole-doc identity)
    "t_decontaminate" -> ((s, dir) => {
      val docs = documents(s, dir)
      TextOps.decontaminate(s, docs, benchSlice(s, docs), "doc_id", "text", 13)
        .orderBy("doc_id")
    }),
    // corpus text normalization: native codegen'd NFC (planted combining
    // sequences must compose) + control strip, oracled against DuckDB's
    // independent nfc_normalize implementation
    "t_normalize" -> ((s, dir) => {
      val planted = concat(lit("Cafe\u0301 nai\u0308ve \u0007"),
        substring(col("text"), 1, 200))
      documents(s, dir)
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
      documents(s, dir)
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
    // CCNet-style self-perplexity filter: mean NLL under the corpus's
    // own add-one bigram LM, floored to integer micros per bigram so
    // both engines agree exactly
    "t_lm_score" -> ((s, dir) => {
      TextOps.lmScore(s, documents(s, dir), "doc_id", "text")
        .orderBy("doc_id")
    }),
    // DSIR importance weights: hashed unigram+bigram features, target
    // distribution = every 10th doc, λ(bucket) floored to integer micros
    // for engine-exact per-doc sums
    "t_dsir" -> ((s, dir) => {
      TextOps.dsirWeights(s, documents(s, dir), "doc_id", "text",
          col("doc_id") % 10 === 0)
        .orderBy("doc_id")
    }),
    // BM25 top-20 retrieval (Robertson idf, k1=1.2 b=0.75) for a fixed
    // 3-term query; float-safe round+rank output (score_milli floor,
    // doc-id tiebreak) — both engines evaluate the identical double
    // formula
    "t_bm25" -> ((s, dir) => {
      TextOps.bm25TopK(s,
        documents(s, dir).select(col("doc_id"), col("text")),
        "doc_id", "text", Seq("scan", "merge", "query"), 20)
        .orderBy("rank")
    }),
    // deterministic train/val/test split (98/1/1): stable md5-threshold
    // buckets — a doc's split never changes as the corpus grows, which is
    // what keeps eval sets uncontaminated across dataset versions
    "t_split" -> ((s, dir) =>
      documents(s, dir)
        .select(col("doc_id").cast("long").as("doc_id"),
          TextOps.splitColumn(col("doc_id"), "graft", 0.98, 0.01)
            .as("split"))
        .orderBy("doc_id")),
    // deterministic corpus shuffle + shard assignment (the training-data
    // writer step): md5-salted shuffle key, 8 equal-width prefix shards,
    // rank within shard — one id+key exchange, text never shuffles
    "t_shard" -> ((s, dir) =>
      TextOps.shardCorpus(documents(s, dir), "doc_id", 8, "s5")
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
        documents(s, dir).select(id.as("doc_id"), synth.as("text")),
        "doc_id", "text").orderBy("id")
    }),
    // release hygiene: the train split checked for 13-gram overlap with
    // the test split — splitColumn ∘ decontaminate, the exact check a
    // dataset release runs before shipping eval sets with the corpus
    "t_split_decontam" -> ((s, dir) => {
      val docs = documents(s, dir)
        .select(col("doc_id").cast("long").as("doc_id"), col("text"),
          TextOps.splitColumn(col("doc_id"), "graft", 0.98, 0.01).as("split"))
      val train = docs.filter(col("split") === "train")
        .select(col("doc_id"), col("text"))
      val test = docs.filter(col("split") === "test")
        .select(col("doc_id"), col("text"))
      TextOps.decontaminate(s, train, test, "doc_id", "text", 13)
        .orderBy("doc_id")
    }),
    // per-source quota: top-10 docs per source by size (window top-N)
    "t_domain_cap" -> ((s, dir) => {
      TextOps.capPerSource(documents(s, dir)
          .select(col("doc_id").cast("long").as("doc_id"), col("source"),
            col("n_chars")),
        "doc_id", "source", "n_chars", 10)
        .orderBy("source", "rk")
    }),
    // Gopher-rule keep/reject composition over the same signals (first
    // failing rule is the reason; engine-portable integer milli math)
    "t_filter_gopher" -> ((s, dir) => {
      TextOps.filterGopher(s, documents(s, dir), "doc_id", "text")
        .orderBy("doc_id")
    }),
    // End-to-end corpus curation recipe (quality gate -> exact dedup ->
    // benchmark decontamination -> per-source cap -> stratified mixing),
    // composed from the individually-oracled stages; the oracle replays
    // the full five-stage SQL so the COMPOSITION (stage order, verdict
    // semi-join semantics) is pinned, not just each stage.
    "t_curate" -> ((s, dir) => {
      val docs = documents(s, dir)
      TextOps.curateCorpus(s, docs, "doc_id", "text", "lang", "source",
          "n_chars", benchSlice(s, docs), cap = 10,
          rates = Map("en" -> 0.5, "de" -> 0.25), defaultRate = 0.1,
          salt = "graft")
        .orderBy("id")
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
    // token-budget corpus selection: rank by the stopword-ratio quality
    // score (desc, id tiebreak), keep the strict order-prefix whose
    // running token total fits the budget — the distributed prefix sum,
    // never a global-order window
    "t_select_budget" -> ((s, dir) => {
      val score = TextOps.qualityColumns(col("text"))
        .toMap.apply("stopword_ratio_milli")
      TextOps.selectByBudget(s, documents(s, dir), "doc_id",
          "text", score, budgetTokens = 12000L)
        .orderBy("id")
    }),
    // corpus vocabulary: token -> (tf, df), top-100 by tf with
    // deterministic tiebreak — the tokenizer-training word count
    "t_vocab" -> ((s, dir) => {
      TextOps.vocab(s, documents(s, dir), "doc_id", "text", 100)
        .orderBy("rank")
    }),
    // BPE tokenizer training: first 12 learned merges over the corpus
    // word-count table (Sennrich et al. 2016). The merge table IS the
    // output artifact; oracle = 12 unrolled count→argmax→rewrite CTE
    // steps in DuckDB (same convention as t_pagerank's unrolled rounds).
    "t_bpe" -> ((s, dir) => {
      TextOps.bpeMerges(s, documents(s, dir), "text", 12)
        .orderBy("step")
    }),
    // BPE tokenizer APPLICATION: train 12 merges, then encode the corpus
    // vocabulary with them. encode(trainCorpus) must equal the trainer's
    // final symbol table — the oracle is the w12 CTE, so the Spark-side
    // encode fold (space-bounded single-pass replaces in merge order) is
    // pinned against an independent replay of the training rewrite.
    "t_bpe_encode" -> ((s, dir) => {
      val docs = documents(s, dir)
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
      val docs = documents(s, dir)
      val merges = TextOps.bpeMerges(s, docs, "text", 12)
        .orderBy("step").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      TextOps.bpeRoundtrip(docs, "doc_id", "text", merges).orderBy("doc_id")
    }),
    "t_quality" -> ((s, dir) => {
      val cols = TextOps.qualityColumns(col("text"))
        .map { case (n, c) => c.as(n) }
      documents(s, dir)
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
      documents(s, dir)
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
      documents(s, dir)
        .select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
        .mapPartitions(_.map { case (id, t) =>
          (id, TextOps.fingerprint(
            graft.core.TextUtil.tokens(if (t == null) "" else t).toIndexedSeq))
        }).toDF("doc_id", "fingerprint")
        .orderBy("doc_id")
    }),
    "t_minhash_lsh" -> ((s, dir) => {
      val dd = withMutants(s, documents(s, dir), 30)
      Dedup.minhashLsh(s, dd, "doc_id", "text", 0.35)
        .select(col("id_a"), col("id_b")).orderBy("id_a", "id_b")
    }),
    "t_ngram_jaccard" -> ((s, dir) => {
      val dd = withMutants(s, documents(s, dir), 30)
      Dedup.ngramJaccardExact(s, dd, "doc_id", "text", 0.35)
        .select(col("id_a"), col("id_b")).orderBy("id_a", "id_b")
    }),
    "t_simhash" -> ((s, dir) => {
      val dd = withMutants(s, documents(s, dir), 50)
      Dedup.simhashPairs(s, dd, "doc_id", "text", 3)
        .select(col("id_a"), col("id_b"), col("dist")).orderBy("id_a", "id_b")
    })
  )
}
