package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a large-scale training-data pipeline: token
  * counting, quality scoring, language ID, document fingerprinting. All are
  * narrow per-row transformations (no shuffle) built from codegen'd
  * `functions._` where possible; whole-stage codegen keeps them in one
  * fused stage over the scan. */
object TextOps {

  /** Whitespace + BPE-ish tokenization: words, numbers, or single
    * punctuation marks — all as one codegen'd regexp split. */
  def tokenize(text: Column): Column =
    filter(split(text, """\s+"""), t => length(t) > 0)

  /** The ASCII `\s+` of [[tokenize]] precompiled once per JVM —
    * `String.split("\\s+")` recompiles the pattern on every call, which is
    * pure per-document garbage in the closure-side tokenizers below
    * (Pattern.split with limit 0 is what String.split delegates to, so the
    * token arrays are bit-identical). */
  private val AsciiWs = java.util.regex.Pattern.compile("""\s+""")

  /** `w.matches("[a-z]+")` without the per-call Pattern.compile: non-empty
    * and every char in 'a'..'z' — the literal semantics of that regex. */
  private def isLowerAlpha(w: String): Boolean = {
    if (w.isEmpty) return false
    var i = 0
    while (i < w.length) {
      val c = w.charAt(i)
      if (c < 'a' || c > 'z') return false
      i += 1
    }
    true
  }

  def tokenCount(text: Column): Column = size(tokenize(text))

  /** Quality signals (length / punctuation / stopword ratios — the usual
    * web-corpus filters, cf. C4/Gopher rules). Integer-valued outputs so
    * the DuckDB oracle can reproduce them exactly. */
  def qualityColumns(text: Column): Seq[(String, Column)] = {
    val nChars = length(text).cast("long")
    val nTok = tokenCount(text).cast("long")
    val nPunct = (nChars - length(regexp_replace(text, """[\p{Punct}]""", ""))).cast("long")
    val nStop = size(filter(tokenize(text),
      t => t.isin(stopwords: _*))).cast("long")
    Seq(
      "n_chars" -> nChars,
      "n_tokens" -> nTok,
      "n_punct" -> nPunct,
      "n_stopwords" -> nStop,
      // milli-ratios as integers: floor(1000 * x / y)
      "avg_token_len_milli" -> when(nTok > 0,
        floor(nChars * lit(1000) / nTok)).otherwise(lit(0)).cast("long"),
      "stopword_ratio_milli" -> when(nTok > 0,
        floor(nStop * lit(1000) / nTok)).otherwise(lit(0)).cast("long")
    )
  }

  val stopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it", "on",
    "for", "with", "as", "at", "by", "that", "this", "be", "are")

  /** PII redaction over text columns — the pre-training scrub step: the
    * same email/phone/IBAN patterns the analysis stage extracts
    * ([[graft.analysis.Analyze]]), replaced with type tokens. One narrow
    * codegen'd projection (regexp_replace chain), no shuffle; patterns are
    * RE2-compatible so any engine reproduces the result (the oracle runs
    * the identical chain in DuckDB). Order matters and is part of the
    * contract: emails, then IBANs, then phones (phones would otherwise eat
    * IBAN digit runs). */
  def redactPii(text: Column): Column = {
    import graft.analysis.Analyze
    val e = regexp_replace(text, Analyze.EmailRegex, "[EMAIL]")
    val i = regexp_replace(e, Analyze.IbanRegex, "[IBAN]")
    regexp_replace(i, Analyze.PhoneRegex, "[PHONE]")
  }

  /** Fixed-size token windows with stride — LLM context-window chunking
    * with overlap. Output (id, win_idx, window_text); windows start every
    * `stride` tokens, the tail window may be short. One narrow flatMap. */
  def tokenWindows(spark: org.apache.spark.sql.SparkSession, df: DataFrame,
                   idCol: String, textCol: String,
                   window: Int = 50, stride: Int = 25): DataFrame = {
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .flatMap { case (id, t) =>
        val toks = graft.core.TextUtil.tokens(if (t == null) "" else t)
        if (toks.isEmpty) Iterator.empty
        else (0 until toks.length by stride).iterator.zipWithIndex.map {
          case (st, wi) =>
            (id, wi.toLong,
              toks.slice(st, math.min(st + window, toks.length)).mkString(" "))
        }
      }
      .toDF(idCol, "win_idx", "window_text")
  }

  /** Duplicated-substring signal (the gram-hash form of Lee et al. 2021,
    * "Deduplicating Training Data Makes Language Models Better": exact
    * n-token substrings appearing in more than one document). Output per
    * doc: (id, n_grams, shared_grams) over the doc's DISTINCT n-token
    * grams — the per-doc signal a cut/filter stage thresholds on.
    *
    * Scale shape: one narrow explode of distinct grams per doc, one
    * groupBy on the gram (at 100 TB the gram is a 64-bit hash so only
    * 8-byte keys shuffle — here the literal gram string keys both engines
    * identically for the oracle), one map-side-combined count-distinct,
    * one join back. Docs with fewer than n tokens emit nothing. */
  def sharedNgramStats(spark: org.apache.spark.sql.SparkSession, df: DataFrame,
                       idCol: String, textCol: String, n: Int = 20): DataFrame = {
    import spark.implicits._
    val grams = df.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .flatMap { case (id, t) =>
        val toks = graft.core.TextUtil.tokens(if (t == null) "" else t)
        if (toks.length < n) Iterator.empty
        else {
          val grams = toks.sliding(n).map(_.mkString(" ")).toSet
          grams.iterator.map((g: String) => (id, g))
        }
      }
      .toDF("id", "gram")
    val counts = grams.groupBy("gram")
      .agg(countDistinct(col("id")).as("nd"))
    grams.join(counts, "gram")
      .groupBy(col("id").as(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("nd") > 1, 1L).otherwise(0L)).as("shared_grams"))
  }

  /** The hash of the `n`-token gram at every start position of `text`'s
    * tokens (none when it has fewer than `n`): a polynomial rolling hash
    * over per-token `fnv64`, O(tokens) instead of materializing an
    * n-token string per position. Wrapping Long arithmetic is
    * deterministic everywhere. */
  private def gramHashes(text: String, n: Int): Array[Long] = {
    val toks = graft.core.TextUtil.tokens(if (text == null) "" else text)
    if (toks.length < n) return Array.emptyLongArray
    val B = 0x100000001b3L
    var bPow = 1L // B^(n-1)
    var j = 1
    while (j < n) { bPow *= B; j += 1 }
    val th = new Array[Long](toks.length)
    var i = 0
    while (i < toks.length) {
      th(i) = graft.core.TextUtil.fnv64(toks(i)); i += 1
    }
    val out = new Array[Long](toks.length - n + 1)
    var h = 0L
    i = 0
    while (i < n) { h = h * B + th(i); i += 1 }
    out(0) = h
    var s = 1
    while (s < out.length) {
      h = (h - th(s - 1) * bPow) * B + th(s + n - 1)
      out(s) = h
      s += 1
    }
    out
  }

  /** The REMOVAL transform of Lee et al. 2021 (ExactSubstr dedup): every
    * token covered by an n-token gram that occurs in ≥2 distinct
    * documents is cut; the survivors rejoin in order. Complements
    * [[sharedNgramStats]] (the signal) with the actual rewrite.
    *
    * Scale shape: gram positions explode narrowly; the duplicate-gram
    * aggregation and the coverage join key on the gram's 64-bit xxhash —
    * only (8-byte hash, id, int start) ride those exchanges. The single
    * full-text shuffle is the final join of covered-start lists back onto
    * the documents (inherent to a rewrite — some exchange must carry the
    * text once), and AQE broadcasts the start lists when few docs carry
    * duplicates. Output: (id, text cleaned, n_tokens, n_removed).
    *
    * Two-pass contract (the round-4 recompute fix): the corpus text is
    * tokenized exactly TWICE — once in the rolling-hash position flatMap
    * (pinned, so the dup aggregation and the coverage join read the
    * cache instead of racing to recompute it) and once in the final
    * rewrite pass, which is inherent (the rewrite must read the text).
    * The rewritten result comes back pinned: see [[Pin]]. */
  def stripDupSubstrings(spark: org.apache.spark.sql.SparkSession,
                         df: DataFrame, idCol: String, textCol: String,
                         n: Int = 20): DataFrame = {
    import spark.implicits._
    val docs = df.select(col(idCol).cast("long").as("id"), col(textCol).as("text"))
    Pin.scoped { pins =>
      val (positions, _) = pins(docs.as[(Long, String)]
        .flatMap { case (id, t) =>
          gramHashes(t, n).iterator.zipWithIndex.map { case (h, s) => (id, s, h) }
        }
        .toDF("id", "s", "h"))
      val dup = positions.select("id", "h").distinct()
        .groupBy("h").agg(count(lit(1)).as("nd"))
        .filter(col("nd") >= 2)
        .select("h")
      // dup-carrying docs only — small; the position pin releases early
      val covered = pins.step(positions, positions.join(dup, "h")
        .groupBy("id")
        .agg(collect_list(col("s")).as("starts")))
      val nn = n
      Pin(docs.join(covered, Seq("id"), "left")
        .select(col("id"), col("text"), coalesce(col("starts"),
          array().cast("array<int>")).as("starts"))
        .as[(Long, String, Seq[Int])]
        .mapPartitions(_.map { case (id, t, starts) =>
          val toks = graft.core.TextUtil.tokens(if (t == null) "" else t)
          val cov = new Array[Boolean](toks.length)
          starts.foreach { s =>
            var j = s
            val end = math.min(s + nn, toks.length)
            while (j < end) { cov(j) = true; j += 1 }
          }
          val kept = new StringBuilder
          var removed = 0L
          var i = 0
          while (i < toks.length) {
            if (cov(i)) removed += 1
            else {
              if (kept.nonEmpty) kept.append(' ')
              kept.append(toks(i))
            }
            i += 1
          }
          (id, kept.toString, toks.length.toLong, removed)
        })
        .toDF(idCol, "clean_text", "n_tokens", "n_removed"))._1
    }
  }

  /** BM25 top-k retrieval over the corpus (Robertson/Lucene form:
    * idf = ln((N - df + 0.5)/(df + 0.5) + 1)), the ranked-retrieval
    * primitive of data-curation loops (benchmark-similarity retrieval,
    * quality-by-example). Output is the repo's float-safe rank
    * convention: (rank, id, score_milli) with deterministic doc-id
    * tiebreak.
    *
    * Scale shape: one token explode → per-(doc,term) counts with
    * map-side combine; df and the corpus stats are small aggregates; the
    * query-term join broadcasts (a query has a handful of terms), so the
    * only large exchange carries (token, id, counts). At 100 TB the
    * token would be an 8-byte hash; the literal string keys both engines
    * identically for the oracle.
    *
    * Single-pass contract (the round-4 recompute fix): the token explode
    * has exactly ONE consumer — the (id, tok) count. Document length is
    * `sum(tf)` per id and document frequency is a count per tok, both
    * derived from the pinned vocab-bounded tf table (so no pair of
    * downstream stages races to compute it), and the corpus text is
    * scanned once. The k-row result comes back pinned: see [[Pin]]. */
  def bm25TopK(spark: org.apache.spark.sql.SparkSession, df: DataFrame,
               idCol: String, textCol: String, query: Seq[String], k: Int,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    import spark.implicits._
    val docs = df.select(col(idCol).cast("long").as("id"), col(textCol))
    val toks = docs
      .select(col("id"), explode(tokenize(col(textCol))).as("tok"))
    Pin.scoped { pins =>
      val (tf, _) = pins(toks.groupBy("id", "tok").agg(count(lit(1)).as("tf")))
      val dl = tf.groupBy("id").agg(sum(col("tf")).as("dl"))
      val stats = dl.agg(count(lit(1)).as("n"), avg(col("dl")).as("avgdl"))
      val dfreq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
      val qterms = query.toDF("tok")
      val scored = tf
        .join(org.apache.spark.sql.functions.broadcast(qterms), "tok")
        .join(dfreq, "tok")
        .join(dl, "id")
        .crossJoin(org.apache.spark.sql.functions.broadcast(stats))
        .withColumn("idf", log((col("n") - col("df") + lit(0.5)) /
          (col("df") + lit(0.5)) + lit(1.0)))
        .withColumn("contrib", col("idf") * col("tf") * lit(k1 + 1.0) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))))
        // floor each term's contribution to integer micros BEFORE summing:
        // float addition is order-dependent and the two engines (and even
        // two Spark runs) gather a doc's terms in different orders — an
        // integer sum is associative, so rank and score are exact
        .withColumn("cmicro", floor(col("contrib") * 1e6).cast("long"))
        .groupBy("id").agg(sum(col("cmicro")).as("smicro"))
      Pin(scored
        .orderBy(col("smicro").desc, col("id"))
        .limit(k)
        .select(row_number().over(org.apache.spark.sql.expressions.Window
            .orderBy(col("smicro").desc, col("id"))).cast("long").as("rank"),
          col("id").as(idCol),
          floor(col("smicro") / 1000.0).cast("long").as("score_milli")))._1
    }
  }

  /** CCNet-style language-model quality score: per-document mean
    * negative log-likelihood under an add-one-smoothed bigram model
    * trained on the corpus itself (the self-perplexity filter — docs
    * whose token transitions are unlike the corpus score high and get
    * filtered). p(w2|w1) = (B(w1,w2)+1) / (U(w1)+V).
    *
    * Determinism: each bigram's -ln p is floored to integer micros
    * before the per-doc sum (float addition order differs between
    * engines), so `nll_milli` = floor(mean micro-NLL / 1000) is exact on
    * both sides. Scale shape: two word-count exchanges (unigram, bigram
    * — 8-byte hashes at 100 TB, literal strings here for the oracle) and
    * one join of doc bigrams against the model with map-side combine.
    *
    * Single-pass contract (the round-4 recompute fix): the tokenize
    * flatMap runs EXACTLY ONCE per document. One pinned pair stream
    * (id, w1, w2·nullable — the last token of a doc carries a null w2)
    * feeds all three consumers: unigram counts come from the w1 column
    * (every token appears once as w1), bigram counts and the per-doc
    * scoring join from the non-null-w2 rows. The pair stream is pinned
    * (one leaf stage — no concurrent-stage race); the corpus-sized result
    * comes back pinned: see [[Pin]]. */
  def lmScore(spark: org.apache.spark.sql.SparkSession, df: DataFrame,
              idCol: String, textCol: String): DataFrame = {
    import spark.implicits._
    val docs = df.select(col(idCol).cast("long").as("id"), col(textCol))
    Pin.scoped { pins =>
      val (pairs, _) = pins(docs.as[(Long, String)]
        .flatMap { case (id, t) =>
          // the ASCII \s+ split of [[tokenize]] — NOT TextUtil.tokens
          // (Unicode whitespace): the DuckDB oracle and the unigram side
          // historically tokenize on \s+, and both sides of the model must
          // use ONE tokenizer or NBSP-joined words count differently in
          // U(w1) vs B(w1,w2)
          val toks = AsciiWs.split(if (t == null) "" else t)
            .filter(_.nonEmpty)
          toks.indices.iterator.map(i =>
            (id, toks(i), if (i + 1 < toks.length) toks(i + 1) else null))
        }
        .toDF("id", "w1", "w2"))
      val uni = pairs.groupBy("w1").agg(count(lit(1)).as("u"))
      val vocab = uni.count()
      val big = pairs.filter(col("w2").isNotNull)
        .groupBy("w1", "w2").agg(count(lit(1)).as("b"))
      Pin(pairs.filter(col("w2").isNotNull)
        .join(big, Seq("w1", "w2"))
        .join(uni, Seq("w1"))
        .withColumn("nllmicro",
          floor(-log((col("b") + lit(1.0)) / (col("u") + lit(vocab.toDouble)))
            * 1e6).cast("long"))
        .groupBy("id")
        .agg(count(lit(1)).as("n_bigrams"), sum(col("nllmicro")).as("smicro"))
        .select(col("id").as(idCol), col("n_bigrams"),
          floor(col("smicro") / col("n_bigrams") / 1000.0).cast("long")
            .as("nll_milli")))._1
    }
  }

  /** Deterministic keep-predicate for hash sampling: md5 of (id ++ salt),
    * first 6 hex digits compared against the rate's hex threshold. Engine-
    * portable (any SQL engine with md5 reproduces it exactly), partition-
    * independent, and stable across reruns — the corpus-sampling primitive
    * for training-data mixing, where an RNG-based sample() is neither
    * reproducible nor consistent under repartitioning. */
  def sampleKeep(id: Column, salt: String, rate: Double): Column = {
    if (rate >= 1.0) lit(true)
    else if (rate <= 0.0) lit(false)
    else {
      val threshold = f"${(rate * (1L << 24)).toLong}%06x"
      substring(md5(concat(id.cast("string"), lit(salt))), 1, 6) < lit(threshold)
    }
  }

  /** Stratified deterministic sampling: per-stratum rates (data-mixing
    * weights), `defaultRate` for unlisted strata. One narrow filter — the
    * predicate pushes to the scan; no shuffle, no RNG state. */
  def stratifiedSample(df: DataFrame, idCol: String, stratumCol: String,
                       rates: Map[String, Double], defaultRate: Double,
                       salt: String): DataFrame = {
    val keep = rates.foldLeft(sampleKeep(col(idCol), salt, defaultRate)) {
      case (acc, (stratum, rate)) =>
        when(col(stratumCol) === stratum,
          sampleKeep(col(idCol), salt, rate)).otherwise(acc)
    }
    df.filter(keep)
  }

  /** Within-document consecutive-duplicate-line collapse (`uniq`): the
    * cleaning pass that strips scraped pagination/menu/header repeats a
    * DOM extractor stutters out — keep line i iff i = 0 or it differs
    * from line i-1 (cross-document boilerplate is [[lineDedupStats]]'s
    * job; this is the within-page form). Output (id, cleaned,
    * n_removed). Pure codegen'd array expression — keep-indices via a
    * filtered index sequence so each comparison is O(1) element_at, no
    * UDF; nothing shuffles, at 100 TB this fuses with the scan. */
  def collapseRepeatedLines(df: DataFrame, idCol: String,
                            textCol: String): DataFrame = {
    val lines = split(col(textCol), "\n")
    val idx = sequence(lit(0), size(lines) - 1)
    val kept = filter(idx, i =>
      (i === 0) || element_at(lines, i + 1) =!= element_at(lines, i))
    df.select(col(idCol).cast("long").as("id"),
      array_join(transform(kept, i => element_at(lines, i + 1)), "\n")
        .as("cleaned"),
      (size(lines) - size(kept)).cast("long").as("n_removed"))
  }

  /** Deterministic train/val/test assignment — the split every dataset
    * release needs, as a pure hash partition of the id space (same
    * md5-threshold scheme as [[sampleKeep]], so the split is stable
    * under repartitioning, re-runs, and corpus growth: a document's
    * split never changes when other documents come or go, which is what
    * keeps eval sets uncontaminated across dataset versions).
    * `fracs` = (train, val) fractions; test = remainder. Narrow codegen'd
    * expression; at 100 TB this is a scan predicate per output split. */
  def splitColumn(id: Column, salt: String,
                  trainFrac: Double, valFrac: Double): Column = {
    require(trainFrac >= 0 && valFrac >= 0 && trainFrac + valFrac <= 1.0,
      "fractions must be non-negative and sum to at most 1")
    // a cumulative fraction >= 1.0 must be an always-true branch (mirrors
    // sampleKeep): its 24-bit threshold would format as the 7-char string
    // "1000000", which compares LESS than most 6-char hex buckets and
    // silently mislabels ~15/16 of the split
    def cond(bucket: Column, f: Double): Column =
      if (f >= 1.0) lit(true)
      else bucket < lit(f"${(f * (1L << 24)).toLong}%06x")
    val bucket = substring(md5(concat(id.cast("string"), lit(salt))), 1, 6)
    when(cond(bucket, trainFrac), "train")
      .when(cond(bucket, trainFrac + valFrac), "val")
      .otherwise("test")
  }

  /** One document's repetition signals as integer milli-ratios: its
    * non-empty `\n` lines and the duplicate-line fraction, the
    * duplicate-trigram fraction and the most-frequent-bigram fraction of
    * its tokens `toks`. */
  private final case class Repetition(lines: Long, dupLineMilli: Long,
                                      dupTrigramMilli: Long, topBigramMilli: Long)

  private def repetition(text: String, toks: Array[String]): Repetition = {
    def milli(num: Long, den: Long): Long = if (den > 0) num * 1000L / den else 0L
    // (count, distinct, maxFreq) over n-grams, one hash map per call
    def ngramStats(n: Int): (Long, Long, Long) = {
      val total = math.max(0, toks.length - n + 1)
      val freq = new java.util.HashMap[String, Int]()
      var maxF = 0
      var i = 0
      while (i < total) {
        val f = freq.merge(toks.slice(i, i + n).mkString(" "), 1, (a, b) => a + b)
        if (f > maxF) maxF = f
        i += 1
      }
      (total.toLong, freq.size.toLong, maxF.toLong)
    }
    val lines = text.split('\n').iterator.filter(_.nonEmpty).toArray
    val (tri, triDistinct, _) = ngramStats(3)
    val (bi, _, biMax) = ngramStats(2)
    Repetition(lines.length.toLong,
      milli((lines.length - lines.distinct.length).toLong, lines.length.toLong),
      milli(tri - triDistinct, tri), milli(biMax, bi))
  }

  /** Gopher-style repetition signals (Rae et al. 2021 §A1.1 "repetitious
    * text" filters, public): duplicate-line fraction, duplicate-trigram
    * fraction, and the most-frequent-bigram fraction, as integer
    * milli-ratios for engine-portable exactness.
    *
    * Output: (id, n_lines, dup_line_ratio_milli, dup_trigram_ratio_milli,
    * top_bigram_ratio_milli). Lines are non-empty `\n` segments; tokens
    * are whitespace runs (same split as [[tokenize]]).
    *
    * Scale shape: one narrow mapPartitions, O(tokens) per document with a
    * per-doc hash map — NOT a higher-order-function column (those are
    * O(n²) for count-distinct-style signals and fall out of codegen
    * anyway). Nothing shuffles; at 100 TB this fuses with the scan. */
  def repetitionStats(spark: org.apache.spark.sql.SparkSession, df: DataFrame,
                      idCol: String, textCol: String): DataFrame = {
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text0) =>
        val text = if (text0 == null) "" else text0
        val r = repetition(text, AsciiWs.split(text).filter(_.nonEmpty))
        (id, r.lines, r.dupLineMilli, r.dupTrigramMilli, r.topBigramMilli)
      })
      .toDF(idCol, "n_lines", "dup_line_ratio_milli",
        "dup_trigram_ratio_milli", "top_bigram_ratio_milli")
  }

  /** Gopher-rule corpus filter (Rae et al. 2021 §A1.1, public): the
    * keep/reject decision a pre-training pipeline runs AFTER computing the
    * quality/repetition signals. One narrow mapPartitions computing every
    * signal per doc (no join between a quality stage and a repetition
    * stage — both derive from the same tokens, so a second pass + shuffle
    * would be pure waste at 100 TB); output (id, keep, reason) where
    * reason is the FIRST failing rule in a fixed order (engine-portable:
    * the oracle replays the same metric SQL and CASE chain).
    *
    * Rule order and defaults: too_few_tokens (<50), too_many_tokens
    * (>100000), bad_mean_word_len (mean token length outside [3,10]
    * chars), too_few_stopwords (<2), high_punct_ratio (punct >30% of
    * chars), high_dup_lines (>30% duplicate lines), high_dup_trigrams
    * (>30% duplicate trigrams), top_bigram_heavy (most frequent bigram
    * >20% of bigrams). Integer milli-ratio math everywhere, matching
    * [[qualityColumns]] / [[repetitionStats]] exactly. */
  def filterGopher(spark: org.apache.spark.sql.SparkSession, df: DataFrame,
                   idCol: String, textCol: String,
                   minTokens: Int = 50, maxTokens: Int = 100000): DataFrame = {
    import spark.implicits._
    val stops = stopwords.toSet
    df.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text0) =>
        val text = if (text0 == null) "" else text0
        val nChars = text.length.toLong
        val toks = AsciiWs.split(text).filter(_.nonEmpty)
        val nTok = toks.length.toLong
        val nStop = toks.count(stops.contains).toLong
        val nPunct = text.count(c =>
          (c >= '!' && c <= '/') || (c >= ':' && c <= '@') ||
          (c >= '[' && c <= '`') || (c >= '{' && c <= '~')).toLong
        val avgTokLenMilli = if (nTok > 0) nChars * 1000L / nTok else 0L
        val punctMilli = if (nChars > 0) nPunct * 1000L / nChars else 0L
        val r = repetition(text, toks)
        val reason =
          if (nTok < minTokens) "too_few_tokens"
          else if (nTok > maxTokens) "too_many_tokens"
          else if (avgTokLenMilli < 3000L || avgTokLenMilli > 10000L) "bad_mean_word_len"
          else if (nStop < 2) "too_few_stopwords"
          else if (punctMilli > 300L) "high_punct_ratio"
          else if (r.dupLineMilli > 300L) "high_dup_lines"
          else if (r.dupTrigramMilli > 300L) "high_dup_trigrams"
          else if (r.topBigramMilli > 200L) "top_bigram_heavy"
          else null
        (id, reason == null, reason)
      })
      .toDF(idCol, "keep", "reason")
  }

  /** Corpus vocabulary / token statistics — the tokenizer-training input:
    * token → (total occurrences, document frequency), top-k by tf with a
    * deterministic (tf desc, token asc) tiebreak.
    *
    * Scale shape: one explode + one groupBy on the token with map-side
    * partial aggregation (the classic word-count exchange: shuffle volume
    * = distinct tokens per map partition, never rows), then top-k via
    * TakeOrdered (no global sort materialization); the final row_number
    * runs over the k survivors only. countDistinct(doc) is the built-in
    * two-phase distinct aggregate. */
  def vocab(spark: org.apache.spark.sql.SparkSession, df: DataFrame,
            idCol: String, textCol: String, k: Int = 100): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = df.select(col(idCol).as("id"),
        explode(tokenize(col(textCol))).as("token"))
    val agg = toks.groupBy("token")
      .agg(count(lit(1)).as("tf"), countDistinct(col("id")).as("df"))
    val top = agg.orderBy(col("tf").desc, col("token").asc).limit(k)
    top.withColumn("rank",
        row_number().over(Window.orderBy(col("tf").desc, col("token").asc))
          .cast("long"))
      .select(col("rank"), col("token"), col("tf"), col("df"))
  }

  /** BPE tokenizer training (Sennrich et al. 2016, "Neural Machine
    * Translation of Rare Words with Subword Units"): learn the first
    * `merges` byte-pair merges from the corpus. Returns the merge table
    * (step, lsym, rsym, pair_count) — the trained-tokenizer artifact.
    *
    * The classic trainer shape: BPE trains over the *distinct word-count
    * table*, not the corpus — so the only corpus-sized exchange is the
    * word count (map-side-combined, shuffle volume = distinct words per
    * map partition). Every merge iteration is then (a) one small
    * pair-count aggregation over the vocab-bounded table, (b) a 1-row
    * argmax to the driver (count desc, pair lexicographic — the
    * deterministic tie-break), (c) one narrow literal-replace rewrite of
    * the symbol strings. K iterations = K tiny jobs over ~1e6-row vocab
    * regardless of corpus size; that is exactly how you'd train on 100 TB.
    *
    * Determinism notes for the DuckDB oracle: words are lowercased and
    * restricted to /^[a-z]+$/ so per-character splitting agrees across
    * engines (no UTF-16 vs codepoint divergence); the pair rewrite is a
    * single-pass left-to-right literal replace of " l r " inside the
    * space-padded symbol string — both engines' replace() consumes the
    * shared boundary space, so an "a a a" run merges leftmost-first
    * identically (the standard BPE convention). Requires every step to
    * find ≥1 pair (true for any corpus with multi-char words and small K;
    * an exhausted vocabulary stops early with fewer rows).
    *
    * COST MODEL at realistic vocab sizes: training is inherently
    * driver-sequential — ONE tiny Spark job per merge over the
    * vocab-bounded word table (the corpus itself is scanned exactly once,
    * for the word count). A 32k-merge tokenizer is therefore 32k small
    * jobs: fine over a ~1e6-row vocab, but pointless over the FULL corpus
    * vocabulary — real pipelines train the tokenizer on a bounded sample.
    * `trainFraction` is that documented path: a deterministic
    * content-hash document sample ([[sampleKeep]] over xxhash64(text), so
    * the sample is stable under repartitioning and corpus growth) taken
    * BEFORE the word count, bounding the vocab regardless of corpus
    * size. Two further guards make large `merges` a bounded operation:
    * the per-merge rewrite drops symbol strings that can no longer pair
    * from the working table is NOT done (counts must stay exact), but
    * the growing replace-expression lineage IS cut every
    * `checkpointEvery` merges (a [[Pin]] of the tiny vocab
    * table), keeping Catalyst analysis time linear in `merges` instead
    * of quadratic. Defaults (`trainFraction = 1.0`) reproduce the
    * round-3 oracle exactly. */
  def bpeMerges(spark: org.apache.spark.sql.SparkSession, df: DataFrame,
                textCol: String, merges: Int = 12,
                trainFraction: Double = 1.0, sampleSalt: String = "bpe",
                checkpointEvery: Int = 64,
                localVocabThreshold: Long = 1000000L): DataFrame = {
    import spark.implicits._
    require(trainFraction > 0.0 && trainFraction <= 1.0,
      s"trainFraction must be in (0, 1]: $trainFraction")
    require(checkpointEvery > 0, "checkpointEvery must be positive")
    val training =
      if (trainFraction >= 1.0) df
      else df.filter(sampleKeep(xxhash64(col(textCol)), sampleSalt,
        trainFraction))
    Pin.scoped { pins =>
      val (words, vocabN) = pins(training
        .select(explode(tokenize(col(textCol))).as("w"))
        .select(lower(col("w")).as("w"))
        .filter(col("w").rlike("^[a-z]+$"))
        .groupBy("w").agg(count(lit(1)).as("c"))
        .select(concat(trim(regexp_replace(col("w"), "(.)", "$1 ")),
          lit(" </w>")).as("sym"), col("c")))
      val out = scala.collection.mutable.ArrayBuffer
        .empty[(Long, String, String, Long)]
      // Driver-bounded fast path (r6, the connectedComponents pattern): the
      // trainer is inherently driver-sequential — one tiny argmax job per
      // merge over the vocab-bounded table — so a K-merge training is K
      // scheduler round-trips (a measured ~0.25 s serial floor each)
      // regardless of corpus size. Below `localVocabThreshold` distinct
      // words the table is collected once (≤ ~50 MB at the default) and the
      // SAME count→argmax→rewrite loop runs in memory: identical merge
      // table (counts are partition-independent, the tie-break is total),
      // one job instead of K+1. The distributed loop below remains the
      // giant-vocab path; callers training 32k merges on real corpora
      // bound the vocab with `trainFraction` anyway (see COST MODEL).
      if (vocabN <= localVocabThreshold) {
        val rows = words.as[(String, Long)].collect()
        words.unpersist(false)
        val syms = rows.map(_._1)
        val cnts = rows.map(_._2)
        var step = 1
        var exhausted = false
        while (step <= merges && !exhausted) {
          val pair = new java.util.HashMap[String, Long]()
          var i = 0
          while (i < syms.length) {
            val parts = syms(i).split(" ")
            var j = 0
            while (j < parts.length - 1) {
              pair.merge(parts(j) + " " + parts(j + 1), cnts(i), _ + _)
              j += 1
            }
            i += 1
          }
          if (pair.isEmpty) exhausted = true
          else {
            // argmax with the distributed tie-break: count desc, then the
            // "l asc, r asc" pair order == lexicographic on "l r" (symbols
            // are space-free, so the joined compare is the column compare)
            var bestKey: String = null
            var bestCnt = -1L
            val it = pair.entrySet().iterator()
            while (it.hasNext) {
              val e = it.next()
              if (e.getValue > bestCnt ||
                  (e.getValue == bestCnt && e.getKey < bestKey)) {
                bestKey = e.getKey; bestCnt = e.getValue
              }
            }
            val sp = bestKey.indexOf(' ')
            val l = bestKey.substring(0, sp)
            val r = bestKey.substring(sp + 1)
            out += ((step.toLong, l, r, bestCnt))
            val from = " " + l + " " + r + " "
            val to = " " + l + r + " "
            i = 0
            while (i < syms.length) {
              syms(i) = (" " + syms(i) + " ").replace(from, to).trim
              i += 1
            }
            step += 1
          }
        }
      } else {
        var cur = words
        var cut = words
        var step = 1
        var exhausted = false
        while (step <= merges && !exhausted) {
          val pairs = cur
            .select(split(col("sym"), " ").as("s"), col("c"))
            .filter(size(col("s")) >= 2)
            .select(explode(transform(sequence(lit(0), size(col("s")) - 2),
              i => struct(element_at(col("s"), i + 1).as("l"),
                element_at(col("s"), i + 2).as("r")))).as("p"), col("c"))
            .select(col("p.l"), col("p.r"), col("c"))
            .groupBy("l", "r").agg(sum(col("c")).as("cnt"))
          val best = pairs.orderBy(col("cnt").desc, col("l").asc, col("r").asc)
            .limit(1).collect()
          if (best.isEmpty) exhausted = true
          else {
            val (l, r, cnt) =
              (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
            out += ((step.toLong, l, r, cnt))
            // symbols are /[a-z]|<\/w>/-composed: safe inside a SQL literal
            cur = cur.select(
              expr(s"trim(replace(concat(' ', sym, ' '), ' $l $r ', ' $l$r '))")
                .as("sym"), col("c"))
            // cut the replace-chain lineage periodically: the vocab table is
            // tiny, but K stacked projections make Catalyst analysis O(K^2)
            // across the loop — a pin keeps large-merge training (32k-vocab
            // reality) linear and releases the superseded cut
            if (step % checkpointEvery == 0) { cur = pins.step(cut, cur); cut = cur }
            step += 1
          }
        }
      }
      spark.createDataFrame(out.toSeq)
        .toDF("step", "lsym", "rsym", "pair_count")
    }
  }

  /** BPE tokenizer APPLICATION — encode a corpus with an already-trained
    * merge table (the other half of [[bpeMerges]]: train once, encode
    * everywhere). `merges` is the ordered (lsym, rsym) list from the
    * trainer; each merge is applied as the same single-pass left-to-right
    * space-bounded literal replace the trainer used to rewrite its symbol
    * table, so encode(trainCorpus) reproduces the trainer's final symbol
    * table exactly — that identity is what the DuckDB oracle pins.
    * Output: (word, pieces, n) — the distinct normalized word, its
    * space-joined subword segmentation ending in </w>, and its corpus
    * count.
    *
    * Scale shape: the merge table is a driver-side artifact (K entries —
    * the trained tokenizer, same role as a broadcast model); the corpus
    * pays ONE map-side-combined word-count exchange, then the K merges
    * apply in a single narrow mapPartitions fold over the vocab-bounded
    * table ([[encodeWordBpe]] — O(K·len) per word, per-task state is the
    * closure-shipped merge list). Nothing else shuffles; at 100 TB the
    * encode cost is the word count. The r5 formulation stacked the K
    * merges as a K-deep `replace` EXPRESSION chain instead, which at a
    * realistic 32k-merge vocab blows whole-stage codegen's 64 KB method
    * limit (interpreted fallback) and makes Catalyst analysis quadratic
    * in K — the narrow Scala fold has the same single plan node at any
    * K. */
  def bpeEncode(spark: org.apache.spark.sql.SparkSession, df: DataFrame,
                textCol: String, merges: Seq[(String, String)]): DataFrame = {
    import spark.implicits._
    merges.foreach { case (l, r) =>
      require((l + r).matches("[a-z</>]+"), s"unsafe merge symbol: '$l','$r'")
    }
    val ms = merges.toArray
    df.select(explode(tokenize(col(textCol))).as("w"))
      .select(lower(col("w")).as("w"))
      .filter(col("w").rlike("^[a-z]+$"))
      .groupBy("w").agg(count(lit(1)).as("n"))
      .as[(String, Long)]
      .mapPartitions(_.map { case (w, n) => (w, encodeWordBpe(w, ms), n) })
      .toDF("word", "pieces", "n")
  }

  /** `word` → its space-joined BPE pieces ending in `</w>`: the initial
    * char-split symbol string rewritten by each merge in order — the SAME
    * single-pass left-to-right space-bounded literal replace the trainer
    * uses ([[bpeMerges]]' rewrite step), so encode(trainCorpus)
    * reproduces the trainer's final symbol table exactly. Plain Scala
    * (one narrow map stage), applied per word by [[bpeEncode]] /
    * [[bpeRoundtrip]]; O(merges · word length). */
  private[ops] def encodeWordBpe(w: String,
                                 merges: Array[(String, String)]): String = {
    val sb = new java.lang.StringBuilder(w.length * 2 + 5)
    var i = 0
    while (i < w.length) { sb.append(w.charAt(i)); sb.append(' '); i += 1 }
    sb.append("</w>")
    var sym = sb.toString
    var k = 0
    while (k < merges.length) {
      val (l, r) = merges(k)
      sym = (" " + sym + " ").replace(" " + l + " " + r + " ",
        " " + l + r + " ").trim
      k += 1
    }
    sym
  }

  /** BPE DECODE, exercised as the full per-document roundtrip a training
    * loader runs in reverse: normalize each document to its in-vocab word
    * sequence, encode every word with the trained merge table
    * ([[mergeFold]]), then decode the piece sequences back to text
    * (strip the intra-word joins, map `</w>` to a word boundary).
    * Output per document: the decoded text — which must equal the
    * normalized input exactly (BPE merging only regroups characters, so
    * decode∘encode is the identity on the normalized stream; the oracle
    * pins that identity) — and `n_pieces`, the total subword count after
    * the merges (pinning that the merges actually applied, since an
    * unmerged char-split would inflate it).
    *
    * Scale shape: the merge table is a driver-side broadcast-sized
    * artifact applied in ONE narrow mapPartitions (no join, no shuffle —
    * decode cost at 100 TB is the scan), with a per-task word→pieces
    * memo so each distinct word in a partition pays the O(K·len)
    * [[encodeWordBpe]] fold once instead of once per occurrence. The r5
    * formulation inlined the K merges as a K-deep replace-expression
    * chain inside a transform lambda — per occurrence, and codegen-
    * breaking at realistic K (see [[bpeEncode]]). */
  def bpeRoundtrip(df: DataFrame, idCol: String, textCol: String,
                   merges: Seq[(String, String)]): DataFrame = {
    merges.foreach { case (l, r) =>
      require((l + r).matches("[a-z</>]+"), s"unsafe merge symbol: '$l','$r'")
    }
    val spark = df.sparkSession
    import spark.implicits._
    val ms = merges.toArray
    df.select(col(idCol).cast("long"), col(textCol).cast("string"))
      .as[(Long, String)]
      .mapPartitions { it =>
        // word → (decoded word, piece count); words repeat heavily within
        // a partition, so the fold amortizes to once per distinct word
        val memo = new java.util.HashMap[String, (String, Long)]()
        it.map { case (id, t) =>
          if (t == null) (id, null: String, None: Option[Long])
          else {
            val toks = AsciiWs.split(t)
            val decoded = new java.lang.StringBuilder
            var nPieces = 0L
            var i = 0
            while (i < toks.length) {
              val tok = toks(i)
              if (tok.nonEmpty) {
                val w = tok.toLowerCase(java.util.Locale.ROOT)
                if (isLowerAlpha(w)) {
                  var e = memo.get(w)
                  if (e == null) {
                    val p = encodeWordBpe(w, ms)
                    // decode = strip the intra-word joins and the </w>
                    // marker — kept as the literal inverse of the fold
                    // rather than assuming decode∘encode is the identity
                    e = (p.replace(" ", "").replace("</w>", ""),
                      (p.split(" ").length).toLong)
                    memo.put(w, e)
                  }
                  if (decoded.length > 0) decoded.append(' ')
                  decoded.append(e._1)
                  nPieces += e._2
                }
              }
              i += 1
            }
            (id, decoded.toString, Some(nPieces): Option[Long])
          }
        }
      }
      .toDF("doc_id", "decoded", "n_pieces")
  }

  /** Sequence packing — map every document's token span into fixed-length
    * training contexts (the GPT-style concat-and-chunk packing: documents
    * in deterministic id order form one virtual token stream, cut every
    * `contextLen` tokens). Output one row per (chunk, document) segment:
    * (chunk_id, doc_id, doc_from = first token index of the segment
    * within the doc, seg_len) — the index a training loader needs to
    * materialize chunk tensors, without ever materializing the stream.
    *
    * Scale shape: the naive formulation is `sum(n) OVER (ORDER BY id)` —
    * a GLOBAL-order window, which Spark executes as a single task (no
    * partitionBy = one partition): a non-starter at 100 TB. This is the
    * textbook distributed prefix-sum instead: range-partition by id and
    * sort within partitions (one exchange, the same shape as a global
    * sort), one tiny job to collect the per-partition token totals
    * (numPartitions longs to the driver), then a narrow mapPartitions
    * that seeds each partition with the exclusive prefix of those totals
    * and emits segments with running offsets. A pin fixes the range
    * partitioning so both passes see identical splits (range boundaries
    * come from sampling; recomputation could resample).
    * Total cost: one range exchange + one narrow pass — the window
    * formulation's semantics at scan-like cost. */
  def packSequences(spark: org.apache.spark.sql.SparkSession, df: DataFrame,
                    idCol: String, textCol: String,
                    contextLen: Int): DataFrame =
    packCounted(spark, df.select(col(idCol).cast("long").as("id"),
      tokenCount(col(textCol)).cast("long").as("n")), contextLen)

  /** The distributed-prefix-sum core of [[packSequences]] /
    * [[graft.ops.SpanOps.packInterleaved]]: `df` is (id, n) per-doc
    * token counts; see packSequences for the shape rationale.
    *
    * The result comes back pinned (see [[Pin]]), so the segment ids the
    * caller observes are never recomputed against a resampled range
    * partitioning. */
  private[ops] def packCounted(spark: org.apache.spark.sql.SparkSession,
                               df: DataFrame, contextLen: Int): DataFrame = {
    import spark.implicits._
    require(contextLen > 0, s"contextLen must be positive: $contextLen")
    // pin the 16-byte (id, n) projection across the range exchange:
    // repartitionByRange SAMPLES its child to pick boundaries and then
    // shuffles it, i.e. the upstream subtree (which for composed callers
    // is a whole reassembly/curation chain, with the token count itself
    // an O(text) projection) evaluates twice — caching the narrow rows
    // costs corpus-rows × 16 B and halves that (guide §2: don't compute
    // things twice feeding one exchange)
    Pin.scoped { pins =>
      // the pre-exchange input pin releases once the range pin holds (lost
      // shuffle partitions replay from shuffle files, not by resampling)
      val (input, _) = pins(df.filter(col("n") > 0))
      val counted = pins.step(input, input
        .repartitionByRange(col("id"))
        .sortWithinPartitions("id"))
        .as[(Long, Long)]
      // pass 1: per-partition token totals (numPartitions rows to driver)
      val partSums = counted
        .mapPartitions { it =>
          var s = 0L; it.foreach(s += _._2)
          Iterator.single(
            (org.apache.spark.TaskContext.getPartitionId(), s))
        }
        .collect().sortBy(_._1)
      val offsets = new Array[Long](partSums.length + 1)
      partSums.foreach { case (pid, s) => offsets(pid + 1) = s }
      for (i <- 1 until offsets.length) offsets(i) += offsets(i - 1)
      val bcast = spark.sparkContext.broadcast(offsets)
      val L = contextLen.toLong
      // pass 2: narrow segment emission with the seeded running offset
      Pin(counted.mapPartitions { it =>
        var off = bcast.value(org.apache.spark.TaskContext.getPartitionId())
        it.flatMap { case (id, n) =>
          val start = off
          off += n
          (start / L to (start + n - 1) / L).iterator.map { c =>
            val from = math.max(0L, c * L - start)
            val until = math.min(n, (c + 1) * L - start)
            (c, id, from, until - from)
          }
        }
      }.toDF("chunk_id", "doc_id", "doc_from", "seg_len"))._1
    }
  }

  /** Token-budget corpus selection — the data-selection step a
    * fixed-compute pretraining run makes (the DCLM/FineWeb "best docs
    * under a token budget" shape): rank documents by `scoreCol`
    * descending (id ascending as the deterministic tiebreak) and keep
    * the prefix of that order whose RUNNING token total stays within
    * `budgetTokens`. Semantics are exactly the window formulation
    * `sum(n) OVER (ORDER BY score DESC, id) <= budget` — a document that
    * overflows the budget still consumes its tokens from the running
    * total (strict-prefix contract, not best-fit backfill), so the
    * output is a deterministic function of (corpus, score, budget).
    * Output `(id, score, n_tokens, cum_tokens)`.
    *
    * Scale shape: the window formulation is a single-task global sort —
    * a non-starter at 100 TB. This is the [[packCounted]] distributed
    * prefix sum on a (score DESC, id) range partitioning instead: one
    * range exchange of 24-byte rows, per-partition token totals to the
    * driver (numPartitions longs), then a narrow seeded pass. A
    * partition whose seed offset already meets the budget short-circuits
    * to empty without consuming its input, and the emitting pass stops
    * at the first overflow — at scale the narrow work is proportional
    * to the SELECTED prefix, not the corpus.
    *
    * Like [[packCounted]], the result comes back pinned (see [[Pin]]):
    * the kept set is never recomputed against a resampled range
    * partitioning. */
  def selectByBudget(spark: org.apache.spark.sql.SparkSession,
                     df: DataFrame, idCol: String, textCol: String,
                     scoreCol: Column, budgetTokens: Long): DataFrame = {
    import spark.implicits._
    require(budgetTokens > 0, s"budgetTokens must be positive: $budgetTokens")
    // same pre-exchange pin as [[packCounted]]: the range partitioner's
    // sampling pass would otherwise evaluate the (score, tokenCount)
    // projection over the whole corpus a second time
    Pin.scoped { pins =>
      val (input, _) = pins(df.select(col(idCol).cast("long").as("id"),
          scoreCol.cast("long").as("score"),
          tokenCount(col(textCol)).cast("long").as("n"))
        .filter(col("n") > 0))
      val counted = pins.step(input, input
        .repartitionByRange(col("score").desc, col("id"))
        .sortWithinPartitions(col("score").desc, col("id")))
        .as[(Long, Long, Long)]
      val partSums = counted.mapPartitions { it =>
        var s = 0L; it.foreach(s += _._3)
        Iterator.single((org.apache.spark.TaskContext.getPartitionId(), s))
      }.collect().sortBy(_._1)
      val offsets = new Array[Long](partSums.length + 1)
      partSums.foreach { case (pid, s) => offsets(pid + 1) = s }
      for (i <- 1 until offsets.length) offsets(i) += offsets(i - 1)
      val bcast = spark.sparkContext.broadcast(offsets)
      val b = budgetTokens
      val kept = counted.mapPartitions { it =>
        var off = bcast.value(org.apache.spark.TaskContext.getPartitionId())
        // off >= b: even a 1-token doc would overflow — skip the partition
        // without reading it; takeWhile stops the scan at first overflow
        // (n >= 1, so once off reaches b nothing later can fit)
        if (off >= b) Iterator.empty
        else it.takeWhile(_ => off < b).flatMap { case (id, sc, n) =>
          val cum = off + n
          off = cum
          if (cum <= b) Iterator.single((id, sc, n, cum)) else Iterator.empty
        }
      }.toDF("id", "score", "n_tokens", "cum_tokens")
      Pin(kept)._1
    }
  }

  /** Deterministic corpus shuffle + shard assignment — the writer step
    * every training-data release runs before export: randomize document
    * order (so a sequential reader sees an i.i.d.-ish stream) and split
    * the corpus into `nShards` output shards. Both are pure functions of
    * (id, salt): the shuffle key is the md5 of the salted id (the same
    * engine-portable scheme as [[sampleKeep]]/[[splitColumn]]), the
    * shard is the key's 24-bit-prefix bucket under equal-width
    * thresholds, and `pos` is the document's rank within its shard under
    * (key, id) order — so re-runs, repartitioning, and corpus growth
    * never reorder the documents that stay, and a given (corpus, salt,
    * nShards) always produces byte-identical shards.
    * Output `(id, shard, pos)`, `pos` 1-based within shard.
    *
    * Scale shape: ONE exchange, hash on `shard`, carrying (8-byte id,
    * 32-byte key) — text never shuffles; the writer re-joins content by
    * id (id-only left_semi / bucketed join) or feeds ids to the sink.
    * Each shard sorts its own run in one streaming task, so pick
    * `nShards` such that corpus_rows/nShards fits a task's spill budget
    * (at 10^10 docs and 4096 shards that is ~100 MB of key rows per
    * shard — comfortably a single sort spill at most). */
  def shardCorpus(df: DataFrame, idCol: String, nShards: Int,
                  salt: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(nShards > 0 && nShards <= (1 << 24),
      s"nShards must be in [1, 2^24]: $nShards")
    val key = md5(concat(col(idCol).cast("string"), lit(salt)))
    // equal-width 24-bit-prefix bucket, computed arithmetically:
    // floor(prefix24 * n / 2^24). O(1) per row at any shard count (a
    // per-threshold comparison cascade is O(n) per row AND a depth-n
    // expression tree — a 1024-shard soak run overflowed the planner
    // stack). Whenever n divides 2^24 (any power of two) this is
    // EXACTLY the count-of-thresholds-below formulation the n=8 DuckDB
    // oracle replays; for other n the bucket edges are the same
    // floor-spaced cut points.
    val prefix = conv(substring(key, 1, 6), 16, 10).cast("long")
    val shard = (prefix * nShards) / lit(1L << 24)
    df.select(col(idCol).cast("long").as("id"), key.as("skey"),
        shard.cast("long").as("shard"))
      .withColumn("pos", row_number()
        .over(Window.partitionBy("shard").orderBy("skey", "id"))
        .cast("long"))
      .select("id", "shard", "pos")
  }

  /** Corpus data card — the per-(dims…) rollup every corpus release
    * ships: document/token/char counts, distinct-content count, and
    * integer milli tokens-per-doc. `dims` is any grouping column list
    * (source, lang, …).
    *
    * Scale shape: one map-side-combined groupBy; the distinct-content
    * count runs on the 64-bit content hash so the exchange carries
    * (dims, 8 bytes) — document text never shuffles (the same
    * hash≡text-identity convention as [[graft.ops.Dedup.exact]]).
    * countDistinct is Spark's built-in two-phase distinct aggregate. */
  def corpusStats(df: DataFrame, textCol: String,
                  dims: Seq[String]): DataFrame =
    df.groupBy(dims.map(col): _*)
      .agg(count(lit(1)).as("n_docs"),
        sum(tokenCount(col(textCol)).cast("long")).as("n_tokens"),
        sum(length(col(textCol)).cast("long")).as("n_chars"),
        countDistinct(xxhash64(col(textCol))).as("n_uniq"))
      .withColumn("tokens_per_doc_milli",
        expr("CAST(n_tokens * 1000 DIV n_docs AS BIGINT)"))

  /** Data-mixing epoch assignment — turn per-stratum token BUDGETS into
    * per-document repetition factors (the Pile/LLaMA-style mix recipe:
    * "2.4 epochs of wiki, 0.7 of web"). For each stratum with a budget:
    * epochs_milli = floor(budget·1000 / stratum_tokens); a loader then
    * repeats every doc n_full = epochs_milli/1000 times and includes it
    * once more iff include_extra — a deterministic per-doc md5-threshold
    * draw at the fractional rate, so the realized token count converges
    * on the budget with zero RNG state. Strata without a budget are
    * excluded (that's the mix spec's job). Output: (id, stratum,
    * n_tokens, epochs_milli, n_full, include_extra).
    *
    * Scale shape: one map-side-combined groupBy for the per-stratum
    * totals (rows = strata), broadcast back onto the docs; the
    * fractional draw is the same narrow md5 predicate as
    * [[stratifiedSample]]. Integer-exact throughout (milli epochs,
    * floor'd 24-bit threshold), so the oracle replays it verbatim. */
  def mixEpochs(spark: org.apache.spark.sql.SparkSession, df: DataFrame,
                idCol: String, stratumCol: String, tokensCol: String,
                budgets: Map[String, Long], salt: String): DataFrame = {
    import spark.implicits._
    val docs = df.select(col(idCol).cast("long").as("id"),
      col(stratumCol).as("stratum"), col(tokensCol).cast("long").as("n_tokens"))
    val b = budgets.toSeq.toDF("stratum", "budget")
    val eps = docs.groupBy("stratum")
      .agg(sum("n_tokens").as("stratum_tokens"))
      .join(b, Seq("stratum"))
      .select(col("stratum"),
        expr("CAST(budget * 1000 DIV stratum_tokens AS BIGINT)")
          .as("epochs_milli"))
    docs.join(broadcast(eps), Seq("stratum"))
      .select(col("id"), col("stratum"), col("n_tokens"), col("epochs_milli"),
        expr("CAST(epochs_milli DIV 1000 AS BIGINT)").as("n_full"),
        (substring(md5(concat(col("id").cast("string"), lit(salt))), 1, 6) <
          lower(lpad(hex(expr("(epochs_milli % 1000) * 16777216 DIV 1000")),
            6, "0"))).as("include_extra"))
  }

  /** DSIR importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling", arXiv:2302.03169):
    * score every document by how much more likely its hashed-ngram
    * features are under a target (in-domain) distribution than under the
    * raw corpus distribution — log w(x) = Σ_f n_f(x)·(ln p̂_target(f) −
    * ln p̂_raw(f)) with add-one smoothing over `buckets` hashed features
    * (unigrams + bigrams, the paper's feature set). Selection then keeps
    * the top-weight documents; this op emits the weights.
    *
    * Scale shape: features never materialize as strings past the map
    * side — each (doc, feature) row carries only the bucket id (12-bit
    * here; 20+ bits at 100 TB). The two distribution estimates are
    * B-row aggregates (map-side combined), tiny by construction, so the
    * per-doc scoring join broadcasts λ(b) and the only corpus-sized
    * exchange is the per-doc groupBy on (id, bucket).
    *
    * Determinism: the bucket hash is the first 3 hex chars of md5(feature)
    * → 12 bits (engine-portable: both engines agree on md5), and λ(b) is
    * floored to integer micros before any per-doc summation, so sums are
    * integer-exact regardless of aggregation order. Output
    * (doc_id, n_feats, w_milli = floor(Σ n_f·λmicro(f) / n_feats / 1000)),
    * pinned: see [[Pin]].
    */
  def dsirWeights(spark: org.apache.spark.sql.SparkSession, df: DataFrame,
                  idCol: String, textCol: String, targetPred: Column,
                  buckets: Int = 4096): DataFrame = {
    import spark.implicits._
    require(buckets == 4096, "bucket count is pinned by the 3-hex-char hash")
    val docs = df.select(col(idCol).cast("long").as("id"),
      col(textCol).as("t"), targetPred.as("is_target"))
    Pin.scoped { pins =>
      val (feats, _) = pins(docs.as[(Long, String, Boolean)]
        .flatMap { case (id, t, tgt) =>
          val toks = graft.core.TextUtil.tokens(if (t == null) "" else t)
          val unis = toks.iterator.map(w => (id, tgt, w))
          val bis = (0 until toks.length - 1).iterator
            .map(i => (id, tgt, toks(i) + " " + toks(i + 1)))
          unis ++ bis
        }
        .toDF("id", "is_target", "f")
        // 12-bit bucket from the first 3 hex chars of md5 — portable to any
        // engine with md5 + instr (no hex-parse builtin needed)
        .withColumn("b", expr(
          "((instr('0123456789abcdef', substr(md5(f), 1, 1)) - 1) * 256 + " +
          " (instr('0123456789abcdef', substr(md5(f), 2, 1)) - 1) * 16 + " +
          " (instr('0123456789abcdef', substr(md5(f), 3, 1)) - 1))"))
        // single-pass contract (the round-4 recompute fix): the feature
        // flatMap runs once, pinned, then read from cache by both the λ
        // model aggregate and the per-doc aggregate
        .select(col("id"), col("is_target"), col("b")))
      // both distributions in ONE map-side-combined pass (B-row result)
      val counts = feats.groupBy("b").agg(count(lit(1)).as("rc"),
        sum(when(col("is_target"), 1L).otherwise(0L)).as("tc"))
      val Array(totals, ttotals) = counts
        .agg(sum(col("rc")), sum(col("tc"))).collect()(0)
        .toSeq.map(_.asInstanceOf[Long]).toArray
      val lam = counts
        .select(col("b"), floor(
          (log((col("tc") + lit(1.0)) / lit((ttotals + buckets).toDouble)) -
           log((col("rc") + lit(1.0)) / lit((totals + buckets).toDouble)))
            * lit(1e6)).cast("long").as("lmicro"))
      Pin(feats.groupBy("id", "b").agg(count(lit(1)).as("n"))
        .join(broadcast(lam), Seq("b"))
        .groupBy("id")
        .agg(sum(col("n")).as("n_feats"),
          sum(col("n") * col("lmicro")).as("smicro"))
        .select(col("id").as(idCol), col("n_feats"),
          floor(col("smicro") / col("n_feats") / 1000.0).cast("long")
            .as("w_milli")))._1
    }
  }

  /** Benchmark decontamination (the GPT-3-style 13-gram overlap rule,
    * Brown et al. 2020 Appendix C, public): mark every training document
    * sharing at least one exact n-token gram with the evaluation set.
    * Output (id, contaminated).
    *
    * Scale shape: distinct-gram explode on the train side (same shape as
    * [[sharedNgramStats]]); the benchmark side is DISTINCT grams of the
    * eval corpus — small by construction (benchmarks are thousands of
    * documents, not billions), so Catalyst broadcasts it and the
    * "contaminated" semi-join never shuffles the train side. Grams are
    * collapsed to 64-bit polynomial rolling hashes IN the narrow flatMap
    * ([[gramHashes]], shared with [[stripDupSubstrings]] so both key
    * grams identically), so only (id, 8-byte hash) rows ever
    * enter the exchange and the broadcast verdict side is a long set —
    * the same hash≡gram-identity trade every line/gram-dedup stage here
    * makes (a 64-bit collision could flag a clean doc at ~1e-12 per
    * train×bench gram pair). */
  def decontaminate(spark: org.apache.spark.sql.SparkSession,
                    train: DataFrame, bench: DataFrame,
                    idCol: String, textCol: String, n: Int = 13): DataFrame = {
    import spark.implicits._
    def gramsOf(df: DataFrame): DataFrame =
      df.select(col(idCol).cast("long"), col(textCol))
        .as[(Long, String)]
        .flatMap { case (id, t) =>
          gramHashes(t, n).distinct.iterator.map(g => (id, g))
        }
        .toDF("id", "gram")
    val benchGrams = gramsOf(bench).select(col("gram")).distinct()
    val contaminated = gramsOf(train)
      .join(benchGrams, Seq("gram"), "left_semi")
      .select(col("id")).distinct()
      .withColumn("contaminated", lit(true))
    train.select(col(idCol).cast("long").as("id"))
      .join(contaminated, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("contaminated"), lit(false)).as("contaminated"))
  }

  /** Per-source document cap — the per-domain quota every web-corpus
    * recipe applies (don't let one crawl domain dominate the mix): keep
    * the top `cap` documents per source, ranked by `orderCol` descending
    * with id ascending as the deterministic tiebreak. Output
    * (id, source, rk) for the kept rows.
    *
    * Scale shape: one hash exchange on the source + per-partition sort —
    * the standard window top-N. */
  def capPerSource(df: DataFrame, idCol: String, sourceCol: String,
                   orderCol: String, cap: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(sourceCol))
      .orderBy(col(orderCol).desc, col(idCol).asc)
    df.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= cap)
      .select(col(idCol), col(sourceCol), col("rk"))
  }

  /** C4 cleaning rules (Raffel et al. 2020 §2.2, public): a line is kept
    * iff it ends in a terminal punctuation mark (. ! ? ") AND has at
    * least `minWords` words; the document is dropped if it mentions
    * "lorem ipsum" (case-insensitive), contains a curly brace, or keeps
    * fewer than `minLines` lines. First failing rule is the reason.
    * Output (id, n_lines, n_kept, keep, reason) — integer/bool/string
    * only, so the DuckDB oracle reproduces it exactly.
    *
    * Scale shape: one narrow typed map over (id, text) — per-doc line
    * work, no shuffle, nothing but the verdict columns leave the stage. */
  def filterC4(spark: org.apache.spark.sql.SparkSession, df: DataFrame,
               idCol: String, textCol: String,
               minWords: Int = 5, minLines: Int = 3): DataFrame = {
    import spark.implicits._
    val Terminal = Set('.', '!', '?', '"')
    df.select(col(idCol).cast("long"), col(textCol)).as[(Long, String)]
      .map { case (id, text) =>
        val t = if (text == null) "" else text
        val lines = t.split('\n').filter(_.nonEmpty)
        val kept = lines.count { l =>
          Terminal.contains(l.charAt(l.length - 1)) &&
            graft.core.TextUtil.tokens(l).length >= minWords
        }
        val reason =
          if (t.toLowerCase.contains("lorem ipsum")) "lorem_ipsum"
          else if (t.contains("{")) "brace"
          else if (kept < minLines) "too_few_sentences"
          else null
        (id, lines.length.toLong, kept.toLong, reason == null, reason)
      }
      .toDF(idCol, "n_lines", "n_kept", "keep", "reason")
  }

  /** Cross-document boilerplate line statistics — the CCNet/RefinedWeb
    * line-dedup shape: a (nonempty) line occurring in at least `minDf`
    * distinct documents is boilerplate (navigation, footers, cookie
    * banners); report per document how much of it is boilerplate.
    * Output (id, n_lines, n_boiler, boiler_milli).
    *
    * Scale shape: lines are hashed to 64 bits in the narrow explode
    * stage, so only (8-byte hash, id) pairs enter the exchanges — the
    * line text never shuffles. Doc-frequency is a two-level groupBy
    * (hash,id)→(hash) with map-side combine; the boilerplate set is tiny
    * by construction (lines repeated across ≥ minDf docs), so AQE
    * broadcasts it into the per-doc re-join. A 64-bit collision could
    * miscount at ~1e-12 probability per pair — the standard trade every
    * line-dedup pipeline makes at corpus scale. */
  def lineDedupStats(spark: org.apache.spark.sql.SparkSession, df: DataFrame,
                     idCol: String, textCol: String,
                     minDf: Int = 5): DataFrame = {
    val lines = df
      .select(col(idCol).cast("long").as("id"),
        explode(filter(split(col(textCol), "\n"), l => length(l) > 0))
          .as("line"))
      .select(col("id"), xxhash64(col("line")).as("lh"))
    val boiler = lines.select("lh", "id").distinct()
      .groupBy("lh").agg(count(lit(1)).as("ddf"))
      .filter(col("ddf") >= minDf)
      .select("lh")
    val perDoc = lines
      .join(boiler.withColumn("is_boiler", lit(1L)), Seq("lh"), "left")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_lines"),
        coalesce(sum(col("is_boiler")), lit(0L)).as("n_boiler"))
    perDoc.select(col("id").as(idCol), col("n_lines"), col("n_boiler"),
      floor(col("n_boiler") * lit(1000) / col("n_lines")).cast("long")
        .as("boiler_milli"))
  }

  /** End-to-end corpus curation — the composed training-data recipe every
    * web corpus runs (C4/Gopher → dedup → decontaminate → mix), built
    * from this library's already-audited stages in their canonical order:
    *
    *   1. quality gate: [[filterGopher]] keep verdicts;
    *   2. exact dedup:  [[graft.ops.Dedup.exact]] min-id survivors;
    *   3. benchmark decontamination: [[decontaminate]] 13-gram overlap
    *      against `bench` (GPT-3 rule), contaminated docs dropped;
    *   4. per-source quota: [[capPerSource]] top-`cap` by `ordCol`;
    *   5. deterministic mixing: [[stratifiedSample]] md5-threshold rates.
    *
    * Output: the surviving documents as (id, stratum, source, n_tokens).
    *
    * Scale shape: every stage emits an id-only verdict that re-enters as
    * a `left_semi` join on the 8-byte id — the document text crosses an
    * exchange only where the stage itself needs it (the dedup groupBy
    * hashes it to 64 bits first; the decontamination gram explode is the
    * train-side distinct-gram shape). Verdict sides are small by
    * construction (survivor ids), so AQE broadcasts them; the quality
    * gate and the sampling predicate are narrow and cost no shuffle at
    * all. This is the composition you'd run at 100 TB — each stage's
    * plan was audited individually (PlanSpec), and composing by id-semi-
    * join keeps those plans intact instead of fusing one giant DAG whose
    * optimizer fate is harder to reason about.
    *
    * Stage-evaluation contract (r6 optimization): each stage's verdict is
    * computed FROM the previous stage's survivor frame, so the naive lazy
    * composition nests the corpus subtree once per branch and the
    * optimizer re-evaluates the opaque quality-gate mapPartitions and the
    * gram explode several times per action (exchange reuse cannot
    * deduplicate subtrees that sit above different parents). Instead the
    * projected corpus is pinned for the duration of the call and each
    * verdict is pinned as a small id-only frame; the cache reports each
    * verdict's materialized size, so the planner broadcasts the small
    * ones on its own. The result comes back pinned (see [[Pin]]); every
    * internal pin, the four verdicts included, is released before
    * return. */
  def curateCorpus(spark: org.apache.spark.sql.SparkSession, df: DataFrame,
                   idCol: String, textCol: String, stratumCol: String,
                   sourceCol: String, ordCol: String, bench: DataFrame,
                   cap: Int, rates: Map[String, Double],
                   defaultRate: Double, salt: String): DataFrame = {
    val docs = df.select(col(idCol).cast("long").as("id"),
      col(textCol).as("text"), col(stratumCol).as("stratum"),
      col(sourceCol).as("source"), col(ordCol).as("ord"))
    Pin.scoped { pins =>
      // every verdict stage below reads the pinned (or caller-cached)
      // corpus instead of re-running the upstream subtree
      val base = pins.unlessCached(df, docs)
      def pinIds(v: DataFrame): DataFrame = pins(v.select("id"))._1
      // 1. quality gate (narrow; verdict ids only)
      val quality = pinIds(filterGopher(spark, base, "id", "text")
        .filter(col("keep")))
      val d1 = base.join(quality, Seq("id"), "left_semi")
      // 2. exact dedup: min-id representative per identical text
      val reps = pinIds(graft.ops.Dedup.exact(d1, "id", "text"))
      val d2 = d1.join(reps, Seq("id"), "left_semi")
      // 3. benchmark decontamination (13-gram GPT-3 rule); bench is any
      // two-column (id, text)-shaped frame — rename to the internal names
      val benchN = bench.toDF("id", "text")
      val clean = pinIds(decontaminate(spark, d2, benchN, "id", "text", 13)
        .filter(!col("contaminated")))
      val d3 = d2.join(clean, Seq("id"), "left_semi")
      // 4. per-source quota — `kept` ids are a subset of every prior verdict
      val kept = pinIds(capPerSource(d3, "id", "source", "ord", cap))
      val d4 = base.join(kept, Seq("id"), "left_semi")
      // 5. deterministic stratified mixing
      Pin(stratifiedSample(d4, "id", "stratum", rates, defaultRate, salt)
        .select(col("id"), col("stratum"), col("source"),
          tokenCount(col("text")).cast("long").as("n_tokens")))._1
    }
  }

  /** Corpus text normalization: Unicode NFC composition (via the native
    * codegen'd [[graft.functions.NfcNormalize]] expression — Spark has no
    * built-in) followed by a C0/C1-control strip. One fused codegen'd
    * projection; the standard first cleaning pass of a web corpus. */
  def normalizeText(text: Column): Column =
    regexp_replace(graft.functions.GraftFunctions.nfc_normalize(text),
      "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]", "")

  /** The usual mojibake culprit codec (exposed for tests/synthesis). */
  lazy val mojibakeCharset: java.nio.charset.Charset =
    java.nio.charset.Charset.forName("windows-1252")

  /** "Sloppy cp1252" decode table (what browsers and ftfy model): the
    * real windows-1252 C1 mappings, with the five undefined bytes (0x81
    * 0x8D 0x8F 0x90 0x9D — which Java's decoder turns into U+FFFD,
    * destroying the roundtrip) falling back to their latin-1 identity. */
  private lazy val sloppyDecode: Array[Char] = {
    val arr = new Array[Char](256)
    var b = 0
    while (b < 256) { arr(b) = b.toChar; b += 1 }
    b = 0x80
    while (b <= 0x9f) {
      val s = new String(Array(b.toByte), mojibakeCharset)
      if (s.length == 1 && s.charAt(0) != '�') arr(b) = s.charAt(0)
      b += 1
    }
    arr
  }

  /** char → byte inverse of [[sloppyDecode]]; chars outside the table
    * mean "this string was never a cp1252 mis-decode". */
  private lazy val sloppyEncode: java.util.HashMap[Character, java.lang.Byte] = {
    val m = new java.util.HashMap[Character, java.lang.Byte](512)
    var b = 0
    while (b < 256) { m.put(b.toChar, b.toByte); b += 1 }
    b = 0x80
    while (b <= 0x9f) { m.put(sloppyDecode(b), b.toByte); b += 1 }
    m
  }

  /** Simulate the corruption: UTF-8 bytes mis-decoded as (sloppy) cp1252
    * — "café" → "cafÃ©". Used by tests and oracle synthesis. */
  def corruptAsMojibake(s: String): String = {
    val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val sb = new java.lang.StringBuilder(bytes.length)
    var i = 0
    while (i < bytes.length) { sb.append(sloppyDecode(bytes(i) & 0xff)); i += 1 }
    sb.toString
  }

  /** ftfy-style mojibake repair: text that was UTF-8 on the wire but got
    * decoded as (sloppy) windows-1252 somewhere ("café" → "cafÃ©") is
    * recovered by replaying the mistake backwards — re-encode through the
    * sloppy-cp1252 inverse, strictly decode as UTF-8. Text that is NOT
    * mojibake ("À la carte") fails the strict UTF-8 decode and passes
    * through untouched; a repair is accepted only when it shrinks the
    * string (a UTF-8 mis-decode always inflates). Up to `maxRounds`
    * undoes stacked mojibake. Pure per-row Scala for map stages —
    * narrow, no shuffle. */
  def fixMojibake(s: String, maxRounds: Int = 3): String = {
    if (s == null) return null
    var cur = s
    var round = 0
    var changed = true
    while (round < maxRounds && changed) {
      changed = false
      if (cur.exists(_ >= 0x80)) {
        val bytes = new Array[Byte](cur.length)
        var i = 0
        var encodable = true
        while (encodable && i < cur.length) {
          val b = sloppyEncode.get(cur.charAt(i))
          if (b == null) encodable = false
          else { bytes(i) = b; i += 1 }
        }
        if (encodable) {
          try {
            val dec = java.nio.charset.StandardCharsets.UTF_8.newDecoder()
              .onMalformedInput(java.nio.charset.CodingErrorAction.REPORT)
              .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPORT)
              .decode(java.nio.ByteBuffer.wrap(bytes)).toString
            if (dec != cur && dec.length < cur.length) { cur = dec; changed = true }
          } catch {
            case _: java.nio.charset.CharacterCodingException => // not mojibake
          }
        }
      }
      round += 1
    }
    cur
  }

  /** Language ID over 26 languages: script vote + Cavnar–Trenkle trigram
    * profiles (see [[LangId]]), standing in for the reference's fastText
    * lid.176 call at `/root/reference/ingestors/analysis/language.py:10-26`.
    * Pure scala function usable in a map stage. */
  def detectLanguage(text: String): String = {
    if (text == null || text.length < 10) "und" else LangId.detect(text)
  }

  /** 64-bit rolling-hash document fingerprint over tokens (Rabin-style
    * polynomial), deterministic across JVMs. */
  def fingerprint(tokens: Seq[String]): Long = {
    var h = 1125899906842597L
    for (t <- tokens) {
      var th = 0L
      var i = 0
      while (i < t.length) { th = th * 31 + t.charAt(i); i += 1 }
      h = h * 1000003L + th
    }
    h
  }

  /** Shingle (token n-gram) set for near-dup detection. */
  def shingles(tokens: IndexedSeq[String], n: Int = 3): Set[String] = {
    if (tokens.length < n) return tokens.toSet
    (0 to tokens.length - n).map(i => tokens.slice(i, i + n).mkString(" ")).toSet
  }
}
