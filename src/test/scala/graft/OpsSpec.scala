package graft

import graft.ops.{Dedup, TextOps, Similarity, Multimodal}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Training-data operator semantics (dedup / similarity / text analysis /
  * multimodal plumbing). */
class OpsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  private val base = Seq(
    (0L, "the quick brown fox jumps over the lazy dog again and again today"),
    (1L, "the quick brown fox jumps over the lazy dog again and again tomorrow"),
    (2L, "completely different words about spark catalyst optimizer plans"),
    (3L, "the quick brown fox jumps over the lazy dog again and again today"))

  test("exact dedup keeps min id and counts duplicates") {
    val out = Dedup.exact(base.toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(0L) == 2) // 0 and 3 identical
    assert(out(1L) == 1)
    assert(out(2L) == 1)
    assert(!out.contains(3L))
  }

  test("minhash-lsh finds the near-dup pair and not the unrelated one") {
    val pairs = Dedup.minhashLsh(spark, base.toDF("doc_id", "text"),
        "doc_id", "text", 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L))) // one token differs
    assert(pairs.contains((0L, 3L))) // identical
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L))
  }

  test("minhash signature approximates jaccard") {
    val a = (1 to 100).map(i => s"tok$i").toSet
    val b = (21 to 120).map(i => s"tok$i").toSet // true jaccard = 80/120 = 0.667
    val sa = Dedup.minhashSignature(a.map(Dedup.hashToken), 256)
    val sb = Dedup.minhashSignature(b.map(Dedup.hashToken), 256)
    val est = sa.zip(sb).count { case (x, y) => x == y } / 256.0
    assert(math.abs(est - 0.667) < 0.12, s"estimate $est")
  }

  test("ngram jaccard exact join equals per-pair set math") {
    val out = Dedup.ngramJaccardExact(spark, base.toDF("doc_id", "text"),
        "doc_id", "text", 0.01)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val sh = base.map { case (id, t) =>
      id -> TextOps.shingles(t.split(" ").toIndexedSeq, 3)
    }.toMap
    for (((a, b), j) <- out)
      assert(math.abs(j - Dedup.jaccard(sh(a), sh(b))) < 1e-12)
    assert(out.contains((0L, 3L)) && out((0L, 3L)) == 1.0)
  }

  test("simhash: identical texts at distance 0; near texts small distance") {
    val s0 = Dedup.simhash64(base(0)._2.split(" "))
    val s3 = Dedup.simhash64(base(3)._2.split(" "))
    assert(s0 == s3)
    val s1 = Dedup.simhash64(base(1)._2.split(" "))
    assert(java.lang.Long.bitCount(s0 ^ s1) <= 12)
    val s2 = Dedup.simhash64(base(2)._2.split(" "))
    assert(java.lang.Long.bitCount(s0 ^ s2) > java.lang.Long.bitCount(s0 ^ s1))
  }

  test("simhash banding finds hamming<=3 pairs") {
    val pairs = Dedup.simhashPairs(spark, base.toDF("doc_id", "text"),
        "doc_id", "text", 3)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 3L)))
  }

  test("brute-force ANN: exact cosine order with deterministic ties") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(1.0f, 0.01f, 0.0f))).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(vecs, vecs.filter($"vec_id" === 0L),
        "vec_id", "embedding", 2)
      .orderBy("rank").collect().map(_.getLong(2)).toVector
    assert(top == Vector(3L, 1L)) // 3 is closest to 0, then 1
  }

  test("lsh ANN returns a subset of real neighbors (recall sanity)") {
    val rng = new graft.corpus.CorpusGen.Rng(7)
    val vecs = (0L until 200L).map(i =>
      (i, Array.fill(16)(rng.nextDouble().toFloat))).toDF("vec_id", "embedding")
    val q = vecs.filter($"vec_id" < 5)
    val brute = Similarity.bruteForceTopK(vecs, q, "vec_id", "embedding", 5)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshTopK(spark, vecs, q, "vec_id", "embedding", 5, dim = 16)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.nonEmpty)
    assert((brute & lsh).size >= 5, s"recall too low: ${(brute & lsh).size}/25")
  }

  test("minhash signature collisions estimate a known set jaccard") {
    val rng = new graft.corpus.CorpusGen.Rng(31)
    def randSet(n: Int) = (0 until n).map(_ => rng.nextLong()).toArray
    // two sets with known overlap: J = 200/(500+500-200) = 0.25
    val shared = randSet(200)
    val a = (shared ++ randSet(300)).toSeq
    val b = (shared ++ randSet(300)).toSeq
    val sa = Dedup.minhashSignature(a, 128)
    val sb = Dedup.minhashSignature(b, 128)
    val kxh = sa.zip(sb).count { case (x, y) => x == y } / 128.0
    assert(math.abs(kxh - 0.25) < 0.12, s"kxh=$kxh")
  }

  test("minhash sig8 verify agrees with exact on planted near-dups") {
    val rng = new graft.corpus.CorpusGen.Rng(29)
    val words = (0 until 400).map(i => s"w$i")
    val base = (0L until 30L).map { i =>
      (i, Seq.tabulate(60)(j => words(((rng.nextLong() >>> 1) % 400).toInt)).mkString(" "))
    }
    // near-dups: replace the last 3 of 60 tokens (~Jaccard ≈ 0.9)
    val nears = base.map { case (i, t) =>
      (i + 1000L, t.split(" ").dropRight(3).mkString(" ") + " zz1 zz2 zz3")
    }
    val df = (base ++ nears).toDF("id", "text")
    def pairs(mode: String) =
      Dedup.minhashLsh(spark, df, "id", "text", 0.5, verify = mode)
        .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs("exact")
    val sig8 = pairs("sig8")
    val planted = base.map { case (i, _) => (i, i + 1000L) }.toSet
    assert((planted -- exact).isEmpty, s"exact missed ${planted -- exact}")
    // sig8 is an estimator: at threshold 0.5 vs true J≈0.9 it must keep
    // every planted pair; spurious extras would signal a broken estimator
    assert((planted -- sig8).isEmpty, s"sig8 missed ${planted -- sig8}")
    assert((sig8 -- exact).isEmpty, s"sig8 spurious ${sig8 -- exact}")
    // star pairing: every planted near-dup still links to its (min-id)
    // partner — each 2-cluster's representative is the base doc
    val star = Dedup.minhashLsh(spark, df, "id", "text", 0.5,
        verify = "sig8", pairing = "star")
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((planted -- star).isEmpty, s"star missed ${planted -- star}")
  }

  test("dedupCorpus: exact dups + near dups collapse to one survivor") {
    val t1 = (0 until 60).map(i => s"tok$i").mkString(" ")
    val t1near = t1.split(" ").dropRight(3).mkString(" ") + " aa bb cc"
    val other = (100 until 160).map(i => s"tok$i").mkString(" ")
    val df = Seq((1L, t1), (2L, t1), (3L, t1near), (4L, other))
      .toDF("doc_id", "body")
    val got = Dedup.dedupCorpus(spark, df, "doc_id", "body", 0.5)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getBoolean(2)))).toMap
    assert(got(1L) == ((1L, true)), got)
    assert(got(2L) == ((1L, false)), got)
    assert(got(3L) == ((1L, false)), got)
    assert(got(4L) == ((4L, true)), got)
  }

  test("dedupCorpus pairing=all recovers transitive chains star pairing can under-merge") {
    // A~B and B~C are near-dups but A~C is below threshold: single-link
    // closure should still merge all three. With star pairing the bucket
    // representative check can miss one hop; pairing="all" must not.
    val base = (0 until 80).map(i => s"w$i")
    val a = base.mkString(" ")
    val b = (base.drop(12) ++ (0 until 12).map(i => s"x$i")).mkString(" ")
    val c = (base.drop(24) ++ (0 until 24).map(i => s"x$i")).mkString(" ")
    val df = Seq((1L, a), (2L, b), (3L, c)).toDF("doc_id", "body")
    val all = Dedup.dedupCorpus(spark, df, "doc_id", "body", 0.5,
        verify = "exact", pairing = "all")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // exact-jaccard: sim(a,b)≈0.74, sim(b,c)≈0.74, sim(a,c)≈0.52 — all
    // linked at 0.5, so one cluster either way; tighten to 0.6 to isolate
    // the chain case
    val chained = Dedup.dedupCorpus(spark, df, "doc_id", "body", 0.6,
        verify = "exact", pairing = "all")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(all.values.toSet == Set(1L))
    assert(chained == Map(1L -> 1L, 2L -> 1L, 3L -> 1L),
      s"transitive closure through B must merge A,B,C: $chained")
  }

  test("connected components: chains, stars, and cross-links converge to min id (both paths)") {
    // chain 1-2-3-4, star 10-{11,12,13}, bridge 4-10 => all one component (1);
    // separate pair 20-21 => component 20
    val links = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (10L, 12L),
      (13L, 10L), (4L, 10L), (20L, 21L)).toDF("id_a", "id_b")
    // default: bounded driver union-find fast path
    val got = Dedup.connectedComponents(spark, links)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert((1L to 4L).forall(got(_) == 1L), got)
    assert(Seq(10L, 11L, 12L, 13L).forall(got(_) == 1L), got)
    assert(got(20L) == 20L && got(21L) == 20L, got)
    // the distributed min-label path must produce identical labels
    val gotIter = Dedup.connectedComponents(spark, links, localThreshold = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(gotIter == got, s"paths disagree: $gotIter vs $got")
  }

  test("connected components: exactly one Spark job per iteration (convergence check rides the label job)") {
    // chain 1-..-8 needs ~7 propagation rounds, so neither maxIter=2 nor
    // maxIter=3 converges early — the job-count DELTA between them is the
    // marginal cost of one iteration, independent of setup jobs. AQE is
    // disabled for the measurement: it materializes each exchange as its
    // own stage job, which would obscure the action count (the claim under
    // test is ONE action per iteration — no separate change-count pass).
    val links = (1L to 8L).sliding(2).map(s => (s.head, s.last)).toSeq
      .toDF("id_a", "id_b")
    def jobsFor(maxIter: Int): Int = {
      val group = s"cc-jobcount-$maxIter"
      val aqe0 = spark.conf.get("spark.sql.adaptive.enabled")
      val bc0 = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      // broadcast exchanges run their collect as a separate job; force the
      // shuffle join so job count == action count
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.sparkContext.setJobGroup(group, "cc job count", interruptOnCancel = false)
      try Dedup.connectedComponents(spark, links, maxIter = maxIter,
        localThreshold = 0) // force the iterative (at-scale) path
      finally {
        spark.sparkContext.clearJobGroup()
        spark.conf.set("spark.sql.adaptive.enabled", aqe0)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bc0)
      }
      // status store is listener-fed (async): poll until stable
      var n = -1; var stable = 0; var spins = 0
      while (stable < 3 && spins < 100) {
        val c = spark.sparkContext.statusTracker.getJobIdsForGroup(group).length
        if (c == n) stable += 1 else { n = c; stable = 0 }
        Thread.sleep(50); spins += 1
      }
      n
    }
    val j2 = jobsFor(2)
    val j3 = jobsFor(3)
    assert(j3 - j2 == 1, s"per-iteration job cost = ${j3 - j2} (j2=$j2, j3=$j3)")
  }

  test("connected components warns (and still returns a valid coarsening) when maxIter is exceeded") {
    val links = (1L to 8L).sliding(2).map(s => (s.head, s.last)).toSeq
      .toDF("id_a", "id_b")
    val errBuf = new java.io.ByteArrayOutputStream()
    val saved = System.err
    val got = try {
      System.setErr(new java.io.PrintStream(errBuf, true, "UTF-8"))
      Dedup.connectedComponents(spark, links, maxIter = 2, localThreshold = 0)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    } finally System.setErr(saved)
    assert(errBuf.toString("UTF-8").contains("did NOT converge"), errBuf.toString)
    // partial labels are a coarsening: every label points at a genuinely
    // connected (smaller-id) node, even if not yet the global min
    assert(got.forall { case (id, c) => c <= id }, got)
  }

  test("embedding dedup: banded plan finds planted pairs, no cartesian join") {
    val rng = new graft.corpus.CorpusGen.Rng(11)
    val vecs = (0L until 100L).map(i =>
      (i, Array.fill(16)(rng.nextDouble().toFloat)))
    val planted = vecs.map { case (i, v) => (i + 1000L, v.map(_ * 2.0f)) }
    val df = (vecs ++ planted).toDF("vec_id", "embedding")
    val dups = Dedup.embeddingDups(spark, df, "vec_id", "embedding", 0.9999, dim = 16)
    val plan = dups.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    val pairs = dups.select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == vecs.map { case (i, _) => (i, i + 1000L) }.toSet)
  }

  test("lsh ANN bucket join shuffles ids only (no vector in the exchange)") {
    val rng = new graft.corpus.CorpusGen.Rng(13)
    val vecs = (0L until 50L).map(i =>
      (i, Array.fill(16)(rng.nextDouble().toFloat))).toDF("vec_id", "embedding")
    val out = Similarity.lshTopK(spark, vecs, vecs.filter($"vec_id" < 3),
      "vec_id", "embedding", 3, dim = 16)
    // the (table, sig) bucket join must join id columns only; vectors appear
    // exclusively in the later per-side fetch joins
    val smj = out.queryExecution.executedPlan.toString.linesIterator
      .filter(l => l.contains("Join") && l.contains("table") && l.contains("sig"))
      .mkString("\n")
    assert(smj.nonEmpty, "bucket join not found in plan")
    assert(!smj.contains("cv") && !smj.contains("qv"),
      s"vectors ride the bucket join:\n$smj")
    assert(out.count() > 0)
  }

  test("ivf ANN: planted clusters recovered, cell join carries ids only") {
    val rng = new graft.corpus.CorpusGen.Rng(17)
    // 4 well-separated direction clusters in 16d
    val vecs = (0L until 120L).map { i =>
      val base = new Array[Float](16)
      base((i % 4).toInt * 4) = 1.0f
      (i, base.map(x => x + rng.nextDouble().toFloat * 0.05f))
    }.toDF("vec_id", "embedding")
    val q = vecs.filter($"vec_id" < 4)
    val out = Similarity.ivfTopK(spark, vecs, q, "vec_id", "embedding", 5,
      nCells = 4, nProbe = 1, sampleN = 120)
    val rows = out.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    // every neighbor found must share the query's cluster (direction)
    assert(rows.nonEmpty)
    assert(rows.forall { case (qid, cid) => qid % 4 == cid % 4 }, rows.take(10))
    val plan = out.queryExecution.executedPlan.toString
    val cellJoin = plan.linesIterator
      .filter(l => l.contains("Join") && l.contains("cell")).mkString("\n")
    assert(cellJoin.nonEmpty && !cellJoin.contains("cv") && !cellJoin.contains("qv"),
      cellJoin)
  }

  test("ivf-pq ANN: planted clusters recovered, candidate join carries codes not vectors") {
    val rng = new graft.corpus.CorpusGen.Rng(19)
    // 4 well-separated direction clusters in 16d
    val vecs = (0L until 120L).map { i =>
      val base = new Array[Float](16)
      base((i % 4).toInt * 4) = 1.0f
      (i, base.map(x => x + rng.nextDouble().toFloat * 0.05f))
    }.toDF("vec_id", "embedding")
    val q = vecs.filter($"vec_id" < 4)
    val out = Similarity.ivfPqTopK(spark, vecs, q, "vec_id", "embedding", 5,
      nCells = 4, nProbe = 1, m = 4, ksub = 16, sampleN = 120)
    val rows = out.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(rows.nonEmpty)
    assert(rows.forall { case (qid, cid) => qid % 4 == cid % 4 }, rows.take(10))
    // the cell equi-join must carry the m-byte PQ code, never a vector
    val plan = out.queryExecution.executedPlan.toString
    val cellJoin = plan.linesIterator
      .filter(l => l.contains("Join") && l.contains("cell")).mkString("\n")
    assert(cellJoin.nonEmpty && !cellJoin.contains("cv") && !cellJoin.contains("qv"),
      cellJoin)
  }

  test("ivf-pq ADC ranks a self-query's own vector first") {
    val rng = new graft.corpus.CorpusGen.Rng(23)
    val vecs = (0L until 200L).map(i =>
      (i, Array.fill(16)(rng.nextDouble().toFloat))).toDF("vec_id", "embedding")
    // ×2-scaled copies of 5 vectors: unit-identical → rank-1 must be the original
    val q = vecs.filter($"vec_id" < 5)
      .select(($"vec_id" + 1000L).as("vec_id"),
        org.apache.spark.sql.functions.transform($"embedding",
          x => x * 2.0f).as("embedding"))
    val out = Similarity.ivfPqTopK(spark, vecs, q, "vec_id", "embedding", 3,
      nCells = 8, nProbe = 2, m = 4, ksub = 32, sampleN = 200)
    val rank1 = out.filter($"rank" === 1).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toMap
    (0L until 5L).foreach(i => assert(rank1(i + 1000L) == i, s"query $i"))
  }

  test("ivf-pq fails fast (no driver OOM) when the query side exceeds maxQueries") {
    val rng = new graft.corpus.CorpusGen.Rng(29)
    val vecs = (0L until 50L).map(i =>
      (i, Array.fill(8)(rng.nextDouble().toFloat))).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Similarity.ivfPqTopK(spark, vecs, vecs, "vec_id", "embedding", 3,
        nCells = 4, nProbe = 1, m = 4, ksub = 16, sampleN = 50,
        maxQueries = 10)
    }
    assert(e.getMessage.contains("maxQueries"), e.getMessage)
  }

  test("language id: distinctive marker words win; short text is und") {
    assert(TextOps.detectLanguage("der hund ist nicht in das haus und der garten") == "de")
    assert(TextOps.detectLanguage("le chat est dans la maison et le jardin") == "fr")
    assert(TextOps.detectLanguage("x") == "und")
  }

  test("deterministic sampling: reproducible, rate-accurate, stratified") {
    val ids = (0L until 20000L).map(i => (i, if (i % 2 == 0) "en" else "xx"))
      .toDF("id", "lang")
    val kept = TextOps.stratifiedSample(ids, "id", "lang",
      Map("en" -> 0.5), defaultRate = 0.05, salt = "s1")
    val byLang = kept.groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // 10k per stratum: binomial 3-sigma bounds
    assert(math.abs(byLang("en") - 5000L) < 500, byLang)
    assert(math.abs(byLang("xx") - 500L) < 200, byLang)
    // exact reproducibility across invocations
    val again = TextOps.stratifiedSample(ids, "id", "lang",
      Map("en" -> 0.5), defaultRate = 0.05, salt = "s1")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(again == kept.select("id").collect().map(_.getLong(0)).toSet)
    // salt changes the sample
    val salted = TextOps.stratifiedSample(ids, "id", "lang",
      Map("en" -> 0.5), defaultRate = 0.05, salt = "s2")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(salted != again)
  }

  test("pii redaction and token windows: hand-checked edges") {
    val df = Seq(
      (1L, "mail a.b@x.co or ring +44 20 7946 0958 iban DE44500105175407324931 end"),
      (2L, "three little tokens"),
      (3L, "")).toDF("doc_id", "text")
    val red = df.select($"doc_id", TextOps.redactPii($"text").as("r"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(red(1L).contains("[EMAIL]") && red(1L).contains("[PHONE]") &&
      red(1L).contains("[IBAN]"), red(1L))
    assert(!red(1L).contains("@") && !red(1L).contains("0958"), red(1L))
    assert(red(2L) == "three little tokens")
    val win = TextOps.tokenWindows(spark, df, "doc_id", "text",
        window = 2, stride = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(win.filter(_._1 == 2L).map(_._3).toSeq ==
      Seq("three little", "little tokens", "tokens"))
    assert(!win.exists(_._1 == 3L)) // empty text -> no windows
  }

  test("gopher filter: hand-built docs trip specific rules; clean doc keeps") {
    // clean: 60 distinct tokens incl. 2 stopwords, mean len ~6, no repeats
    val clean = ((0 until 58).map(i => s"word$i") ++ Seq("the", "a")).mkString(" ")
    // mean word length 2 chars (< 3): 60 × "xx"
    val shortToks = (0 until 60).map(_ => "xx").mkString(" ")
    // punct-heavy but mean length in range and 2 stopwords present
    val punct = (Seq("the", "a") ++ (0 until 58).map(_ => "a!!")).mkString(" ")
    // 6 identical 10-token lines (3-char filler keeps mean ≥ 3)
    val line = (Seq("the", "a") ++ (1 to 8).map(i => f"w$i%02d")).mkString(" ")
    val dupLines = Seq.fill(6)(line).mkString("\n")
    // one line, dominated by a repeated 3-token phrase
    val dupTri = (Seq("the", "a") ++ Seq.fill(18)(Seq("xxx", "yyy", "zzz")).flatten).mkString(" ")
    val docs = Seq(
      (1L, clean), (2L, "short doc the a"), (3L, shortToks),
      (4L, punct), (5L, dupLines), (6L, dupTri)).toDF("doc_id", "body")
    val got = TextOps.filterGopher(spark, docs, "doc_id", "body")
      .collect().map(r => (r.getLong(0), (r.getBoolean(1), Option(r.getString(2))))).toMap
    assert(got(1L) == ((true, None)), got(1L))
    assert(got(2L) == ((false, Some("too_few_tokens"))), got(2L))
    assert(got(3L) == ((false, Some("bad_mean_word_len"))), got(3L))
    assert(got(4L) == ((false, Some("high_punct_ratio"))), got(4L))
    assert(got(5L) == ((false, Some("high_dup_lines"))), got(5L))
    assert(got(6L) == ((false, Some("high_dup_trigrams"))), got(6L))
  }

  test("c4 filter: line rules (terminal punct + >=5 words) and doc rules in precedence order") {
    val goodLine = "one two three four five."     // kept
    val shortLine = "too short line."             // 3 words -> rejected
    val noPunct = "six seven eight nine ten more" // no terminal punct -> rejected
    val docs = Seq(
      (1L, Seq(goodLine, goodLine, goodLine).mkString("\n")),            // keep
      (2L, Seq(goodLine, shortLine, noPunct).mkString("\n")),            // 1 kept < 3
      (3L, Seq(goodLine, goodLine, goodLine, "lorem IPSUM x").mkString("\n")),
      (4L, Seq(goodLine, goodLine, goodLine, "if (x) { y }").mkString("\n")),
      (5L, "lorem ipsum { both }")                                       // lorem wins over brace
    ).toDF("doc_id", "page")
    val got = TextOps.filterC4(spark, docs, "doc_id", "page")
      .collect().map(r => (r.getLong(0),
        (r.getLong(1), r.getLong(2), r.getBoolean(3), Option(r.getString(4))))).toMap
    assert(got(1L) == ((3L, 3L, true, None)), got(1L))
    assert(got(2L) == ((3L, 1L, false, Some("too_few_sentences"))), got(2L))
    assert(got(3L) == ((4L, 3L, false, Some("lorem_ipsum"))), got(3L))
    assert(got(4L) == ((4L, 3L, false, Some("brace"))), got(4L))
    assert(got(5L) == ((1L, 0L, false, Some("lorem_ipsum"))), got(5L))
  }

  test("line dedup: corpus-frequency boilerplate found; unique lines untouched") {
    val footer = "subscribe to our newsletter"
    val docs = (1L to 6L).map { id =>
      (id, Seq(s"unique body line $id", footer).mkString("\n"))
    } :+ (7L, "all unique here\nnothing shared")
    val got = TextOps.lineDedupStats(spark, docs.toDF("doc_id", "page"),
        "doc_id", "page", minDf = 5)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // footer appears in 6 >= 5 docs -> boilerplate for each of them
    (1L to 6L).foreach(id => assert(got(id) == ((2L, 1L, 500L)), got(id)))
    assert(got(7L) == ((2L, 0L, 0L)), got(7L))
  }

  test("vocab: tf/df counts and deterministic tf-desc/token-asc ranking") {
    val docs = Seq(
      (1L, "apple apple banana"),
      (2L, "apple cherry cherry banana"),
      (3L, "banana")).toDF("doc_id", "body")
    val rows = TextOps.vocab(spark, docs, "doc_id", "body", 10)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // apple tf=3 df=2; banana tf=3 df=3; cherry tf=2 df=1
    assert(rows.toSeq == Seq(
      (1L, "apple", 3L, 2L),
      (2L, "banana", 3L, 3L),
      (3L, "cherry", 2L, 1L)), rows.toSeq)
  }

  test("decontaminate: only docs sharing an exact 13-gram with the benchmark are marked") {
    val shared = (0 until 13).map(i => s"s$i").mkString(" ")
    val train = Seq(
      (1L, s"lead tokens $shared trailing stuff"),      // contains the gram
      (2L, (0 until 20).map(i => s"u$i").mkString(" ")), // clean
      (3L, shared.split(" ").dropRight(1).mkString(" ") + " different"), // 12 shared only
      (4L, "too short")).toDF("doc_id", "body")
    val bench = Seq((100L, s"benchmark context $shared more context"))
      .toDF("doc_id", "body")
    val got = TextOps.decontaminate(spark, train, bench, "doc_id", "body")
      .collect().map(r => (r.getLong(0), r.getBoolean(1))).toMap
    assert(got == Map(1L -> true, 2L -> false, 3L -> false, 4L -> false), got)
    // benchmark side must broadcast: the train explode never shuffles
    val plan = TextOps.decontaminate(spark, train, bench, "doc_id", "body")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      plan.take(1500))
  }

  test("decontaminate agrees with brute-force set overlap on random corpora") {
    val rng = new graft.corpus.CorpusGen.Rng(41)
    val alphabet = Vector("aa", "bb", "cc", "dd", "ee")
    def randDoc(): String = {
      val len = 8 + (math.abs(rng.nextLong()) % 20).toInt
      (0 until len).map(_ => alphabet((math.abs(rng.nextLong()) % 5).toInt))
        .mkString(" ")
    }
    val n = 4
    val train = (1L to 40L).map(id => (id, randDoc()))
    val bench = (100L to 104L).map(id => (id, randDoc()))
    def gramsOf(t: String): Set[String] = {
      val toks = t.split(" ")
      if (toks.length < n) Set.empty
      else toks.sliding(n).map(_.mkString(" ")).toSet
    }
    val benchGrams = bench.iterator.flatMap(b => gramsOf(b._2)).toSet
    val expected = train.map { case (id, t) =>
      id -> gramsOf(t).exists(benchGrams.contains)
    }.toMap
    val got = TextOps.decontaminate(spark, train.toDF("doc_id", "body"),
        bench.toDF("doc_id", "body"), "doc_id", "body", n)
      .collect().map(r => (r.getLong(0), r.getBoolean(1))).toMap
    assert(got == expected, (got.toSet -- expected.toSet).toString)
    // the small alphabet must actually produce overlap both ways
    assert(expected.values.exists(identity) && expected.values.exists(!_))
  }

  test("capPerSource: top-N per source by order column, deterministic tiebreak") {
    val docs = (1L to 25L).map(i => (i, s"src${i % 2}", 100L - (i % 7)))
      .toDF("doc_id", "source", "sz")
    val got = TextOps.capPerSource(docs, "doc_id", "source", "sz", 3)
      .collect().map(r => (r.getString(1), r.getLong(0), r.getLong(2)))
    assert(got.length == 6)
    // src1 = odd ids; sz=100 at ids 7,21; sz=99 at ids 1,15 →
    // top-3 by (sz desc, id asc) = 7, 21, 1
    assert(got.filter(_._1 == "src1").sortBy(_._3).map(_._2).toSeq == Seq(7L, 21L, 1L))
  }

  test("repetition stats: hand-computed duplicate-line/ngram fractions") {
    val text = "spam ham spam ham spam ham\nunique line\nunique line"
    // lines: 3 non-empty, dup 1 → 333; toks span lines: 10 tokens
    // trigrams (8): [shs, hsh, shs, hsh, shu, hul, ulu, lul] → distinct 6,
    //   dup 2/8 → 250
    // bigrams (9): top "spam ham" ×3 / 9 → 333
    val df = Seq((1L, text), (2L, "one two three four"), (3L, "")).toDF("doc_id", "text")
    val got = TextOps.repetitionStats(spark, df, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got(1L) == ((3L, 333L, 250L, 333L)), got(1L))
    assert(got(2L) == ((1L, 0L, 0L, 333L)), got(2L)) // 3 distinct bigrams, max 1/3
    assert(got(3L) == ((0L, 0L, 0L, 0L)))
  }

  test("fingerprint is deterministic and order-sensitive") {
    val a = TextOps.fingerprint(Seq("a", "b", "c"))
    assert(a == TextOps.fingerprint(Seq("a", "b", "c")))
    assert(a != TextOps.fingerprint(Seq("c", "b", "a")))
  }

  test("multimodal decode stub: deterministic metadata + frame sampling plan") {
    val df = Seq((1L, "video", "payload-bytes".getBytes),
      (2L, "image", "img".getBytes)).toDF("doc_id", "kind", "payload")
    val meta = Multimodal.decodeMedia(spark, df, "doc_id", "kind", "payload")
    val rows = meta.collect().map(m => m.doc_id -> m).toMap
    assert(rows(1L).duration_ms >= 0 && rows(2L).duration_ms == 0)
    assert(rows(1L).feature.length == 8)
    // determinism
    val again = Multimodal.decodeMedia(spark, df, "doc_id", "kind", "payload")
      .collect().map(m => m.doc_id -> m.width).toMap
    assert(again(1L) == rows(1L).width)
    val frames = Multimodal.sampleFrames(meta, 60000L)
    assert(frames.count() == rows(1L).duration_ms / 60000 +
      (if (rows(1L).duration_ms % 60000 > 0) 1 else 0))
  }

  test("pageRank: integer-micro ranks match an independent reference on a 6-node graph") {
    // ring + doubling + hub edges over ids 0..5; expected vector computed
    // by a standalone (non-Spark, non-SQL) integer implementation of the
    // same recurrence
    val n = 6L
    val edges = (0L until n).flatMap(i =>
      Seq((i, (i + 1) % n), (i, (2 * i) % n), (i, 0L))).toDF("src", "dst")
    val got = graft.ops.Graph.pageRank(spark, edges, iterations = 10,
        scale = 1000000L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = Map(0L -> 412815L, 1L -> 200447L, 2L -> 143788L,
      3L -> 65738L, 4L -> 118579L, 5L -> 58600L)
    assert(got == expected, got)
    // hub (0) dominates; determinism across re-runs
    assert(got(0L) == got.values.max)
    val again = graft.ops.Graph.pageRank(spark, edges.repartition(7), 10,
        scale = 1000000L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == expected) // partitioning-independent (integer math)
    // the distributed iterative path (maxLocalEdges=0 forces it) must be
    // bit-equal to the driver fast path — same integer recurrence
    val dist = graft.ops.Graph.pageRank(spark, edges, 10, maxLocalEdges = 0L,
        scale = 1000000L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dist == expected)
    // default scale auto-derives max(1e6, n*1e6): the 6-node graph gets
    // 6e6 total mass = exactly 6x the pinned vector's grain, so every
    // rank is the pinned value scaled by 6 (the recurrence is linear in
    // scale up to floor truncation; on this graph the division chain is
    // truncation-identical, verified by the exact 6x equality)
    val auto = graft.ops.Graph.pageRank(spark, edges, iterations = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(auto.values.sum > 5L * expected.values.sum, auto)
    assert(auto(0L) == auto.values.max)
  }

  test("resolveHref: absolute kept, relative joined, dots collapsed, decoys dropped") {
    import graft.ops.UrlOps.resolveHref
    val page = "https://Host.example.com/a/b/page.html?q=1"
    assert(resolveHref(page, "http://x.y/z") == Some("http://x.y/z"))
    assert(resolveHref(page, "c.html") == Some("https://Host.example.com/a/b/c.html"))
    assert(resolveHref(page, "../c.html") == Some("https://Host.example.com/a/c.html"))
    assert(resolveHref(page, "../../../c.html") == Some("https://Host.example.com/c.html"))
    assert(resolveHref(page, "./d/") == Some("https://Host.example.com/a/b/d/"))
    assert(resolveHref(page, "/e") == Some("https://Host.example.com/e"))
    assert(resolveHref(page, "//cdn.z/w") == Some("https://cdn.z/w"))
    assert(resolveHref(page, "#sec") == None)
    assert(resolveHref(page, "javascript:void(0)") == None)
    assert(resolveHref(page, "mailto:a@b") == None)
    assert(resolveHref(page, "") == None)
    assert(resolveHref("not-a-url", "x.html") == None)
  }

  test("strip-dup-substrings: shared 20-gram runs cut, unique text survives verbatim") {
    val shared = (0 until 30).map(i => s"dup$i").mkString(" ")
    val df = Seq(
      (1L, s"alpha bravo $shared charlie delta"),
      (2L, s"$shared echo foxtrot"),
      (3L, "totally unrelated words that appear nowhere else at all"))
      .toDF("id", "text")
    val got = TextOps.stripDupSubstrings(spark, df, "id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    // the 30 shared tokens are covered in both docs; doc-unique pre/post
    // text survives in order
    assert(got(1L) == (("alpha bravo charlie delta", 34L, 30L)), got(1L))
    assert(got(2L) == (("echo foxtrot", 32L, 30L)), got(2L))
    assert(got(3L)._1 == "totally unrelated words that appear nowhere else at all")
    assert(got(3L)._3 == 0L)
  }

  test("mojibake repair: single + double corruption undone, genuine accents untouched") {
    import graft.ops.TextOps.{corruptAsMojibake => corrupt, fixMojibake}
    val clean = "naïve café — “quoted” übermaß"
    assert(fixMojibake(corrupt(clean)) == clean)
    assert(fixMojibake(corrupt(corrupt(clean))) == clean) // double mojibake
    assert(fixMojibake("À la carte, s'il vous plaît") == "À la carte, s'il vous plaît")
    assert(fixMojibake("plain ascii stays") == "plain ascii stays")
    assert(fixMojibake(null) == null)
  }

  test("nfc_normalize expression: composes combining sequences inside codegen") {
    val df = Seq(("Cafe\u0301", 1), ("already café", 2), (null, 3))
      .toDF("s", "id")
    val out = df.select(org.apache.spark.sql.functions.col("id"),
        graft.functions.GraftFunctions.nfc_normalize(
          org.apache.spark.sql.functions.col("s")).as("n"))
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(out(1) == "Café")
    assert(out(2) == "already café")
    assert(out(3) == null)
    // normalizeText: NFC then control strip, one projection
    val norm = df.select(graft.ops.TextOps.normalizeText(
      org.apache.spark.sql.functions.concat(
        org.apache.spark.sql.functions.lit("x\u0007y "),
        org.apache.spark.sql.functions.col("s"))).as("t"))
      .collect().map(_.getString(0))
    assert(norm.contains("xy Café"))
  }

  test("url canonicalization edges: bare path, kept port, tracking-only query, cc-SLD") {
    import graft.ops.UrlOps
    val urls = Seq(
      "https://Example.COM",                       // no path -> /
      "http://www.a.example.com:80/x/",            // www + default port + slash
      "https://b.example.com:8443/y?gclid=1&ref=z",// kept port, all params tracked
      "HTTP://news.bbc.CO.UK/art?b=2&a=1#frag"     // cc-SLD + param sort + frag
    ).zipWithIndex.map { case (u, i) => (i.toLong, u) }.toDF("id", "url")
    val host = UrlOps.hostOf(org.apache.spark.sql.functions.col("url"))
    val got = urls.select(org.apache.spark.sql.functions.col("id"),
        UrlOps.canonicalizeUrl(org.apache.spark.sql.functions.col("url")).as("c"),
        UrlOps.registrableDomain(host).as("d"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    assert(got(0L) == ("https://example.com/", "example.com"))
    assert(got(1L) == ("http://a.example.com/x", "example.com"))
    assert(got(2L) == ("https://b.example.com:8443/y", "example.com"))
    assert(got(3L) == ("http://news.bbc.co.uk/art?a=1&b=2", "bbc.co.uk"))
  }

  test("analysis patterns: email/phone/iban extraction with cleanup") {
    // NB: the reference's IBAN regex (analysis/patterns.py:10-13) requires 7
    // consecutive digits — compact IBANs match, fully-spaced ones don't
    val spans = Seq(("d1",
      "write to First.Last@Example.org or call +49 (30) 1234-5678 iban DE44500105175407324931 end"))
      .toDF("doc_id", "text")
    val tags = graft.analysis.Analyze.extractPatterns(spans)
      .collect().map(r => (r.getString(1), r.getString(2))).toSet
    assert(tags.contains(("emailMentioned", "First.Last@Example.org")))
    assert(tags.exists { case (p, v) => p == "phoneMentioned" && v.contains("4930") })
    assert(tags.exists { case (p, v) => p == "ibanMentioned" && v.startsWith("DE44") })
  }

  test("semDedup: copies and near-dups pruned within clusters, distinct points kept") {
    import org.apache.spark.sql.functions.col
    val dim = 8
    def vec(dir: Int, wiggle: Double, scale: Double): Array[Float] = {
      val v = new Array[Float](dim)
      v(dir) = scale.toFloat
      v((dir + 1) % dim) = (wiggle * scale).toFloat
      v
    }
    // two well-separated direction clusters; members pairwise cos ≈ 0.95
    val rows = Seq(
      0L -> vec(0, 0.15, 1.0), 1L -> vec(0, -0.15, 1.0),
      2L -> vec(0, 0.0, 1.0),
      5L -> vec(3, 0.15, 1.0), 6L -> vec(3, -0.15, 1.0),
      // exact-direction copies (cos = 1): must be removed
      10L -> vec(0, 0.15, 2.0), 11L -> vec(0, 0.15, 4.0),
      12L -> vec(3, 0.15, 2.0),
      // near-dup of id 2 (cos ≈ 0.99997): removed at τ = 0.999
      13L -> { val v = vec(0, 0.0, 1.0); v(1) = 0.008f; v })
    val df = rows.toDF("vec_id", "embedding")
    val removed = Similarity
      .semDedup(spark, df, "vec_id", "embedding", 0.999, nClusters = 2)
      .collect().map(_.getLong(0)).toSet
    assert(removed == Set(10L, 11L, 12L, 13L), removed)
    // maxCluster guard: capping cluster size to 1 means no pairs anywhere
    val capped = Similarity.semDedup(spark, df, "vec_id", "embedding", 0.999,
      nClusters = 2, maxCluster = 1).count()
    assert(capped == 0L)
    // lower threshold prunes the whole cluster down to its min-id exemplar
    val aggressive = Similarity
      .semDedup(spark, df, "vec_id", "embedding", 0.9, nClusters = 2)
      .collect().map(_.getLong(0)).toSet
    assert(!aggressive.contains(0L) && !aggressive.contains(5L))
    assert(aggressive.contains(2L) && aggressive.contains(6L))
  }

  test("bpeMerges: the Sennrich low/lower/newest/widest example, exact merge order") {
    val docs = Seq(
      (0L, Array.fill(5)("low").mkString(" ")),
      (1L, Array.fill(2)("lower").mkString(" ")),
      (2L, Array.fill(6)("newest").mkString(" ")),
      (3L, Array.fill(3)("widest").mkString(" "))).toDF("doc_id", "text")
    val merges = TextOps.bpeMerges(spark, docs, "text", 12)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    val expected = Seq(
      (1L, "e", "s", 9L), (2L, "es", "t", 9L), (3L, "est", "</w>", 9L),
      (4L, "l", "o", 7L), (5L, "lo", "w", 7L), (6L, "e", "w", 6L),
      (7L, "ew", "est</w>", 6L), (8L, "n", "ewest</w>", 6L),
      (9L, "low", "</w>", 5L),
      (10L, "d", "est</w>", 3L), (11L, "i", "dest</w>", 3L),
      (12L, "w", "idest</w>", 3L))
    assert(merges.toSeq == expected, merges.mkString("\n"))
    // exhaustion: a 1-letter-word corpus has no pairs beyond (c, </w>)
    val tiny = Seq((0L, "a a b")).toDF("doc_id", "text")
    val m2 = TextOps.bpeMerges(spark, tiny, "text", 10).collect()
    assert(m2.length == 2) // (a,</w>) then (b,</w>) — then exhausted
  }

  test("bpeMerges: driver fast path and distributed loop produce the identical merge table") {
    val docs = Seq(
      (0L, Array.fill(5)("low").mkString(" ")),
      (1L, Array.fill(2)("lower").mkString(" ")),
      (2L, Array.fill(6)("newest").mkString(" ")),
      (3L, Array.fill(3)("widest lowest rower").mkString(" "))).toDF("doc_id", "text")
    val fast = TextOps.bpeMerges(spark, docs, "text", 20)
      .collect().map(_.toSeq).toSeq
    // localVocabThreshold = 0 forces the distributed argmax loop
    val dist = TextOps.bpeMerges(spark, docs, "text", 20,
      localVocabThreshold = 0L).collect().map(_.toSeq).toSeq
    assert(fast == dist,
      s"fast=${fast.mkString("\n")}\ndist=${dist.mkString("\n")}")
  }

  test("bpeMerges: sample-bounded training runs 80 merges in bounded time, deterministically") {
    // a vocabulary rich enough to survive 80 merges: 400 synthetic docs
    // over composite words
    val roots = Array("inter", "nation", "al", "iz", "ation", "under",
      "stand", "ing", "re", "con", "struct", "ed", "over", "whelm",
      "develop", "ment", "trans", "form", "er", "pre", "process")
    val docs = (0L until 400L).map { i =>
      val w1 = roots(i.toInt % roots.length) + roots((i.toInt * 7 + 3) % roots.length)
      val w2 = roots((i.toInt * 5 + 1) % roots.length) + roots((i.toInt * 11 + 2) % roots.length)
      (i, s"$w1 $w2 $w1$w2 common words appear everywhere")
    }.toDF("doc_id", "text")
    val t0 = System.nanoTime()
    val m1 = TextOps.bpeMerges(spark, docs, "text", merges = 80,
      trainFraction = 0.5, checkpointEvery = 16).collect()
    val secs = (System.nanoTime() - t0) / 1e9
    assert(m1.length == 80, s"got ${m1.length} merges")
    // checkpointEvery keeps the replace-chain lineage cut: 80 merges must
    // not blow up Catalyst analysis (generous wall bound for steal)
    assert(secs < 120.0, s"80 sampled merges took $secs s")
    // the content-hash sample is deterministic: identical merge table on
    // a re-run and under a different partitioning
    val m2 = TextOps.bpeMerges(spark, docs.repartition(7), "text",
      merges = 80, trainFraction = 0.5, checkpointEvery = 16).collect()
    assert(m1.map(_.toSeq).toSeq == m2.map(_.toSeq).toSeq)
    // the sample really is a subset: fraction 0.5 must see fewer word
    // occurrences than the full corpus for the top merge
    val full = TextOps.bpeMerges(spark, docs, "text", merges = 1).collect()(0)
    val half = TextOps.bpeMerges(spark, docs, "text", merges = 1,
      trainFraction = 0.5).collect()(0)
    assert(half.getLong(3) < full.getLong(3),
      s"sampled pair_count ${half.getLong(3)} !< full ${full.getLong(3)}")
  }

  test("dsirWeights: target-like documents outscore off-domain ones; n_feats exact") {
    import org.apache.spark.sql.functions.col
    val docs = Seq(
      // targets (id % 10 == 0): the in-domain topic
      (0L, "alpha beta gamma alpha beta"),
      (10L, "alpha gamma beta gamma"),
      (20L, "beta alpha gamma alpha"),
      // non-target doc that LOOKS in-domain: should score high
      (1L, "alpha beta gamma alpha"),
      // off-domain docs
      (2L, "delta epsilon zeta delta epsilon"),
      (3L, "zeta epsilon delta zeta")).toDF("doc_id", "text")
    val w = TextOps.dsirWeights(spark, docs, "doc_id", "text",
        col("doc_id") % 10 === 0)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // n_feats = tokens + bigrams
    assert(w(0L)._1 == 5 + 4)
    assert(w(3L)._1 == 4 + 3)
    // in-domain content scores above off-domain regardless of target flag
    assert(w(1L)._2 > w(2L)._2, w)
    assert(w(1L)._2 > w(3L)._2)
    assert(w(0L)._2 > w(2L)._2)
    // off-domain docs have negative importance weight (rarer under target)
    assert(w(2L)._2 < 0 && w(3L)._2 < 0)
  }

  test("dedupAgainst flags exactly the batch rows whose text exists in prior") {
    val prior = Seq((100L, "seen before"), (101L, "also seen"))
      .toDF("doc_id", "text")
    val batch = Seq((1L, "seen before"), (2L, "brand new"),
      (3L, "also seen"), (4L, "seen before"), (5L, "another new one"))
      .toDF("doc_id", "text")
    val out = Dedup.dedupAgainst(spark, prior, batch, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(out == Map(1L -> true, 2L -> false, 3L -> true, 4L -> true,
      5L -> false))
    // batch-internal duplicates (1 and 4) are both flagged vs prior but
    // NOT deduped against each other — that's Dedup.exact's job
  }

  test("packSequences: straddle, exact-boundary, and empty docs") {
    // L=5; doc 1: 3 toks [0,3); doc 2: 4 toks [3,7) straddles chunks 0/1;
    // doc 3: empty (skipped); doc 4: 3 toks [7,10) ends exactly at the
    // chunk-1 boundary; doc 5: 1 tok opens chunk 2 at offset 10.
    val docs = Seq(
      (1L, "a b c"), (2L, "d e f g"), (3L, "   "),
      (4L, "h i j"), (5L, "k")).toDF("doc_id", "text")
    val segs = TextOps.packSequences(spark, docs, "doc_id", "text", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2))
    assert(segs.toSeq == Seq(
      (0L, 1L, 0L, 3L),   // whole doc 1 in chunk 0
      (0L, 2L, 0L, 2L),   // doc 2 head fills chunk 0
      (1L, 2L, 2L, 2L),   // doc 2 tail opens chunk 1
      (1L, 4L, 0L, 3L),   // doc 4 closes chunk 1 exactly
      (2L, 5L, 0L, 1L)))  // doc 5 opens chunk 2
    // every chunk but the last is exactly full
    val byChunk = segs.groupBy(_._1).view.mapValues(_.map(_._4).sum).toMap
    assert(byChunk(0L) == 5 && byChunk(1L) == 5 && byChunk(2L) == 1)
  }

  test("corpusStats rolls up docs/tokens/chars/distinct per dims") {
    val docs = Seq(
      (1L, "a b c", "s1", "en"), (2L, "a b c", "s1", "en"),
      (3L, "d e", "s1", "de"), (4L, "f", "s2", "en"))
      .toDF("doc_id", "text", "source", "lang")
    val out = TextOps.corpusStats(docs, "text", Seq("source", "lang"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))))
      .toMap
    assert(out(("s1", "en")) == ((2L, 6L, 10L, 1L, 3000L))) // dup text -> 1 uniq
    assert(out(("s1", "de")) == ((1L, 2L, 3L, 1L, 2000L)))
    assert(out(("s2", "en")) == ((1L, 1L, 1L, 1L, 1000L)))
  }

  test("packInterleaved counts media spans as one position each") {
    import graft.core.Span
    // doc 1: 3 text tokens + 2 media = 5 positions (fills chunk 0 at L=5);
    // doc 2: 1 media + 6 text tokens = 7 positions -> chunks 1 and 2
    val docs = Seq(
      (1L, Seq(Span("text", "a b", "", 0), Span("image", "", "m1", 2),
        Span("text", "c", "", 3), Span("audio", "", "m2", 4))),
      (2L, Seq(Span("video", "", "m3", 0), Span("text", "d e f", "", 1),
        Span("text", "g h i", "", 4)))).toDF("doc_id", "spans")
    val segs = graft.ops.SpanOps.packInterleaved(spark, docs,
        contextLen = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2))
    assert(segs.toSeq == Seq(
      (0L, 1L, 0L, 5L), (1L, 2L, 0L, 5L), (2L, 2L, 5L, 2L)))
  }

  test("minePairs: nearest text wins, following on distance ties, no-text docs emit -1") {
    import graft.core.Span
    val docs = Seq(
      // media@1 ties text@0 vs text@2 -> following (pos 2) wins
      (1L, Seq(Span("text", "before", "", 0), Span("image", "", "m1", 1),
        Span("text", "after", "", 2))),
      // blank text@1 is not a candidate; media@0 and audio@3 both pair
      // with text@2 (the only candidate)
      (2L, Seq(Span("image", "", "m2", 0), Span("text", "  ", "", 1),
        Span("text", "cap", "", 2), Span("audio", "", "m3", 3))),
      // no candidate text at all -> caption_pos -1, null caption
      (3L, Seq(Span("image", "", "m4", 0))),
      // media with empty ref is not a pairing subject
      (4L, Seq(Span("image", "", "", 0), Span("text", "x", "", 1)))
    ).toDF("doc_id", "spans")
    val out = graft.ops.SpanOps.minePairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
        Option(r.getString(4))))
      .sortBy(t => (t._1, t._2))
    assert(out.toSeq == Seq(
      (1L, 1L, "m1", 2L, Some("after")),
      (2L, 0L, "m2", 2L, Some("cap")),
      (2L, 3L, "m3", 2L, Some("cap")),
      (3L, 0L, "m4", -1L, None)))
  }

  test("selectByBudget: strict-prefix window semantics — overflow consumes budget") {
    import org.apache.spark.sql.functions.col
    val docs = Seq(
      (1L, 5L, "a b c"), // score 5, n 3
      (2L, 9L, "a b c d"), // score 9, n 4 -> first in order
      (3L, 5L, "a b"), // score 5, n 2 (id tiebreak after id 1)
      (4L, 1L, "a"), // score 1, n 1
      (5L, 9L, "") // empty -> filtered before ranking
    ).toDF("id", "score", "text")
    // order: id2 cum 4, id1 cum 7, id3 cum 9, id4 cum 10; budget 8 keeps
    // {id2, id1}; id3 overflows but still consumed 2 tokens, so id4
    // (cum 10) must NOT back-fill
    val out = graft.ops.TextOps.selectByBudget(spark, docs, "id", "text",
      col("score"), budgetTokens = 8L)
    val rows = out.collect().map(r => (r.getLong(0), r.getLong(3))).sortBy(_._1)
    out.unpersist(false)
    assert(rows.toSeq == Seq((1L, 7L), (2L, 4L)))
  }

  test("shardCorpus: shard + rank match an independent md5 derivation; stable under growth") {
    import org.apache.spark.sql.functions.col
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    def expect(ids: Seq[Long], n: Int, salt: String): Seq[(Long, Long, Long)] = {
      val keyed = ids.map(id => (id, md5hex(s"$id$salt")))
      val thrs = (1 until n).map(i => f"${(i.toLong << 24) / n}%06x")
      val sharded = keyed.map { case (id, h) =>
        (id, thrs.count(t => h.substring(0, 6) >= t).toLong, h) }
      sharded.groupBy(_._2).toSeq.flatMap { case (sh, grp) =>
        grp.sortBy(g => (g._3, g._1)).zipWithIndex
          .map { case ((id, _, _), i) => (id, sh, i + 1L) }
      }.sortBy(_._1)
    }
    val ids = (1L to 200L)
    val out = graft.ops.TextOps.shardCorpus(
        ids.toDF("doc_id"), "doc_id", 8, "x").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    assert(out == expect(ids, 8, "x"))
    // growth stability: adding docs never reorders survivors relative to
    // each other (their pairwise within-shard order is pinned by the key)
    val grown = graft.ops.TextOps.shardCorpus(
        (1L to 400L).toDF("doc_id"), "doc_id", 8, "x").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val oldOrder = out.groupBy(_._2).view.mapValues(_.sortBy(_._3).map(_._1)).toMap
    val newOrder = grown.filter(_._1 <= 200L).groupBy(_._2).view
      .mapValues(_.sortBy(_._3).map(_._1)).toMap
    assert(oldOrder == newOrder)
    // regression: a large shard count must stay O(1) per row — the
    // per-threshold cascade was a depth-n expression tree that overflowed
    // the planner stack at nShards=1024 in the 4M soak
    val wide = graft.ops.TextOps.shardCorpus(
        (1L to 2000L).toDF("doc_id"), "doc_id", 1024, "x").collect()
      .map(r => r.getLong(1))
    assert(wide.forall(s => s >= 0 && s < 1024) && wide.distinct.length > 500)
  }

  test("mixEpochs: budgets become milli-epochs; fractional draw is deterministic") {
    val docs = Seq(
      (1L, "en", 100L), (2L, "en", 300L), (3L, "de", 200L),
      (4L, "fr", 50L)) // fr has no budget -> excluded
      .toDF("doc_id", "lang", "n_tokens")
    val out = TextOps.mixEpochs(spark, docs, "doc_id", "lang", "n_tokens",
        budgets = Map("en" -> 1000L, "de" -> 100L), salt = "x")
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(3), r.getLong(4), r.getBoolean(5))))
      .toMap
    // en: 1000*1000/400 = 2500 milli -> 2 full epochs + 0.5 extra draw
    assert(out(1L)._1 == 2500L && out(1L)._2 == 2L)
    assert(out(2L)._1 == 2500L)
    // de: 100*1000/200 = 500 milli -> 0 full epochs, 0.5 extra draw
    assert(out(3L)._1 == 500L && out(3L)._2 == 0L)
    assert(!out.contains(4L))
    // the fractional draw is the documented md5 predicate, replayable
    def draw(id: Long, milli: Long): Boolean = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"${id}x".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(6)
      md < f"${milli % 1000 * 16777216 / 1000}%06x"
    }
    Seq(1L, 2L, 3L).foreach(id => assert(out(id)._3 == draw(id, out(id)._1)))
  }

  test("packSequences output is invariant to input partitioning") {
    // the distributed prefix sum must produce identical global offsets
    // at ANY parallelism (the cluster-portability property: a 1000-
    // executor layout and local[4] disagree on partition boundaries,
    // never on results)
    val docs = (1L to 200L).map(i =>
      (i, ("tok " * (1 + (i % 17).toInt)).trim)).toDF("doc_id", "text")
    def run(parts: Int) =
      TextOps.packSequences(spark, docs.repartition(parts), "doc_id",
          "text", 64)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).sortBy(t => (t._1, t._2)).toSeq
    val ref = run(1)
    assert(run(3) == ref)
    assert(run(13) == ref)
  }

  test("bpeEncode reproduces the trainer's final symbol table") {
    val docs = Seq((1L, "low lower lowest low low newer new"),
      (2L, "low lower newer newer wider")).toDF("doc_id", "text")
    val merges = TextOps.bpeMerges(spark, docs, "text", 6)
      .orderBy("step").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    assert(merges.nonEmpty && merges.head == (("l", "o"))) // 'lo' 5x wins
    val enc = TextOps.bpeEncode(spark, docs, "text", merges)
      .collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getLong(2)))).toMap
    // wait-free sanity: counts survive, 'low' fully merges within 6 steps
    assert(enc("low")._2 == 4L)
    assert(enc.keySet == Set("low", "lower", "lowest", "newer", "new", "wider"))
    // every piece string reassembles to word + </w>
    enc.foreach { case (w, (p, _)) =>
      assert(p.replace(" ", "").stripSuffix("</w>") == w) }
    // unsafe merge symbols are rejected (SQL-literal injection guard)
    intercept[IllegalArgumentException] {
      TextOps.bpeEncode(spark, docs, "text", Seq(("a'", "b")))
    }
  }

  test("curateCorpus: each stage's verdict bites") {
    // 30 quality docs (long, stopword-y) + 1 short reject + 1 duplicate
    // pair + 1 contaminated doc; two sources, capped at 3 per source. The
    // three rejects have the highest n_chars in their sources, so only
    // their own verdict keeps each out of the cap. The benchmark text is
    // planted in doc 2 only: every body shares 13-grams with every other.
    val planted = "alpha bravo charlie delta echo foxtrot golf hotel india " +
      "juliet kilo lima mike november oscar"
    val good = (1 to 30).map { i =>
      (i.toLong,
        s"the quick brown fox number $i jumps over the lazy dog and then " +
        "walks on to the river where it sits by the water for a while " +
        "and it is a calm day in the field as the sun sets over the hill " +
        "and the birds are in the trees by the old stone wall tonight" +
        (if (i == 2) s" $planted" else ""),
        "en", if (i % 2 == 0) "srcA" else "srcB", 300L - i)
    }
    val short = Seq((31L, "too short", "en", "srcA", 1000L))
    val dup = Seq((32L, good(0)._2, "en", "srcB", 1000L)) // exact dup of id 1
    val docs = (good ++ short ++ dup)
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val bench = Seq((99L, planted)).toDF("id", "text") // contaminates id 2
    val out = TextOps.curateCorpus(spark, docs, "doc_id", "text", "lang",
        "source", "n_chars", bench, cap = 3,
        rates = Map("en" -> 1.0), defaultRate = 0.0, salt = "s")
      .collect().map(_.getLong(0)).toSet
    assert(out.nonEmpty)
    assert(!out.contains(31L)) // quality gate
    assert(!out.contains(32L)) // exact dedup (id 1 is the min-id survivor)
    assert(!out.contains(2L))  // decontaminated
    assert(out.size <= 6)      // 3 per source max
    assert(out.subsetOf((1L to 30L).toSet))
  }

  test("curateCorpus: returns exactly the expected survivors as a one-node pinned frame") {
    // the verdict test's fixture shape, with the benchmark text planted in
    // doc 2 only (every body shares 13-grams with every other, so a whole
    // body as benchmark would contaminate them all). Expected survivors by
    // the stage rules: 31 fails the quality gate, 32 is an exact dup of 1,
    // 2 is contaminated; the cap then keeps the 3 highest n_chars
    // (300 - id) per source, and rate 1.0 keeps every "en" doc
    val planted = "alpha bravo charlie delta echo foxtrot golf hotel india " +
      "juliet kilo lima mike november oscar"
    val good = (1 to 30).map { i =>
      (i.toLong,
        s"the quick brown fox number $i jumps over the lazy dog and then " +
        "walks on to the river where it sits by the water for a while " +
        "and it is a calm day in the field as the sun sets over the hill " +
        "and the birds are in the trees by the old stone wall tonight" +
        (if (i == 2) s" $planted" else ""),
        "en", if (i % 2 == 0) "srcA" else "srcB", 300L - i)
    }
    val docs = (good ++ Seq((31L, "too short", "en", "srcA", 5L),
        (32L, good(0)._2, "en", "srcB", 1L)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val bench = Seq((99L, planted)).toDF("id", "text")
    val out = TextOps.curateCorpus(spark, docs, "doc_id", "text", "lang",
      "source", "n_chars", bench, cap = 3,
      rates = Map("en" -> 1.0), defaultRate = 0.0, salt = "s")
    assert(out.queryExecution.analyzed
      .isInstanceOf[org.apache.spark.sql.execution.LogicalRDD],
      out.queryExecution.analyzed.treeString)
    val expected = good.filter { case (id, _, _, _, _) =>
        Set(4L, 6L, 8L, 1L, 3L, 5L).contains(id) }
      .map { case (id, text, lang, src, _) =>
        (id, lang, src, text.split("\\s+").count(_.nonEmpty).toLong) }.toSet
    val got = out.collect().map(r =>
      (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
    assert(got == expected)
    out.unpersist(false)
  }

  test("corpusDiff emits churn only, with exact statuses") {
    val prior = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"))
      .toDF("id", "text")
    val current = Seq((2L, "b"), (3L, "c CHANGED"), (4L, "d"), (5L, "e"))
      .toDF("id", "text")
    val out = Dedup.corpusDiff(prior, current, "id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "removed", 3L -> "changed", 5L -> "added"))
  }

  test("bpeRoundtrip: decode∘encode is identity; merges shrink n_pieces") {
    val docs = Seq((1L, "low lower lowest low"), (2L, "NOPE 123 !!"),
      (3L, "low low")).toDF("doc_id", "text")
    val merges = Seq(("l", "o"), ("lo", "w"), ("low", "</w>"))
    val out = TextOps.bpeRoundtrip(docs, "doc_id", "text", merges)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(out(1L)._1 == "low lower lowest low")
    // "low</w>"=1 piece, "low e r </w>"=4, "low e s t </w>"=5, "low</w>"=1
    assert(out(1L)._2 == 11L)
    // "NOPE" lowercases into vocab (5 unmerged pieces); digits/punct drop
    assert(out(2L) == (("nope", 5L)))
    assert(out(3L) == (("low low", 2L)))
    // without merges the same docs char-split: "l o w </w>" = 4 pieces each
    val un = TextOps.bpeRoundtrip(docs, "doc_id", "text", Nil)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(un(3L) == 8L)
  }

  test("urlFilter: first-match-wins across host/domain/pattern rules") {
    val urls = Seq(
      (1L, "https://site2.example.com/Path1"),         // host rule
      (2L, "https://site2.example.com:8080/Path1"),    // port ≠ host rule; ok
      (3L, "http://www.site4.example.co.uk:80/x"),     // domain rule
      (4L, "https://site1.example.com/a?z=9"),         // pattern0
      (5L, "https://site1.example.com/Path25"),        // pattern1
      (6L, "https://site2.example.com/a?z=9"),         // host beats pattern
      (7L, "https://site1.example.com/Path3")          // ok
    ).toDF("id", "url")
    val out = urls.select($"id", graft.ops.UrlOps.urlFilter($"url",
        Seq("site2.example.com"), Seq("example.co.uk"),
        Seq("""\?.*z=9""", "/Path2[0-9]")).as("v"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "blocked:host", 2L -> "ok",
      3L -> "blocked:domain", 4L -> "blocked:pattern0",
      5L -> "blocked:pattern1", 6L -> "blocked:host", 7L -> "ok"))
  }

  test("collapseRepeatedLines: uniq semantics, non-adjacent repeats survive") {
    val docs = Seq(
      (1L, "a\na\nb\na\na\na\nc"), // adjacent runs collapse, the later 'a' run is separate
      (2L, "x"),                     // single line untouched
      (3L, ""),                      // empty doc
      (4L, "m\nm")
    ).toDF("id", "text")
    val out = TextOps.collapseRepeatedLines(docs, "id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(out(1L) == (("a\nb\na\nc", 3L)))
    assert(out(2L) == (("x", 0L)))
    assert(out(3L) == (("", 0L)))
    assert(out(4L) == (("m", 1L)))
  }

  test("splitColumn: partition is exhaustive, stable, and ~98/1/1") {
    val ids = (0L until 20000L).toDF("id")
    val out = ids.select($"id",
        TextOps.splitColumn($"id", "graft", 0.98, 0.01).as("s"))
      .groupBy("s").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out.keySet == Set("train", "val", "test"))
    assert(out.values.sum == 20000L)
    assert(out("train") > 19400 && out("train") < 19800, out.toString)
    assert(out("val") > 100 && out("val") < 320, out.toString)
    // stability: membership is per-id, independent of the rest of the set
    val sub = (0L until 100L).toDF("id").select($"id",
        TextOps.splitColumn($"id", "graft", 0.98, 0.01).as("s"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val full = ids.select($"id",
        TextOps.splitColumn($"id", "graft", 0.98, 0.01).as("s"))
      .filter($"id" < 100).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(sub == full)
  }

  test("splitColumn: cumulative fraction 1.0 is an always-true branch") {
    val ids = (0L until 4096L).toDF("id")
    def dist(tf: Double, vf: Double): Map[String, Long] =
      ids.select(TextOps.splitColumn($"id", "graft", tf, vf).as("s"))
        .groupBy("s").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    // (0.9, 0.1): everything not train must be val — the old 7-char
    // "1000000" threshold string silently sent ~15/16 of val to test
    val d1 = dist(0.9, 0.1)
    assert(!d1.contains("test"), d1)
    assert(d1("val") > 300 && d1("val") < 520, d1)
    // trainFrac = 1.0: everything is train
    assert(dist(1.0, 0.0) == Map("train" -> 4096L))
  }

  test("stripBoilerplateNested: same verdicts as the exploded form on the in-set and semi-join paths") {
    import graft.core.Span
    // 8 docs sharing a footer span (df=8 >= 5); unique bodies; media spans
    val docs = (0L until 8L).map { id =>
      (id.toString, Seq(
        Span("text", s"unique body $id", "", 0),
        Span("image", "", s"m$id", 1),
        Span("text", "shared footer notice", "", 2)))
    }.toDF("doc_id", "spans")
    val nested = graft.ops.SpanOps.stripBoilerplateNested(spark, docs, 5)
    // media survives; footer dropped; unique text kept, order preserved
    val byDoc = nested.collect().map(r => r.getString(0) ->
      r.getSeq[org.apache.spark.sql.Row](1).map(x =>
        (x.getString(0), x.getString(1)))).toMap
    assert(byDoc("3") == Seq(("text", "unique body 3"), ("image", "")))
    // verdict equivalence with the exploded join form
    val exploded = graft.ops.SpanOps.stripBoilerplate(spark, docs, 5)
      .select("doc_id", "kind", "text").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    import org.apache.spark.sql.functions.{col => fcol, explode => fexplode}
    def flat(df: org.apache.spark.sql.DataFrame) = df.select(fcol("doc_id"),
        fexplode(fcol("spans")).as("sp"))
      .select(fcol("doc_id"), fcol("sp.kind"), fcol("sp.text")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(flat(nested) == exploded)
    // a verdict over maxExprSet takes the hash semi-join: same verdicts
    val joined = graft.ops.SpanOps.stripBoilerplateNested(spark, docs,
      minDocs = 5, maxExprSet = 0)
    assert(flat(joined) == exploded)
    nested.unpersist(false)
    joined.unpersist(false)
    // null-text spans: never boilerplate candidates, never stripped, no
    // NPE, in both forms (xxhash64(null) is 42, not SQL null, so both
    // exclude null text explicitly)
    val withNull = (0L until 6L).map { id =>
      (id.toString, Seq(
        Span("text", null, "", 0),
        Span("text", "common chrome", "", 1)))
    }.toDF("doc_id", "spans")
    val strippedNull = graft.ops.SpanOps.stripBoilerplateNested(
      spark, withNull, 5)
    val kinds = strippedNull.collect().map(r =>
      r.getString(0) -> r.getSeq[org.apache.spark.sql.Row](1)
        .map(x => Option(x.getString(1)))).toMap
    assert(kinds("2") == Seq(None)) // null span kept, shared chrome gone
    val explodedNull = graft.ops.SpanOps.stripBoilerplate(spark, withNull, 5)
      .select("doc_id", "text").collect()
      .map(r => r.getString(0) -> Option(r.getString(1))).toSet
    assert(explodedNull ==
      kinds.toSeq.flatMap { case (id, texts) => texts.map(id -> _) }.toSet)
    assert(explodedNull.size == 6)
    strippedNull.unpersist(false)
  }

  test("stripBoilerplateNested: the hash semi-join keeps the in-set probe's rows, repeated and null doc_id included") {
    import graft.core.Span
    // media and null-text spans ride with boilerplate and unique text;
    // doc_id 4 repeats with other spans and one row has a null doc_id;
    // maxExprSet = 0 forces every non-empty verdict set onto the semi-join
    val docs = ((0L until 7L).map { id =>
      (id.toString, Seq(
        Span("text", "site nav", "", 0),
        Span("image", "", s"m$id", 1),
        Span("text", null, "", 2),
        Span("text", s"unique body $id", "", 3),
        Span("text", "shared footer notice", "", 4)))
    } ++ Seq(
      ("4", Seq(Span("text", "shared footer notice", "", 0),
        Span("text", "second copy body", "", 1))),
      (null, Seq(Span("text", "site nav", "", 0),
        Span("text", "null id body", "", 1))))).toDF("doc_id", "spans")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      Option(r.getString(0)) -> r.getSeq[org.apache.spark.sql.Row](1).map(x =>
        (x.getString(0), Option(x.getString(1)), x.getString(2))))
      .toSeq.sortBy(_.toString)
    val inSet = graft.ops.SpanOps.stripBoilerplateNested(spark, docs, 5)
    val joined = graft.ops.SpanOps.stripBoilerplateNested(spark, docs, 5,
      maxExprSet = 0)
    val got = rows(joined)
    assert(got == rows(inSet))
    assert(got.filter(_._1.contains("4")).map(_._2).toSet == Set(
      Seq(("image", Some(""), "m4"), ("text", None, ""),
        ("text", Some("unique body 4"), "")),
      Seq(("text", Some("second copy body"), ""))))
    assert(got.filter(_._1.isEmpty).map(_._2) ==
      Seq(Seq(("text", Some("null id body"), ""))))
    inSet.unpersist(false)
    joined.unpersist(false)
  }

  test("packInterleavedPatches: planted dims change chunk boundaries; missing dims cost 1") {
    import graft.core.Span
    // doc 1: 3 text tokens + image m1 (56x28 @ patch 28 -> 2x1 = 2 patches)
    // doc 2: 2 text tokens + image m2 (dims UNKNOWN -> cost 1)
    val docs = Seq(
      (1L, Seq(Span("text", "a b c", "", 0), Span("image", "", "m1", 3))),
      (2L, Seq(Span("text", "d e", "", 0), Span("image", "", "m2", 2)))
    ).toDF("doc_id", "spans")
    val dims = Seq(("m1", 56, 28)).toDF("media_ref", "width", "height")
    def segs(df: org.apache.spark.sql.DataFrame) = {
      val out = df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      out
    }
    // patch-aware: doc1 n = 3 + 2 = 5, doc2 n = 2 + 1 = 3; contextLen 4:
    // stream = [d1:0..4][d2:5..7] → chunks 0 (d1 0..3), 1 (d1 4 + d2 0..2)
    val patched = segs(graft.ops.SpanOps.packInterleavedPatches(spark, docs,
      dims, patchSize = 28, contextLen = 4))
    assert(patched == Set((0L, 1L, 0L, 4L), (1L, 1L, 4L, 1L),
      (1L, 2L, 0L, 3L)), patched)
    // cost=1 convention (packInterleaved): doc1 n = 4, doc2 n = 3 —
    // DIFFERENT boundaries, proving the dims actually moved them
    val flat = segs(graft.ops.SpanOps.packInterleaved(spark, docs,
      contextLen = 4))
    assert(flat == Set((0L, 1L, 0L, 4L), (1L, 2L, 0L, 3L)), flat)
    // non-multiple dims exercise ceil: 57x29 @ 28 -> 3x2 = 6 patches
    val dims2 = Seq(("m1", 57, 29)).toDF("media_ref", "width", "height")
    val ceiled = segs(graft.ops.SpanOps.packInterleavedPatches(spark, docs,
      dims2, patchSize = 28, contextLen = 4))
    // doc1 n = 3 + 6 = 9 → chunks 0,1,2 (len 4,4,1); doc2 n = 3
    assert(ceiled == Set((0L, 1L, 0L, 4L), (1L, 1L, 4L, 4L),
      (2L, 1L, 8L, 1L), (2L, 2L, 0L, 3L)), ceiled)
  }

  test("single-pass contract: lmScore/dsirWeights/bm25TopK scan the corpus once, stripDupSubstrings twice") {
    // every source row increments an accumulator; a multi-consumer
    // recompute of the tokenize subtree would re-run the map and
    // over-count (the round-4 defect: these ops paid 2-3x the corpus scan)
    def counted(n: Long) = {
      val acc = spark.sparkContext.longAccumulator("src_scans")
      val df = (0L until n).toDF("id").as[Long]
        .map { i =>
          acc.add(1)
          (i, s"alpha tok${i % 7} beta gamma tok${i % 5} delta epsilon " +
            s"shared phrase tail words here now ok yes " * 2)
        }
        .toDF("id", "text")
      (acc, df)
    }
    val (a1, d1) = counted(200)
    TextOps.lmScore(spark, d1, "id", "text").count()
    assert(a1.value == 200L, s"lmScore scans: ${a1.value}")
    val (a2, d2) = counted(200)
    TextOps.dsirWeights(spark, d2, "id", "text", $"id" % 10 === 0).count()
    assert(a2.value == 200L, s"dsirWeights scans: ${a2.value}")
    val (a3, d3) = counted(200)
    TextOps.bm25TopK(spark, d3, "id", "text", Seq("alpha", "tok1"), 5).count()
    assert(a3.value == 200L, s"bm25TopK scans: ${a3.value}")
    // strip = discovery pass + the inherent rewrite pass, nothing more
    val (a4, d4) = counted(200)
    TextOps.stripDupSubstrings(spark, d4, "id", "text", n = 5).count()
    assert(a4.value == 400L, s"stripDupSubstrings scans: ${a4.value}")
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }

  test("sessionize: gap splits, singleton sessions, exact cents/durations") {
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def ts(s: Long) = new java.sql.Timestamp(t0 + s * 1000)
    val ev = Seq(
      (1L, ts(0), 7L, "a", 1.25),     // user 7, session 1
      (2L, ts(60), 7L, "b", 2.0),     // gap 60 ≤ 1800 → same session
      (3L, ts(1862), 7L, "c", 0.75),  // gap 1802 > 1800 → session 2
      (4L, ts(10), 8L, "d", 5.0)      // other user
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = graft.streaming.StreamingIngest.sessionize(ev, 1800L)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(out == Map(
      (7L, 1L) -> ((1L, 2L, 60000000L, 325L)),
      (7L, 2L) -> ((3L, 1L, 0L, 75L)),
      (8L, 1L) -> ((4L, 1L, 0L, 500L))))
  }

  test("robots.txt: RFC 9309 parse, group selection, precedence, anchors") {
    import graft.ops.RobotsTxt
    val txt =
      """# comment
        |User-agent: alpha
        |User-agent: beta
        |Disallow: /private
        |Allow: /private/ok
        |Sitemap: https://x/sitemap.xml
        |User-agent: *
        |Disallow: /tmp*x$
        |Disallow:
        |""".stripMargin
    val g = RobotsTxt.parse(txt)
    assert(g.map(_.agents) == Seq(Seq("alpha", "beta"), Seq("*")))
    // consecutive UA lines share rules; longest-match + allow tie rules
    assert(!RobotsTxt.allowed(txt, "Beta/2.0", "https://h/private/z"))
    assert(RobotsTxt.allowed(txt, "beta", "https://h/private/ok/z"))
    assert(RobotsTxt.allowed(txt, "alpha", "https://h/anything"))
    // unknown agent falls to *: $-anchored wildcard; empty Disallow no-op
    assert(!RobotsTxt.allowed(txt, "gamma", "https://h/tmp/deep/x"))
    assert(RobotsTxt.allowed(txt, "gamma", "https://h/tmp/deep/x/more"))
    assert(RobotsTxt.allowed(txt, "gamma", "https://h/private"))
    // no robots at all → allowed; agent token cut at '/'
    assert(RobotsTxt.allowed("", "any", "https://h/x"))
    // equal-length allow/disallow tie → allow wins
    val tie = "User-agent: *\nDisallow: /abc\nAllow: /ab*\n"
    assert(RobotsTxt.allowed(tie, "x", "https://h/abc"))
    // pathQueryOf: query without path, fragment stripped, bare host
    assert(RobotsTxt.pathQueryOf("https://h?q=1#f") == "/?q=1")
    assert(RobotsTxt.pathQueryOf("https://h") == "/")
    assert(RobotsTxt.pathQueryOf("https://h/a/b?c=2#frag") == "/a/b?c=2")
  }

  test("robots.txt: ignored directives do not terminate a user-agent run (RFC 9309 §2.2.4)") {
    import graft.ops.RobotsTxt
    // crawl-delay between consecutive UA lines must not split the group:
    // both agents share the Disallow
    val txt = "User-agent: a\nCrawl-delay: 1\nUser-agent: b\nDisallow: /\n"
    val g = RobotsTxt.parse(txt)
    assert(g.map(_.agents) == Seq(Seq("a", "b")), g)
    assert(!RobotsTxt.allowed(txt, "a", "https://h/x"))
    assert(!RobotsTxt.allowed(txt, "b", "https://h/x"))
    // an ignored directive after rules still leaves the next UA line
    // starting a fresh group
    val txt2 = "User-agent: a\nDisallow: /\nSitemap: s\nUser-agent: b\nAllow: /\n"
    assert(RobotsTxt.parse(txt2).map(_.agents) == Seq(Seq("a"), Seq("b")))
    assert(!RobotsTxt.allowed(txt2, "a", "https://h/x"))
    assert(RobotsTxt.allowed(txt2, "b", "https://h/x"))
  }

  test("robotsFilter: broadcast host join, missing robots allows") {
    val urls = Seq(
      (1L, "https://a.com/private/x"),
      (2L, "https://a.com/pub"),
      (3L, "https://unknown.com/private/x")
    ).toDF("id", "url")
    val robots = Seq(("a.com", "User-agent: *\nDisallow: /private\n"))
      .toDF("host", "robots_txt")
    val out = graft.ops.UrlOps.robotsFilter(urls, "url", robots,
        "host", "robots_txt", "graftbot")
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(out == Map(1L -> false, 2L -> true, 3L -> true))
  }

  test("anchorTexts: dominant anchor per target, whitespace collapse, decoys") {
    val pages = Seq(
      (1L, """<a href="/x">Buy   now</a><a href="/x">Buy now</a>
             |<a href="/x">other</a><a href="/y">  </a>
             |<a href="#f">Nope</a>""".stripMargin,
        "https://A.com/d/p.html"),
      (2L, """<a href="https://a.com/x">other</a>""", "https://b.com/")
    ).toDF("id", "html", "url")
    val out = graft.ops.UrlOps.anchorTexts(spark, pages, "id", "html", "url")
      .collect().map(r => r.getString(0) -> ((r.getString(1), r.getLong(2)))).toMap
    // "Buy now" (2, whitespace-collapsed) beats "other" (1+1 across pages)
    assert(out == Map("https://a.com/x" -> (("Buy now", 4L))))
  }

  test("quantizeInt8: extremes hit ±127, zero vector stays zero") {
    val vecs = Seq(
      (1L, Array(1.0f, -0.5f, 0.25f, 0.0f)),
      (2L, Array(0.0f, 0.0f)),
      (3L, Array(-2.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.quantizeInt8(vecs, "vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(out(1L) == ((1000000L, "127 -64 32 0")))
    assert(out(2L) == ((0L, "0 0")))
    assert(out(3L) == ((2000000L, "-127 64")))
  }
}
