package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan audits over the real testdata parquet: column pruning and
  * filter pushdown must reach the scans (the 100 TB contract — a scan that
  * reads all columns for a 2-column projection is wrong at any scale). */
class PlanSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sfDir = "/root/testdata/sf0.001"

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** Runs `body` and returns its result with the physical plans (AQE's
    * final plans) of every SQL execution it ran. A pinning operator's
    * returned plan is one node, so its shape lives in these plans. */
  private def executedPlans[T](body: => T): (T, Seq[String]) = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(funcName: String,
                    qe: org.apache.spark.sql.execution.QueryExecution,
                    durationNs: Long): Unit = plans.add(qe.executedPlan.toString)
      def onFailure(funcName: String,
                    qe: org.apache.spark.sql.execution.QueryExecution,
                    exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val out = body
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      import scala.jdk.CollectionConverters._
      (out, plans.asScala.toVector)
    } finally spark.listenerManager.unregister(listener)
  }

  /** The returned plan is a single `Scan ExistingRDD` (a pinned frame). */
  private def assertOneNode(df: org.apache.spark.sql.DataFrame): Unit =
    assert(df.queryExecution.analyzed
      .isInstanceOf[org.apache.spark.sql.execution.LogicalRDD],
      df.queryExecution.analyzed.treeString)

  test("t_token_count prunes documents to (doc_id, text) — lang/source/n_chars never read") {
    assume(new java.io.File(s"$sfDir/documents.parquet").exists)
    val df = SparkEntry.queries("t_token_count")(spark, sfDir)
    val scan = planOf(df).linesIterator.find(_.contains("ReadSchema"))
      .getOrElse(fail("no parquet scan in plan"))
    assert(scan.contains("doc_id") && scan.contains("text"), scan)
    assert(!scan.contains("source") && !scan.contains("n_chars"), scan)
  }

  test("s_ann_brute: query side broadcast + pushed filter, label column pruned") {
    assume(new java.io.File(s"$sfDir/embeddings.parquet").exists)
    val df = SparkEntry.queries("s_ann_brute")(spark, sfDir)
    val plan = planOf(df)
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      plan.take(1500)) // qid =!= cid theta join over a broadcast query side
    assert(plan.contains("PushedFilters: [IsNotNull(vec_id), LessThan(vec_id,20)]") ||
      plan.contains("LessThan(vec_id,20)"), plan.take(2000))
    val scans = planOf(df).linesIterator.filter(_.contains("ReadSchema")).toVector
    assert(scans.forall(!_.contains("label")), scans.mkString("\n"))
  }

  test("t_dedup_exact: single shuffle on the 64-bit hash, text never in the exchange") {
    assume(new java.io.File(s"$sfDir/documents.parquet").exists)
    val df = SparkEntry.queries("t_dedup_exact")(spark, sfDir)
    val plan = planOf(df)
    // partial aggregation (map-side combine) must precede the exchange
    val lines = plan.linesIterator.toVector
    val exchangeIdx = lines.indexWhere(l => l.contains("Exchange hashpartitioning"))
    assert(exchangeIdx >= 0, plan.take(1500))
    val aggBelow = lines.drop(exchangeIdx).exists(_.contains("HashAggregate"))
    assert(aggBelow, "no partial aggregate below the exchange")
    val exchangeLine = lines(exchangeIdx)
    assert(!exchangeLine.contains("text"), exchangeLine)
  }

  test("stratified sampling is one narrow filter over the scan (no shuffle, no RNG)") {
    assume(new java.io.File(s"$sfDir/documents.parquet").exists)
    val df = graft.ops.TextOps.stratifiedSample(
      spark.read.parquet(s"$sfDir/documents.parquet"),
      "doc_id", "lang", Map("en" -> 0.5), 0.1, "s")
      .select("doc_id", "lang")
    val plan = planOf(df)
    assert(!plan.contains("Exchange"), plan.take(1500))
    assert(!plan.contains("Sample"), plan.take(1500)) // hash predicate, not sample()
  }

  test("sessionize: the window exchange is the ONLY shuffle (agg reuses it)") {
    assume(new java.io.File(s"$sfDir/events.parquet").exists)
    val df = graft.streaming.StreamingIngest.sessionize(
      spark.read.parquet(s"$sfDir/events.parquet"), 1800L)
    val exchanges = planOf(df).linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toVector
    assert(exchanges.size == 1, exchanges.mkString("\n"))
    assert(exchanges.head.contains("user_id"), exchanges.head)
  }

  test("corpusDiff: exchanges carry id+hash only — text never shuffles") {
    assume(new java.io.File(s"$sfDir/documents.parquet").exists)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val df = graft.ops.Dedup.corpusDiff(docs, docs, "doc_id", "text")
    val exchanges = planOf(df).linesIterator
      .filter(_.contains("Exchange")).toVector
    assert(exchanges.nonEmpty)
    assert(exchanges.forall(!_.contains("text")), exchanges.mkString("\n"))
  }

  test("quantizeInt8 is one narrow pass — no exchange, vector pruned to id+embedding") {
    assume(new java.io.File(s"$sfDir/embeddings.parquet").exists)
    val df = graft.ops.Similarity.quantizeInt8(
      spark.read.parquet(s"$sfDir/embeddings.parquet"), "vec_id", "embedding")
    val plan = planOf(df)
    assert(!plan.contains("Exchange"), plan.take(1500))
    val scan = plan.linesIterator.find(_.contains("ReadSchema")).get
    assert(!scan.contains("label"), scan)
  }

  test("robotsFilter: robots side broadcasts, URL side never hash-exchanges") {
    assume(new java.io.File(s"$sfDir/documents.parquet").exists)
    val urls = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), concat(lit("https://h"), col("doc_id") % 5,
        lit(".com/p")).as("url"))
    import spark.implicits._
    val robots = Seq(("h1.com", "User-agent: *\nDisallow: /p\n"))
      .toDF("host", "robots_txt")
    val plan = planOf(graft.ops.UrlOps.robotsFilter(urls, "url", robots,
      "host", "robots_txt", "bot"))
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("Exchange hashpartitioning"), plan.take(2000))
  }

  test("bpeRoundtrip and collapseRepeatedLines are narrow — no exchange") {
    assume(new java.io.File(s"$sfDir/documents.parquet").exists)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val p1 = planOf(graft.ops.TextOps.bpeRoundtrip(docs, "doc_id", "text",
      Seq(("t", "h"), ("th", "e"))))
    assert(!p1.contains("Exchange"), p1.take(1500))
    val p2 = planOf(graft.ops.TextOps.collapseRepeatedLines(docs, "doc_id", "text"))
    assert(!p2.contains("Exchange"), p2.take(1500))
  }

  test("anchorTexts: combined (dst,anchor) count exchange, then aggregate-sized dst window") {
    import spark.implicits._
    val pages = Seq((1L, "<a href=\"/x\">hi</a>", "https://a.com/"))
      .toDF("id", "html", "url")
    val plan = planOf(graft.ops.UrlOps.anchorTexts(spark, pages,
      "id", "html", "url"))
    val exchanges = plan.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toVector
    // TWO exchanges by design (see the op's scaladoc): the first carries
    // map-side-combined (dst, anchor) counts — hot targets spread across
    // their anchors — and only aggregate-sized rows reach the dst window
    assert(exchanges.size == 2, exchanges.mkString("\n"))
    assert(exchanges.exists(l => l.contains("dst") && l.contains("anchor")),
      exchanges.mkString("\n"))
    val lines = plan.linesIterator.toVector
    val firstExchange = lines.indexWhere(_.contains("Exchange hashpartitioning"))
    assert(lines.drop(firstExchange).exists(_.contains("HashAggregate")),
      "no partial aggregate below the first exchange")
  }

  test("dedupCorpus plan has no cartesian/nested-loop join anywhere") {
    assume(new java.io.File(s"$sfDir/documents.parquet").exists)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id").cast("long").as("id"), col("text")).limit(200)
    val (out, plans) = executedPlans(
      graft.ops.Dedup.dedupCorpus(spark, docs, "id", "text", 0.8))
    assertOneNode(out)
    assert(plans.nonEmpty)
    plans.foreach { plan =>
      assert(!plan.contains("CartesianProduct"), plan.take(2000))
      assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    }
    assert(out.count() > 0)
    out.unpersist(false)
  }

  test("vocab is the classic word-count exchange: partial agg below the token shuffle, top-k via TakeOrdered") {
    assume(new java.io.File(s"$sfDir/documents.parquet").exists)
    val df = graft.ops.TextOps.vocab(spark,
      spark.read.parquet(s"$sfDir/documents.parquet"), "doc_id", "text", 50)
    val plan = planOf(df)
    val lines = plan.linesIterator.toVector
    // shuffle keys on the token, never the document text
    val exchangeIdx = lines.indexWhere(l =>
      l.contains("Exchange hashpartitioning") && l.contains("token"))
    assert(exchangeIdx >= 0, plan.take(2000))
    assert(!lines(exchangeIdx).contains("text"), lines(exchangeIdx))
    // map-side combine before that exchange
    assert(lines.drop(exchangeIdx).exists(_.contains("HashAggregate")),
      "no partial aggregate below the token exchange")
    // top-k must be TakeOrdered (heap per partition), not a global Sort+Limit
    assert(plan.contains("TakeOrderedAndProject"), plan.take(2000))
    // scan pruned to the two columns the op touches
    val scan = lines.find(_.contains("ReadSchema")).getOrElse(fail("no scan"))
    assert(scan.contains("doc_id") && scan.contains("text"), scan)
    assert(!scan.contains("lang") && !scan.contains("source"), scan)
  }

  test("line dedup shuffles 8-byte line hashes, never line text") {
    assume(new java.io.File(s"$sfDir/documents.parquet").exists)
    val df = graft.ops.TextOps.lineDedupStats(spark,
      spark.read.parquet(s"$sfDir/documents.parquet"), "doc_id", "text", 5)
    val plan = planOf(df)
    val exchanges = plan.linesIterator.filter(_.contains("Exchange")).toVector
    assert(exchanges.nonEmpty, plan.take(1500))
    // every exchange keys/carries only (lh, id/count) — the line string is
    // hashed in the narrow explode stage below the first shuffle
    assert(exchanges.forall(l => !l.contains("line#")), exchanges.mkString("\n"))
  }

  test("spans boilerplate strip: df exchanges carry 8-byte hashes only; verdict join broadcasts") {
    assume(new java.io.File(s"$sfDir/documents.parquet").exists)
    import spark.implicits._
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id").cast("string").as("doc_id"), col("text"))
      .as[(String, String)]
      .map { case (id, t) => (id, Seq(
        graft.core.Span("text", "shared header", "", 0),
        graft.core.Span("text", String.valueOf(t).take(40), "", 1),
        graft.core.Span("image", "", s"blob-$id", 2))) }
      .toDF("doc_id", "spans")
    val out = graft.ops.SpanOps.stripBoilerplate(spark, docs, 5)
    out.collect() // materialize so AQE's final (runtime) plan is inspected
    val plan = out.queryExecution.executedPlan.toString
    val exchanges = plan.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toVector
    // the doc-frequency shuffles key on the span-text hash; the span text
    // itself must never ride an exchange
    assert(exchanges.nonEmpty && exchanges.forall(l => !l.contains("text#")),
      exchanges.mkString("\n"))
    // AQE must turn the small over-threshold hash set into a broadcast
    // left_anti — a sort-merge here would shuffle every span by hash
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      plan.take(2000))
  }

  test("nested boilerplate strip, semi-join path: no aggregate carries the spans column") {
    import spark.implicits._
    val docs = (0L until 40L).map { id =>
      (id.toString, Seq(
        graft.core.Span("text", "shared header", "", 0),
        graft.core.Span("text", s"body $id", "", 1),
        graft.core.Span("image", "", s"blob-$id", 2)))
    }.toDF("doc_id", "spans")
    val (df, plans) = executedPlans(graft.ops.SpanOps.stripBoilerplateNested(
      spark, docs, 5, maxExprSet = 0))
    assertOneNode(df)
    assert(plans.exists(_.contains("LeftSemi")), plans.mkString("\n").take(3000))
    val aggs = plans.flatMap(_.linesIterator.filter(_.contains("Aggregate")))
    assert(aggs.nonEmpty && aggs.forall(!_.contains("spans")), aggs.mkString("\n"))
    df.unpersist(false)
  }

  test("bm25: query terms broadcast, token-count exchange has partial agg below it") {
    assume(new java.io.File(s"$sfDir/documents.parquet").exists)
    val (df, plans) = executedPlans(graft.ops.TextOps.bm25TopK(spark,
      spark.read.parquet(s"$sfDir/documents.parquet"),
      "doc_id", "text", Seq("scan", "merge"), 10))
    assertOneNode(df)
    assert(plans.exists(_.contains("BroadcastHashJoin")),
      plans.mkString("\n").take(1500))
    assert(plans.exists { plan =>
      val lines = plan.linesIterator.toVector
      val exchangeIdx = lines.indexWhere(_.contains("Exchange hashpartitioning"))
      exchangeIdx >= 0 &&
        lines.drop(exchangeIdx).exists(_.contains("HashAggregate"))
    }, "no partial aggregate below the token-count exchange")
    df.unpersist(false)
  }

  test("x_* renderPending stays a single narrow stage over the scan (no shuffle before extraction)") {
    assume(new java.io.File(s"$sfDir/documents.parquet").exists)
    import spark.implicits._
    val pending = graft.queries.QueryLib.renderPending(spark,
      graft.queries.QueryLib.documents(spark, sfDir), "txt")
    val plan = pending.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(1500))
  }

  test("packSequences: one range exchange, no global-order window, text pruned from the exchange") {
    assume(new java.io.File(s"$sfDir/documents.parquet").exists)
    val (segs, plans) = executedPlans(graft.ops.TextOps.packSequences(spark,
      spark.read.parquet(s"$sfDir/documents.parquet"), "doc_id", "text", 512))
    assertOneNode(segs)
    assert(plans.exists(_.contains("rangepartitioning")),
      plans.mkString("\n").take(2000))
    // the whole point: the naive sum(n) OVER (ORDER BY id) would appear
    // as a Window over a SinglePartition exchange — must not exist
    plans.foreach { plan =>
      assert(!plan.contains("Window"), plan.take(2000))
      assert(!plan.contains("SinglePartition"), plan.take(2000))
    }
    segs.unpersist(false)
  }

  test("curateCorpus: verdict joins broadcast; no cartesian/BNLJ anywhere") {
    assume(new java.io.File(s"$sfDir/documents.parquet").exists)
    import spark.implicits._
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val bench = Seq((1L, "zz yy xx")).toDF("id", "text")
    // AQE finalizes join strategies at runtime: the captured plans are
    // the final ones
    val (out, plans) = executedPlans(graft.ops.TextOps.curateCorpus(spark,
      docs, "doc_id", "text", "lang", "source", "n_chars", bench, 10,
      Map("en" -> 0.5), 0.1, "s"))
    assertOneNode(out)
    plans.foreach { plan =>
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    }
    // the id-only verdict sides are small: the semi joins broadcast with
    // no hint, because each pinned verdict reports its materialized size
    assert(plans.exists(p => p.contains("BroadcastHashJoin") && p.contains("LeftSemi")),
      plans.mkString("\n").take(2000))
    out.unpersist(false)
  }

  test("minePairs: zero shuffle — the caption argmin never leaves the row") {
    import spark.implicits._
    import graft.core.Span
    val docs = Seq(
      (1L, Seq(Span("text", "a", "", 0), Span("image", "", "m", 1))))
      .toDF("doc_id", "spans")
    val plan = planOf(graft.ops.SpanOps.minePairs(docs))
    // nearest-text pairing is nested-array expressions + one narrow
    // explode: any Exchange means the argmin escaped the row
    assert(!plan.contains("Exchange"), plan.take(2000))
  }

  test("shardCorpus: one shard-hash exchange of id+key rows; text never read") {
    assume(new java.io.File(s"$sfDir/documents.parquet").exists)
    val out = graft.ops.TextOps.shardCorpus(
      spark.read.parquet(s"$sfDir/documents.parquet"), "doc_id", 8, "s5")
    val plan = planOf(out)
    // the within-shard rank must partition by shard, never collapse to one
    assert(!plan.contains("SinglePartition"), plan.take(2000))
    assert(plan.linesIterator.count(_.trim.startsWith("+- Exchange")) == 1,
      plan.take(2000))
    val scan = plan.linesIterator.find(_.contains("ReadSchema"))
      .getOrElse(fail("no parquet scan"))
    assert(scan.contains("doc_id") && !scan.contains("text"), scan)
  }

  test("selectByBudget: range exchange only — no global-order window") {
    assume(new java.io.File(s"$sfDir/documents.parquet").exists)
    val (out, plans) = executedPlans(graft.ops.TextOps.selectByBudget(spark,
      spark.read.parquet(s"$sfDir/documents.parquet"), "doc_id", "text",
      length(col("text")).cast("long"), budgetTokens = 5000L))
    assertOneNode(out)
    assert(plans.exists(_.contains("rangepartitioning")),
      plans.mkString("\n").take(2000))
    // the naive sum(n) OVER (ORDER BY score DESC, id) would be a Window
    // over a SinglePartition exchange — the 100 TB non-starter
    plans.foreach { plan =>
      assert(!plan.contains("Window"), plan.take(2000))
      assert(!plan.contains("SinglePartition"), plan.take(2000))
    }
    out.unpersist(false)
  }

  // The oracle texts and the query names are the frozen driver surface:
  // a refactor of the query bodies must leave both byte-identical. Each
  // oracle entry is hashed as key, NUL, text, NUL in key order; each
  // query name as name, newline, sorted.
  test("frozen surface: oracleSql texts and queries key set hash to the pinned values") {
    def sha256(s: String): String = java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
    val oracle = SparkEntry.oracleSql.toSeq.sortBy(_._1)
      .map { case (k, v) => k + "\u0000" + v + "\u0000" }.mkString
    val keys = SparkEntry.queries.keys.toSeq.sorted.map(_ + "\n").mkString
    assert(sha256(oracle) == "4056ee45cad186f99373129b1001713b1674bb901cc3459cc52d035fd3955fdf")
    assert(sha256(keys) == "40a2d176150f7d0bd9000bf86012ab434c63a1fd9d2280f933b7cdc4d1020140")
  }
}
