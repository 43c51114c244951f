package graft

import graft.core.Span
import graft.corpus.CorpusGen
import graft.obs.Recorder
import graft.ops.{Dedup, Graph, Pin, SpanOps, TextOps, UrlOps}
import graft.pipeline.Pipeline
import graft.queries.QueryLib
import graft.table.SnapshotTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The probe main: measurements outside the frozen `graft.Bench` surface,
  * each call recorded by [[graft.obs.Recorder]] as one JSON line on
  * stdout. `SPARK_GRAFT_CPUS` sets `local[N]` (default: every processor).
  *
  *  - `explain <sfDir> <outDir> <suffix> [q1,q2,...]`: each query's
  *    `explain("formatted")` text (every query by default) to
  *    `<outDir>/<query>_<suffix>.txt`;
  *  - `noop <sfDir> <q1,q2,...>`: each query three times into the noop
  *    sink (every column computed, nothing pruned), one record per run;
  *  - `ops <sfDir> [tile]`: dedupCorpus → stripBoilerplateNested →
  *    curateCorpus → packSequences over `graft.Bench`'s tile corpus
  *    (default tile 40), one record per operator;
  *  - `ingest [nDocs]`: `Pipeline.run` over CorpusGen's corpus (default
  *    400000 docs), warm and with its input stats given, as `graft.Bench`
  *    times it: its record, then docs, summed duration_ms and bytes per
  *    ingestor;
  *  - `soak [nDocs] [snapshotDir]`: the sf1 soak (default 4000000 docs
  *    under `/tmp/graft_soak`), see [[soak]]. */
object Probe {

  def main(args: Array[String]): Unit = {
    def names(s: String) = s.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val run: (SparkSession, Recorder) => Unit = args.toSeq match {
      case Seq("explain", sf, out, suffix, qs @ _*) => (s, _) => explain(s, out, suffix,
        qs.headOption.fold(SparkEntry.queries.keys.toSeq)(names), SparkEntry.queries(_)(s, sf))
      case Seq("noop", sf, qs) => noop(_, _, sf, names(qs))
      case Seq("ops", sf, tile @ _*) => ops(_, _, sf, tile.headOption.fold(40)(_.toInt))
      case Seq("ingest", n @ _*) => ingest(_, _, n.headOption.fold(400000L)(_.toLong))
      case Seq("soak", a @ _*) => (s, rec) =>
        // finer than cpus: at 4M docs the span reassembly's per-partition
        // hash state overran task memory at 64 partitions; AQE coalesces
        // the small stages back
        s.conf.set("spark.sql.shuffle.partitions", math.max(s.sparkContext.defaultParallelism * 2, 256))
        soak(s, rec, a.headOption.fold(4000000L)(_.toLong), a.lift(1).getOrElse("/tmp/graft_soak"))
      case _ => System.err.println("usage: Probe explain|noop|ops|ingest|soak <args>"); sys.exit(2)
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // the ContextCleaner deletes a finished job's shuffle files only
      // after a GC collects its shuffle dependencies, and the default
      // interval (30 min) never fires inside one probe run. runDurable has
      // had no per-depth shuffle since it became one job per level; the
      // soak's own phases still shuffle, and whether they need this at 4M
      // docs is unmeasured
      .config("spark.cleaner.periodicGC.interval", "2min")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val rec = new Recorder(spark.sparkContext)
    spark.sparkContext.addSparkListener(rec)
    try run(spark, rec) finally { spark.sparkContext.removeSparkListener(rec); spark.stop() }
  }

  /** Runs `body`, then releases every RDD it left persisted. */
  private def released(spark: SparkSession)(body: => Unit): Unit = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    try body finally spark.sparkContext.getPersistentRDDs
      .foreach { case (id, rdd) => if (!before(id)) rdd.unpersist(false) }
  }

  /** Writes the formatted plan of `build(name)` to
    * `<outDir>/<name>_<suffix>.txt`; a query that fails to build is
    * reported on stderr and skipped. */
  def explain(spark: SparkSession, outDir: String, suffix: String, names: Seq[String],
              build: String => DataFrame): Unit = {
    new java.io.File(outDir).mkdirs()
    names.foreach(name => released(spark) {
      try {
        val txt = build(name).queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        java.nio.file.Files.write(java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"),
          txt.getBytes("UTF-8"))
        System.err.println(s"[probe] wrote $name")
      } catch { case e: Exception => System.err.println(s"[probe] $name failed: ${e.getMessage}") }
    })
  }

  def noop(spark: SparkSession, rec: Recorder, sf: String, names: Seq[String]): Unit =
    for (q <- names; r <- 1 to 3) released(spark)(rec.record(s"noop.$q.$r") {
      SparkEntry.queries(q)(spark, sf).write.format("noop").mode("overwrite").save()
    })

  /** The operator chain. Each record runs one operator on the pinned input
    * the record before it left, pins the next input from the result (one
    * job), then releases the result and its own input: an operator that
    * releases its internal pins records a `cached_delta` of 0. */
  def ops(spark: SparkSession, rec: Recorder, sf: String, tile: Int): Unit = {
    import spark.implicits._
    def step(tag: String, in: DataFrame)(op: DataFrame => DataFrame)(
        next: DataFrame => DataFrame): DataFrame = rec.record(tag) {
      val out = op(in)
      val (pinned, rows) = Pin(next(out))
      System.err.println(s"[probe] $tag: $rows rows on")
      out.unpersist(false); in.unpersist(false)
      pinned
    }
    // graft.Bench's tile: documents.parquet tile× over, even copies exact,
    // odd copies unique token-drop mutants
    val tiled = Pin(spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id").cast("long"), coalesce(col("text"), lit(""))).as[(Long, String)]
      .flatMap { case (id, text) =>
        (0 until tile).iterator.map { k =>
          (id + 10000000L * k, if (k % 2 == 0) text else text.split(" ").zipWithIndex
            .collect { case (w, i) if i % (9 + k % 7) != 0 => w }.mkString(" ") + s" u${id}x$k")
        }
      }.toDF("id", "text").repartition(math.max(32, spark.sparkContext.defaultParallelism * 3)))._1
    val survivors = step("dedupCorpus", tiled)(Dedup.dedupCorpus(spark, _, "id", "text", 0.8))(
      d => tiled.join(d.filter(col("keep")).select("id"), Seq("id"), "left_semi"))
    // graft.Bench's web_tile spans: id-salted 8-token body spans between a
    // shared header and, on every 4th document, a shared footer
    def spans(docs: DataFrame): DataFrame = docs.as[(Long, String)].map { case (id, text) =>
      val toks = graft.core.TextUtil.tokens(text)
      val n = (toks.length + 7) / 8
      val body = (0 until n).flatMap { i =>
        Span("text", toks.slice(8 * i, 8 * i + 8).mkString(" ") + s" d$id", "", 8 * i) +:
          Option.when((id + i) % 5 == 0)(Span("image", "", s"b$id-$i", 8 * i)).toSeq
      }
      (id.toString, Span("text", "subscribe to our newsletter today.", "", 0) +: body :++
        Option.when(id % 4 == 0)(Span("text", "copyright example site all rights reserved", "", 8 * n)))
    }.toDF("doc_id", "spans")
    // body reassembly, plus curate's stratum, source and order columns
    def bodies(stripped: DataFrame): DataFrame = stripped
      .select(col("doc_id").cast("long").as("id"), array_join(transform(
        filter(col("spans"), _.getField("kind") === "text"), _.getField("text")), " ").as("text"))
      .select(col("id"), col("text"), pmod(col("id"), lit(3)).cast("string").as("stratum"),
        pmod(col("id"), lit(997)).cast("string").as("source"), length(col("text")).cast("long").as("ord"))
    val corpus = step("stripBoilerplateNested", survivors)(
      in => SpanOps.stripBoilerplateNested(spark, spans(in), 5))(bodies)
    val kept = step("curateCorpus", corpus)(c => TextOps.curateCorpus(spark, c, "id", "text",
      "stratum", "source", "ord", c.filter(pmod(col("id"), lit(101)) === 0).select("id", "text")
        .orderBy("id").limit(2000), 5000, Map("0" -> 0.5, "1" -> 0.25), 0.1, "bench"))(
      k => corpus.select("id", "text").join(k.select("id"), Seq("id"), "left_semi"))
    step("packSequences", kept)(TextOps.packSequences(spark, _, "id", "text", 2048))(identity)
      .unpersist(false)
  }

  def ingest(spark: SparkSession, rec: Recorder, nDocs: Long): Unit = {
    import spark.implicits._
    val (docs, blobs) = graft.corpus.CorpusGen.corpus(spark, nDocs)
    val pending = Pipeline.initialPending(spark, docs, blobs)
      .repartition(96, col("doc_id")).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    // one job fills the pending cache and measures it
    val stats = pending.select(count(lit(1)), coalesce(sum(length(col("bytes"))), lit(0L)))
      .as[(Long, Long)].head()
    Pipeline.run(spark, pending.limit(2000)).cleanup() // JIT warm-up
    val table = rec.record("Pipeline.run") {
      val out = Pipeline.run(spark, pending, initialStats = Some(stats))
      try out.meta.groupBy("ingestor").agg(count(lit(1)).as("docs"),
          sum("duration_ms").as("total_ms"), sum("file_size").as("bytes"))
        .orderBy(desc("total_ms")).collect()
      finally out.cleanup()
    }
    pending.unpersist(false)
    println("ingestor\tdocs\ttotal_ms\tbytes")
    table.foreach(r => println(r.toSeq.mkString("\t")))
  }

  /** The sf1 soak, the scale evidence for the durable dataflow:
    * CorpusGen's corpus through `Pipeline.runDurable`, then the corpus
    * operators over the text bodies read back from the committed
    * snapshots, one record per phase. Every phase releases what its
    * operator returns pinned; the shared bodies are pinned in their own
    * record and released after the last phase. The table goes to a fresh
    * `run-<uuid>` child of `snapshotDir` (a committed table would be
    * resumed, not extracted), deleted when the soak ends. A GC and a 3 s
    * wait after each phase, outside its record, let the ContextCleaner
    * reclaim its shuffle files. The last stdout line holds the counts. */
  def soak(spark: SparkSession, rec: Recorder, nDocs: Long, snapshotDir: String): Unit = {
    val dir = new org.apache.hadoop.fs.Path(snapshotDir, s"run-${java.util.UUID.randomUUID}")
    try soakPhases(spark, rec, nDocs, dir.toString)
    finally dir.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(dir, true)
  }

  private def soakPhases(spark: SparkSession, rec: Recorder, nDocs: Long, snapDir: String): Unit = {
    import spark.implicits._
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    var peakHeap = 0L
    def phase[T](tag: String)(body: => T): T = {
      val r = rec.record(tag)(body)
      peakHeap = math.max(peakHeap, mem.getHeapMemoryUsage.getUsed)
      System.gc(); Thread.sleep(3000)
      r
    }
    def textBodies = QueryLib.body(SnapshotTable.read(spark, snapDir, "spans"), "text")
    val counts = scala.collection.mutable.ArrayBuffer[(String, Any)]("n_docs" -> nDocs)

    val (docs, blobs) = CorpusGen.corpus(spark, nDocs)
    val parts = spark.sparkContext.defaultParallelism * 3
    val pending = Pipeline.initialPending(spark, docs, blobs).repartition(parts, col("doc_id"))
    counts += "meta_rows" -> phase("pipeline_durable")(
      Pipeline.runDurable(spark, pending, snapDir)._2.count())
    counts += "dedup_rows" -> phase("dedup_by_content")(
      Pipeline.dedupByContent(spark, pending)._1.count())
    // exact → near cascade: one representative per distinct body before
    // the LSH, or a templated corpus's duplicate multiplicity m makes the
    // verify join materialize C(m,2) text pairs per template (disk-full at
    // 4M docs). Star pairing, sig8 verification and maxBucket=256 were
    // each forced by a measured failure at 4M docs (see Dedup.minhashLsh).
    val (distinct, pairs) = phase("minhash_lsh") {
      val reps = textBodies.groupBy(xxhash64($"body").as("id")).agg(first($"body").as("body"))
      (reps.count(), Pin.scoped(_.hold(Dedup.minhashLsh(spark, reps, "id", "body", 0.8,
        maxBucket = 256, verify = "sig8", pairing = "star")).count()))
    }
    counts ++= Seq("distinct_bodies" -> distinct, "neardup_pairs" -> pairs)
    // the (doc_id, spans[]) shape re-nested from the span table, stripped
    // of cross-document text spans by corpus frequency
    counts += "spans_kept" -> phase("spans_strip") {
      val nested = SnapshotTable.read(spark, snapDir, "spans").groupBy($"doc_id")
        .agg(array_sort(collect_list(struct($"seq", $"kind", $"text", $"media_ref", $"offset"))).as("sp"))
        .select($"doc_id", transform($"sp", s => struct(Seq("kind", "text", "media_ref", "offset")
          .map(f => s.getField(f).as(f)): _*)).as("spans"))
      SpanOps.stripBoilerplate(spark, nested, minDocs = 5).count()
    }
    // a deterministic quarter of the bodies plus planted half-copies: the
    // corpus's own duplicate bodies are too short for the removal to fire
    counts += "dupsub_docs_touched" -> phase("strip_dupsub") {
      val quarter = textBodies.select(xxhash64($"doc_id").as("id"), $"body")
        .filter(pmod($"id", lit(4)) === 0)
      Pin.scoped(_.hold(TextOps.stripDupSubstrings(spark,
        quarter.unionByName(QueryLib.halfCopies(spark, quarter, 1L)), "id", "body"))
        .filter($"n_removed" > 0).count())
    }
    // the distributed PageRank path over a crawl-shaped 3-edges-per-doc graph
    counts += "pagerank_top_micro" -> phase("pagerank_iterative") {
      val ids = SnapshotTable.read(spark, snapDir, "meta")
        .select(pmod(xxhash64($"doc_id"), lit(nDocs)).as("i")).distinct()
      val edges = ids.select($"i".as("src"), (($"i" + 1) % nDocs).as("dst"))
        .union(ids.select($"i", ($"i" * 7) % nDocs))
        .union(ids.select($"i", lit(0L)))
      Pin.scoped(_.hold(Graph.pageRank(spark, edges, iterations = 10, maxLocalEdges = 0L))
        .orderBy(col("r").desc).limit(1).collect()(0).getLong(1))
    }
    Pin.scoped { pins =>
      val bodies = phase("soak_bodies")(pins(textBodies.select(xxhash64($"doc_id").as("id"), $"body",
        pmod(xxhash64($"doc_id"), lit(3)).cast("string").as("stratum"),
        pmod(xxhash64(concat($"doc_id", lit("s"))), lit(1000)).cast("string").as("source"),
        length($"body").cast("long").as("ord"))))._1
      // orderBy before limit keeps the decontamination benchmark stable
      counts += "curate_kept" -> phase("curate_corpus") {
        val bench = bodies.filter(pmod($"id", lit(97)) === 0).select($"id", $"body")
          .orderBy($"id").limit(5000)
        Pin.scoped(_.hold(TextOps.curateCorpus(spark, bodies, "id", "body", "stratum", "source", "ord",
          bench, cap = 5000, rates = Map("0" -> 0.5, "1" -> 0.25), defaultRate = 0.1, salt = "soak"))
          .count())
      }
      counts += "pack_chunks" -> phase("pack_sequences")(
        Pin.scoped(_.hold(TextOps.packSequences(spark, bodies, "id", "body", 2048))
          .agg(max($"chunk_id")).head().getLong(0) + 1))
      counts += "incr_dups" -> phase("dedup_incremental")(
        Pin.scoped(_.hold(Dedup.dedupAgainst(spark, bodies.filter(pmod($"id", lit(2)) === 0), bodies,
          "id", "body")).filter($"is_dup").count()))
      // RFC 9309 admission: per-body URLs over 64 hosts, two robots policies
      counts += "robots_allowed" -> phase("robots_filter") {
        val robotsA = "User-agent: graftbot\nDisallow: /Path1\nAllow: /Path12\nUser-agent: *\nDisallow: /\n"
        val robotsB = "User-agent: otherbot\nDisallow: /\n" +
          "User-agent: *\nDisallow: /Path3$\nDisallow: /Path4*7\n"
        val robots = (0 until 64).map(k => (s"site$k.example.com", if (k % 2 == 0) robotsA else robotsB))
          .toDF("host", "robots_txt")
        val urls = bodies.select($"id", concat(lit("https://site"), pmod($"id", lit(64)),
          lit(".example.com/Path"), pmod($"id", lit(50))).as("url"))
        UrlOps.robotsFilter(urls, "url", robots, "host", "robots_txt", "graftbot").filter($"allowed").count()
      }
      // churn-only snapshot diff: every id%11==3 removed, every id%7==0 changed
      counts += "diff_rows" -> phase("corpus_diff") {
        val cur = bodies.filter(pmod($"id", lit(11)) =!= 3).select($"id",
          when(pmod($"id", lit(7)) === 0, concat($"body", lit(" v2"))).otherwise($"body").as("body"))
        Dedup.corpusDiff(bodies.select($"id", $"body"), cur, "id", "body").count()
      }
      // longest-first token-budget selection, then 1024 deterministic shards
      counts += "select_shard_rows" -> phase("select_and_shard")(Pin.scoped { sel =>
        val kept = sel.hold(TextOps.selectByBudget(spark, bodies, "id", "body",
          length($"body").cast("long"), budgetTokens = 50000000L))
        TextOps.shardCorpus(kept.select($"id"), "id", 1024, "soak").count()
      })
    }
    counts ++= Seq("pending_partitions" -> parts,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "peak_heap_mib" -> peakHeap / (1 << 20), "cpus" -> spark.sparkContext.defaultParallelism)
    println(counts.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}"))
  }
}
