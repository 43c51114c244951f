package graft

import graft.core.Span
import graft.obs.Recorder
import graft.ops.{Dedup, Pin, SpanOps, TextOps}
import graft.pipeline.Pipeline
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
  *    ingestor. */
object Probe {

  def main(args: Array[String]): Unit = {
    def names(s: String) = s.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val run: (SparkSession, Recorder) => Unit = args.toSeq match {
      case Seq("explain", sf, out, suffix, qs @ _*) => (s, _) => explain(s, out, suffix,
        qs.headOption.fold(SparkEntry.queries.keys.toSeq)(names), SparkEntry.queries(_)(s, sf))
      case Seq("noop", sf, qs) => noop(_, _, sf, names(qs))
      case Seq("ops", sf, tile @ _*) => ops(_, _, sf, tile.headOption.fold(40)(_.toInt))
      case Seq("ingest", n @ _*) => ingest(_, _, n.headOption.fold(400000L)(_.toLong))
      case _ => System.err.println("usage: Probe explain|noop|ops|ingest <args>"); sys.exit(2)
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
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
}
