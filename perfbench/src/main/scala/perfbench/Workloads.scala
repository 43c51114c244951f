package perfbench

import graft.analysis.Analyze
import graft.core.{DocMeta, LineageRow, SpanOut}
import graft.ops.{Dedup, SpanOps, TextOps}
import graft.pipeline.Pipeline
import graft.sources.Sources
import graft.table.SnapshotTable
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import java.io.File
import java.nio.file.Files

/** What one pass reports: documents completed, the share of attempted
  * documents that came out as success rows, and data-level per-layer facts
  * (row counts, bytes) keyed by metric name. */
final case class PassOut(docs: Long, successShare: Double, facts: Map[String, Double])

/** A pass whose program calls have run. `check` verifies the outputs and
  * is not timed; `release` hands back what the program returned and is. */
final case class PassRun(check: () => PassOut, release: () => Unit)

/** One benchmark workload. `prepare` generates and materializes the seeded
  * inputs (set-up), `reference` builds what the output check compares
  * against, and `pass` drives the program once from materialized input to
  * every output consumed; its `PassRun` then checks the outputs and
  * releases exactly what the program handed back. */
abstract class Workload(val spark: SparkSession, val seed: Long, val work: File) {
  def prepare(): Unit
  def release(): Unit
  def reference(): Unit
  def pass(rec: Recorder): PassRun
  /** The serial walk behind the check, when the workload has one. */
  def walk: Option[SerialWalk] = None

  protected val Ser = StorageLevel.MEMORY_AND_DISK_SER
  protected def cores: Int = spark.sparkContext.defaultParallelism

  protected def require(ok: Boolean, msg: => String): Unit =
    if (!ok) throw new CheckFailed(msg)

  protected def deleteRec(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteRec))
    f.delete()
  }
}

object Workloads {
  val Names: Seq[String] = Seq("ingest_durable", "corpus_build")

  /** Input sizes: the measured size, and the smoke size the benchmark's
    * own tests use. */
  def apply(name: String, spark: SparkSession, seed: Long, work: File,
            smoke: Boolean): Workload = name match {
    case "ingest_durable" => new IngestDurable(spark, seed, work, if (smoke) 120 else 500)
    case "corpus_build" => new CorpusBuild(spark, seed, work, if (smoke) 400 else 3000)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def metaRows(ds: Dataset[DocMeta]): Dataset[(String, String, String, Int)] = {
    import ds.sparkSession.implicits._
    ds.map(m => (m.doc_id, m.ingestor, m.processing_status, m.depth))
  }

  def lineageRows(ds: Dataset[LineageRow]): Dataset[(String, String, String, Int)] = {
    import ds.sparkSession.implicits._
    ds.map(l => (l.doc_id, l.ingestor, l.status, l.depth))
  }
}

/** The paper's dataflow on the durable path: CorpusGen roots written as
  * files, then `Sources.fromDirectory` → `runDurable` stopped after the
  * root level → `runDurable` resumed to completion on the same table →
  * `SnapshotTable.read` of spans, meta and lineage → `Pipeline.metrics` →
  * `Analyze.extractPatterns` + `aggregateTags` over the read-back spans. */
final class IngestDurable(spark0: SparkSession, seed0: Long, work0: File, roots: Int)
    extends Workload(spark0, seed0, work0) {
  import spark.implicits._
  private val inputDir = new File(work, "input")
  private var inputBytes = 0L
  private var ref: SerialWalk = _
  private var passNo = 0
  private var tagsPinned = -1

  override def walk: Option[SerialWalk] = Option(ref)

  /** Zero-byte roots stay in the input: the source drops them today, and
    * the benchmark counts them as missing rather than hiding them. */
  def prepare(): Unit = {
    inputDir.mkdirs()
    var bytes = 0L
    (0 until roots).foreach { i =>
      val g = Gen.root(seed, i.toLong)
      Files.write(new File(inputDir, g.file_name).toPath, g.bytes)
      bytes += g.bytes.length
    }
    inputBytes = bytes
  }

  def release(): Unit = deleteRec(inputDir)

  def reference(): Unit = {
    ref = new SerialWalk(Pipeline.Config().maxDepth)
      .run(Iterator.range(0, roots).map(i => Gen.filePending(seed, i.toLong)))
  }

  def pass(rec: Recorder): PassRun = {
    passNo += 1
    val table = new File(work, s"table-$passNo")
    deleteRec(table)
    val dir = table.getAbsolutePath
    val t0 = System.nanoTime()
    val (src, rows, partitions) = rec.span("sources", "fromDirectory") {
      val s = Sources.fromDirectory(spark, inputDir.getAbsolutePath).persist(Ser)
      val n = s.count()
      (s, n, s.rdd.getNumPartitions)
    }
    rec.span("pipeline", "runDurable_root") {
      Pipeline.runDurable(spark, src, dir, Pipeline.Config(), maxDepthOverride = 0)
    }
    val t1 = System.nanoTime()
    rec.span("pipeline", "runDurable_resume") {
      Pipeline.runDurable(spark, src, dir, Pipeline.Config())
    }
    val t2 = System.nanoTime()
    val (spans, meta, lineage) = rec.span("table", "read") {
      (OutputDigest.spans(SnapshotTable.read(spark, dir, "spans").as[SpanOut]),
        OutputDigest.meta(Workloads.metaRows(SnapshotTable.read(spark, dir, "meta").as[DocMeta])),
        OutputDigest.meta(Workloads.lineageRows(
          SnapshotTable.read(spark, dir, "lineage").as[LineageRow])))
    }
    val hist = rec.span("pipeline", "metrics") {
      Pipeline.metrics(SnapshotTable.read(spark, dir, "meta").as[DocMeta])
        .select("succeeded", "failed").as[(Long, Long)].collect()
    }
    val tags = rec.span("analysis", "tags") {
      Analyze.aggregateTags(Analyze.extractPatterns(
        SnapshotTable.read(spark, dir, "spans"), Some("seq"))).collect()
    }
    PassRun(() => {
      val snaps = SnapshotTable.snapshots(spark, dir)
      val files = Seq("spans", "meta", "lineage", "children")
        .flatMap(c => SnapshotTable.dataFiles(spark, dir, c))
      deleteRec(table)
      OutputDigest.check("spans", spans, ref, _.spans)
      val missing = OutputDigest.check("meta", meta, ref, _.meta)
      OutputDigest.check("lineage", lineage, ref, _.meta)
      val missingInputs = roots - rows
      require(missing.size == missingInputs, s"${missing.size} roots missing from the " +
        s"table but $missingInputs inputs missing from the source")
      val present = meta.keySet.iterator.map(ref.perRoot)
        .foldLeft(RootRef(Digest.Zero, Digest.Zero, 0L, 0L))(_ + _)
      require(hist.map(_._1).sum == present.ok && hist.map(_._2).sum == present.docs - present.ok,
        "Pipeline.metrics does not count the table's documents")
      require(tags.nonEmpty, "no tags: the planted mentions were not found")
      if (tagsPinned < 0) tagsPinned = tags.length
      require(tags.length == tagsPinned,
        s"tag rows changed between passes: ${tags.length} vs $tagsPinned")
      val stored = files.map(_.bytes).sum
      PassOut(present.docs, present.ok.toDouble / ref.docs, Map(
        "analysis.tags_out" -> tags.length.toDouble,
        "sources.partitions" -> partitions.toDouble,
        "sources.rows" -> rows.toDouble,
        "sources.missing_inputs" -> missingInputs.toDouble,
        "pipeline.depth_levels" -> snaps.size.toDouble,
        "table.commits" -> snaps.size.toDouble,
        "table.data_files" -> files.size.toDouble,
        "table.bytes" -> stored.toDouble,
        "durable.first_commit_s" -> (t1 - t0) / 1e9,
        "durable.resume_s" -> (t2 - t1) / 1e9,
        "durable.stored_bytes_per_input_byte" -> stored.toDouble / inputBytes))
    }, () => rec.span("sources", "release") { src.unpersist(false) })
  }
}

/** A shuffle-heavy composed-operator chain with no extraction:
  * `Dedup.dedupCorpus` → `SpanOps.stripBoilerplateNested` → body
  * reassembly → `TextOps.curateCorpus` → `TextOps.packSequences`. Each
  * stage's output is materialized at the stage boundary. */
final class CorpusBuild(spark0: SparkSession, seed0: Long, work0: File, n: Int)
    extends Workload(spark0, seed0, work0) {
  import spark.implicits._
  private var docs: DataFrame = _
  private var idDigest = 0L
  private var pinned: Option[Seq[Long]] = None

  def prepare(): Unit = {
    val s = seed
    docs = spark.range(0L, n.toLong, 1L, cores * 3)
      .map(i => Gen.webDoc(s, i)).toDF()
      .persist(Ser)
    require(docs.count() == n, "corpus_build input did not materialize")
  }

  def release(): Unit = if (docs != null) { docs.unpersist(true); docs = null }

  def reference(): Unit = {
    idDigest = (0L until n.toLong).iterator.map(i => Digest.h64(i.toString)).sum
  }

  /** A stage boundary: the next stage reads `df`'s materialized rows
    * through a one-node plan instead of nesting `df`'s whole plan. Without
    * it every action downstream re-renders the upstream operators' cached
    * plans into its plan description, which at the smoke size alone cost
    * ~46 s of driver time in `packSequences` per pass. */
  private def cut(df: DataFrame): DataFrame = spark.createDataFrame(df.rdd, df.schema)

  def pass(rec: Recorder): PassRun = {
    val (dd, survivors) = rec.span("ops.dedup", "dedupCorpus") {
      val d = Dedup.dedupCorpus(spark, docs.select("id", "text"), "id", "text", 0.8)
      (d, d.filter(col("keep")).count())
    }
    val keepIds = cut(dd.filter(col("keep")).select("id"))
    val (stripped, strippedRows) = rec.span("ops.strip", "stripBoilerplateNested") {
      val input = docs.join(keepIds, Seq("id"), "left_semi")
        .select(col("id").cast("string").as("doc_id"), col("spans"))
      val s = SpanOps.stripBoilerplateNested(spark, input, 5)
      (s, s.count())
    }
    // body reassembly: narrow, evaluated inside the curate stage
    val corpus = cut(stripped).select(col("doc_id").cast("long").as("id"),
      array_join(transform(filter(col("spans"), sp => sp.getField("kind") === "text"),
        sp => sp.getField("text")), " ").as("text"))
      .select(col("id"), col("text"),
        pmod(col("id"), lit(3)).cast("string").as("stratum"),
        pmod(col("id"), lit(997)).cast("string").as("source"),
        length(col("text")).cast("long").as("ord"))
    val (kept, keptRows) = rec.span("ops.curate", "curateCorpus") {
      val bench = corpus.filter(pmod(col("id"), lit(101)) === 0)
        .select(col("id"), col("text")).orderBy(col("id")).limit(2000)
      // the result is lazy over the operator's own pinned verdicts;
      // counting it materializes every verdict
      val k = TextOps.curateCorpus(spark, corpus, "id", "text", "stratum", "source",
        "ord", bench, 5000, Map("0" -> 0.5, "1" -> 0.25), 0.1, "bench")
      (k, k.count())
    }
    val (segs, segRows) = rec.span("ops.pack", "packSequences") {
      val surv = corpus.join(kept.select("id"), Seq("id"), "left_semi")
      val s = TextOps.packSequences(spark, surv, "id", "text", 2048)
      (s, s.count())
    }

    PassRun(() => {
      // structural checks on the first pass; every later pass must then
      // reproduce the first pass's outputs exactly
      if (pinned.isEmpty) {
        val ddIds = dd.select("id").as[Long].mapPartitions(it =>
          Iterator.single(it.map(i => Digest.h64(i.toString)).sum)).collect().sum
        require(dd.count() == n && ddIds == idDigest, "dedup output is not one row per input id")
        require(survivors > 0 && survivors < n, s"dedup kept $survivors of $n")
        val distinctTexts = docs.join(keepIds, Seq("id"), "left_semi")
          .select(xxhash64(col("text"))).distinct().count()
        require(distinctTexts == survivors, "two dedup survivors share one exact text")
        require(strippedRows == survivors, s"strip returned $strippedRows rows for $survivors docs")
        val leftover = stripped.select(explode(col("spans")).as("s"))
          .filter(col("s.text").isin(Gen.Header, Gen.Footer)).count()
        require(leftover == 0, s"$leftover boilerplate spans survived the strip")
        require(keptRows > 0, "curation kept nothing")
        require(kept.join(keepIds, Seq("id"), "left_anti").count() == 0,
          "curation kept an id that was not a dedup survivor")
        val tokensIn = kept.agg(coalesce(sum("n_tokens"), lit(0L))).as[Long].head()
        val maxChunk = segs.groupBy("chunk_id").agg(sum("seg_len").as("t"))
          .agg(coalesce(max("t"), lit(0L))).as[Long].head()
        require(maxChunk <= 2048, s"a packed sequence holds $maxChunk > 2048 tokens")
        val tokensOut = segs.agg(coalesce(sum("seg_len"), lit(0L))).as[Long].head()
        require(tokensOut == tokensIn, s"packing lost tokens: $tokensOut of $tokensIn")
      }
      val keptDigest = kept.select("id").as[Long].mapPartitions(it =>
        Iterator.single(it.map(i => Digest.h64(i.toString)).sum)).collect().sum
      val segDigest = segs.select("chunk_id", "doc_id", "seg_len").as[(Long, Long, Long)]
        .mapPartitions(it => Iterator.single(it.map(r => Digest.h64(r.toString)).sum))
        .collect().sum
      val sig = Seq(survivors, strippedRows, keptRows, keptDigest, segRows, segDigest)
      if (pinned.isEmpty) pinned = Some(sig)
      require(pinned.contains(sig), s"corpus_build output changed between passes: $sig vs ${pinned.get}")
      PassOut(n.toLong, 1.0, Map(
        "ops.dedup.rows_out" -> survivors.toDouble,
        "ops.strip.rows_out" -> strippedRows.toDouble,
        "ops.curate.rows_out" -> keptRows.toDouble,
        "ops.pack.rows_out" -> segRows.toDouble))
    }, () => rec.span("ops", "release") {
      dd.unpersist(false)
      stripped.unpersist(false)
      segs.unpersist(false)
    })
  }
}
