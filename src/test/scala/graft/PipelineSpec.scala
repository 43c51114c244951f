package graft

import graft.core._
import graft.corpus.CorpusGen
import graft.pipeline.Pipeline
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end pipeline semantics on a real SparkSession: children explode,
  * lineage, determinism, dedup — the SURVEY §3 lifecycle invariants. */
class PipelineSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private def pending(docs: (String, String, Array[Byte])*) = {
    import spark.implicits._
    spark.createDataset(docs.map { case (id, name, bytes) =>
      PendingDoc(id, "", Seq.empty, 0, name, "", bytes)
    })
  }

  test("zip children are exploded, re-classified and extracted with lineage") {
    val zip = CorpusGen.renderZip(Seq(
      ("inner.html", "<html><body><p>from the zip</p></body></html>".getBytes),
      ("inner.txt", "plain text member".getBytes)))
    val out = Pipeline.run(spark, pending(("d1", "d1.zip", zip)))
    val meta = out.meta.collect().map(m => m.doc_id -> m).toMap
    assert(meta("d1").ingestor == "ZipIngestor")
    assert(meta("d1").schema == "Package")
    assert(meta("d1/0").ingestor == "HTMLIngestor")
    assert(meta("d1/0").parent_id == "d1")
    assert(meta("d1/0").ancestors == Seq("d1"))
    assert(meta("d1/0").depth == 1)
    assert(meta("d1/1").ingestor == "PlainTextIngestor")
    val spans = out.spans.collect().map(s => (s.doc_id, s.text)).toSet
    assert(spans.contains(("d1/0", "from the zip")))
    assert(spans.contains(("d1/1", "plain text member")))
    val lin = out.lineage.collect()
    assert(lin.map(_.doc_id).toSet == Set("d1", "d1/0", "d1/1"))
    out.cleanup()
  }

  test("nested zip recursion carries ancestors through both levels") {
    val inner = CorpusGen.renderZip(Seq(("deep.txt", "deep text".getBytes)))
    val outer = CorpusGen.renderZip(Seq(("nested.zip", inner)))
    val out = Pipeline.run(spark, pending(("d2", "d2.zip", outer)))
    val meta = out.meta.collect().map(m => m.doc_id -> m).toMap
    assert(meta("d2/0").ingestor == "ZipIngestor")
    assert(meta("d2/0/0").ingestor == "PlainTextIngestor")
    assert(meta("d2/0/0").ancestors == Seq("d2", "d2/0"))
    assert(meta("d2/0/0").depth == 2)
    out.cleanup()
  }

  test("maxDepth caps runaway recursion") {
    // zip-in-zip-in-zip with maxDepth=1: level-2 children never extracted
    val l3 = CorpusGen.renderZip(Seq(("x.txt", "bottom".getBytes)))
    val l2 = CorpusGen.renderZip(Seq(("l3.zip", l3)))
    val l1 = CorpusGen.renderZip(Seq(("l2.zip", l2)))
    val out = Pipeline.run(spark, pending(("d3", "d3.zip", l1)),
      Pipeline.Config(maxDepth = 1))
    assert(out.meta.collect().map(_.depth).max == 1)
    out.cleanup()
  }

  test("failure rows: garbage bytes yield status=failure, never an exception") {
    val out = Pipeline.run(spark,
      pending(("d4", "d4.bin", Array[Byte](1, 2, 3, 0, 9, 9))))
    val m = out.meta.collect().head
    assert(m.processing_status == "failure")
    assert(m.processing_error == "Format not supported")
    out.cleanup()
  }

  test("mbox -> eml children -> attachment grandchildren (queue recursion analogue)") {
    val attach = Some(("doc.txt", "attached payload".getBytes))
    val eml = CorpusGen.renderEml("Subj", "a@x.test", "b@x.test", "cover",
      htmlAlt = false, attach)
    val mbox = CorpusGen.renderMbox(Seq(eml))
    val out = Pipeline.run(spark, pending(("d5", "inbox.mbox", mbox)))
    val meta = out.meta.collect().map(m => m.doc_id -> m).toMap
    assert(meta("d5").schema == "Package")
    assert(meta("d5/0").schema == "Email")
    assert(meta("d5/0/0").ingestor == "PlainTextIngestor") // the attachment
    assert(meta("d5/0/0").file_name == "doc.txt")
    out.cleanup()
  }

  test("pipeline output is deterministic across runs (span-sequence equality)") {
    val (docs, blobs) = CorpusGen.corpus(spark, 300)
    def spansOf() = {
      val out = Pipeline.run(spark, Pipeline.initialPending(spark, docs, blobs))
      val r = out.spans.collect()
        .map(s => (s.doc_id, s.seq, s.kind, s.text, s.media_ref, s.offset)).sorted.toVector
      out.cleanup()
      r
    }
    val a = spansOf()
    val b = spansOf()
    assert(a == b)
    assert(a.nonEmpty)
  }

  test("corpus generation is deterministic (same seed, same bytes)") {
    val g1 = CorpusGen.generate(42, 17)
    val g2 = CorpusGen.generate(42, 17)
    assert(g1.bytes.sameElements(g2.bytes))
    assert(g1.file_name == g2.file_name)
    val g3 = CorpusGen.generate(43, 17)
    assert(!g1.bytes.sameElements(g3.bytes) || g1.format != g3.format)
  }

  test("dedup-by-content plan: identical payloads extracted once") {
    import spark.implicits._
    val same = "identical bytes".getBytes
    val p = pending(("a", "a.txt", same), ("b", "b.txt", same),
      ("c", "c.txt", "different".getBytes))
    val (deduped, mapping) = Pipeline.dedupByContent(spark, p)
    assert(deduped.collect().length == 2)
    val m = mapping.collect().map(r => r.getString(0) -> r.getString(2)).toMap
    assert(m("b") == "a") // representative = smallest doc_id
    assert(m("c") == "c")
    // The semi-join must carry NO forced broadcast hint: the winner set is
    // one id per distinct document (driver-OOM scale at 100 TB), so AQE has
    // to be free to pick the strategy from runtime stats.
    val optimized = deduped.queryExecution.optimizedPlan.toString
    assert(!optimized.contains("ResolvedHint") && !optimized.contains("hints=[broadcast]"),
      optimized.take(2000))
    val plan = deduped.queryExecution.executedPlan.toString
    // AQE picks broadcast here because the winner set IS tiny at test scale
    assert(plan.contains("Join"), plan.take(2000))
    assert(!plan.contains("Window"), plan.take(2000))
  }

  test("directory source skips the reference's junk entries (.git etc.)") {
    val base = java.nio.file.Files.createTempDirectory("graft-dirsrc")
    def put(rel: String, body: String): Unit = {
      val p = base.resolve(rel)
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p, body.getBytes)
    }
    put("keep.txt", "kept")
    put("sub/also.txt", "kept too")
    // names Spark's file sources treat as hidden; the reference queues them
    Seq(".env", "_notes.txt", "_a=b.txt", ".c=d.txt", "sub/_p=1/f.txt")
      .foreach(put(_, "kept"))
    put(".git/config", "[core]")           // directory.py:11 SKIP_ENTRIES
    put(".hg/hgrc", "junk")
    put("__MACOSX/._keep.txt", "resource fork")
    put("sub/.gitignore", "target/")
    val ids = graft.sources.Sources.fromDirectory(spark, base.toString)
      .collect().map(_.doc_id).toSet
    assert(ids == Set("keep.txt", "sub/also.txt", ".env", "_notes.txt", "_a=b.txt",
      ".c=d.txt", "sub/_p=1/f.txt"), ids)
  }

  test("size-aware partitioning: byte-derived counts bound per-task payload") {
    // 10 GiB across few rows: the bytes term must dominate parallelism
    val byBytes = Pipeline.partitionCountFor(spark, cnt = 200,
      totalBytes = 10L * 1024 * 1024 * 1024)
    assert(byBytes >= (10L * 1024 * 1024 * 1024 / Pipeline.TargetPartitionBytes).toInt,
      byBytes)
    // tiny queue: never more partitions than rows
    assert(Pipeline.partitionCountFor(spark, cnt = 3, totalBytes = 100) == 3)
    // normal queue: 3 waves per core smooths the long tail
    val waves = Pipeline.partitionCountFor(spark, cnt = 1000000, totalBytes = 1000)
    assert(waves >= spark.sparkContext.defaultParallelism * 3)
  }

  test("directory source: the testdir fixture's listing runs no job before the action") {
    assume(new java.io.File("/root/reference/tests/fixtures/testdir").isDirectory)
    def source = graft.sources.Sources.fromDirectory(spark,
      "/root/reference/tests/fixtures/testdir")
    // the driver walk lists the tree and picks the slice count: no job
    val (pending, jobs) =
      org.apache.spark.ListenerBusDrain.jobsStartedBy(spark.sparkContext)(source)
    assert(jobs == 0)
    val out = Pipeline.run(spark, pending)
    val meta = out.meta.collect()
    assert(meta.length >= 1)
    val txt = meta.find(_.file_name == "test.txt")
    assert(txt.isDefined, meta.map(_.file_name).toSeq)
    assert(txt.get.processing_status == ExtractionResult.Success)
    assert(txt.get.ingestor == "PlainTextIngestor")
    out.cleanup()
  }

  test("durable snapshots: killed-then-resumed run equals the uninterrupted run") {
    import spark.implicits._
    val zip = CorpusGen.renderZip(Seq(("in.txt", "zipped body".getBytes)))
    val p = pending(("d1", "a.html", "<html><body><p>web</p></body></html>".getBytes),
      ("d2", "b.zip", zip))
    val base = java.nio.file.Files.createTempDirectory("graft-snap").toString

    // All snapshotDir paths go through an explicit file:-scheme URI so the
    // snapshot-log bookkeeping (metadata versions, manifests) is exercised
    // via the Hadoop FileSystem layer — the path shape HDFS/S3A would take.
    // full uninterrupted run, separate snapshot dir
    val (s0, m0, _) = Pipeline.runDurable(spark, p, s"file:$base/full")
    val expectSpans = s0.collect().map(_.toString).sorted.toVector
    val expectMeta = m0.count()

    // "killed" run: commits depth 0 only, then stops
    import graft.table.SnapshotTable
    val killedLoc = s"file:$base/killed"
    Pipeline.runDurable(spark, p, killedLoc, maxDepthOverride = 0)
    val snaps0 = SnapshotTable.snapshots(spark, killedLoc)
    assert(snaps0.map(_.summary("depth")) == Vector("0"))
    val d0files = SnapshotTable
      .addedFiles(spark, killedLoc, snaps0.head.id, "spans").map(_.path).sorted

    // resume: completes depth 1+ without recomputing depth 0
    val (s1, m1, l1) = Pipeline.runDurable(spark, p, killedLoc)
    val snaps1 = SnapshotTable.snapshots(spark, killedLoc)
    assert(SnapshotTable
      .addedFiles(spark, killedLoc, snaps0.head.id, "spans").map(_.path).sorted
      == d0files, "depth 0 was rewritten on resume")
    // the resumed levels chain onto the killed run's snapshot
    assert(snaps1.map(_.summary("depth")).sorted.startsWith(Vector("0", "1")))
    assert(snaps1.find(_.summary("depth") == "1").get.parentId == snaps0.head.id)
    assert(s1.collect().map(_.toString).sorted.toVector == expectSpans)
    assert(m1.count() == expectMeta)
    // lineage carries partition provenance for every committed row
    assert(l1.count() == expectMeta)
    // child of the zip got extracted on the resumed run
    assert(m1.filter(org.apache.spark.sql.functions.col("doc_id") === "d2/0")
      .count() == 1)
  }

  test("durable layout: one job per level writes at most one file per component per extraction task") {
    import spark.implicits._
    import graft.table.SnapshotTable
    val inner = CorpusGen.renderZip(Seq(("deep.txt", "deepest body".getBytes)))
    val zip = CorpusGen.renderZip(Seq(("in.txt", "zipped body".getBytes),
      ("nested.zip", inner)))
    val p = pending(("d1", "a.html", "<html><body><p>web</p></body></html>".getBytes),
      ("d2", "b.zip", zip)).repartition(4)
    val loc = "file:" + java.nio.file.Files.createTempDirectory("graft-layout")
    val sc = spark.sparkContext
    val rec = new graft.obs.Recorder(sc, _ => ())
    sc.addSparkListener(rec)
    try rec.record("runDurable")(Pipeline.runDurable(spark, p, loc))
    finally sc.removeSparkListener(rec)
    // AQE runs the input's repartition as its own shuffle job; then one
    // job per level (3)
    assert(rec.records.map(_.jobs) == Seq(1 + 3), rec.records)
    val snaps = SnapshotTable.snapshots(spark, loc)
    assert(snaps.map(_.summary("depth")) == Vector("0", "1", "2"))
    assert(snaps.map(_.summary("level-docs")) == Vector("2", "2", "1"))
    val lineage = SnapshotTable.read(spark, loc, "lineage").as[LineageRow].collect()
    snaps.zipWithIndex.foreach { case (s, d) =>
      // a level's extraction tasks are the partitions of its input
      val tasks = if (d == 0) p.rdd.getNumPartitions
        else SnapshotTable.readAdded(spark, loc, snaps(d - 1).id, "children")
          .rdd.getNumPartitions
      val busyTasks = lineage.filter(_.depth == d).map(_.partition_id).distinct.length
      Seq("spans", "meta", "lineage", "children").foreach { c =>
        val files = SnapshotTable.addedFiles(spark, loc, s.id, c)
        assert(files.size <= tasks, s"depth $d $c")
        assert(files.forall(_.rows > 0), s"depth $d $c")
        assert(s.summary(SnapshotTable.rowsKey(c)).toLong ==
          SnapshotTable.readAdded(spark, loc, s.id, c).count(), s"depth $d $c")
      }
      // every task that extracted a document wrote one meta and one lineage file
      Seq("meta", "lineage").foreach { c =>
        assert(SnapshotTable.addedFiles(spark, loc, s.id, c).size == busyTasks, s"depth $d $c")
      }
    }
    // lineage keeps the extraction task's partition, not the file's
    val pids = lineage.filter(_.depth == 0).map(_.partition_id).toSet
    val expected = p.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      it.map(_ => pid)
    }.collect().toSet
    assert(pids == expected)
  }

  test("runDurable over a document with no spans reads back empty spans of the SpanOut schema") {
    import spark.implicits._
    val loc = "file:" + java.nio.file.Files.createTempDirectory("graft-nospans")
    val (spans, meta, _) = Pipeline.runDurable(spark,
      pending(("g1", "g1.bin", Array[Byte](1, 2, 3, 0, 9, 9))), loc)
    assert(meta.as[DocMeta].collect().map(_.processing_status).toSeq ==
      Seq(ExtractionResult.Failure))
    def fields(st: org.apache.spark.sql.types.StructType) = st.map(f => (f.name, f.dataType))
    assert(fields(spans.schema) ==
      fields(org.apache.spark.sql.Encoders.product[SpanOut].schema))
    assert(spans.as[SpanOut].collect().isEmpty)
    assert(graft.table.SnapshotTable.read(spark, loc, "spans").count() == 0)
  }

  test("cleanup releases every RDD the in-memory run pinned") {
    val sc = spark.sparkContext
    val inner = CorpusGen.renderZip(Seq(("deep.txt", "deep text".getBytes)))
    val outer = CorpusGen.renderZip(Seq(("nested.zip", inner)))
    val before = sc.getPersistentRDDs.keySet
    val out = Pipeline.run(spark, pending(("p1", "p1.zip", outer)))
    assert(out.meta.count() == 3)
    assert(sc.getPersistentRDDs.keySet != before, "the run pinned nothing")
    out.cleanup()
    assert(sc.getPersistentRDDs.keySet == before)
  }

  test("run keeps the caller's cache of its input") {
    val sc = spark.sparkContext
    val zip = CorpusGen.renderZip(Seq(("in.txt", "zipped body".getBytes)))
    val p = pending(("c1", "c1.zip", zip), ("c2", "c2.txt", "plain".getBytes)).persist()
    try {
      assert(p.count() == 2)
      val cached = sc.getPersistentRDDs.keySet
      val out = Pipeline.run(spark, p)
      assert(out.meta.count() == 3)
      out.cleanup()
      assert(sc.getPersistentRDDs.keySet == cached)
      assert(p.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
    } finally p.unpersist(false)
  }

  test("a failed extraction or stats pass releases every pin it took") {
    val sc = spark.sparkContext
    val inner = CorpusGen.renderZip(Seq(("deep.txt", "deep text".getBytes)))
    val outer = CorpusGen.renderZip(Seq(("nested.zip", inner)))
    // the map runs inside the depth-0 stats pass, or, with the stats
    // given, inside the depth-0 extraction job
    val failing = {
      import spark.implicits._
      pending(("f1", "f1.zip", outer)).map { p =>
        if (p.doc_id == "f1") throw new IllegalStateException("injected")
        p
      }
    }
    val before = sc.getPersistentRDDs.keySet
    intercept[org.apache.spark.SparkException](Pipeline.run(spark, failing))
    assert(sc.getPersistentRDDs.keySet == before, "run, stats pass")
    intercept[org.apache.spark.SparkException](Pipeline.run(spark, failing,
      initialStats = Some((1L, outer.length.toLong))))
    assert(sc.getPersistentRDDs.keySet == before, "run, extraction")
    val loc = "file:" + java.nio.file.Files.createTempDirectory("graft-fail")
    intercept[org.apache.spark.SparkException](
      Pipeline.runDurable(spark, failing, loc))
    assert(sc.getPersistentRDDs.keySet == before, "runDurable")
    assert(graft.table.SnapshotTable.snapshots(spark, loc).isEmpty, "runDurable committed")
  }

  test("run and runDurable extract the same spans, meta and lineage") {
    import spark.implicits._
    val inner = CorpusGen.renderZip(Seq(("deep.txt", "deep text".getBytes)))
    val outer = CorpusGen.renderZip(Seq(("nested.zip", inner),
      ("top.txt", "top text".getBytes)))
    val p = pending(("e1", "e1.zip", outer),
      ("e2", "e2.html", "<html><body><p>page</p></body></html>".getBytes))
    // duration_ms is a wall-clock measurement, and lineage partition ids
    // follow each loop's own partitioning
    def metaRows(m: Seq[DocMeta]) = m.map(_.copy(duration_ms = 0L)).toSet
    def linRows(l: Seq[LineageRow]) = l.map(_.copy(partition_id = 0)).toSet
    val out = Pipeline.run(spark, p)
    val (spans, meta, lineage) = (out.spans.collect().toSet,
      metaRows(out.meta.collect().toSeq), linRows(out.lineage.collect().toSeq))
    out.cleanup()
    val loc = "file:" + java.nio.file.Files.createTempDirectory("graft-same")
    val (ds, dm, dl) = Pipeline.runDurable(spark, p, loc)
    assert(meta.size == 5)
    assert(ds.as[SpanOut].collect().toSet == spans)
    assert(metaRows(dm.as[DocMeta].collect().toSeq) == meta)
    assert(linRows(dl.as[LineageRow].collect().toSeq) == lineage)
  }

  test("resume: committed docs are skipped, failures are retried (left_anti recovery)") {
    import spark.implicits._
    val p = pending(
      ("r1", "a.txt", "first".getBytes),
      ("r2", "b.txt", "second".getBytes),
      ("r3", "c.txt", "third".getBytes))
    val committed = spark.createDataset(Seq(
      LineageRow(0, "r1", "PlainTextIngestor", "success", 0),
      LineageRow(0, "r2", "PlainTextIngestor", "failure", 0)))
    val remaining = Pipeline.resume(spark, p, committed)
    // r1 done; r2 failed -> retried; r3 never ran
    assert(remaining.collect().map(_.doc_id).sorted.toSeq == Seq("r2", "r3"))
    val out = Pipeline.run(spark, remaining)
    assert(out.meta.collect().map(_.doc_id).sorted.toSeq == Seq("r2", "r3"))
    out.cleanup()
  }

  test("metrics roll up per ingestor") {
    val out = Pipeline.run(spark, pending(
      ("m1", "x.txt", "hello".getBytes),
      ("m2", "y.txt", "world".getBytes),
      ("m3", "z.bin", Array[Byte](1, 2, 0))))
    val rows = Pipeline.metrics(out.meta).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(rows("PlainTextIngestor") == (2L, 0L))
    assert(rows("") == (0L, 1L)) // unclassifiable junk
    // duration histogram (custom Aggregator) counts every doc exactly once
    val hist = Pipeline.metrics(out.meta).collect()
      .map(r => r.getString(0) -> r.getMap[String, Long](4)).toMap
    assert(hist("PlainTextIngestor").values.sum == 2L)
    out.cleanup()
  }
}
