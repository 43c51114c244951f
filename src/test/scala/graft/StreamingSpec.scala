package graft

import graft.core._
import graft.corpus.CorpusGen
import graft.streaming.StreamingIngest
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class StreamingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  test("snapshot-table sink: one atomic snapshot per batch, replay skipped, never torn") {
    import spark.implicits._
    import graft.table.SnapshotTable
    val loc = "file:" + java.nio.file.Files.createTempDirectory("graft-tsink").toString
    val batch = spark.createDataset(Seq(
      PendingDoc("t1", "", Seq.empty, 0, "t1.txt", "", "table sink doc".getBytes)))
      .toDF()
    StreamingIngest.writeBatchToTable(spark, batch, 7L, loc)
    assert(SnapshotTable.snapshots(spark, loc).size == 1)
    val n1 = SnapshotTable.read(spark, loc, "meta").count()
    // post-failure replay of the SAME micro-batch: no new snapshot, no dup rows
    StreamingIngest.writeBatchToTable(spark, batch, 7L, loc)
    assert(SnapshotTable.snapshots(spark, loc).size == 1)
    assert(SnapshotTable.read(spark, loc, "meta").count() == n1)
    // next batch appends a second snapshot; spans+meta committed together
    StreamingIngest.writeBatchToTable(spark, batch, 8L, loc)
    val snaps = SnapshotTable.snapshots(spark, loc)
    assert(snaps.map(_.summary("batch-id")).sorted == Vector("7", "8"))
    assert(SnapshotTable.read(spark, loc, "meta").count() == 2 * n1)
    assert(SnapshotTable.read(spark, loc, "spans")
      .filter(col("text") === "table sink doc").count() == 2)
    // time travel: the first batch's snapshot still reads alone
    assert(SnapshotTable.read(spark, loc, "meta",
      asOf = Some(snaps.head.id)).count() == n1)
  }

  test("a failed sink write still releases every pin the batch's extraction took") {
    import spark.implicits._
    val sc = spark.sparkContext
    val base = java.nio.file.Files.createTempDirectory("graft-sinkfail")
    // a regular file where each sink expects a directory
    val blocker = java.nio.file.Files.createFile(base.resolve("not-a-dir")).toString
    val inner = CorpusGen.renderZip(Seq(("deep.txt", "deep text".getBytes)))
    val batch = spark.createDataset(Seq(
      PendingDoc("f1", "", Seq.empty, 0, "f1.zip", "",
        CorpusGen.renderZip(Seq(("nested.zip", inner)))))).toDF()
    val before = sc.getPersistentRDDs.keySet
    intercept[Exception](
      StreamingIngest.writeBatchToTable(spark, batch, 1L, s"file:$blocker"))
    assert(sc.getPersistentRDDs.keySet == before, "writeBatchToTable")
    assert(graft.table.SnapshotTable.snapshots(spark, s"file:$blocker").isEmpty)
  }

  test("table sink: one job per depth level, nothing cached, one snapshot; a replay runs no job") {
    import spark.implicits._
    import graft.table.SnapshotTable
    val sc = spark.sparkContext
    val loc = "file:" + java.nio.file.Files.createTempDirectory("graft-tjobs").toString
    val inner = CorpusGen.renderZip(Seq(("deep.txt", "deepest streamed body".getBytes)))
    val batch = spark.createDataset(Seq(
      PendingDoc("z1", "", Seq.empty, 0, "z1.zip", "",
        CorpusGen.renderZip(Seq(("nested.zip", inner)))))).toDF()
    val rec = new graft.obs.Recorder(sc, _ => ())
    sc.addSparkListener(rec)
    try {
      rec.record("batch")(StreamingIngest.writeBatchToTable(spark, batch, 3L, loc))
      rec.record("replay")(StreamingIngest.writeBatchToTable(spark, batch, 3L, loc))
    } finally sc.removeSparkListener(rec)
    val Seq(first, replay) = rec.records.toSeq
    assert(first.jobs == 3, first) // depths 0, 1 and 2
    assert(first.cachedDelta == 0, first)
    assert(replay.jobs == 0, replay)
    val snaps = SnapshotTable.snapshots(spark, loc)
    assert(snaps.size == 1)
    assert(snaps.head.summary.get("batch-id").contains("3"))
    assert(!snaps.head.summary.contains("depth"))
    assert(SnapshotTable.readAdded(spark, loc, snaps.head.id, "meta")
      .select("doc_id").as[String].collect().sorted.toSeq == Seq("z1", "z1/0", "z1/0/0"))
    val deep = SnapshotTable.read(spark, loc, "spans", asOf = Some(snaps.head.id))
      .filter(col("doc_id") === "z1/0/0").select("text").as[String].collect()
    assert(deep.toSeq == Seq("deepest streamed body"))
    assert(!SnapshotTable.read(spark, loc, "meta").columns.contains("batch_id"))
  }

  test("streaming WARC ingest: crawl files -> record explode -> atomic snapshot per batch, incremental resume") {
    import graft.table.SnapshotTable
    val base = java.nio.file.Files.createTempDirectory("graft-wstream")
    val crawl = base.resolve("crawl")
    java.nio.file.Files.createDirectories(crawl)
    val loc = "file:" + base.resolve("table")
    def warc(id: Long, gz: Boolean) = CorpusGen.renderWarc(id,
      CorpusGen.renderHtml(s"Doc $id", "", Nil, s"crawled body $id"),
      s"note $id", gzipMembers = gz)
    java.nio.file.Files.write(crawl.resolve("a.warc"), warc(1, gz = false))

    val q = StreamingIngest.extractionQueryToTable(spark,
      graft.sources.Sources.streamWarcs(spark, crawl.toString).toDF(),
      loc, s"$base/ckpt")
    q.awaitTermination(120000)
    val uris1 = SnapshotTable.read(spark, loc, "meta")
      .select("file_name").collect().map(_.getString(0)).toSet
    assert(uris1.contains("http://graft.test/doc1/page.html"))
    assert(uris1.contains("http://graft.test/doc1/notes.txt"))
    assert(!uris1.exists(_.contains("missing.txt"))) // 404 never ingested
    val nSnaps1 = SnapshotTable.snapshots(spark, loc).size

    // a new crawl file lands; the checkpoint resumes at it — batch 0 is
    // not reprocessed, the new records commit as their own snapshot
    java.nio.file.Files.write(crawl.resolve("b.warc.gz"), warc(2, gz = true))
    val q2 = StreamingIngest.extractionQueryToTable(spark,
      graft.sources.Sources.streamWarcs(spark, crawl.toString).toDF(),
      loc, s"$base/ckpt")
    q2.awaitTermination(120000)
    val meta = SnapshotTable.read(spark, loc, "meta")
    assert(meta.filter(col("file_name") === "http://graft.test/doc1/page.html")
      .count() == 1) // no duplicate from a resume
    assert(meta.filter(col("file_name") === "http://graft.test/doc2/page.html")
      .count() == 1)
    assert(SnapshotTable.snapshots(spark, loc).size > nSnaps1)
    // the html payload really went through extraction
    assert(SnapshotTable.read(spark, loc, "spans")
      .filter(col("text").contains("crawled body 2")).count() >= 1)
  }

  test("stateful threading: out-of-order parents resolve across micro-batches") {
    import spark.implicits._
    // Spark 4 moved MemoryStream under execution.streaming.runtime
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[StreamingIngest.MailEvent]
    val edges = StreamingIngest.threadEdges(spark, source.toDS())
    val q = edges.writeStream.outputMode("append")
      .format("memory").queryName("thread_edges").start()
    // batch 1: a reply arrives BEFORE its parent + one ordinary pair
    source.addData(
      StreamingIngest.MailEvent("docB", "m2", "m1"), // parent m1 not yet seen
      StreamingIngest.MailEvent("docC", "m3", "m2")) // parent m2 declared here
    q.processAllAvailable()
    val after1 = spark.sql("SELECT * FROM thread_edges").as[StreamingIngest.ThreadEdge]
      .collect().toSet
    assert(after1 == Set(StreamingIngest.ThreadEdge("docC", "docB")))
    // batch 2: the missing parent shows up → parked reply resolves
    source.addData(StreamingIngest.MailEvent("docA", "m1", ""))
    q.processAllAvailable()
    val after2 = spark.sql("SELECT * FROM thread_edges").as[StreamingIngest.ThreadEdge]
      .collect().toSet
    assert(after2 == Set(
      StreamingIngest.ThreadEdge("docC", "docB"),
      StreamingIngest.ThreadEdge("docB", "docA")))
    q.stop()
  }

  test("streaming sessionize: gap closes sessions, event-time timeout flushes idle ones") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamingIngest.{SessEvent, SessionOut}
    implicit val sqlCtx = spark.sqlContext
    def ts(s: Long) = new java.sql.Timestamp(1700000000000L + s * 1000)
    val source = MemoryStream[SessEvent]
    val out = graft.streaming.StreamingIngest.sessionizeStream(
      spark, source.toDS(), gapSecs = 1800L, watermarkDelay = "0 seconds")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("sess_out").start()
    // batch 1: user 7's first session stays open — nothing emits
    source.addData(SessEvent(7L, 1L, ts(0), 1.25), SessEvent(7L, 2L, ts(60), 2.0))
    q.processAllAvailable()
    def rows() = spark.sql("SELECT * FROM sess_out").as[SessionOut].collect().toSet
    assert(rows().isEmpty)
    // batch 2: an over-gap event closes session 1 and opens session 2
    source.addData(SessEvent(7L, 3L, ts(3600), 0.75))
    q.processAllAvailable()
    assert(rows() == Set(SessionOut(7L, 1L, 1L, 2L, 60000000L, 325L)))
    // batches 3+4: another user far in the future advances the watermark
    // past 3600+1800 → user 7's open session flushes via the timeout
    source.addData(SessEvent(8L, 4L, ts(10000), 5.0))
    q.processAllAvailable()
    source.addData(SessEvent(8L, 5L, ts(10001), 1.0))
    q.processAllAvailable()
    assert(rows().contains(SessionOut(7L, 2L, 3L, 1L, 0L, 75L)),
      rows().toString)
    q.stop()
  }

  test("streaming sessionize: a late in-window event joins without regressing the session end") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamingIngest.{SessEvent, SessionOut}
    implicit val sqlCtx = spark.sqlContext
    def ts(s: Long) = new java.sql.Timestamp(1700000000000L + s * 1000)
    val source = MemoryStream[SessEvent]
    val out = graft.streaming.StreamingIngest.sessionizeStream(
      spark, source.toDS(), gapSecs = 1800L, watermarkDelay = "1 hour")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("sess_late").start()
    source.addData(SessEvent(1L, 10L, ts(100), 1.0))
    q.processAllAvailable()
    // batch 2: OLDER event for the same open session (inside the 1h
    // watermark) — must extend n/cents, not move lastUs backward
    source.addData(SessEvent(1L, 11L, ts(40), 1.0))
    q.processAllAvailable()
    // close via gap: session end must still be ts(100), so dur = 60 s
    source.addData(SessEvent(1L, 12L, ts(100 + 1801), 1.0))
    q.processAllAvailable()
    val got = spark.sql("SELECT * FROM sess_late").as[SessionOut].collect().toSet
    assert(got == Set(SessionOut(1L, 1L, 10L, 2L, 60000000L, 200L)), got.toString)
    q.stop()
  }

  test("streaming sessionize: a sub-watermark event is filtered, never kills the query") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamingIngest.{SessEvent, SessionOut}
    implicit val sqlCtx = spark.sqlContext
    def ts(s: Long) = new java.sql.Timestamp(1700000000000L + s * 1000)
    val source = MemoryStream[SessEvent]
    val out = graft.streaming.StreamingIngest.sessionizeStream(
      spark, source.toDS(), gapSecs = 1800L, watermarkDelay = "0 seconds")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("sess_subwm").start()
    // batch 1: advance the watermark to ts(10000)
    source.addData(SessEvent(1L, 1L, ts(10000), 1.0))
    q.processAllAvailable()
    // batch 2: an event OLDER than watermark − gap. Spark 4 applies
    // late-record filtering to flatMapGroupsWithState under
    // EventTimeTimeout, so the row is dropped before the state function;
    // if a runtime ever stops filtering (the pre-3.x contract), the
    // timeout clamp keeps setTimeoutTimestamp above the watermark so the
    // query still cannot die with an IllegalArgumentException
    source.addData(SessEvent(2L, 2L, ts(0), 3.0))
    q.processAllAvailable()
    assert(q.exception.isEmpty, q.exception.toString)
    // batch 3+4: watermark advances → any open state flushes
    source.addData(SessEvent(1L, 3L, ts(20000), 1.0))
    q.processAllAvailable()
    source.addData(SessEvent(1L, 4L, ts(20001), 1.0))
    q.processAllAvailable()
    assert(q.exception.isEmpty, q.exception.toString)
    val got = spark.sql("SELECT * FROM sess_subwm").as[SessionOut].collect().toSet
    // the late event was filtered: user 2 never appears; user 1's first
    // session (the lone ts(10000) event) closed via the gap
    assert(!got.exists(_.user_id == 2L), got.toString)
    assert(got.contains(SessionOut(1L, 1L, 1L, 1L, 0L, 100L)), got.toString)
    q.stop()
  }

  test("streaming content dedup: first seen wins across micro-batches") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-sdedup").toString
    val srcDir = s"$base/src"
    def doc(id: String, payload: String) =
      PendingDoc(id, "", Seq.empty, 0, s"$id.txt", "", payload.getBytes)
    // batch 1: two distinct payloads + one in-batch duplicate
    spark.createDataset(Seq(doc("a", "pay-1"), doc("b", "pay-2"),
      doc("c", "pay-1"))).write.parquet(srcDir)
    def runOnce(): Unit = {
      val stream = spark.readStream
        .schema(spark.read.parquet(srcDir).schema).parquet(srcDir)
      val q = StreamingIngest.dedupByContentStream(stream)
        .writeStream.outputMode("append")
        .option("checkpointLocation", s"$base/ckpt")
        .format("parquet").option("path", s"$base/out")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
    }
    runOnce()
    val ids1 = spark.read.parquet(s"$base/out")
      .select("doc_id").as[String].collect().toSet
    // one survivor per hash: b, plus exactly one of the in-batch dups a/c
    // (which one wins within a batch is plan-order, not contract)
    assert(ids1.size == 2 && ids1.contains("b") &&
      (ids1 - "b").subsetOf(Set("a", "c")), ids1)
    // batch 2 (new query, same checkpoint): a replayed duplicate across
    // the batch boundary + one genuinely new payload
    spark.createDataset(Seq(doc("d", "pay-2"), doc("e", "pay-3")))
      .write.mode("append").parquet(srcDir)
    runOnce()
    val ids2 = spark.read.parquet(s"$base/out")
      .select("doc_id").as[String].collect().toSet
    assert(ids2 == ids1 + "e", ids2) // cross-batch state dropped d
  }

  test("watermarked windowed metrics over the events stream schema") {
    import spark.implicits._
    val eventsPath = "/root/testdata/sf0.001/events.parquet"
    // the file stream source needs a directory
    val dir = java.nio.file.Files.createTempDirectory("graft-events")
    java.nio.file.Files.copy(java.nio.file.Paths.get(eventsPath),
      dir.resolve("events.parquet"))
    val schema = spark.read.parquet(eventsPath).schema
    val stream = spark.readStream.schema(schema).parquet(dir.toString)
    val agg = StreamingIngest.windowedMetrics(stream)
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("evt_metrics")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    // append mode emits only watermark-closed windows; compare against batch
    val batch = StreamingIngest.windowedMetrics(spark.read.parquet(eventsPath))
      .agg(sum("n")).head().getLong(0)
    val streamed = spark.sql("SELECT coalesce(sum(n), 0) FROM evt_metrics").head().getLong(0)
    assert(batch > 0)
    assert(streamed <= batch) // open windows held back by the watermark
    val batchRows = StreamingIngest.windowedMetrics(spark.read.parquet(eventsPath))
      .count()
    assert(batchRows > 0)
  }
}
