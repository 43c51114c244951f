package graft.pipeline

import graft.core._
import graft.table.SnapshotTable
import org.apache.spark.TaskContext
import org.apache.spark.sql.{Dataset, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

/** The extraction dataflow (SURVEY §3 lifecycle mapping):
  *
  *   read input table → size-aware repartition → mapPartitions(classify →
  *   extract) → split (spans, meta, lineage) → children become the next
  *   iteration's input → loop until empty (bounded by archive nesting
  *   depth) — the Spark re-expression of the reference's RabbitMQ re-queue
  *   recursion (`/root/reference/ingestors/manager.py:154-164`,
  *   `worker.py:28-74`).
  *
  * Scale design:
  *   - extraction is embarrassingly parallel: one narrow mapPartitions per
  *     depth level, no shuffle except the explicit size-aware repartition;
  *   - partition count is derived from total payload bytes so the long-tail
  *     document-size distribution cannot concentrate bytes in few tasks
  *     (the skew treatment mandated by the north rule);
  *   - each iteration is materialized once: [[Pipeline.run]] pins it in
  *     one level step; the durable level loop ([[Pipeline.extractLevels]])
  *     writes it to a snapshot table in the same job that extracts it.
  *     [[Pipeline.runDurable]] commits each depth level as its own
  *     snapshot, making a killed job resumable from the last committed
  *     level (lineage rows carry partition id + status for `left_anti`
  *     recovery); a streaming batch commits all its levels as one.
  */
object Pipeline {

  final case class Config(maxDepth: Int = 6)

  /** Payload bytes one extraction task aims at (see [[partitionCountFor]]). */
  val TargetPartitionBytes: Long = 64L * 1024 * 1024

  /** @param levels the extracted depth levels the outputs read. */
  final case class Output(spans: Dataset[SpanOut],
                          meta: Dataset[DocMeta],
                          lineage: Dataset[LineageRow],
                          levels: Seq[Level]) {
    /** Release every level's cached rows once the outputs have been
      * consumed (written/aggregated). Long-lived sessions that run many
      * pipelines must call this or the block manager fills up. */
    def cleanup(): Unit = levels.foreach(_.release())
  }

  /** One extracted depth level: each row is `(extraction task partition,
    * result)`, computed once and cut from its lineage as a row-serialized
    * `localCheckpoint` (MEMORY_AND_DISK_SER), not a [[graft.ops.Pin]],
    * because caching these byte-heavy rows through the columnar cache
    * manager made [[run]] 10-15% slower. The children's count and bytes
    * are measured by accumulators on the one job that materializes the
    * level.
    *
    * @param cut the checkpointed RDD behind `rows`, released by [[release]] */
  final class Level private[Pipeline] (rows: Dataset[(Int, DocResult)],
                                       cut: org.apache.spark.rdd.RDD[_],
                                       val childCount: Long,
                                       val childBytes: Long) {
    import rows.sparkSession.implicits._
    def spans: Dataset[SpanOut] = rows.flatMap(_._2.spans)
    def meta: Dataset[DocMeta] = rows.map(_._2.meta)
    def lineage: Dataset[LineageRow] = rows.map { case (pid, r) =>
      LineageRow(pid, r.meta.doc_id, r.meta.ingestor,
        r.meta.processing_status, r.meta.depth)
    }
    def children: Dataset[PendingDoc] = rows.flatMap(_._2.children)
    def release(): Unit = cut.unpersist(false)
  }

  /** Join the raw-span table with the blob store to form the initial work
    * queue. `spans[0]` of an unextracted row is (kind="raw",
    * text=fileName, media_ref=contentHash). */
  def initialPending(spark: SparkSession, docs: Dataset[DocRow],
                     blobs: Dataset[Blob]): Dataset[PendingDoc] = {
    import spark.implicits._
    val raw = docs
      .select($"doc_id", element_at($"spans", 1).as("s"))
      .select($"doc_id", $"s.text".as("file_name"), $"s.media_ref".as("media_ref"))
    raw.join(blobs, Seq("media_ref"))
      .select($"doc_id", lit("").as("parent_id"),
        array().cast("array<string>").as("ancestors"),
        lit(0).as("depth"), $"file_name", lit("").as("mime_hint"), $"bytes")
      .as[PendingDoc]
  }

  /** Process one pending document: classify, extract, stamp status
    * (`manager.py:192-241`), convert children to next-level pending rows.
    * Child ids are positional (`parent/idx`) — deterministic, no wall clock. */
  def processOne(p: PendingDoc): DocResult = {
    val t0 = System.nanoTime()
    val bytes = if (p.bytes == null) Array.empty[Byte] else p.bytes
    val ing = Dispatch.ingest(p.file_name, p.mime_hint, bytes)
    val res = ing.result
    val spans = res.spans.zipWithIndex.map { case (s, i) =>
      SpanOut(p.doc_id, i, s.kind, s.text, s.media_ref, s.offset)
    }
    // body text rides in the span stream (the reference's indexText
    // fragments); duplicating it into the metadata row would multiply the
    // bytes written per snapshot by 3-4x for text-heavy formats
    val slimProps = res.properties -- Seq("bodyText", "bodyHtml", "headers")
    val children = res.children.zipWithIndex.map { case (c, i) =>
      PendingDoc(s"${p.doc_id}/$i", p.doc_id, p.ancestors :+ p.doc_id,
        p.depth + 1, c.file_name, c.mime_hint, c.bytes)
    }
    val meta = DocMeta(
      doc_id = p.doc_id, parent_id = p.parent_id, ancestors = p.ancestors,
      depth = p.depth, schema = res.schema, mime_type = ing.mime,
      ingestor = ing.ingestor, processing_status = res.status,
      processing_error = res.error, file_name = p.file_name,
      file_size = bytes.length.toLong,
      content_hash = TextUtil.sha1Hex(bytes),
      properties = slimProps,
      duration_ms = (System.nanoTime() - t0) / 1000000L)
    DocResult(meta, spans, children)
  }

  private def payloadBytes(b: Array[Byte]): Long =
    if (b == null) 0L else b.length.toLong

  /** Size-aware rebalance: partition count from total payload bytes
    * (capped), rows spread by doc_id hash; keeps every task under
    * ~[[TargetPartitionBytes]] of payload even under the long-tail size
    * distribution. Stats (cnt, bytes) are passed in — measured by
    * accumulators on the producing job, so no extra scan runs. */
  def partitionCountFor(spark: SparkSession, cnt: Long,
                        totalBytes: Long): Int = {
    // 3 waves per core smooths the long-tail size skew (a giant doc pins one
    // task; its siblings steal the rest of that wave)
    val parallelism = spark.sparkContext.defaultParallelism * 3
    val byBytes = (totalBytes / TargetPartitionBytes + 1).toInt
    math.max(math.min(parallelism, math.max(cnt, 1L).toInt), byBytes)
  }

  def rebalance(spark: SparkSession, pending: Dataset[PendingDoc],
                cnt: Long, totalBytes: Long): Dataset[PendingDoc] = {
    import spark.implicits._
    val parts = partitionCountFor(spark, cnt, totalBytes)
    // skip the byte-heavy shuffle when the queue is already split at least
    // that fine — hash-partitioned parents hand children down well-spread
    if (pending.rdd.getNumPartitions >= parts) pending
    else pending.repartition(parts, $"doc_id")
  }

  /** Extracts one depth level with one `mapPartitions` and materializes
    * it with one job: the count of the checkpointed RDD. Accumulators on
    * that job measure its children's count and bytes, so no stats scan
    * runs. The plan cut is the in-memory stand-in for the durable
    * loop's per-depth snapshot commit: without it, iterative lineage
    * makes the single-threaded driver re-analyze ever-growing Catalyst
    * trees. Serialized storage keeps the old generation flat:
    * deserialized object graphs at 32 threads made GC the bottleneck
    * (measured 23 s of pauses vs 1.2 s at 8 threads). The level is
    * released here if materializing it throws. */
  private def extractLevel(spark: SparkSession, pending: Dataset[PendingDoc],
                           depth: Int): Level = {
    import spark.implicits._
    val sc = spark.sparkContext
    val childCount = sc.longAccumulator(s"children_$depth")
    val childBytes = sc.longAccumulator(s"childBytes_$depth")
    val rows = pending.mapPartitions { it =>
      val pid = TaskContext.getPartitionId()
      it.map { p =>
        val r = processOne(p)
        childCount.add(r.children.size)
        r.children.foreach(c => childBytes.add(payloadBytes(c.bytes)))
        (pid, r)
      }
    }.localCheckpoint(eager = false, StorageLevel.MEMORY_AND_DISK_SER)
    // a lazy localCheckpoint's plan is the one LogicalRDD over its rows
    val cut = rows.queryExecution.logical.asInstanceOf[LogicalRDD].rdd
    try {
      cut.count()
      new Level(rows, cut, childCount.value, childBytes.value)
    } catch { case t: Throwable => cut.unpersist(false); throw t }
  }

  /** @param initialStats (rowCount, payloadBytes) of pending0 if the caller
    *  already knows them (e.g. from the ingest manifest) — skips the one
    *  stats scan the loop otherwise needs at depth 0. */
  def run(spark: SparkSession, pending0: Dataset[PendingDoc],
          cfg: Config = Config(),
          initialStats: Option[(Long, Long)] = None): Output = {
    import spark.implicits._
    val levels = scala.collection.mutable.ArrayBuffer.empty[Level]
    // stats unknown: one aggregate scan over a pin that depth 0 then reads,
    // unless the caller cached pending0 already (`persist` would return
    // that cache, and releasing it would drop the caller's rows)
    val statsPin = Option.when(initialStats.isEmpty &&
      pending0.storageLevel == StorageLevel.NONE)(
      pending0.persist(StorageLevel.MEMORY_AND_DISK_SER))
    try {
      var pending = statsPin.getOrElse(pending0)
      var (cnt, totalBytes) = initialStats.getOrElse(pending
        .select(count(lit(1)), coalesce(sum(length($"bytes")), lit(0L)))
        .as[(Long, Long)].head())
      while (cnt > 0 && levels.size <= cfg.maxDepth) {
        val level = extractLevel(spark,
          rebalance(spark, pending, cnt, totalBytes), levels.size)
        levels += level
        if (levels.size == 1) statsPin.foreach(_.unpersist(false))
        pending = level.children
        cnt = level.childCount
        totalBytes = level.childBytes
      }
    } catch { case t: Throwable => levels.foreach(_.release()); throw t }
    finally statsPin.foreach(_.unpersist(false))
    def union[T](parts: Seq[Dataset[T]], empty: => Dataset[T]): Dataset[T] =
      parts.reduceOption(_ unionAll _).getOrElse(empty)
    Output(union(levels.map(_.spans).toSeq, spark.emptyDataset[SpanOut]),
      union(levels.map(_.meta).toSeq, spark.emptyDataset[DocMeta]),
      union(levels.map(_.lineage).toSeq, spark.emptyDataset[LineageRow]),
      levels.toSeq)
  }

  /** The four components one durable level writes, by name: the spans,
    * meta and lineage outputs, and the `children` the next level reads. */
  private[graft] val LevelSchemas: Map[String, StructType] = Map(
    "spans" -> ExpressionEncoder[SpanOut]().schema,
    "meta" -> ExpressionEncoder[DocMeta]().schema,
    "lineage" -> ExpressionEncoder[LineageRow]().schema,
    "children" -> ExpressionEncoder[PendingDoc]().schema)

  /** Extracts one depth level with ONE Spark job, Iceberg's Spark write
    * model: one `mapPartitions` over the pending documents extracts each
    * one and writes its spans, meta, lineage and children rows through a
    * [[SnapshotTable.Writer]] (one file per component per task that
    * emitted rows), and the driver collects the file entries. Nothing is
    * cached. Lineage `partition_id` is the extraction task's partition. */
  private def writeLevel(spark: SparkSession, pending: Dataset[PendingDoc],
                         location: String): Vector[SnapshotTable.DataFileEntry] = {
    val (spanEnc, metaEnc, linEnc, childEnc) = (ExpressionEncoder[SpanOut](),
      ExpressionEncoder[DocMeta](), ExpressionEncoder[LineageRow](),
      ExpressionEncoder[PendingDoc]())
    val writer = SnapshotTable.writer(spark, location, LevelSchemas)
    try pending.rdd.mapPartitions { docs =>
      writer.inTask { out =>
        val pid = TaskContext.getPartitionId()
        val (span, meta, lin, child) = (spanEnc.createSerializer(),
          metaEnc.createSerializer(), linEnc.createSerializer(),
          childEnc.createSerializer())
        docs.foreach { p =>
          val r = processOne(p)
          r.spans.foreach(s => out.write("spans", span(s)))
          out.write("meta", meta(r.meta))
          out.write("lineage", lin(LineageRow(pid, r.meta.doc_id,
            r.meta.ingestor, r.meta.processing_status, r.meta.depth)))
          r.children.foreach(c => out.write("children", child(c)))
        }
      }
    }.collect().toVector
    finally writer.release()
  }

  /** The level loop of the durable entry points, [[runDurable]] and
    * [[graft.streaming.StreamingIngest.writeBatchToTable]]. For each depth
    * up to `maxDepth`, `level(depth, write)` returns that level's file
    * entries: `write()` extracts the level with one job ([[writeLevel]]),
    * and the caller commits the entries when it chooses, or returns the
    * entries of a level it committed before instead of calling `write`.
    * The next level's documents are a scan of the level's `children`
    * entries, planned from their paths and lengths whether committed or
    * not, so no job runs between levels. The terminal condition is data:
    * a level whose children entries hold no rows (counted by the writing
    * tasks) ends the loop. */
  private[graft] def extractLevels(spark: SparkSession,
                                   pending0: Dataset[PendingDoc],
                                   location: String, maxDepth: Int)(
      level: (Int, () => Vector[SnapshotTable.DataFileEntry]) =>
        Seq[SnapshotTable.DataFileEntry]): Unit = {
    import spark.implicits._
    var pending = pending0
    var depth = 0
    var done = false
    while (!done && depth <= maxDepth) {
      val children = level(depth, () => writeLevel(spark, pending, location))
        .filter(_.component == "children")
      if (children.map(_.rows).sum == 0L) done = true
      else pending = SnapshotTable
        .scan(spark, location, children, LevelSchemas("children")).as[PendingDoc]
      depth += 1
    }
  }

  /** Durable variant of [[run]]: every depth level is committed as ONE
    * atomic snapshot (spans + meta + lineage + children in a single
    * metadata swap) to a [[graft.table.SnapshotTable]] at `snapshotDir` —
    * the Iceberg-snapshot-checkpoint commit the north rule requires
    * (reference commit point: `ingestors/manager.py:120-123`). Each level
    * is one job of [[extractLevels]], committed as soon as its entries
    * are collected, with summary `depth` and `level-docs` (the level's
    * meta row count). A killed job re-invoked with the same snapshotDir
    * skips every committed level (children are planned from that level's
    * own manifest — an incremental scan — instead of recomputed), so work
    * lost is bounded by one level, and a kill ANYWHERE mid-level leaves
    * only orphan data files that no snapshot references (reclaimed by
    * [[graft.table.SnapshotTable.expireOrphans]]) — there is no torn
    * state. The attempt-unique file names keep the commit atomic: a
    * retried or speculative task attempt's files are never listed, so
    * they stay orphans. A component with no rows at a level writes no
    * file, but its schema is recorded. Unlike localCheckpoint this
    * survives executor AND driver loss.
    *
    * All bookkeeping goes through `org.apache.hadoop.fs.FileSystem` — the
    * same layer the parquet data rides — so the snapshotDir may be local,
    * HDFS, or S3A.
    *
    * @param maxDepthOverride stop early (used by tests to simulate a kill
    *   between levels). */
  def runDurable(spark: SparkSession, pending0: Dataset[PendingDoc],
                 snapshotDir: String, cfg: Config = Config(),
                 maxDepthOverride: Int = Int.MaxValue): (DataFrame, DataFrame, DataFrame) = {
    // the levels a previous (possibly killed) run committed are not redone
    val committed = SnapshotTable.snapshots(spark, snapshotDir)
    extractLevels(spark, pending0, snapshotDir,
        math.min(cfg.maxDepth, maxDepthOverride)) { (depth, write) =>
      committed.find(_.summary.get("depth").contains(depth.toString)) match {
        case Some(s) => SnapshotTable.addedFiles(spark, snapshotDir, s.id, "children")
        case None =>
          val entries = write()
          SnapshotTable.commit(spark, snapshotDir, entries, LevelSchemas,
            summary = Map("depth" -> depth.toString, "level-docs" ->
              entries.filter(_.component == "meta").map(_.rows).sum.toString))
          entries
      }
    }
    // outputs = snapshot-scoped reads over every committed level's files
    (SnapshotTable.read(spark, snapshotDir, "spans"),
     SnapshotTable.read(spark, snapshotDir, "meta"),
     SnapshotTable.read(spark, snapshotDir, "lineage"))
  }

  /** Per-ingestor success/failure/byte counters — the Prometheus metrics of
    * the reference (`manager.py:29-65`) as a plain partial-aggregable
    * groupBy (map-side combine, one small shuffle). */
  def metrics(meta: Dataset[DocMeta]): DataFrame = {
    val hist = org.apache.spark.sql.functions
      .udaf(graft.functions.DurationHistogram.agg)
    meta.groupBy(col("ingestor")).agg(
      sum(when(col("processing_status") === ExtractionResult.Success, 1L)
        .otherwise(0L)).as("succeeded"),
      sum(when(col("processing_status") === ExtractionResult.Failure, 1L)
        .otherwise(0L)).as("failed"),
      sum(col("file_size")).as("bytes"),
      hist(col("duration_ms")).as("duration_hist"))
  }

  /** Resume after a kill: drop every pending document whose extraction is
    * already committed (status recorded in the lineage table from a prior
    * snapshot) — the `left_anti` recovery of the north rule. The lineage
    * side is small (ids + status), so Catalyst broadcasts it under AQE;
    * payload bytes never shuffle. */
  def resume(spark: SparkSession, pending: Dataset[PendingDoc],
             committed: Dataset[LineageRow]): Dataset[PendingDoc] = {
    import spark.implicits._
    val done = committed
      .filter(_.status == ExtractionResult.Success)
      .select($"doc_id")
    pending.join(done, Seq("doc_id"), "left_anti").as[PendingDoc]
  }

  /** Dedup-by-content-hash plan: extract each distinct payload once, then
    * map the results back over the duplicate set — the reference's
    * conversion/OCR caches keyed by content hash
    * (`support/convert.py:27-45`, `support/ocr.py:28-45`). Returns the
    * deduplicated pending set + the (doc_id → representative) mapping.
    *
    * Shuffle discipline: payload bytes never move through the dedup logic —
    * the hash is computed in the narrow projection stage and only
    * (content_hash, doc_id) rows enter the groupBy. The winner-id semi-join
    * back to the payload rows is left UNHINTED on purpose: the winner set is
    * one id per distinct document (hundreds of millions of rows at 100 TB),
    * so a forced broadcast would OOM the driver. AQE picks broadcast when
    * the winner set is actually small and shuffled-hash/sort-merge on
    * doc_id otherwise; with bucketed storage the join is co-located. */
  def dedupByContent(spark: SparkSession, pending: Dataset[PendingDoc])
      : (Dataset[PendingDoc], DataFrame) = {
    import spark.implicits._
    val hashed = pending
      .select($"doc_id", sha1(coalesce($"bytes", lit(Array.empty[Byte])))
        .as("content_hash"))
    val reps = hashed
      .groupBy($"content_hash")
      .agg(min($"doc_id").as("representative"))
    val mapping = reps
      .join(hashed, "content_hash")
      .select($"doc_id", $"content_hash", $"representative")
    // winners = the representative ids straight off the aggregate — the
    // old mapping.filter(doc_id === representative) route re-joined the
    // aggregate against `hashed`, so an action over `deduped` evaluated
    // the sha1-over-payload scan TWICE (the groupBy branch and the join
    // branch hash-partition different row shapes, so no exchange reuse)
    val winners = reps.select($"representative".as("doc_id"))
    val deduped = pending
      .join(winners, Seq("doc_id"), "left_semi")
      .as[PendingDoc]
    (deduped, mapping)
  }
}
