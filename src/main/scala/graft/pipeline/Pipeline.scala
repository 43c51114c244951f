package graft.pipeline

import graft.core._
import org.apache.spark.TaskContext
import org.apache.spark.sql.{Dataset, DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
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
  *   - each iteration is materialized (persist + count) — at production
  *     scale this is the Iceberg snapshot commit per depth level, making a
  *     killed job resumable from the last committed level (lineage rows
  *     carry partition id + status for `left_anti` recovery).
  */
object Pipeline {

  final case class Config(maxDepth: Int = 6,
                          targetPartitionBytes: Long = 64L * 1024 * 1024,
                          minPartitions: Int = 0,
                          scratchDir: String =
                            s"/tmp/graft-ckpt-${java.util.UUID.randomUUID()}")

  final case class Output(spans: Dataset[SpanOut],
                          meta: Dataset[DocMeta],
                          lineage: Dataset[LineageRow],
                          checkpointed: Seq[Dataset[DocResult]]) {
    /** Release the per-depth checkpoint blocks once the outputs have been
      * consumed (written/aggregated). Long-lived sessions that run many
      * pipelines must call this or the block manager fills up. A
      * `localCheckpoint`ed Dataset is not in the cache manager, so
      * `Dataset.unpersist` would not free it: the pinned blocks belong to
      * the RDD its plan scans. */
    def cleanup(): Unit =
      checkpointed.foreach(_.queryExecution.logical.collect {
        case r: LogicalRDD => r.rdd
      }.foreach(_.unpersist(false)))
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
    * ~targetPartitionBytes of payload even under the long-tail size
    * distribution. Stats (cnt, bytes) are passed in — measured by
    * accumulators on the producing job, so no extra scan runs. */
  def partitionCountFor(spark: SparkSession, cnt: Long, totalBytes: Long,
                        cfg: Config): Int = {
    // 3 waves per core smooths the long-tail size skew (a giant doc pins one
    // task; its siblings steal the rest of that wave)
    val parallelism = math.max(cfg.minPartitions,
      spark.sparkContext.defaultParallelism * 3)
    val byBytes = (totalBytes / cfg.targetPartitionBytes + 1).toInt
    math.max(math.min(parallelism, math.max(cnt, 1L).toInt), byBytes)
  }

  def rebalance(spark: SparkSession, pending: Dataset[PendingDoc],
                cnt: Long, totalBytes: Long, cfg: Config): Dataset[PendingDoc] = {
    import spark.implicits._
    val parts = partitionCountFor(spark, cnt, totalBytes, cfg)
    // skip the byte-heavy shuffle when the queue is already split at least
    // that fine — hash-partitioned parents hand children down well-spread
    if (pending.rdd.getNumPartitions >= parts) pending
    else pending.repartition(parts, $"doc_id")
  }

  /** @param initialStats (rowCount, payloadBytes) of pending0 if the caller
    *  already knows them (e.g. from the ingest manifest) — skips the one
    *  stats scan the loop otherwise needs at depth 0. */
  def run(spark: SparkSession, pending0: Dataset[PendingDoc],
          cfg: Config = Config(),
          initialStats: Option[(Long, Long)] = None): Output = {
    import spark.implicits._
    var pending = pending0
    var depth = 0
    var n = -1L
    val persisted = scala.collection.mutable.ArrayBuffer.empty[Dataset[DocResult]]
    val spanParts = scala.collection.mutable.ArrayBuffer.empty[Dataset[SpanOut]]
    val metaParts = scala.collection.mutable.ArrayBuffer.empty[Dataset[DocMeta]]
    val linParts = scala.collection.mutable.ArrayBuffer.empty[Dataset[LineageRow]]

    val debugTimes = sys.env.contains("SPARK_GRAFT_DEBUG")
    def stamp(label: String, t0: Long): Long = {
      val t = System.nanoTime()
      if (debugTimes) println(f"[pipeline] $label: ${(t - t0) / 1e9}%.2f s")
      t
    }
    // children stats come from accumulators on the producing extraction job,
    // so each depth level is exactly ONE Spark job (no extra stat scans) —
    // the driver-side serial floor per iteration is what limits scaling.
    var cnt = initialStats.map(_._1).getOrElse(-1L)
    var totalBytes = initialStats.map(_._2).getOrElse(-1L)
    // only unpersist datasets this loop persisted — a caller-supplied cached
    // pending0 (e.g. Bench's reused corpus) must survive run()
    var persistedByUs = false
    while (n != 0 && depth <= cfg.maxDepth) {
      var t = System.nanoTime()
      if (cnt < 0) { // depth 0: stats unknown, one aggregate scan
        val cur = pending.persist(StorageLevel.MEMORY_AND_DISK_SER)
        persistedByUs = true
        val agg = cur.select(count(lit(1)).as("c"),
          coalesce(sum(length($"bytes")), lit(0L)).as("b")).as[(Long, Long)].head()
        cnt = agg._1
        totalBytes = agg._2
        pending = cur
      }
      n = cnt
      if (n > 0) {
        val balanced = rebalance(spark, pending, cnt, totalBytes, cfg)
        t = stamp(s"depth=$depth rebalance(n=$cnt)", t)
        val childCount = spark.sparkContext.longAccumulator(s"children_$depth")
        val childBytes = spark.sparkContext.longAccumulator(s"childBytes_$depth")
        val extracted = balanced.mapPartitions(_.map { p =>
          val r = processOne(p)
          childCount.add(r.children.size)
          r.children.foreach(c => childBytes.add(payloadBytes(c.bytes)))
          r
        })
        // Materialize AND truncate the logical plan — the local-mode
        // stand-in for the per-depth Iceberg snapshot commit. Without the
        // plan cut, iterative lineage makes the single-threaded driver
        // re-analyze ever-growing Catalyst trees (observed: driver planning
        // dominating wall time while executors idle). Serialized storage:
        // cached byte-heavy rows as byte[] keep the old generation flat —
        // deserialized object graphs at 32 threads made GC the bottleneck
        // (measured 23s of pauses vs 1.2s at 8 threads).
        val results = extracted.localCheckpoint(true, StorageLevel.MEMORY_AND_DISK_SER)
        t = stamp(s"depth=$depth extract+checkpoint", t)
        if (persistedByUs) { pending.unpersist(false); persistedByUs = false }
        persisted += results
        spanParts += results.flatMap(_.spans)
        metaParts += results.map(_.meta)
        linParts += results.mapPartitions { it =>
          val pid = TaskContext.getPartitionId()
          it.map(r => LineageRow(pid, r.meta.doc_id, r.meta.ingestor,
            r.meta.processing_status, r.meta.depth))
        }
        pending = results.flatMap(_.children)
        cnt = childCount.value
        totalBytes = childBytes.value
        n = cnt
        depth += 1
      }
    }
    val empty = spark.emptyDataset[SpanOut]
    val spans = if (spanParts.isEmpty) empty else spanParts.reduce(_ unionAll _)
    val meta = if (metaParts.isEmpty) spark.emptyDataset[DocMeta]
               else metaParts.reduce(_ unionAll _)
    val lineage = if (linParts.isEmpty) spark.emptyDataset[LineageRow]
                  else linParts.reduce(_ unionAll _)
    Output(spans, meta, lineage, persisted.toSeq)
  }

  /** Durable variant of [[run]]: every depth level is committed as ONE
    * atomic snapshot (spans + meta + lineage + children in a single
    * metadata swap) to a [[graft.table.SnapshotTable]] at `snapshotDir` —
    * the Iceberg-snapshot-checkpoint commit the north rule requires
    * (reference commit point: `ingestors/manager.py:120-123`). A killed
    * job re-invoked with the same snapshotDir skips every committed level
    * (children are planned from that level's own manifest — an
    * incremental scan — instead of recomputed), so work lost is bounded
    * by one level, and a kill ANYWHERE mid-level leaves only orphan data
    * files that no snapshot references (reclaimed by
    * [[graft.table.SnapshotTable.expireOrphans]]) — there is no torn
    * state, unlike the earlier per-dir `_COMPLETE` marker protocol where
    * a kill between the four writes and the marker left half a level on
    * disk. Unlike localCheckpoint this survives executor AND driver loss.
    *
    * Each level is extracted exactly once: the extraction is persisted
    * and materialized by its one `count()` (the summary's `level-docs`),
    * while accumulators on that pass measure the level's input bytes and
    * its children's count and bytes. The four component writes then read
    * the cache. Files are sized by bytes, not inherited from the input's
    * partitioning — every write task pays a fixed cost (Hadoop conf
    * deserialization, a parquet compressor buffer, permission calls), so
    * a file per source partition made the commit, not extraction, the
    * level's cost:
    *   - spans, meta and lineage get `inputBytes / targetPartitionBytes + 1`
    *     files;
    *   - children get [[partitionCountFor]] files for their count and
    *     bytes: the next level's extraction scans those files, one task
    *     per file below the scan's split size, so sizing them for that
    *     level keeps its parallelism (and its per-task payload bound)
    *     without a shuffle.
    * Lineage `partition_id` is the extraction task's partition.
    *
    * All bookkeeping goes through `org.apache.hadoop.fs.FileSystem` — the
    * same layer the parquet data rides — so the snapshotDir may be local,
    * HDFS, or S3A.
    *
    * The terminal condition is data, not a sentinel: a committed level
    * whose snapshot summary records zero children rows (footer stats at
    * commit time, no extra job) ends both the first run and any resume.
    *
    * @param maxDepthOverride stop early (used by tests to simulate a kill
    *   between levels). */
  def runDurable(spark: SparkSession, pending0: Dataset[PendingDoc],
                 snapshotDir: String, cfg: Config = Config(),
                 maxDepthOverride: Int = Int.MaxValue): (DataFrame, DataFrame, DataFrame) = {
    import spark.implicits._
    import graft.table.SnapshotTable
    var pending = pending0
    var depth = 0
    var done = false
    val maxDepth = math.min(cfg.maxDepth, maxDepthOverride)
    // one metadata read up front; refreshed only after our own commits
    var snaps = SnapshotTable.snapshots(spark, snapshotDir)
    def levelSnap(d: Int): Option[SnapshotTable.Snapshot] =
      snaps.find(_.summary.get("depth").contains(d.toString))
    while (!done && depth <= maxDepth) {
      // a level a previous (possibly killed) run committed is not redone
      if (levelSnap(depth).isEmpty) {
        val sc = spark.sparkContext
        val inBytes = sc.longAccumulator(s"durableInBytes_$depth")
        val childCount = sc.longAccumulator(s"durableChildren_$depth")
        val childBytes = sc.longAccumulator(s"durableChildBytes_$depth")
        val results = pending.mapPartitions { it =>
          val pid = TaskContext.getPartitionId()
          it.map { p =>
            inBytes.add(payloadBytes(p.bytes))
            val r = processOne(p)
            childCount.add(r.children.size)
            r.children.foreach(c => childBytes.add(payloadBytes(c.bytes)))
            (pid, r)
          }
        }.persist(StorageLevel.MEMORY_AND_DISK_SER)
        try {
          val n = results.count()
          val files = (inBytes.value / cfg.targetPartitionBytes + 1).toInt
          val childFiles =
            partitionCountFor(spark, childCount.value, childBytes.value, cfg)
          snaps = SnapshotTable.append(spark, snapshotDir, Map(
            "spans" -> results.flatMap(_._2.spans).toDF().coalesce(files),
            "meta" -> results.map(_._2.meta).toDF().coalesce(files),
            "lineage" -> results.map { case (pid, r) =>
              LineageRow(pid, r.meta.doc_id, r.meta.ingestor,
                r.meta.processing_status, r.meta.depth)
            }.toDF().coalesce(files),
            "children" -> results.flatMap(_._2.children).toDF().coalesce(childFiles)),
            summary = Map("depth" -> depth.toString, "level-docs" -> n.toString))
            .snapshots
        } finally results.unpersist(false)
      }
      val s = levelSnap(depth).get
      if (SnapshotTable.addedRows(spark, snapshotDir, s, "children") == 0L) done = true
      else pending = SnapshotTable
        .readAdded(spark, snapshotDir, s.id, "children").as[PendingDoc]
      depth += 1
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
