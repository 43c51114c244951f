package graft.streaming

import graft.core._
import graft.pipeline.Pipeline
import graft.table.SnapshotTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Structured-Streaming front-end for the extraction engine.
  *
  * The reference consumes a RabbitMQ queue one file at a time
  * (`/root/reference/ingestors/worker.py:28-74`); the streaming-native
  * re-expression is a micro-batched source of raw documents where each
  * batch runs the durable level loop of [[graft.pipeline.Pipeline]] via
  * foreachBatch — child documents recurse *within* the batch (bounded
  * archive depth), so the stream never needs cyclic state. The sink is a
  * [[graft.table.SnapshotTable]]: each batch commits as ONE snapshot
  * tagged with its batch id, and a replayed batch is skipped, so the
  * output is exactly-once.
  */
object StreamingIngest {

  /** Micro-batched extraction into a [[graft.table.SnapshotTable]] —
    * the Iceberg streaming-commit contract, one snapshot per batch (see
    * [[writeBatchToTable]]). */
  def extractionQueryToTable(spark: SparkSession, docs: DataFrame,
                             tableLoc: String, checkpointDir: String,
                             trigger: Trigger = Trigger.AvailableNow())
      : StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeBatchToTable(spark, batch, batchId, tableLoc)
      }
      .start()

  /** One micro-batch → one atomic snapshot. The batch runs the same level
    * loop as the durable pipeline, one job per depth level, and nothing is
    * cached; the spans, meta, lineage and children files of every level
    * then commit together with summary `batch-id`, so readers never see a
    * partial batch and one batch reads alone as `readAdded` / `asOf` on
    * its snapshot. A checkpoint-recovery replay of a batch id already
    * committed is detected from the snapshot summaries and skipped; a
    * batch that fails commits nothing. */
  def writeBatchToTable(spark: SparkSession, batch: DataFrame, batchId: Long,
                        tableLoc: String): Unit = {
    import spark.implicits._
    val already = SnapshotTable.snapshots(spark, tableLoc)
      .exists(_.summary.get("batch-id").contains(batchId.toString))
    if (already) return
    val entries = Vector.newBuilder[SnapshotTable.DataFileEntry]
    Pipeline.extractLevels(spark, batch.as[PendingDoc], tableLoc,
        Pipeline.Config().maxDepth) { (_, write) =>
      val level = write()
      entries ++= level
      level
    }
    SnapshotTable.commit(spark, tableLoc, entries.result(), Pipeline.LevelSchemas,
      summary = Map("batch-id" -> batchId.toString))
  }

  /** One email's threading facts as they stream out of extraction. */
  final case class MailEvent(doc_id: String, message_id: String,
                             in_reply_to: String)
  /** Per-message-id thread state: the declaring doc (once seen) and the
    * reply docs still waiting for it. */
  final case class ThreadState(parentDoc: String, waiting: List[String])
  /** A resolved reply edge. */
  final case class ThreadEdge(doc_id: String, in_reply_to_doc: String)

  /** Streaming message-id threading with custom state — the reference keeps
    * Redis forward/backward sets (`support/email.py:140-167`); the
    * Structured-Streaming re-expression is flatMapGroupsWithState keyed by
    * message-id. Each email contributes two keyed facts: it DECLARES its
    * own message-id and ASKS for its in-reply-to id. State per key holds
    * the declaring doc plus replies that arrived before it, so
    * out-of-order arrivals across micro-batches still produce every edge
    * exactly once. */
  def threadEdges(spark: SparkSession, emails: org.apache.spark.sql.Dataset[MailEvent])
      : org.apache.spark.sql.Dataset[ThreadEdge] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    // (key, declaredDoc | null, askingDoc | null)
    val facts = emails.flatMap { e =>
      val declare =
        if (e.message_id != null && e.message_id.nonEmpty)
          Some((e.message_id, e.doc_id, null: String)) else None
      val ask =
        if (e.in_reply_to != null && e.in_reply_to.nonEmpty)
          Some((e.in_reply_to, null: String, e.doc_id)) else None
      declare.iterator ++ ask.iterator
    }
    facts.groupByKey(_._1)
      .flatMapGroupsWithState[ThreadState, ThreadEdge](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (_, rows, state: GroupState[ThreadState]) =>
          var st = state.getOption.getOrElse(ThreadState("", Nil))
          val out = Vector.newBuilder[ThreadEdge]
          for ((_, declared, asking) <- rows) {
            if (declared != null && st.parentDoc.isEmpty)
              st = st.copy(parentDoc = declared)
            if (asking != null) {
              if (st.parentDoc.nonEmpty && st.parentDoc != asking)
                out += ThreadEdge(asking, st.parentDoc)
              else if (st.parentDoc.isEmpty)
                st = st.copy(waiting = asking :: st.waiting)
            }
          }
          // parent may have arrived in this batch after some asks, or for
          // asks parked in previous batches
          if (st.parentDoc.nonEmpty && st.waiting.nonEmpty) {
            st.waiting.reverse.filter(_ != st.parentDoc)
              .foreach(w => out += ThreadEdge(w, st.parentDoc))
            st = st.copy(waiting = Nil)
          }
          state.update(st)
          out.result().iterator
      }
  }

  /** Streaming content dedup — first occurrence of each content hash
    * passes, replays and later duplicates are dropped across micro-batch
    * boundaries (state lives in the checkpoint). This is the streaming
    * analogue of [[graft.pipeline.Pipeline.dedupByContent]] / the
    * reference's content-hash conversion+OCR caches
    * (`support/convert.py:27-45`).
    *
    * Scale contract: with `eventTimeCol`+`delay` the built-in
    * `dropDuplicatesWithinWatermark` bounds the state store — expired
    * hashes age out, which is the only sane shape for an unbounded
    * 100 TB/day stream (a re-crawl after the horizon re-extracts, exactly
    * like an evicted cache entry). Without a watermark the state grows
    * with distinct hashes — fine for bounded backfills only. */
  def dedupByContentStream(docs: DataFrame,
                           eventTimeCol: Option[String] = None,
                           delay: String = "24 hours"): DataFrame = {
    val hashed = docs.withColumn("content_hash",
      sha1(coalesce(col("bytes"), lit(Array.empty[Byte]))))
    eventTimeCol match {
      case Some(ts) =>
        hashed.withColumn(ts, col(ts).cast("timestamp"))
          .withWatermark(ts, delay)
          .dropDuplicatesWithinWatermark("content_hash")
      case None => hashed.dropDuplicates("content_hash")
    }
  }

  /** Watermarked per-ingestion-window metrics — the streaming analogue of
    * the reference's Prometheus counters (`manager.py:29-65`): counts and
    * bytes per event type in sliding windows, late data bounded by the
    * watermark. */
  def windowedMetrics(events: DataFrame,
                      watermark: String = "10 minutes",
                      window_ : String = "5 minutes"): DataFrame = {
    events
      .withColumn("ts", col("ts").cast("timestamp")) // NTZ → event-time type
      .withWatermark("ts", watermark)
      // integer cents BEFORE the sum: double addition is order-dependent
      // across partitions/engines, an integer sum is exact — this is
      // what lets the batch shape of this aggregation be DuckDB-oracled
      // (m_events_window)
      .withColumn("cents", floor(col("value") * 100 + 0.5).cast("long"))
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("value_cents"))
  }

  /** Gap-based sessionization over an event log — the canonical
    * event-stream rollup: a session is a maximal run of one user's
    * events with inter-event gaps ≤ `gapSecs`. One row per session:
    * (user_id, session_seq, start_id, n_events, dur_us, value_cents) —
    * integer microsecond/cent arithmetic end-to-end (same `floor(x+0.5)`
    * cents convention as [[windowedMetrics]]) so a DuckDB window oracle
    * reproduces the rows exactly.
    *
    * Scale shape: exactly ONE exchange — the lag window hashes on
    * user_id, and the session groupBy's clustering keys (user_id,
    * session_seq) are a superset of that partitioning, so Catalyst
    * plans the final aggregate WITHOUT a second shuffle (PlanSpec
    * asserts the single-exchange plan). Skew honesty: a single user's
    * events land in one task — at 100 TB a bot user needs a pre-split
    * (salt user_id by day) before this op; normal web traffic is fine.
    * The streaming analogue is flatMapGroupsWithState keyed by user
    * with a session timeout — this batch window expresses the same
    * accumulation declaratively. */
  def sessionize(events: DataFrame, gapSecs: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    val marked = events
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts").cast("timestamp")).as("us"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      .withColumn("prev", lag(col("us"), 1).over(w))
      .withColumn("new_s",
        when(col("prev").isNull ||
          col("us") - col("prev") > gapSecs * 1000000L, 1L).otherwise(0L))
      .withColumn("session_seq", sum(col("new_s"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    marked.groupBy(col("user_id"), col("session_seq"))
      .agg(min(col("event_id")).as("start_id"),
        count(lit(1)).as("n_events"),
        (max(col("us")) - min(col("us"))).as("dur_us"),
        sum(col("cents")).as("value_cents"))
  }

  final case class SessEvent(user_id: Long, event_id: Long,
                             ts: java.sql.Timestamp, value: Double)
  final case class SessAcc(seq: Long, open: Boolean, startId: Long,
                           firstUs: Long, lastUs: Long, n: Long, cents: Long)
  final case class SessionOut(user_id: Long, session_seq: Long,
                              start_id: Long, n_events: Long, dur_us: Long,
                              value_cents: Long)

  /** STREAMING sessionization — the stateful analogue of [[sessionize]]
    * (same session/cents semantics): flatMapGroupsWithState keyed by
    * user. A session emits when a later event for the same user arrives
    * past the gap, or when the EVENT-TIME timeout fires (watermark passes
    * lastEvent + gap) — so idle users' sessions close without waiting for
    * their next visit, and state stays bounded by the number of
    * currently-open sessions. Sub-watermark events are DROPPED before the
    * state function (Spark applies late-record filtering to
    * flatMapGroupsWithState under EventTimeTimeout — verified empirically
    * on Spark 4.1: a row older than the current watermark never reaches
    * the group iterator), so the disorder bound is `watermarkDelay`; an
    * event inside the delay joins its open session without regressing
    * its end. The per-user `seq` counter lives in state across sessions,
    * so session_seq matches the batch op's numbering for in-order data. */
  def sessionizeStream(spark: SparkSession,
                       events: org.apache.spark.sql.Dataset[SessEvent],
                       gapSecs: Long,
                       watermarkDelay: String = "10 minutes")
      : org.apache.spark.sql.Dataset[SessionOut] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val gapUs = gapSecs * 1000000L
    def usOf(t: java.sql.Timestamp): Long =
      (t.getTime / 1000L) * 1000000L + t.getNanos / 1000L
    def centsOf(v: Double): Long = math.floor(v * 100 + 0.5).toLong
    events.withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessAcc, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (user, rows, state: GroupState[SessAcc]) =>
          var st = state.getOption.getOrElse(SessAcc(0L, false, 0L, 0L, 0L, 0L, 0L))
          val out = Vector.newBuilder[SessionOut]
          def close(): Unit = {
            out += SessionOut(user, st.seq, st.startId, st.n,
              st.lastUs - st.firstUs, st.cents)
            st = st.copy(open = false)
          }
          if (state.hasTimedOut) {
            if (st.open) close()
            state.update(st) // keep the seq counter for the user's return
          } else {
            // micro-batches deliver a group unordered — restore event order
            val evs = rows.toVector.sortBy(e => (usOf(e.ts), e.event_id))
            for (e <- evs) {
              val u = usOf(e.ts)
              if (st.open && u - st.lastUs > gapUs) close()
              st =
                if (!st.open)
                  SessAcc(st.seq + 1, true, e.event_id, u, u, 1L, centsOf(e.value))
                else st.copy(
                  // a late event (older than lastUs but inside the
                  // watermark, delivered in a later batch) joins the open
                  // session without regressing its end — max keeps dur_us
                  // and the timeout monotone
                  lastUs = math.max(st.lastUs, u),
                  firstUs = math.min(st.firstUs, u),
                  n = st.n + 1, cents = st.cents + centsOf(e.value))
            }
            state.update(st)
            if (st.open)
              // defensive clamp: setTimeoutTimestamp throws (killing the
              // whole query) if the timeout is not strictly above the
              // current watermark. Spark 4's late-record filtering makes
              // every surviving event >= watermark, so lastUs + gap is
              // normally above it — the clamp guarantees the query
              // survives even if a runtime stops filtering (the pre-3.x
              // contract) or a zero/negative gap sneaks in
              state.setTimeoutTimestamp(
                math.max(st.lastUs / 1000L + gapSecs * 1000L,
                  state.getCurrentWatermarkMs() + 1L))
          }
          out.result().iterator
      }
  }
}
