package graft.queries

import graft.analysis.Analyze
import graft.queries.QueryLib._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{extract => _, _}

/** a_* analysis-stage queries (patterns, tags, mentions, threading) and
  * the m_* event-table windows and sessions. */
object AnalysisQueries {

  /** Each document's text plus two planted emails, as (doc_id, text). */
  private def withEmails(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .select(col("doc_id").cast("long").as("doc_id"),
        concat(col("text"), lit(" contact user"), col("doc_id"),
          lit("@example.com and user"), col("doc_id") % 10,
          lit("@example.com")).as("text"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // tumbling-window event metrics over the events table — the BATCH
    // shape of the streaming watermarked aggregation (same shared
    // function), value summed in integer cents so both engines agree
    "m_events_window" -> ((s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet")
      graft.streaming.StreamingIngest.windowedMetrics(ev, window_ = "1 hour")
        .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss")
            .as("window_start"),
          col("event_type"), col("n"), col("value_cents"))
        .orderBy("window_start", "event_type")
    }),
    // gap-based sessionization (30-min timeout) over the events table —
    // one lag-window exchange on user_id, the session groupBy reuses it
    // (single-shuffle plan); integer micros/cents end-to-end
    "m_sessionize" -> ((s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet")
      graft.streaming.StreamingIngest.sessionize(ev, gapSecs = 1800L)
        .orderBy("user_id", "session_seq")
    }),
    "a_patterns" -> ((s, dir) =>
      Analyze.extractPatterns(withEmails(s, dir))
        .filter(col("prop") === "emailMentioned")
        .select(col("doc_id"), col("value").as("email"))
        .orderBy("doc_id", "email")),
    "a_tag_agg" -> ((s, dir) =>
      Analyze.aggregateTags(Analyze.extractPatterns(withEmails(s, dir))
          .filter(col("prop") === "emailMentioned"))
        .select(col("doc_id"), col("key"), col("freq"))
        .orderBy("doc_id", "key")),
    "a_chunks" -> ((s, dir) => {
      // text_chunks (analysis/util.py:17-28) at a visible chunk size
      import s.implicits._
      documents(s, dir)
        .select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
        .flatMap { case (id, t) =>
          graft.core.TextUtil.textChunks(Seq(if (t == null) "" else t), 100)
            .zipWithIndex.map { case (c, i) => (id, i, c) }
        }.toDF("doc_id", "chunk_idx", "chunk")
        .orderBy("doc_id", "chunk_idx")
    }),
    // Mention synthesis with detectedSchema (analysis/__init__.py:70-79):
    // planted PER/ORG values (including one per doc the clean_name gate
    // must reject) -> cleanNameTags -> aggregate -> Mention rows.
    "a_mentions" -> ((s, dir) => {
      import s.implicits._
      val people = MentionPeople
      val companies = MentionCompanies
      val tags = documents(s, dir)
        .select(col("doc_id").cast("long")).as[Long]
        .flatMap { id =>
          Seq(
            (id, "peopleMentioned", people((id % people.size).toInt)),
            (id, "companiesMentioned", companies((id % companies.size).toInt)),
            (id, "peopleMentioned", "Cher"),          // no space -> rejected
            (id, "companiesMentioned", "  A B  "))    // <=4 chars -> rejected
        }.toDF("doc_id", "prop", "value")
      val agg = Analyze.aggregateTags(Analyze.cleanNameTags(s, tags))
      Analyze.mentions(agg)
        .select(col("mention_id"), col("document").cast("long").as("document"),
          col("detected_prop"), col("detected_schema"), col("resolved_key"))
        .orderBy("document", "detected_prop", "resolved_key")
    }),
    // TagAggregatorFasttext gate: synthesized person/company/trash values
    // per doc — the type model must keep exactly the person + company
    // groups and drop the trash group (entropy-confidence >= 0.85 filter).
    "a_typed_tags" -> ((s, dir) => {
      import s.implicits._
      val people = Vector("John Smith", "Maria Garcia", "Ivan Petrov",
        "Fatima Hassan", "Chen Wei", "Anna Kowalski", "Ahmed Khan",
        "Sofia Rossi", "David Cohen", "Yuki Tanaka")
      val companies = Vector("Acme Holdings Ltd", "Globex GmbH",
        "Initech LLC", "Umbrella Corp", "Stark Industries Inc",
        "Wayne Enterprises Plc", "Cyberdyne Systems SA", "Tyrell BV")
      val tags = documents(s, dir)
        .select(col("doc_id").cast("long")).as[Long]
        .flatMap { id =>
          Seq(
            (id, "peopleMentioned", people((id % 10).toInt)),
            (id, "companiesMentioned", companies((id % 8).toInt)),
            (id, "peopleMentioned", s"zq9#x$id 77&&"))
        }.toDF("doc_id", "prop", "value")
      Analyze.aggregateTagsTyped(s, tags)
        .select(col("doc_id"), col("prop"), col("key"))
        .orderBy("doc_id", "prop", "key")
    }),
    // contextCountry resolution: mentions inherit the countries tagged from
    // the doc's location values (analysis/country.py gazetteer path).
    "a_mentions_country" -> ((s, dir) => {
      import s.implicits._
      val cities = Vector("Berlin", "Paris", "London", "Madrid", "Rome",
        "Tokyo", "Toronto", "Mumbai", "Cairo", "Sydney")
      val people = MentionPeople
      val tags = documents(s, dir)
        .select(col("doc_id").cast("long")).as[Long]
        .flatMap { id =>
          Seq(
            (id, "peopleMentioned", people((id % people.size).toInt)),
            (id, "locationMentioned", cities((id % 10).toInt)))
        }.toDF("doc_id", "prop", "value")
      Analyze.mentionsWithCountry(s, Analyze.aggregateTags(tags))
        .select(col("document").cast("long").as("document"),
          col("resolved_key"), col("detected_schema"),
          concat_ws(",", col("context_country")).as("context_country"))
        .orderBy("document", "resolved_key")
    }),
    "a_thread_join" -> ((s, dir) =>
      Analyze.threadEmails(s, extract(s, dir, "eml").meta)
        .select(col("doc_id").cast("long").as("doc_id"),
          col("in_reply_to_doc").cast("long").as("in_reply_to_doc"))
        .orderBy("doc_id"))
  )
}
