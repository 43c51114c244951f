package graft.analysis

import graft.core.DocMeta
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** The analyze stage (`/root/reference/ingestors/analysis/`): pattern
  * extraction over span text, tag aggregation, Mention synthesis, and the
  * message-id threading self-join — all as declarative DataFrame plans
  * (regexp_extract_all is codegen'd; the aggregation is one hash
  * groupBy). */
object Analyze {

  /** The reference's regexes (`analysis/patterns.py:8-14`), re-expressed
    * for Spark's regexp engine. */
  val EmailRegex = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
  val PhoneRegex = """(\+?[\d\-\(\)\/\s]{5,}\d{2})"""
  val IbanRegex = """\b([A-Za-z]{2} ?[0-9]{2} ?[A-Za-z0-9]{4} ?[0-9]{7}([A-Za-z0-9]?){0,16})\b"""

  /** Extract (doc_id, prop, value, pos) tag rows from span text.
    * One narrow projection + explode per pattern, unioned. `pos` encodes the
    * reference's feed order (`patterns.py:22-30`: per chunk, per pattern
    * family, per match) as span_ord·2^40 + pattern_rank·2^32 + match_idx so
    * the TagAggregator's first-come cap can reproduce insertion order.
    * `orderCol` names the span-ordering column (e.g. a span offset); absent,
    * all spans rank equal and order falls to (pattern, match). */
  def extractPatterns(spans: DataFrame, orderCol: Option[String] = None): DataFrame = {
    val spanOrd = orderCol.map(c => col(c).cast("long")).getOrElse(lit(0L))
    def tags(rank: Int, prop: String, regex: String, group: Int): DataFrame =
      spans.select(col("doc_id"), spanOrd.as("span_ord"),
          posexplode(regexp_extract_all(col("text"), lit(regex), lit(group))))
        .withColumnRenamed("col", "value")
        .filter(length(col("value")) > 0)
        .withColumn("prop", lit(prop))
        .withColumn("pos", col("span_ord") * lit(1L << 40) +
          lit(rank.toLong * (1L << 32)) + col("pos"))
        .select("doc_id", "prop", "value", "pos")
    tags(0, "emailMentioned", EmailRegex, 0)
      .unionByName(tags(1, "phoneMentioned", PhoneRegex, 1)
        .withColumn("value", regexp_replace(col("value"), """[\-\(\)\/\s]""", ""))
        .filter(length(col("value")) >= 7))
      .unionByName(tags(2, "ibanMentioned", IbanRegex, 1))
  }

  /** TagAggregator (`analysis/aggregate.py:38-60`): group values by
    * (normalized key, prop), keep the distinct surface forms, cap total
    * keys per doc. The normalization (node_id) = lowercased trimmed.
    *
    * Cap parity (`aggregate.py:47-52`): the reference refuses NEW keys only
    * once the aggregator already holds MORE than MAX_TAGS keys — first-come
    * insertion order, and because the check is `>` (not `>=`) up to
    * MAX_TAGS+1 keys survive. Arrival order is the `pos` column when the
    * input carries one (extractPatterns emits it); otherwise ties break on
    * (prop, key) deterministically. */
  def aggregateTags(tags: DataFrame, maxTagsPerDoc: Int = 10000): DataFrame = {
    val keyed = tags.withColumn("key", lower(trim(col("value"))))
    val withPos =
      if (keyed.columns.contains("pos")) keyed else keyed.withColumn("pos", lit(0L))
    withPos.groupBy(col("doc_id"), col("prop"), col("key"))
      .agg(collect_set(col("value")).as("values"), count(lit(1)).as("freq"),
        min(col("pos")).as("first_pos"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("doc_id"))
          .orderBy(col("first_pos"), col("prop"), col("key"))))
      .filter(col("rn") <= maxTagsPerDoc + 1)
      .drop("rn", "first_pos")
  }

  /** TagAggregatorFasttext (`analysis/aggregate.py:10-34`): like
    * aggregateTags, but every (key, prop) group passes through the type
    * model's confidence gate — any trash-labelled or low-confidence value
    * drops the whole group. Narrow filter after the same hash groupBy. */
  def aggregateTagsTyped(spark: SparkSession, tags: DataFrame,
                         threshold: Double = 0.85): DataFrame = {
    import spark.implicits._
    val agg = aggregateTags(tags)
    val keep = agg
      .select(col("doc_id"), col("prop"), col("key"), col("values"),
        col("freq"))
      .as[(Long, String, String, Seq[String], Long)]
      .filter(r => TypeModel.groupSurvives(r._4, threshold))
    keep.toDF("doc_id", "prop", "key", "values", "freq")
  }

  /** Mentions with contextCountry (`analysis/__init__.py:50-77`): every
    * country resolved from the doc's location/country tags is stamped on
    * each of that doc's mentions. The per-doc country set is tiny, so it
    * broadcast-joins back onto the mention rows. */
  def mentionsWithCountry(spark: SparkSession, aggregated: DataFrame): DataFrame = {
    import spark.implicits._
    val countries = aggregated
      .filter(col("prop").isin("locationMentioned", "country"))
      .select(col("doc_id"), explode(col("values")).as("loc"))
      .as[(Long, String)]
      .flatMap { case (id, loc) => TypeModel.locationCountry(loc).map(id -> _) }
      .toDF("doc_id", "cc")
      .groupBy("doc_id")
      .agg(sort_array(collect_set(col("cc"))).as("context_country"))
    mentions(aggregated.filter(!col("prop").isin("locationMentioned", "country")))
      .join(broadcast(countries),
        col("document") === countries("doc_id"), "left")
      .drop("doc_id")
      .withColumn("context_country",
        coalesce(col("context_country"), array().cast("array<string>")))
  }

  /** `Analyzer.MENTIONS` (`analysis/__init__.py:22`): only these two props
    * synthesize Mention entities, each carrying its detectedSchema. */
  val MentionSchemas: Map[String, String] = Map(
    "peopleMentioned" -> "Person", "companiesMentioned" -> "Organization")

  /** Mention synthesis (`analysis/__init__.py:49-95`): deterministic
    * mention id per (doc, prop, key); only MENTIONS props qualify and each
    * mention is stamped with its detectedSchema (`__init__.py:70-79`). */
  def mentions(aggregated: DataFrame): DataFrame = {
    val schemaCol = MentionSchemas.foldLeft(lit(null).cast("string")) {
      case (acc, (prop, schema)) =>
        when(col("prop") === prop, lit(schema)).otherwise(acc)
    }
    aggregated
      .withColumn("detected_schema", schemaCol)
      .filter(col("detected_schema").isNotNull)
      .select(
        sha2(concat_ws("|", lit("mention"), col("doc_id"), col("prop"), col("key")), 256)
          .substr(1, 20).as("mention_id"),
        col("doc_id").as("document"),
        col("prop").as("detected_prop"),
        col("detected_schema"),
        col("key").as("resolved_key"),
        col("values").as("names"))
  }

  /** `clean_name` (`analysis/extract.py:27-35`): PER/ORG surface forms must
    * be 4–100 chars after cleanup and contain a space; punctuation is
    * stripped from the edges and whitespace collapsed (the portable core of
    * fingerprints.clean_entity_name + normality.collapse_spaces). */
  // precompiled: cleanName runs per mention candidate, and
  // String.replaceAll recompiles its pattern on every call
  private val NameWs = java.util.regex.Pattern.compile("\\s+")
  private val NameEdgePunct =
    java.util.regex.Pattern.compile("^[\\p{Punct}\\s]+|[\\p{Punct}\\s]+$")

  def cleanName(text: String): Option[String] = {
    if (text == null || text.length > 100) return None
    val collapsed = NameEdgePunct.matcher(
      NameWs.matcher(text.trim).replaceAll(" ")).replaceAll("")
    if (collapsed.length <= 4 || !collapsed.contains(' ')) None
    else Some(collapsed)
  }

  /** Apply the clean_name gate to name-prop tag rows (the step the
    * reference runs on every spaCy entity before aggregation,
    * `extract.py:41-57`); non-name props pass through untouched. */
  def cleanNameTags(spark: SparkSession, tags: DataFrame): DataFrame = {
    import spark.implicits._
    val cols = tags.columns
    val hasPos = cols.contains("pos")
    tags.select(col("doc_id").cast("long"), col("prop"), col("value"),
        (if (hasPos) col("pos") else lit(0L)).as("pos"))
      .as[(Long, String, String, Long)]
      .flatMap { case (id, prop, value, pos) =>
        if (MentionSchemas.contains(prop))
          cleanName(value).map(v => (id, prop, v, pos))
        else Some((id, prop, value, pos))
      }
      .toDF("doc_id", "prop", "value", "pos")
  }

  /** EmailIdentity parity (`support/email.py:18-49`): each sender/recipient
    * label on an Email document becomes a Person row when it has a valid
    * email (key = email) or a name longer than 10 chars (key = name). The
    * label forms are exactly the three the reference builds
    * ("name <email>", bare email, bare name), so they parse back losslessly.
    * One narrow flatMap over the metadata table + a distinct. */
  def emailPersons(spark: SparkSession, meta: Dataset[DocMeta]): DataFrame = {
    import spark.implicits._
    meta.filter(_.schema == "Email")
      .flatMap { m =>
        Seq("sender", "from", "to", "cc", "bcc")
          .flatMap(p => m.properties.getOrElse(p, Seq.empty))
          .flatMap(personFromLabel)
          .map { case (key, name, email) => (m.doc_id, key, name, email) }
      }
      .toDF("doc_id", "person_key", "name", "email")
      .distinct()
  }

  private val EmailRe =
    java.util.regex.Pattern.compile("^[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}$")

  /** (key, name, email) per `EmailIdentity.__init__`; None when neither a
    * valid email nor a >10-char name is available (no stable key). */
  def personFromLabel(label0: String): Option[(String, String, String)] = {
    val label = if (label0 == null) "" else label0.trim
    if (label.isEmpty) return None
    val m = java.util.regex.Pattern.compile("^(.*?)\\s*<([^<>]*)>$").matcher(label)
    var (name, email) =
      if (m.matches()) (m.group(1).trim, m.group(2).trim) else (label, "")
    if (email.nonEmpty && !EmailRe.matcher(email).matches()) email = ""
    if (EmailRe.matcher(name).matches()) { // name IS an email (email.py:24-26)
      if (email.isEmpty) email = name
      name = ""
    }
    val key =
      if (email.nonEmpty) email.toLowerCase
      else if (name.length > 10) name.toLowerCase
      else return None
    Some((key, name, email.toLowerCase))
  }

  /** Message-id threading (`support/email.py:140-167`): instead of Redis
    * forward/backward sets, one self-join of the email metadata on
    * messageId ↔ inReplyTo. Emits (doc_id, in_reply_to_doc) edges. */
  def threadEmails(spark: SparkSession, meta: Dataset[DocMeta]): DataFrame = {
    import spark.implicits._
    val emails = meta.filter(_.schema == "Email")
      .map(m => (m.doc_id,
        m.properties.getOrElse("messageId", Seq.empty).headOption.getOrElse(""),
        m.properties.getOrElse("inReplyTo", Seq.empty).headOption.getOrElse("")))
      .toDF("doc_id", "message_id", "in_reply_to")
    val targets = emails.filter(length($"message_id") > 0)
      .select($"doc_id".as("target_doc"), $"message_id")
    emails.filter(length($"in_reply_to") > 0).as("e")
      .join(targets.as("t"), $"e.in_reply_to" === $"t.message_id" &&
        $"e.doc_id" =!= $"t.target_doc")
      .select($"e.doc_id", $"t.target_doc".as("in_reply_to_doc"))
  }
}
