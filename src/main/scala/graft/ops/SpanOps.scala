package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Operators that CONSUME the interleaved spans table shape —
  * `(doc_id: string, spans: array<struct<kind,text,media_ref,offset>>)` —
  * the storage schema the extraction pipeline emits (see
  * `graft.core.Span`). Where the `x_*` queries prove the engine can
  * *produce* that table from raw bytes, these prove it can run
  * corpus-scale main-content extraction *over* it: the second pass a
  * training-data pipeline runs after ingestion (strip cross-document
  * boilerplate, render interleaved text+media into model input).
  *
  * Scale shape: both operators keep span text OUT of wide exchanges. The
  * boilerplate detector's only shuffle carries 8-byte hashes (per-doc
  * deduped narrowly first); the verdict join is an 8-byte-key join
  * against a small aggregated side (AQE broadcasts it); rendering is a
  * pure per-row expression (no shuffle at all). Parallelism of the
  * narrow stages is the INPUT's split count — these ops never
  * repartition, so a single-file toy input runs single-task (a real
  * Iceberg/parquet table arrives in many splits; see the Bench tile
  * synthesis note). */
object SpanOps {

  private val SpanCols = Seq("kind", "text", "media_ref", "offset")

  /** Explode the nested spans array, keeping the array index as `pos` —
    * the order key of span-sequence equality. */
  def explodeSpans(docs: DataFrame, idCol: String = "doc_id",
                   spansCol: String = "spans"): DataFrame =
    docs.select(col(idCol), posexplode(col(spansCol)).as(Seq("pos", "sp")))
      .select(col(idCol) +: col("pos") +:
        SpanCols.map(c => col(s"sp.$c").as(c)): _*)

  /** Cross-document boilerplate strip over the interleaved table: a text
    * span whose exact content appears in ≥ `minDocs` distinct documents
    * (nav bars, cookie notices, footers — the CCNet/RefinedWeb line-dedup
    * signal applied at span granularity) is dropped; media spans and
    * document-specific text survive with their original positions, so the
    * output remains a valid (sub)sequence of the input spans.
    *
    * Plan: doc-frequency over `xxhash64(text)`, with the per-document
    * hash set deduplicated NARROWLY before the explode
    * (`array_distinct(transform(...))` on the nested array) — so the df
    * aggregation is a plain map-side-combined count over 8-byte hashes,
    * no `(doc_id, hash)` distinct shuffle at all (measured 2× on the
    * aggregation: a distinct-based df took 9-13 s at 2 cores on a 4.8M-
    * span tile, the pre-deduped count 4.5-5 s). Then one `left_anti`
    * join of the exploded spans against the (small) over-threshold hash
    * set. Media and null-text spans get a null join key, which an
    * equi-join never matches, so they are structurally un-droppable
    * (`xxhash64(null)` is the seed 42, not SQL null, so null text is
    * excluded explicitly on both sides). */
  def stripBoilerplate(spark: SparkSession, docs: DataFrame, minDocs: Int = 5,
                       idCol: String = "doc_id",
                       spansCol: String = "spans"): DataFrame =
    explodeSpans(docs, idCol, spansCol)
      .withColumn("h",
        when(textWithBody(col("kind"), col("text")), xxhash64(col("text"))))
      .join(boilerVerdict(docs, spansCol, minDocs), Seq("h"), "left_anti")
      .drop("h")

  /** A boilerplate candidate: a text span whose text is not null. */
  private def textWithBody(kind: Column, text: Column): Column =
    kind === "text" && text.isNotNull

  private def isCandidate(sp: Column): Column =
    textWithBody(sp.getField("kind"), sp.getField("text"))

  /** Each document's distinct candidate hashes, deduplicated narrowly on
    * the nested array. */
  private def docHashes(spans: Column): Column =
    array_distinct(transform(filter(spans, sp => isCandidate(sp)),
      sp => xxhash64(sp.getField("text"))))

  /** The boilerplate verdict of both strips: the candidate hashes `h`
    * found in ≥ `minDocs` documents. */
  private def boilerVerdict(docs: DataFrame, spansCol: String,
                            minDocs: Int): DataFrame =
    docs.select(explode(docHashes(col(spansCol))).as("h"))
      .groupBy("h").agg(count(lit(1)).as("ddf"))
      .filter(col("ddf") >= minDocs)
      .select("h")

  /** [[stripBoilerplate]] preserving the NESTED (doc_id, spans[]) shape,
    * with the same verdict and no regroup of span text: the exploded
    * form forces an explode → groupBy(doc) regroup that shuffles the full
    * span TEXT, which at 100 TB is the difference between a scan and a
    * corpus-sized exchange (measured: the tile-40 web composition dropped
    * ~50 s of its wall when reassembly stopped regrouping exploded rows).
    * Downstream consumers (body reassembly, rendering, packing) stay
    * narrow too.
    *
    * The strip probes the verdict one of two ways, both codegen'd column
    * expressions, so the span structs never round-trip through Java
    * objects:
    *   - up to `maxExprSet` hashes (spans repeated across ≥ minDocs
    *     documents are nav bars, footers and notices, a corpus-frequency
    *     head): the driver collects the verdict and the strip is a narrow
    *     nested-array `filter` with an in-set probe (the optimizer turns
    *     the in-list into an InSet hash probe). The driver never collects
    *     more than `maxExprSet + 1` hashes.
    *   - above it: a hash semi-join. The `(doc_id, h)` rows of each
    *     document's candidate hashes semi-join the verdict, collect per
    *     document into the hashes to drop, and left-join back onto the
    *     documents (null-safe on the id), whose arrays then drop those
    *     hashes. Only ids and 8-byte hashes are aggregated; dropping by
    *     hash, not by position, keeps a repeated `doc_id` correct.
    *
    * Hashing is `xxhash64` of the span text in discovery and strip alike;
    * a 64-bit collision can only over-strip a span at ~1e-19 per pair,
    * the line-dedup trade documented on
    * [[graft.ops.TextOps.lineDedupStats]]. `spans` must be the north-rule
    * Span shape (kind, text, media_ref, offset) — the fixed input-table
    * schema. Output doc_id is cast to string (the shape's id type).
    *
    * The input is consumed by two jobs (discovery, strip), so the
    * projected input is pinned across them unless the caller's frame is
    * already cached (see [[Pin.Scope.unlessCached]]). The stripped result
    * comes back pinned: see [[Pin]] for the contract. */
  def stripBoilerplateNested(spark: SparkSession, docs: DataFrame,
                             minDocs: Int = 5, idCol: String = "doc_id",
                             spansCol: String = "spans",
                             maxExprSet: Int = 10000): DataFrame = {
    import spark.implicits._
    val projected = docs
      .select(col(idCol).cast("string").as(idCol), col(spansCol).as(spansCol))
    Pin.scoped { pins =>
      val base = pins.unlessCached(docs, projected)
      val verdict = boilerVerdict(base, spansCol, minDocs)
      val boiler = verdict.as[Long].head(maxExprSet + 1)
      val stripped =
        if (boiler.isEmpty) base.select(col(idCol), col(spansCol))
        else if (boiler.length <= maxExprSet) {
          val keep = (sp: Column) => !(isCandidate(sp) &&
            xxhash64(sp.getField("text")).isin(boiler.toIndexedSeq: _*))
          base.select(col(idCol), filter(col(spansCol), keep).as(spansCol))
        } else {
          val drops = base.select(col(idCol).as("_id"),
              explode(docHashes(col(spansCol))).as("h"))
            .join(verdict, Seq("h"), "left_semi")
            .groupBy("_id").agg(collect_set(col("h")).as("_drop"))
          val keep = (sp: Column) => !(isCandidate(sp) && coalesce(
            array_contains(col("_drop"), xxhash64(sp.getField("text"))),
            lit(false)))
          base.join(drops, col(idCol) <=> col("_id"), "left")
            .select(col(idCol), filter(col(spansCol), keep).as(spansCol))
        }
      Pin(stripped)._1
    }
  }

  /** Render the interleaved spans into model-input text: text spans in
    * order, each media span replaced by a placeholder token (the
    * interleaved-multimodal training prep — images stay addressable via
    * the blobs table through `media_ref`, the text stream carries the
    * slot). Pure codegen'd per-row expression: `transform` + `array_join`
    * over the nested array, no explode, no shuffle. */
  def renderInterleaved(docs: DataFrame, mediaToken: String = "<|media|>",
                        idCol: String = "doc_id",
                        spansCol: String = "spans"): DataFrame =
    docs.select(col(idCol),
      array_join(transform(col(spansCol), sp =>
        when(sp.getField("kind") === "text", sp.getField("text"))
          .otherwise(lit(mediaToken))), "\n").as("text"),
      size(filter(col(spansCol), sp => sp.getField("kind") =!= "text"))
        .cast("long").as("n_media"))

  /** Multimodal sequence packing over the interleaved spans shape: pack
    * documents into `contextLen`-token training contexts where each text
    * span contributes its token count and each media span contributes
    * EXACTLY ONE position (its `<|media|>` placeholder — the convention
    * [[renderInterleaved]] renders and a multimodal loader resolves to
    * patch embeddings). Output is [[graft.ops.TextOps.packSequences]]'s
    * (chunk_id, doc_id, doc_from, seg_len) loader index, where token
    * positions count through the interleaved stream.
    *
    * Scale shape: the per-doc length is ONE codegen'd `aggregate` over
    * the nested array (no explode — span text never leaves the row);
    * everything after is the shared distributed two-phase prefix sum. */
  def packInterleaved(spark: SparkSession, docs: DataFrame,
                      idCol: String = "doc_id", spansCol: String = "spans",
                      contextLen: Int = 2048): DataFrame = {
    val n = aggregate(col(spansCol), lit(0L), (acc, sp) =>
      acc + when(sp.getField("kind") === "text",
          TextOps.tokenCount(sp.getField("text")).cast("long"))
        .otherwise(lit(1L)))
    TextOps.packCounted(spark,
      docs.select(col(idCol).cast("long").as("id"), n.as("n")), contextLen)
  }

  /** PATCH-AWARE multimodal packing — [[packInterleaved]] with the real
    * vision-language cost model: a media span costs
    * `ceil(h/patchSize) * ceil(w/patchSize)` patch tokens (the ViT
    * convention a multimodal loader actually materializes), read from a
    * `dims` side table `(media_ref, width, height)` — the blobs/meta
    * table every ingestion run already produces (EXIF/BMP dims land in
    * the meta properties). A media span whose ref is missing from `dims`
    * falls back to cost 1 (the placeholder convention), so the op
    * degrades to [[packInterleaved]] when dims are unknown.
    *
    * Scale shape: ONE scan of the spans table — the per-doc text token
    * count rides the same projection that explodes the media refs
    * (`explode_outer`, id + 8-byte-ish ref only; span text never leaves
    * the row) — then one equi-join against `dims` (AQE broadcasts it
    * while it fits; at 10^12 media it becomes a plain 16-byte-row
    * shuffle join, which is the honest cost of per-image dims) and one
    * map-side-combined groupBy(id). The prefix-sum core is shared. */
  def packInterleavedPatches(spark: SparkSession, docs: DataFrame,
                             dims: DataFrame, patchSize: Int = 14,
                             idCol: String = "doc_id",
                             spansCol: String = "spans",
                             contextLen: Int = 2048): DataFrame = {
    require(patchSize > 0, s"patchSize must be positive: $patchSize")
    val p = patchSize.toLong
    val textN = aggregate(col(spansCol), lit(0L), (acc, sp) =>
      acc + when(sp.getField("kind") === "text",
          TextOps.tokenCount(sp.getField("text")).cast("long"))
        .otherwise(lit(0L)))
    val exploded = docs.select(col(idCol).cast("long").as("id"),
      textN.as("tn"),
      explode_outer(transform(
        filter(col(spansCol), sp => sp.getField("kind") =!= "text"),
        sp => sp.getField("media_ref"))).as("media_ref"))
    // ceil division as floor((x + p - 1) / p): dims are bounded by image
    // formats (< 2^31), so the double division is exact
    def ceilDiv(c: Column): Column =
      floor((c.cast("long") + lit(p - 1)) / lit(p.toDouble)).cast("long")
    val d = dims.select(col("media_ref"),
      (ceilDiv(col("width")) * ceilDiv(col("height"))).as("pcost"))
    val counts = exploded
      .join(d, Seq("media_ref"), "left")
      .groupBy("id")
      .agg((first(col("tn")) + coalesce(sum(
        when(col("media_ref").isNotNull, coalesce(col("pcost"), lit(1L)))),
        lit(0L))).as("n"))
    TextOps.packCounted(spark, counts, contextLen)
  }

  /** Caption-pair mining over the interleaved spans shape — the
    * image-text pair harvest a vision-language corpus build runs over
    * interleaved documents (the LAION-style alt-text/caption pairing,
    * applied to the already-extracted span table instead of raw HTML):
    * each media span pairs with the NEAREST non-empty text span by span
    * position, distance ties broken toward the FOLLOWING span (figure
    * captions conventionally follow their figure). One row per media
    * span: `(doc_id, media_pos, media_ref, caption_pos, caption)`; a
    * media span in a document with no candidate text emits
    * `caption_pos = -1` / null caption (caller filters, or routes to an
    * alt-text fallback).
    *
    * Scale shape: ZERO shuffle — candidate positions and the per-media
    * nearest-text argmin are nested-array expressions (`transform` /
    * `filter` / `aggregate` with index lambdas) and the output explode
    * is narrow, so the cost is one scan. The argmin is O(media · text)
    * on in-row arrays — span counts per document are small by
    * construction (a document with thousands of spans is an extraction
    * bug upstream, not a pairing input). */
  def minePairs(docs: DataFrame, idCol: String = "doc_id",
                spansCol: String = "spans"): DataFrame = {
    val sp = col(spansCol)
    // candidate caption positions (non-empty text spans), ascending
    val tpos = filter(
      transform(sp, (x, i) =>
        when(x.getField("kind") === "text" &&
          length(trim(x.getField("text"))) > 0, i.cast("long"))
          .otherwise(lit(-1L))),
      t => t >= 0)
    val media = filter(
      transform(sp, (x, i) => struct(
        i.cast("long").as("pos"),
        x.getField("kind").as("kind"),
        x.getField("media_ref").as("media_ref"))),
      m => m.getField("kind") =!= "text" &&
        length(m.getField("media_ref")) > 0)
    val paired = transform(media, m => {
      val p = m.getField("pos")
      // fold over ASCENDING candidates, replacing on distance <= best —
      // so the later (larger, i.e. following) position wins exact ties
      val best = aggregate(tpos, lit(-1L), (acc, t) =>
        when(acc === lit(-1L) || abs(t - p) <= abs(acc - p), t)
          .otherwise(acc))
      struct(
        p.as("media_pos"),
        m.getField("media_ref").as("media_ref"),
        best.as("caption_pos"),
        // get() is 0-based and null at -1 — the no-candidate case
        get(sp, best.cast("int")).getField("text").as("caption"))
    })
    docs.select(col(idCol), explode(paired).as("pr"))
      .select(col(idCol), col("pr.media_pos").as("media_pos"),
        col("pr.media_ref").as("media_ref"),
        col("pr.caption_pos").as("caption_pos"),
        col("pr.caption").as("caption"))
  }
}
