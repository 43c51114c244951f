package graft.queries

import graft.core.Span
import graft.queries.QueryLib._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** i_* queries over the interleaved spans shape: boilerplate strip,
  * rendering, packing and caption-pair mining. */
object SpanQueries {

  /** Deterministic interleaved SPANS table per document — the exact input
    * shape the north rule names: (doc_id, spans: array<struct<kind,text,
    * media_ref,offset>>). Per doc: a shared boilerplate header span,
    * 8-token body text spans, an image span after body group i when
    * (id+i)%5==0 (media_ref = blob-id-i), a shared footer span on id%4.
    * The i_spans_* oracles rebuild the exploded rows with identical
    * arithmetic in [[graft.SparkEntry.SpanCte]] (the pagedDocs pattern,
    * lifted to the nested shape). */
  private def spanDocs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    documents(s, dir)
      .select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
      .map { case (id, text) =>
        val toks = graft.core.TextUtil.tokens(if (text == null) "" else text)
        val n = (toks.length + 7) / 8
        val buf = scala.collection.mutable.ArrayBuffer.empty[Span]
        buf += Span("text", "subscribe to our newsletter today.", "", 0)
        var i = 0
        while (i < n) {
          buf += Span("text", toks.slice(8 * i, 8 * i + 8).mkString(" "), "", 8 * i)
          if ((id + i) % 5 == 0)
            buf += Span("image", "", s"blob-$id-$i", 8 * i)
          i += 1
        }
        if (id % 4 == 0)
          buf += Span("text",
            "copyright example site all rights reserved", "", 8 * n)
        (id, buf.toSeq)
      }.toDF("doc_id", "spans")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // main-content extraction OVER the interleaved spans table (the north
    // rule's input shape): corpus-frequency boilerplate strip — text spans
    // in >=5 distinct docs drop, media spans and unique text survive with
    // original positions (hash-only df exchange + one left_anti join)
    "i_spans_strip" -> ((s, dir) => {
      graft.ops.SpanOps.stripBoilerplate(s, spanDocs(s, dir), minDocs = 5)
        .select(col("doc_id"), col("pos").cast("long").as("pos"), col("kind"),
          col("text"), col("media_ref"), col("offset").cast("long").as("off"))
        .orderBy("doc_id", "pos")
    }),
    // interleaved spans -> model-input text with media placeholder tokens
    // (pure codegen'd transform/array_join over the nested array; no
    // explode, no shuffle)
    "i_spans_render" -> ((s, dir) => {
      graft.ops.SpanOps.renderInterleaved(spanDocs(s, dir))
        .orderBy("doc_id")
    }),
    // multimodal sequence packing over the interleaved shape: text spans
    // count their tokens, media spans count one placeholder position;
    // 512-position contexts via the shared two-phase prefix sum
    "i_spans_pack" -> ((s, dir) => {
      graft.ops.SpanOps.packInterleaved(s, spanDocs(s, dir),
          contextLen = 512)
        .orderBy("chunk_id", "doc_id")
    }),
    // patch-aware multimodal packing: media spans cost
    // ceil(w/28)*ceil(h/28) ViT patch tokens read from a dims side table
    // (synthesized per media_ref from md5 arithmetic both engines
    // replay); refs with md5-digit4 == 0 are ABSENT from dims and fall
    // back to cost 1 — exercising the unknown-dims path
    "i_spans_pack_patches" -> ((s, dir) => {
      val docs = spanDocs(s, dir)
      def hx(n: Int) = expr(
        s"(instr('0123456789abcdef', substr(md5(media_ref), $n, 1)) - 1)")
      val refs = graft.ops.SpanOps.explodeSpans(docs)
        .filter(col("kind") =!= "text").select("media_ref").distinct()
      val dims = refs
        .filter(hx(4) =!= 0)
        .select(col("media_ref"),
          (lit(28) * (lit(3) + hx(1) % 6) + hx(3) % 2).as("width"),
          (lit(28) * (lit(2) + hx(2) % 5)).as("height"))
      graft.ops.SpanOps.packInterleavedPatches(s, docs, dims,
          patchSize = 28, contextLen = 512)
        .orderBy("chunk_id", "doc_id")
    }),
    // caption-pair mining over the interleaved shape: each media span
    // pairs with the nearest non-empty text span, distance ties broken
    // toward the following span (figure-caption convention) — pure
    // nested-array argmin, zero shuffle
    "i_pairs" -> ((s, dir) => {
      graft.ops.SpanOps.minePairs(spanDocs(s, dir))
        .filter(col("caption_pos") >= 0)
        .orderBy("doc_id", "media_pos")
    })
  )
}
