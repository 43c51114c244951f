package graft.queries

import graft.ops.{Dedup, Similarity}
import graft.queries.QueryLib._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** s_* similarity search and e_* embedding dedup / quantization over the
  * `embeddings` table. */
object VectorQueries {

  /** Exact-direction copies of (vec_id, embedding) rows: each vector ×
    * `factor` under vec_id + `idOffset`. Power-of-two factors are lossless
    * in float, so a copy's cosine to its original is exactly 1. */
  private def scaled(emb: DataFrame, factor: Float, idOffset: Long): DataFrame =
    emb.select((col("vec_id") + idOffset).as("vec_id"),
      transform(col("embedding"), x => x * factor).as("embedding"))

  /** The planted-neighbour gate: `topK(corpus, queries)` with ×2 copies
    * of the first 100 vectors as queries; (qid, cid) of each rank-1 hit. */
  private def plantedRank1(s: SparkSession, dir: String)(
      topK: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val emb = embeddings(s, dir)
    topK(emb, scaled(emb.filter(col("vec_id") < 100), 2.0f, 1000000L))
      .filter(col("rank") === 1)
      .select(col("qid"), col("cid"))
      .orderBy("qid")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s_ann_brute" -> ((s, dir) => {
      val emb = embeddings(s, dir)
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 20),
          "vec_id", "embedding", 5)
        .select(col("qid"), col("rank"), col("cid"))
        .orderBy("qid", "rank")
    }),
    // Planted-neighbor gate: queries are exact-direction copies (×2.0f is
    // lossless in float) of the first 100 corpus vectors, so each query's
    // rank-1 neighbor MUST be its planted original (cosine 1.0, identical
    // signatures in every LSH table) — an exact end-to-end check of the
    // bucketing + candidate join + rescore path.
    "s_ann_lsh" -> ((s, dir) => plantedRank1(s, dir)(
      Similarity.lshTopK(s, _, _, "vec_id", "embedding", 5))),
    // IVF variant, same planted-neighbor gate: spherical-k-means assignment
    // is scaling-invariant, so each x2.0f query lands in its original's
    // cell and rank-1 must be the planted original.
    "s_ann_ivf" -> ((s, dir) => plantedRank1(s, dir)(
      Similarity.ivfTopK(s, _, _, "vec_id", "embedding", 5))),
    // IVF-PQ variant (Jégou et al. IVFADC): same planted gate — the ×2.0f
    // query normalizes to the original's exact unit vector, so it shares
    // the original's cell, the original tops the ADC shortlist, and the
    // exact rescore pins rank-1 (sim 1.0) deterministically.
    "s_ann_ivfpq" -> ((s, dir) => plantedRank1(s, dir)(
      Similarity.ivfPqTopK(s, _, _, "vec_id", "embedding", 5))),
    "e_embed_dups" -> ((s, dir) => {
      // Plants BOTH exact-direction copies (×2 scale, cos = 1) and slightly
      // perturbed near-dups (coord0 ×1.05 → cos ≥ 0.9997 at any vector
      // scale) so the oracle pins the LSH recall contract, not just the
      // trivial identical-signature case (see Dedup.embeddingDups scaladoc).
      val emb = embeddings(s, dir)
        .select(col("vec_id").cast("long"), col("embedding"))
      val perturbed = emb.select((col("vec_id") + 2000000L).as("vec_id"),
        transform(col("embedding"),
          (x, i) => when(i === 0, x * 1.05f).otherwise(x)).as("embedding"))
      Dedup.embeddingDups(s,
          emb.unionByName(scaled(emb, 2.0f, 1000000L)).unionByName(perturbed),
          "vec_id", "embedding", 0.999)
        .select(col("id_a"), col("id_b")).orderBy("id_a", "id_b")
    }),
    // SemDeDup (Abbas et al. 2023): k-means clusters bound the pairwise
    // stage; within-cluster cosine ≥ τ removes all but the min-id
    // exemplar. Planted ×2 / ×4 exact-direction copies co-cluster with
    // their originals bit-deterministically (cosine assignment is
    // scaling-invariant), so removed = exactly the copies: the oracle
    // pins cluster-routing + exhaustive within-cluster recall (background
    // max pairwise cosine on this table is 0.60 at every SF).
    "e_semdedup" -> ((s, dir) => {
      val emb = embeddings(s, dir)
        .select(col("vec_id").cast("long"), col("embedding"))
      Similarity.semDedup(s, emb.unionByName(scaled(emb, 2.0f, 1000000L))
          .unionByName(scaled(emb, 4.0f, 2000000L)),
          "vec_id", "embedding", 0.999)
        .orderBy("removed_id")
    }),
    // symmetric int8 vector quantization (the compression step before an
    // embedding corpus rides a shuffle / lands in the ANN index):
    // integer outputs so the oracle replays the identical float32→double
    // widening and ties-away-from-zero rounding
    "e_quantize" -> ((s, dir) =>
      Similarity.quantizeInt8(embeddings(s, dir),
        "vec_id", "embedding").orderBy("id"))
  )
}
