package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Deduplication operators for web-scale corpora. Scale notes per operator:
  *
  *  - exact: one hash-partitioned groupBy on a 64-bit content hash — the
  *    only full shuffle, keyed on a short fixed-width column (never the
  *    document text itself);
  *  - MinHash+LSH: per-row signature (narrow) → explode to b band keys →
  *    self-join on (band, key) buckets — the classic
  *    shingle→minhash→band→bucket-join plan; the join is an equi-join on a
  *    short key so Catalyst sort-merge-joins it and AQE splits skewed
  *    buckets; candidates are exact-verified so the LSH stage only affects
  *    recall/cost, not precision;
  *  - SimHash: 64-bit signature per doc, banded into 4×16-bit chunks for
  *    hamming≤3 candidate generation (each near-pair shares ≥1 chunk).
  */
object Dedup {

  // ---- exact -----------------------------------------------------------

  /** Keep the smallest id per identical text (first-writer-wins, like the
    * reference's content-hash caches, `support/convert.py:27-45`). */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    df.select(col(idCol), col(textCol))
      .groupBy(xxhash64(col(textCol)).as("h"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_dups"))
      .drop("h")
  }

  /** Incremental dedup of a new batch AGAINST a prior corpus snapshot —
    * the "have we already trained on this page" check every continuous
    * crawl ingest runs. Output: (id, is_dup) for every batch row, exact.
    *
    * Execution shape: the prior side collapses to distinct 64-bit content
    * hashes; a bloom filter over them (built with Spark's treeAggregate
    * sketch) broadcasts to the batch side as a NARROW prefilter, so the
    * only rows that reach the exact verify join are bloom hits —
    * true dups plus an fpp-sized sliver of false positives, which the
    * exact semi-join then kills. The result is therefore EXACT (the bloom
    * is pure performance), which is what lets a plain SQL join oracle it.
    *
    * Scale honesty: the driver/broadcast bloom is ~1.2 GiB per 1e9 prior
    * docs at fpp=0.01 — fine to ~1e9-doc snapshots. At 10^12-doc priors,
    * shard the bloom by hash prefix (k broadcasts, batch routed by the
    * same prefix) or skip the prefilter and let AQE plan the semi-join;
    * the verify join here is written so either prefilter slots in front
    * of it unchanged.
    *
    * The result comes back pinned: see [[Pin]] for the contract. */
  def dedupAgainst(spark: org.apache.spark.sql.SparkSession,
                   prior: DataFrame, batch: DataFrame,
                   idCol: String, textCol: String,
                   fpp: Double = 0.01): DataFrame = {
    import spark.implicits._
    Pin.scoped { pins =>
      val (priorH, nPrior) =
        pins(prior.select(xxhash64(col(textCol)).as("h")).distinct())
      val bf = priorH.stat.bloomFilter("h", math.max(nPrior, 1L), fpp)
      val bcast = spark.sparkContext.broadcast(bf)
      val candidates = batch
        .select(col(idCol).cast("long").as("id"), xxhash64(col(textCol)).as("h"))
        .as[(Long, Long)]
        .filter(t => bcast.value.mightContainLong(t._2))
        .toDF("id", "h")
      val dup = candidates.join(priorH, Seq("h"), "left_semi")
        .select(col("id")).withColumn("is_dup", lit(true))
      Pin(batch.select(col(idCol).cast("long").as("id"))
        .join(dup, Seq("id"), "left")
        .select(col("id"), coalesce(col("is_dup"), lit(false)).as("is_dup")))._1
    }
  }

  /** Snapshot diff — the change set between two corpus versions, the
    * primitive an incremental training-data pipeline runs between
    * [[dedupAgainst]] (content-level "seen it") and a re-curation: which
    * ids appeared, vanished, or changed content since the prior snapshot.
    * Output: (id, status ∈ added|removed|changed); unchanged rows are
    * dropped BEFORE the result materializes, so the output is
    * churn-sized, not corpus-sized.
    *
    * Scale shape: each side reduces to (id, xxhash64(text)) at the scan —
    * text never enters the exchange — then one full-outer equi-join on
    * id (sort-merge on 16-byte rows; AQE handles skew). At 10^12 docs
    * this is the cheapest possible diff: two scans + one narrow-payload
    * shuffle. The hash compare makes `changed` exact up to 64-bit
    * collisions (~5e-8 at 1e9 pairs per id — and ids pair 1:1). */
  def corpusDiff(prior: DataFrame, current: DataFrame,
                 idCol: String, textCol: String): DataFrame = {
    val p = prior.select(col(idCol).cast("long").as("id"),
      xxhash64(col(textCol)).as("prior_h"))
    val c = current.select(col(idCol).cast("long").as("id"),
      xxhash64(col(textCol)).as("cur_h"))
    p.join(c, Seq("id"), "full_outer")
      .select(col("id"),
        when(col("prior_h").isNull, lit("added"))
          .when(col("cur_h").isNull, lit("removed"))
          .when(col("prior_h") =!= col("cur_h"), lit("changed"))
          .otherwise(lit("unchanged")).as("status"))
      .filter(col("status") =!= "unchanged")
  }

  // ---- MinHash ---------------------------------------------------------

  /** Deterministic 64-bit string hash (FNV-1a), stable across JVMs. */
  def hashToken(s: String): Long = graft.core.TextUtil.fnv64(s)

  /** k permutation approximations via (a*x+b) mod p over the shingle hash. */
  final case class MinHashParams(numHashes: Int = 128, bands: Int = 64,
                                 shingleSize: Int = 3) {
    def rows: Int = numHashes / bands
  }

  private val P = (1L << 61) - 1 // Mersenne prime

  // Seeds are deterministic in k — computed once per JVM (executor),
  // not per document: the signature loop is the hottest code in the LSH
  // path. (The seed stream intentionally draws two values per component
  // and keeps the first, preserving the signature values the oracles and
  // the r2→r3 family swap pinned.)
  private val coeffCache =
    new java.util.concurrent.ConcurrentHashMap[Int, Array[Long]]()

  private def hashCoeffs(k: Int): Array[Long] =
    coeffCache.computeIfAbsent(k, (kk: Int) => {
      val rng = new graft.corpus.CorpusGen.Rng(0x6a09e667f3bcc908L)
      val as = new Array[Long](kk)
      var i = 0
      while (i < kk) {
        as(i) = math.abs(rng.nextLong()) % (P - 1) + 1
        rng.nextLong() // discarded (was the affine family's b_i)
        i += 1
      }
      as
    })

  def minhashSignature(shingleHashes: IterableOnce[Long], k: Int): Array[Long] = {
    // k independent splitmix64-finalizer hashes (Steele, Lea & Flood 2014;
    // the finalizer is a measured-avalanche 64-bit mixer): v_i =
    // mix64(x ^ seed_i). ~3x cheaper per component than the previous
    // (a*x+b) mod-Mersenne family — the signature loop is the dominant
    // near-dup cost at scale — with the same minwise behavior in practice.
    // The correctness contract is unaffected: candidates are exact-verified
    // downstream, and the t_minhash_lsh oracle is exhaustive-jaccard.
    val seeds = hashCoeffs(k)
    val sig = Array.fill(k)(Long.MaxValue)
    for (x0 <- shingleHashes.iterator) {
      var i = 0
      while (i < k) {
        var z = x0 ^ seeds(i)
        z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
        z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
        z ^= (z >>> 31)
        val v = z & 0x7fffffffffffffffL
        if (v < sig(i)) sig(i) = v
        i += 1
      }
    }
    sig
  }

  /** Jaccard over shingle sets — the exact verifier. */
  def jaccard(a: Set[String], b: Set[String]): Double = {
    if (a.isEmpty && b.isEmpty) return 1.0
    val inter = a.intersect(b).size
    val union = a.size + b.size - inter
    if (union == 0) 0.0 else inter.toDouble / union
  }

  /** MinHash+LSH near-duplicate pairs with exact-jaccard verification.
    * Input (id: Long, text: String); output (id_a, id_b, jaccard) with
    * id_a < id_b and jaccard ≥ threshold.
    *
    * `maxBucket` caps the size of any (band, bucket) group before the
    * self-join: a bucket of b docs contributes b² candidate pairs, so one
    * pathological bucket (boilerplate-identical pages, which web corpora
    * always have) turns the join quadratic. Oversized buckets are dropped
    * whole — the standard web-scale trade (those docs are caught by exact
    * dedup or by their other, smaller bands). Default = no cap, which is
    * the exhaustive-oracle behavior; the sf1 soak runs with a cap.
    *
    * Scale contract: run exact dedup (collapse identical bodies to one
    * representative, e.g. groupBy xxhash64(body)) BEFORE calling this.
    * Identical texts all land in the same buckets, so m copies of one
    * template cost C(m,2) verify pairs each carrying both full texts —
    * quadratic shuffle bytes the LSH cannot amortize. After the collapse
    * exact-duplicate pairs are implied by group multiplicity and the LSH
    * only pays for genuinely-distinct near-duplicates (see the soak in graft.Probe).
    *
    * `verify`: "exact" (default) joins texts back and computes true
    * Jaccard — the oracle-grade mode; "sig8" verifies from 8-bit minhash
    * signatures (256 bytes per pair, no text ever rides the pair join) —
    * the 100 TB mode when near-dup density makes the pair count itself
    * quadratic-ish (see the sig8 branch comment for the estimator).
    * A sig8 result comes back pinned (see [[Pin]]): its signature pin must
    * release before return, and sig8 callers run several actions over the
    * pairs. Exact-verify results stay fully lazy.
    *
    * `pairing`: "all" (default) enumerates every in-bucket pair — the
    * oracle-grade contract; "star" links members to the bucket's min-id
    * representative only (O(n) per bucket vs O(n²)) — the corpus-dedup
    * contract, where downstream union-find over links recovers clusters. */
  def minhashLsh(spark: SparkSession, df: DataFrame, idCol: String,
                 textCol: String, threshold: Double,
                 params: MinHashParams = MinHashParams(),
                 maxBucket: Int = Int.MaxValue,
                 verify: String = "exact",
                 pairing: String = "all"): DataFrame = {
    import spark.implicits._
    val k = params.numHashes
    val bands = params.bands
    val rows = params.rows
    val shingleN = params.shingleSize

    val docs = df.select(col(idCol).cast("long"), col(textCol)).as[(Long, String)]
    // full signature per doc (narrow stage); bands derive from it below.
    // A function VAL (not a local def): defs lift into the enclosing
    // method's environment and drag the SparkSession into the closure.
    val sigOf: String => Array[Long] = { text =>
      val toks = graft.core.TextUtil.tokens(text).toIndexedSeq
      val sh = TextOps.shingles(toks, shingleN)
      if (sh.isEmpty) null
      else minhashSignature(sh.iterator.map(hashToken), k)
    }
    val sigRows = docs.mapPartitions(_.flatMap { case (id, text) =>
      val sig = sigOf(text)
      if (sig == null) Iterator.empty else Iterator.single((id, sig))
    })
    def bandKeys(idSig: Iterator[(Long, Array[Long])]): Iterator[(Int, Long, Long)] =
      idSig.flatMap { case (id, sig) =>
        (0 until bands).iterator.map { b =>
          var h = 1125899906842597L ^ b
          var r = 0
          while (r < rows) { h = h * 1000003L + sig(b * rows + r); r += 1 }
          (b, h, id)
        }
      }
    val guardW = org.apache.spark.sql.expressions.Window
      .partitionBy("band", "bucket")
    // candidate (id_a, id_b) pairs from the per-doc signatures
    def candidatesOf(sigs: org.apache.spark.sql.Dataset[(Long, Array[Long])]): DataFrame = {
      val banded = sigs.mapPartitions(bandKeys).toDF("band", "bucket", "id")
      pairing match {
        case "all" =>
          // bucket self-join → ALL candidate pairs (dedup across bands).
          // Columns are renamed per side: alias-only self-joins misresolve
          // the l/r attributes (same attribute ids on both sides).
          val guarded =
            if (maxBucket == Int.MaxValue) banded
            else banded.withColumn("_n", count(lit(1)).over(guardW))
              .filter(col("_n") <= maxBucket).drop("_n")
          val lSide = guarded.toDF("band", "bucket", "id_a")
          val rSide = guarded.toDF("band", "bucket", "id_b")
          lSide.join(rSide, Seq("band", "bucket"))
            .filter($"id_a" < $"id_b")
            .select($"id_a", $"id_b")
            .distinct()
        case "star" =>
          // link every bucket member to the bucket's min id — O(n) rows per
          // bucket instead of the self-join's O(n²), on the SAME
          // (band, bucket) exchange the guard window sorted. Near-identical
          // template groups agree on most of their bands, so all-pairs
          // materializes ~b·n²/2 pre-distinct rows per group (measured 75 GB
          // of shuffle at 4M docs); the star links are b·n and still connect
          // every cluster transitively — the corpus-dedup contract
          // (union-find over links), not the enumerate-every-pair contract.
          // Recall note: a member is kept only if it verifies against the
          // cluster REPRESENTATIVE (single-link star) — the standard trade.
          // The maxBucket guard count and the representative min ride ONE
          // window pass over the same partition spec (r6; two windows cost
          // a second sort of every bucket) — the guard drops buckets whole,
          // so min-over-bucket is unchanged by fusing.
          val withStats =
            if (maxBucket == Int.MaxValue)
              banded.withColumn("rep", min(col("id")).over(guardW))
            else banded.withColumn("_n", count(lit(1)).over(guardW))
              .withColumn("rep", min(col("id")).over(guardW))
              .filter(col("_n") <= maxBucket)
          withStats.filter(col("id") =!= col("rep"))
            .select(col("rep").as("id_a"), col("id").as("id_b"))
            .distinct()
        case other =>
          throw new IllegalArgumentException(s"pairing mode: $other")
      }
    }

    verify match {
      case "exact" =>
        // exact verify: true jaccard over each side's shingle set. The
        // sets ride the pair join as per-doc SORTED 64-bit hash arrays
        // (distinct by construction — shingles() returns a Set) instead
        // of the full texts: a document's tokenize+shingle work happens
        // once in the narrow projection rather than once per PAIR SIDE,
        // the join payload shrinks, and the per-pair cost is a linear
        // merge-intersect instead of two set builds (r6; same
        // hash≡shingle-identity trade as the banding itself — an
        // in-document hash collision shifting a set size is a ~1e-16
        // event). Empty-shingle docs never reach `candidates` (their
        // signature is null), so the empty/empty => 1.0 convention of
        // [[jaccard]] is unreachable here but preserved.
        val sets = docs.mapPartitions(_.map { case (id, text) =>
          val sh = TextOps.shingles(
            graft.core.TextUtil.tokens(text).toIndexedSeq, shingleN)
          (id, sh.iterator.map(hashToken).toArray.sorted)
        }).toDF("id", "sh")
        candidatesOf(sigRows)
          .join(sets.toDF("id_a", "sh_a"), "id_a")
          .join(sets.toDF("id_b", "sh_b"), "id_b")
          .select($"id_a", $"id_b", $"sh_a", $"sh_b") // USING joins reorder columns
          .as[(Long, Long, Array[Long], Array[Long])]
          .mapPartitions(_.map { case (a, b, sa, sb) =>
            var i = 0; var j = 0; var inter = 0
            while (i < sa.length && j < sb.length) {
              if (sa(i) == sb(j)) { inter += 1; i += 1; j += 1 }
              else if (sa(i) < sb(j)) i += 1
              else j += 1
            }
            val union = sa.length + sb.length - inter
            val jac =
              if (sa.isEmpty && sb.isEmpty) 1.0
              else if (union == 0) 0.0
              else inter.toDouble / union
            (a, b, jac)
          })
          .toDF("id_a", "id_b", "jaccard")
          .filter($"jaccard" >= threshold)

      case "sig8" =>
        // b-bit minhash verification (Li & König, "b-Bit Minwise Hashing",
        // WWW 2010): verify candidates from the low 8 bits of each of the
        // k minhash components — 256 bytes per PAIR instead of both full
        // texts. At web scale the exact-verify join's payload is quadratic
        // in the near-dup density (templated corpora: tens of GB of text
        // riding the pair join — measured filling this host's disk at 4M
        // docs), while sig8 is O(k) per pair with std-err ≈ √(J(1-J)/k)
        // ≈ 0.035 at k=128, J=0.8. Estimator: Ĵ = (f − 1/256)/(1 − 1/256)
        // where f = matching-byte fraction.
        // The signature pass feeds both the band keys and the verifier
        // bytes, so it is computed once, pinned.
        Pin.scoped { pins =>
          val sigs = pins(sigRows.toDF("id", "sig"))._1.as[(Long, Array[Long])]
          val sig8s = sigs
            .map { case (id, sig) => (id, sig.map(v => (v & 0xff).toByte)) }
            .toDF("id", "sig")
          Pin(candidatesOf(sigs)
            .join(sig8s.toDF("id_a", "sig_a"), "id_a")
            .join(sig8s.toDF("id_b", "sig_b"), "id_b")
            .select($"id_a", $"id_b", $"sig_a", $"sig_b")
            .as[(Long, Long, Array[Byte], Array[Byte])]
            .mapPartitions(_.map { case (a, b, sa, sb) =>
              var m = 0; var i = 0
              val n = math.min(sa.length, sb.length)
              while (i < n) { if (sa(i) == sb(i)) m += 1; i += 1 }
              val f = if (n > 0) m.toDouble / n else 0.0
              val est = math.max(0.0, (f - 1.0 / 256) / (1 - 1.0 / 256))
              (a, b, est)
            })
            .toDF("id_a", "id_b", "jaccard")
            .filter($"jaccard" >= threshold))._1
        }

      case other =>
        throw new IllegalArgumentException(s"verify mode: $other")
    }
  }

  /** Exhaustive n-gram-Jaccard pairs via shingle explode + equi-join —
    * exact (no LSH), quadratic only within shared shingles. Same output
    * contract as minhashLsh; at scale the LSH variant replaces it. */
  def ngramJaccardExact(spark: SparkSession, df: DataFrame, idCol: String,
                        textCol: String, threshold: Double,
                        shingleN: Int = 3): DataFrame = {
    import spark.implicits._
    val docs = df.select(col(idCol).cast("long"), col(textCol)).as[(Long, String)]
    val sh = docs.mapPartitions(_.flatMap { case (id, text) =>
      val s = TextOps.shingles(graft.core.TextUtil.tokens(text).toIndexedSeq, shingleN)
      s.iterator.map(x => (id, hashToken(x), s.size))
    }).toDF("id", "shingle", "sz")
    val l = sh.toDF("id_a", "shingle", "sz_a")
    val r = sh.toDF("id_b", "shingle", "sz_b")
    l.join(r, Seq("shingle"))
      .filter($"id_a" < $"id_b")
      .groupBy($"id_a", $"id_b", $"sz_a", $"sz_b")
      .agg(count(lit(1)).as("inter"))
      .withColumn("jaccard",
        $"inter" / ($"sz_a" + $"sz_b" - $"inter"))
      .filter($"jaccard" >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  // ---- SimHash -----------------------------------------------------------

  def simhash64(tokens: Iterable[String]): Long = {
    val acc = new Array[Int](64)
    for (t <- tokens) {
      val h = hashToken(t)
      var i = 0
      while (i < 64) {
        if (((h >>> i) & 1L) == 1L) acc(i) += 1 else acc(i) -= 1
        i += 1
      }
    }
    var out = 0L
    var i = 0
    while (i < 64) { if (acc(i) > 0) out |= (1L << i); i += 1 }
    out
  }

  /** SimHash near-dup pairs with hamming distance ≤ maxDist, candidate
    * generation via 16-bit chunk banding (pigeonhole: dist ≤ 3 ⇒ some
    * chunk equal). */
  def simhashPairs(spark: SparkSession, df: DataFrame, idCol: String,
                   textCol: String, maxDist: Int = 3): DataFrame = {
    import spark.implicits._
    require(maxDist <= 3, "4x16-bit banding supports hamming<=3")
    val sigs = df.select(col(idCol).cast("long"), col(textCol)).as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        (id, simhash64(graft.core.TextUtil.tokens(text)))
      }).toDF("id", "sig")
    val banded = sigs.select($"id", $"sig",
      explode(array((0 until 4).map(c =>
        struct(lit(c).as("chunk"),
          shiftrightunsigned($"sig", c * 16).bitwiseAND(lit(0xffffL)).as("key"))): _*))
        .as("b"))
      .select($"id", $"sig", $"b.chunk", $"b.key")
    val l = banded.toDF("id_a", "sig_a", "chunk", "key")
    val r = banded.toDF("id_b", "sig_b", "chunk", "key")
    l.join(r, Seq("chunk", "key"))
      .filter($"id_a" < $"id_b")
      .select($"id_a", $"id_b",
        bit_count($"sig_a".bitwiseXOR($"sig_b")).as("dist"))
      .distinct()
      .filter($"dist" <= maxDist)
  }

  /** Embedding-cosine near-dup: pairs with cosine ≥ threshold — APPROXIMATE
    * in recall, exact in precision.
    *
    * Recall contract: a candidate pair surfaces only if some table's `bits`
    * hyperplane signs all agree. For angle θ between the vectors each bit
    * agrees with probability 1−θ/π, so recall ≈ 1−(1−(1−θ/π)^bits)^tables —
    * at the defaults (8 tables × 16 bits) that is ~0.999 for cosine 0.995,
    * ~0.97 for cosine 0.98, ~0.80 for cosine 0.95. Pairs that do surface are
    * always cosine-verified (no false positives). Raise `tables` (linear
    * cost, narrow stage) to buy recall at lower thresholds. The
    * `e_embed_dups` oracle plants both exact-direction and slightly
    * perturbed (cos≈0.995) duplicates to pin this behavior.
    *
    * Scale plan: random-hyperplane sign signatures bucket the vectors
    * (`tables` independent 16-bit bands — near-identical directions share
    * every band; recall decays with angle, precision is exact because every
    * candidate is cosine-verified). The bucket self-join is an equi-join on
    * (table, sig) over (id, table, sig) rows only — vectors never ride the
    * shuffle and nothing is O(n²); the physical plan is asserted
    * CartesianProduct/BroadcastNestedLoopJoin-free by OpsSpec. */
  def embeddingDups(spark: SparkSession, emb: DataFrame, idCol: String,
                    vecCol: String, threshold: Double,
                    tables: Int = 8, bits: Int = 16, dim: Int = 64): DataFrame = {
    import spark.implicits._
    val banded = Similarity.bandIds(spark, emb, idCol, vecCol, tables, bits,
      dim, seed = 0x452821e638d01377L)
    // rename per side: alias-only self-joins misresolve (same attribute ids)
    val l = banded.toDF("id_a", "table", "sig")
    val r = banded.toDF("id_b", "table", "sig")
    val cands = l.join(r, Seq("table", "sig"))
      .filter($"id_a" < $"id_b")
      .select($"id_a", $"id_b")
      .distinct()
    val vecs = emb.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<double>").as("v"))
    cands
      .join(vecs.toDF("id_a", "v_a"), "id_a")
      .join(vecs.toDF("id_b", "v_b"), "id_b")
      .withColumn("cosine", Similarity.cosineCol($"v_a", $"v_b"))
      .filter($"cosine" >= threshold)
      .select($"id_a", $"id_b", $"cosine")
  }

  /** End-to-end corpus near-dedup — the composition a training-data
    * pipeline actually runs, each stage in its 100 TB shape:
    *
    *  1. exact collapse: identical bodies → one representative
    *     (groupBy body hash, min id) — removes duplicate-multiplicity
    *     before anything quadratic-ish can see it;
    *  2. [[minhashLsh]] over the representatives with star pairing +
    *     sig8 verification — near-dup LINKS, O(n) per bucket;
    *  3. [[connectedComponents]] — links → cluster labels;
    *  4. every id maps back through its body representative to the
    *     cluster's min id.
    *
    * Output: (id, representative, keep) — `keep` marks the one survivor
    * per near-dup cluster (the min id); filter on it to dedup. It comes
    * back pinned: see [[Pin]] for the contract.
    *
    * Recall caveat: the default `pairing="star"` verifies members only
    * against each bucket's min-id representative, so a transitive chain
    * A~B~C with jaccard(A,C) < threshold can under-merge relative to an
    * exhaustive-closure oracle (single-link recall limit). The
    * `t_dedup_corpus` oracle currently holds because its near-dup mass is
    * exact copies collapsed in stage 1 — corpus-dependent, which is why
    * pairing is exposed here: pass `pairing="all"` when chain recall
    * matters more than the O(n) bucket cost. */
  def dedupCorpus(spark: SparkSession, df: DataFrame, idCol: String,
                  textCol: String, threshold: Double = 0.8,
                  params: MinHashParams = MinHashParams(),
                  maxBucket: Int = 256,
                  verify: String = "sig8",
                  pairing: String = "star"): DataFrame = {
    import spark.implicits._
    val docs = df.select(col(idCol).cast("long").as("id"), col(textCol).as("text"))
    val withHash = docs.withColumn("h", xxhash64(col("text")))
    // body-representative per distinct text; text never rides this join —
    // ids regroup on the 8-byte hash only. The (id → rep) map is pinned:
    // it feeds BOTH the representative-text selection for the LSH pass
    // and the final survivor join, and unpinned each consumer re-ran the
    // full hash + groupBy collapse (r6: the stage profile showed the
    // exact collapse executing twice at ~2.6 s each on the tile bench).
    val bodyRep = withHash.groupBy("h").agg(min(col("id")).as("rep"))
    Pin.scoped { pins =>
      val (idToRep, _) = pins(withHash.select(col("id"), col("h"))
        .join(bodyRep, "h").select(col("id"), col("rep")))
      // representative texts via an id-semi-join against the pinned map —
      // no second groupBy over the corpus
      val reps = docs.join(
        idToRep.filter(col("id") === col("rep")).select(col("id")),
        Seq("id"), "left_semi")
      // pin the pair set: connectedComponents reads it by action, and
      // unpinned each action re-ran the whole signature + band + verify
      // chain (sig8 results arrive pinned from minhashLsh)
      val pairs = minhashLsh(spark, reps, "id", "text", threshold, params,
        maxBucket = maxBucket, verify = verify, pairing = pairing)
      val pinned = if (verify == "sig8") pins.hold(pairs) else pins(pairs)._1
      val comp = pins.hold(connectedComponents(spark,
        pinned.select(col("id_a"), col("id_b"))))
      Pin(idToRep
        .join(comp.withColumnRenamed("id", "rep"), Seq("rep"), "left")
        .select(col("id"),
          coalesce(col("component"), col("rep")).as("representative"))
        .withColumn("keep", col("id") === col("representative")))._1
    }
  }

  /** Connected components over undirected (id_a, id_b) link rows — the
    * union-find step that turns near-dup PAIRS (from [[minhashLsh]] /
    * [[embeddingDups]], esp. star pairing) into dedup CLUSTERS: output
    * (id, component) with component = min id reachable. Iterative
    * min-label propagation (the MapReduce-CC family, Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC 2014 — the
    * simple hash-join variant, not Pregel):
    *
    *  - one hash shuffle per iteration on the node id, candidate labels
    *    combined map-side (groupBy min is partial-aggregated);
    *  - converges in O(component diameter) iterations — star pairing
    *    keeps diameters small by construction (every bucket is a star);
    *  - each iteration's labels are a [[Pin]], which cuts the growing
    *    plan (driver-side planning is the scale hazard in iterative
    *    DataFrame jobs) and releases the superseded labels;
    *  - the convergence check rides the label job itself: the previous
    *    label is carried through the same aggregation and an accumulator
    *    counts changes while the pin materializes — exactly ONE Spark job
    *    per iteration (asserted in OpsSpec), not label-job +
    *    change-count-job.
    *
    * The driver fast path returns a local frame; the iterative path's
    * labels come back pinned (see [[Pin]]). */
  def connectedComponents(spark: SparkSession, links: DataFrame,
                          maxIter: Int = 25,
                          localThreshold: Long = 2000000L): DataFrame = {
    import spark.implicits._
    val edges = links.select(col("id_a").cast("long").as("src"),
        col("id_b").cast("long").as("dst"))
    // Hybrid fast path: below `localThreshold` edges, collect and run
    // union-find on the driver (bounded: 16 B/edge → ≤32 MB at the
    // default) — one job instead of O(diameter) iteration rounds, which
    // the probe measured as a ~3 s serial floor regardless of cores. The
    // iterative path below is the at-scale shape; star pairing keeps real
    // dedup link sets small relative to corpus size, so most calls take
    // the fast path and giant graphs still distribute. The labels are
    // identical either way (min reachable id), so oracles don't care.
    // One bounded collect decides the path: at most localThreshold + 1
    // rows, and an overflow falls through to the iterative path.
    val es =
      if (localThreshold > 0)
        edges.as[(Long, Long)].limit(localThreshold.toInt + 1).collect()
      else Array.empty[(Long, Long)]
    if (localThreshold > 0 && es.length <= localThreshold) {
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x0: Long): Long = {
        var x = x0
        while (parent.getOrElse(x, x) != x) {
          val p = parent.getOrElse(x, x)
          parent(x) = parent.getOrElse(p, p) // path halving
          x = parent.getOrElse(x, x)
        }
        x
      }
      es.foreach { case (a, b) =>
        val ra = find(a); val rb = find(b)
        // union by min id so the final relabel pass is a single find()
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
      val nodes = es.iterator.flatMap(e => Iterator(e._1, e._2)).toSet
      return nodes.toSeq.map(id => (id, find(id)))
        .toDF("id", "component")
    }
    Pin.scoped { pins =>
      val undirected = pins(edges.unionByName(
          edges.select(col("dst").as("src"), col("src").as("dst")))
        .distinct())._1
      var labels = pins(undirected.select(col("src").as("id"))
        .distinct()
        .withColumn("component", col("id")))._1
      var iter = 0
      var converged = false
      while (iter < maxIter && !converged) {
        val viaNeighbor = undirected
          .join(labels.withColumnRenamed("id", "src"), "src")
          .select(col("dst").as("id"), col("component"),
            lit(Long.MaxValue).as("old"))
        // Every id has exactly one row in `labels`, so min(old) over the
        // union recovers its previous label; neighbor rows carry the
        // MaxValue sentinel. Change detection is an accumulator bump in the
        // row pass the pin materializes anyway. Accumulator updates in a
        // transformation can over-count on task retry — that only delays
        // convergence detection by one (correct) iteration, never falsely
        // declares it.
        val acc = spark.sparkContext.longAccumulator("cc_changed")
        // the one job per iteration; the superseded labels are released
        labels = pins.step(labels, labels
          .select(col("id"), col("component"), col("component").as("old"))
          .unionByName(viaNeighbor)
          .groupBy("id").agg(min(col("component")).as("component"),
            min(col("old")).as("old"))
          .as[(Long, Long, Long)]
          .map { case (id, comp, old) =>
            if (comp != old) acc.add(1L)
            (id, comp)
          }
          .toDF("id", "component"))
        converged = acc.value == 0L
        iter += 1
      }
      if (!converged)
        // non-converged labels are still a valid coarsening (every labeled
        // pair IS connected) but long chains may not have fully merged —
        // surface it instead of silently returning partial clusters
        System.err.println(s"[graft] connectedComponents did NOT converge " +
          s"within maxIter=$maxIter (labels were still changing); component " +
          s"diameter exceeds the iteration budget — raise maxIter")
      pins.handOff(labels)
    }
  }
}
