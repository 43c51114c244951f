package graft

import graft.corpus.CorpusGen
import graft.ops.Dedup
import graft.pipeline.Pipeline
import graft.queries.QueryLib
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** sf1 scale soak: 10× the bench corpus (4M root documents) through the
  * durable snapshot pipeline, content-hash dedup, and MinHash near-dup —
  * end-to-end on disk-committed snapshots, recording per-phase wall time,
  * partition counts, and peak heap. This is the "would it survive a 10×
  * scale-up" evidence for BASELINE.md: the pipeline path is the same one
  * `runDurable` ships to a cluster (per-level parquet commits + resume),
  * so memory headroom here bounds executor sizing there.
  *
  * Usage: graft.Soak [nDocs] [snapshotDir]  (defaults 4,000,000 and
  * /tmp/graft_soak; SPARK_GRAFT_CPUS as in Bench). */
object Soak {
  def main(args: Array[String]): Unit = {
    val nDocs = args.headOption.map(_.toLong).getOrElse(4000000L)
    val snapDir = if (args.length > 1) args(1) else "/tmp/graft_soak"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      // finer than the bench's cpus×2: at 4M docs the span-reassembly
      // aggregation holds per-partition hash state in task memory, and
      // 64 partitions × ~300 MB state × 32 concurrent tasks blew the
      // TaskMemoryManager (observed page-alloc failures). 256 partitions
      // keeps state ~75 MB/task; AQE coalesces the small stages back.
      .config("spark.sql.shuffle.partitions", math.max(cpus.toInt * 2, 256))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Shuffle files are reclaimed by ContextCleaner only after the JVM
      // GCs the shuffle-dependency objects; the default periodicGC (30 min)
      // never fires inside this run, so per-depth shuffle writes accumulate
      // (~200 GB across 10 depths at 4M docs) and fill the disk. On a real
      // cluster the external shuffle service + executor turnover bounds
      // this; in one long-lived local JVM we force the cleanup cadence.
      .config("spark.cleaner.periodicGC.interval", "2min")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    var peakHeap = 0L
    val phases = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def phase[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      val sec = (System.nanoTime() - t0) / 1e9
      peakHeap = math.max(peakHeap, mem.getHeapMemoryUsage.getUsed)
      phases += (name -> sec)
      val freeG = new java.io.File("/tmp").getUsableSpace / (1L << 30)
      System.err.println(f"[soak] $name: $sec%.1f s, heap ${mem.getHeapMemoryUsage.getUsed / (1 << 20)} MiB, disk free $freeG GiB")
      // let ContextCleaner reclaim the finished phase's shuffle files
      // before the next phase starts writing its own
      System.gc()
      Thread.sleep(3000)
      r
    }

    val (docs, blobs) = CorpusGen.corpus(spark, nDocs)
    val parts = spark.sparkContext.defaultParallelism * 3
    val pending = Pipeline.initialPending(spark, docs, blobs)
      .repartition(parts, col("doc_id"))

    // 1. durable pipeline: per-depth parquet snapshot commits + resume
    val metaCount = phase("pipeline_durable") {
      val (_, meta, _) = Pipeline.runDurable(spark, pending, snapDir)
      meta.count()
    }

    // 2. content-hash dedup over the full pending set (AQE-chosen join)
    val dedupCount = phase("dedup_by_content") {
      Pipeline.dedupByContent(spark, pending)._1.count()
    }

    // 3. MinHash near-dup over the extracted text bodies, read back from
    // the committed snapshots (kind=text spans, reassembled in seq order).
    // Exact→near cascade: identical bodies are collapsed to one
    // representative per distinct body hash BEFORE the LSH. This is the
    // web-scale contract — a templated corpus (like this one, and like any
    // real crawl) has duplicate-body multiplicity m per template, and
    // feeding them straight to LSH makes the verify join materialize
    // C(m,2) (text_a, text_b) pairs per template: quadratic shuffle bytes
    // that filled this host's disk at 4M docs. After the collapse the LSH
    // only compares distinct bodies; exact-duplicate pairs are implied by
    // the group multiplicity. maxBucket=256 stays as the guard for
    // boilerplate buckets among the survivors.
    var distinctBodies = 0L
    val pairCount = phase("minhash_lsh") {
      val bodies = QueryLib.body(
        graft.table.SnapshotTable.read(spark, snapDir, "spans"), "text")
      val reps = bodies
        .groupBy(xxhash64($"body").as("id"))
        .agg(first($"body").as("body"))
      distinctBodies = reps.count()
      // The 100 TB configuration, each knob forced by a measured failure
      // at 4M docs on this host:
      //  - star pairing: the all-pairs self-join re-materializes the
      //    ~280M-row banded exchange on BOTH join sides on top of the
      //    guard window's sort (measured 75 GB in-flight, disk-full);
      //    star links reuse the one sorted exchange and emit O(n)/bucket;
      //  - sig8 verification: exact-verify carries both full texts per
      //    pair; 8-bit signatures are 256 B per pair;
      //  - maxBucket=256: boilerplate-bucket guard (quadratic-pair
      //    insurance even though this corpus's distinct bodies are mostly
      //    unique — 4.4M of 5.5M — so the pair count stays small).
      Dedup.minhashLsh(spark, reps, "id", "body", 0.8,
        maxBucket = 256, verify = "sig8", pairing = "star").count()
    }

    // 4. interleaved-spans boilerplate strip over the committed snapshots
    // — the north rule's (doc_id, spans[]) shape CONSUMED at soak scale:
    // re-nest the span table per doc (the read-back reassembly shape) and
    // strip cross-document text spans by corpus frequency.
    val stripCount = phase("spans_strip") {
      val spans = graft.table.SnapshotTable.read(spark, snapDir, "spans")
      val nested = spans
        .groupBy($"doc_id")
        .agg(array_sort(collect_list(struct($"seq", $"kind", $"text",
          $"media_ref", $"offset"))).as("sp"))
        .select($"doc_id", transform($"sp", s => struct(
          s.getField("kind").as("kind"),
          s.getField("text").as("text"),
          s.getField("media_ref").as("media_ref"),
          s.getField("offset").as("offset"))).as("spans"))
      graft.ops.SpanOps.stripBoilerplate(spark, nested, minDocs = 5).count()
    }

    // 5. Lee-et-al duplicated-substring removal on a deterministic
    // quarter of the distinct bodies (bounded: the gram-position explode
    // is O(total tokens) rows and this host's disk, not the operator,
    // is the constraint at the full 4.4M-body set).
    val dupsubCount = phase("strip_dupsub") {
      val bodies = QueryLib.body(
          graft.table.SnapshotTable.read(spark, snapDir, "spans"), "text")
        .select(xxhash64($"doc_id").as("id"), $"body")
        .filter(pmod($"id", lit(4)) === 0)
      // the corpus's natural cross-doc duplicate bodies are short (<20
      // tokens — archive members), so plant half-copies the way the
      // oracle corpus does: the removal path must actually fire at scale
      val halves = QueryLib.halfCopies(spark, bodies, 1L)
      // returns persisted (caller-release contract)
      val cleaned = graft.ops.TextOps.stripDupSubstrings(spark,
        bodies.unionByName(halves), "id", "body")
      val n = cleaned.filter($"n_removed" > 0).count()
      cleaned.unpersist(false)
      n
    }

    // 6. the ITERATIVE PageRank path (the fast path is for toy graphs)
    // over a crawl-shaped 3-edges-per-doc graph on the full meta id set —
    // 10 rounds of 8-byte-key join + groupBy exchanges.
    val prTop = phase("pagerank_iterative") {
      val ids = graft.table.SnapshotTable.read(spark, snapDir, "meta")
        .select(xxhash64($"doc_id").as("h"))
        .select(pmod($"h", lit(nDocs)).as("i")).distinct()
      val edges = ids.select($"i".as("src"), ((($"i" + 1) % nDocs)).as("dst"))
        .union(ids.select($"i", ($"i" * 7) % nDocs))
        .union(ids.select($"i", lit(0L)))
      // scale auto-derives to nDocs * 1e6 — soak-scale call sites no
      // longer need the manual grain (the round-4 truncation footgun)
      graft.ops.Graph.pageRank(spark, edges, iterations = 10,
          maxLocalEdges = 0L)
        .orderBy(col("r").desc).limit(1).collect()(0).getLong(1)
    }

    // 7-9. the curation-composition axis at soak scale, over the
    // reassembled text bodies: the five-stage curate recipe (its verdict
    // semi-joins and the decontamination gram explode are the exchanges
    // that matter), sequence packing (the range exchange + prefix-sum
    // collect), and incremental dedup vs a half-corpus prior snapshot
    // (bloom build + broadcast + verify semi-join).
    val soakBodies =
      QueryLib.body(graft.table.SnapshotTable.read(spark, snapDir, "spans"), "text")
        .select(xxhash64($"doc_id").as("id"), $"body",
          pmod(xxhash64($"doc_id"), lit(3)).cast("string").as("stratum"),
          pmod(xxhash64(concat($"doc_id", lit("s"))), lit(1000))
            .cast("string").as("source"),
          length($"body").cast("long").as("ord"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    val curateKept = phase("curate_corpus") {
      // orderBy before limit: LIMIT on an unsorted distributed frame is
      // partition-order dependent, and the decontamination input must be
      // stable for the curate_kept pin to compare across runs
      val bench = soakBodies.filter(pmod($"id", lit(97)) === 0)
        .select($"id", $"body").orderBy($"id").limit(5000)
      graft.ops.TextOps.curateCorpus(spark, soakBodies, "id", "body",
        "stratum", "source", "ord", bench, cap = 5000,
        rates = Map("0" -> 0.5, "1" -> 0.25), defaultRate = 0.1,
        salt = "soak").count()
    }
    val packChunks = phase("pack_sequences") {
      // packSequences returns its result persisted (caller-must-unpersist
      // contract) — release it once the rollup is out, or a long soak
      // accumulates cached blocks
      val segs = graft.ops.TextOps.packSequences(spark, soakBodies, "id",
        "body", 2048)
      val n = segs.agg(max($"chunk_id")).head().getLong(0) + 1
      segs.unpersist(false)
      n
    }
    val incrDups = phase("dedup_incremental") {
      val prior = soakBodies.filter(pmod($"id", lit(2)) === 0)
      // dedupAgainst also returns persisted — same release contract
      val verdicts = graft.ops.Dedup.dedupAgainst(spark, prior, soakBodies,
        "id", "body")
      val n = verdicts.filter($"is_dup").count()
      verdicts.unpersist(false)
      n
    }
    // RFC 9309 admission at corpus scale: per-body synthetic URLs over 64
    // hosts, alternating robots policies — drives the broadcast join +
    // per-partition parse cache through every distinct body
    val robotsAllowed = phase("robots_filter") {
      val robotsA = "User-agent: graftbot\nDisallow: /Path1\nAllow: /Path12\n" +
        "User-agent: *\nDisallow: /\n"
      val robotsB = "User-agent: otherbot\nDisallow: /\n" +
        "User-agent: *\nDisallow: /Path3$\nDisallow: /Path4*7\n"
      val robots = (0 until 64).map(k =>
        (s"site$k.example.com", if (k % 2 == 0) robotsA else robotsB))
        .toDF("host", "robots_txt")
      val urls = soakBodies.select($"id",
        concat(lit("https://site"), pmod($"id", lit(64)),
          lit(".example.com/Path"), pmod($"id", lit(50))).as("url"))
      graft.ops.UrlOps.robotsFilter(urls, "url", robots,
        "host", "robots_txt", "graftbot").filter($"allowed").count()
    }
    // snapshot diff at corpus scale: full-outer id+hash join, churn-only
    // output (removed every id%11==3, changed every id%7==0)
    val diffRows = phase("corpus_diff") {
      val cur = soakBodies.filter(pmod($"id", lit(11)) =!= 3)
        .select($"id", when(pmod($"id", lit(7)) === 0,
          concat($"body", lit(" v2"))).otherwise($"body").as("body"))
      graft.ops.Dedup.corpusDiff(
        soakBodies.select($"id", $"body"), cur, "id", "body").count()
    }
    // the release-writer step at corpus scale: token-budget selection
    // (distributed prefix sum, longest-first) then the deterministic
    // shuffle/shard assignment of the kept set into 1024 shards — the
    // kept count is a deterministic pin of (corpus, score, budget)
    val shardRows = phase("select_and_shard") {
      val kept = graft.ops.TextOps.selectByBudget(spark, soakBodies, "id",
        "body", length($"body").cast("long"), budgetTokens = 50000000L)
      val n = graft.ops.TextOps.shardCorpus(kept.select($"id"), "id",
        1024, "soak").count()
      kept.unpersist(false)
      n
    }
    soakBodies.unpersist(false)

    val total = phases.values.sum
    val pipeSec = phases("pipeline_durable")
    val qs = phases.map { case (k, v) => "\"" + k + f"\":$v%.3f" }
      .mkString("{", ",", "}")
    println(f"""{"metric":"soak_total","value":$total%.3f,"unit":"sec","phases":$qs,"n_docs":$nDocs,"meta_rows":$metaCount,"dedup_rows":$dedupCount,"distinct_bodies":$distinctBodies,"neardup_pairs":$pairCount,"spans_kept":$stripCount,"dupsub_docs_touched":$dupsubCount,"pagerank_top_micro":$prTop,"curate_kept":$curateKept,"pack_chunks":$packChunks,"incr_dups":$incrDups,"robots_allowed":$robotsAllowed,"diff_rows":$diffRows,"select_shard_rows":$shardRows,"docs_per_sec":${metaCount / math.max(pipeSec, 1e-9)}%.1f,"pending_partitions":$parts,"shuffle_partitions":${math.max(cpus.toInt * 2, 256)},"peak_heap_mib":${peakHeap / (1 << 20)},"cpus":$cpus}""")
    spark.stop()
  }
}
