package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Supplementary measurement harness for the optimization rounds —
  * guide §1.4 noop-sink isolation and per-stage breakdowns that do NOT
  * belong in the frozen graft.Bench surface. Nothing here feeds the
  * driver's BENCH_r*.json; numbers are quoted in OPTIMIZATION_r*.md.
  *
  * Modes (first arg):
  *   dedup_stages [tile]   — per-stage walls of Dedup.dedupCorpus over the
  *                           Bench tile corpus (exact collapse / signature
  *                           pass / banded pairs / verify / CC / final)
  *   noop q1,q2,...        — declared queries timed with the noop sink
  *                           (computes every column, no count() pruning)
  */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    val mode = if (args.nonEmpty) args(0) else "dedup_stages"
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    def time[A](label: String)(f: => A): A = {
      spark.sparkContext.setJobDescription(label)
      val t0 = System.nanoTime()
      val r = f
      println(f"[extra] $label: ${(System.nanoTime() - t0) / 1e9}%.3f s")
      spark.sparkContext.setJobDescription(null)
      r
    }
    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    // the Bench dedup tile corpus, verbatim (synthesis outside any clock)
    def tiledCorpus(tile: Int): DataFrame = {
      val baseDocs = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id").cast("long").as("id"), col("text"))
      baseDocs.as[(Long, String)].flatMap { case (id, text0) =>
        val text = if (text0 == null) "" else text0
        (0 until tile).iterator.map { k =>
          val t =
            if (k == 0 || k % 2 == 0) text
            else {
              val toks = text.split(" ")
              toks.zipWithIndex
                .collect { case (w, i) if i % (9 + k % 7) != 0 => w }
                .mkString(" ") + s" u${id}x$k"
            }
          (id + 10000000L * k, t)
        }
      }.toDF("id", "text")
        .repartition(math.max(32, cpus.toInt * 3))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    }

    mode match {
      case "dedup_stages" =>
        val tile = if (args.length > 1) args(1).toInt else 40
        val tiled = tiledCorpus(tile)
        println(s"[extra] tile=$tile rows=${tiled.count()}")
        // stage-by-stage replica of dedupCorpus(threshold=0.8, sig8, star)
        val docs = tiled.select(col("id"), col("text"))
        val withHash = docs.withColumn("h", xxhash64(col("text")))
        val bodyRep = withHash.groupBy("h").agg(min(col("id")).as("rep"))
        val reps = withHash
          .join(bodyRep.withColumnRenamed("rep", "id"), Seq("h", "id"))
          .select(col("id"), col("text"))
        val nReps = time("1 exact collapse (reps count)")(reps.count())
        println(s"[extra]   reps=$nReps")
        val params = graft.ops.Dedup.MinHashParams()
        val k = params.numHashes
        val sigs = reps.as[(Long, String)].mapPartitions(_.flatMap {
          case (id, text) =>
            val toks = graft.core.TextUtil.tokens(text).toIndexedSeq
            val sh = graft.ops.TextOps.shingles(toks, params.shingleSize)
            if (sh.isEmpty) Iterator.empty
            else Iterator.single((id, graft.ops.Dedup.minhashSignature(
              sh.iterator.map(graft.ops.Dedup.hashToken), k)))
        }).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
        time("2 signature pass")(sigs.count())
        val bands = params.bands
        val rows = params.rows
        val banded = sigs.mapPartitions(_.flatMap { case (id, sig) =>
          (0 until bands).iterator.map { b =>
            var h = 1125899906842597L ^ b
            var r = 0
            while (r < rows) { h = h * 1000003L + sig(b * rows + r); r += 1 }
            (b, h, id)
          }
        }).toDF("band", "bucket", "id")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("band", "bucket")
        val links = banded.withColumn("_n", count(lit(1)).over(w))
          .withColumn("rep", min(col("id")).over(w))
          .filter(col("_n") <= 256 && col("id") =!= col("rep"))
          .select(col("rep").as("id_a"), col("id").as("id_b"))
          .distinct()
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
        val nLinks = time("3 banded star links")(links.count())
        println(s"[extra]   links=$nLinks")
        val sig8s = sigs.map { case (id, sig) =>
          (id, sig.map(v => (v & 0xff).toByte)) }.toDF("id", "sig")
        val verified = time("4 sig8 verify") {
          val v = links.toDF("id_a", "id_b")
            .join(sig8s.toDF("id_a", "sig_a"), "id_a")
            .join(sig8s.toDF("id_b", "sig_b"), "id_b")
            .select($"id_a", $"id_b", $"sig_a", $"sig_b")
            .as[(Long, Long, Array[Byte], Array[Byte])]
            .mapPartitions(_.map { case (a, b, sa, sb) =>
              var m = 0; var i = 0
              val n = math.min(sa.length, sb.length)
              while (i < n) { if (sa(i) == sb(i)) m += 1; i += 1 }
              (a, b, (m.toDouble / n - 1.0 / 256) / (1 - 1.0 / 256))
            }).toDF("id_a", "id_b", "jaccard")
            .filter($"jaccard" >= 0.8)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
          v.count()
          v
        }
        val comp = time("5 connected components")(
          graft.ops.Dedup.connectedComponents(spark,
            verified.select("id_a", "id_b")))
        val idToRep = withHash.select(col("id"), col("h"))
          .join(bodyRep, "h").select(col("id"), col("rep"))
        time("6 final survivor join") {
          idToRep.join(comp.withColumnRenamed("id", "rep"), Seq("rep"), "left")
            .select(col("id"),
              coalesce(col("component"), col("rep")).as("representative"))
            .filter(col("id") === col("representative")).count()
        }
        time("TOTAL dedupCorpus (composed op, for reference)") {
          graft.ops.Dedup.dedupCorpus(spark, tiled, "id", "text", 0.8)
            .filter(col("keep")).count()
        }

      case "web_stages" =>
        val tile = if (args.length > 1) args(1).toInt else 40
        val tiled = tiledCorpus(tile)
        tiled.count()
        // the Bench web_tile spans synthesis, verbatim
        val spansTiled = tiled.as[(Long, String)].map { case (id, text) =>
          val toks = graft.core.TextUtil.tokens(text)
          val n = (toks.length + 7) / 8
          val buf = scala.collection.mutable.ArrayBuffer.empty[graft.core.Span]
          buf += graft.core.Span("text", "subscribe to our newsletter today.", "", 0)
          var i = 0
          while (i < n) {
            buf += graft.core.Span("text",
              toks.slice(8 * i, 8 * i + 8).mkString(" ") + s" d$id", "", 8 * i)
            if ((id + i) % 5 == 0) buf += graft.core.Span("image", "", s"b$id-$i", 8 * i)
            i += 1
          }
          if (id % 4 == 0)
            buf += graft.core.Span("text", "copyright example site all rights reserved", "", 8 * n)
          (id.toString, buf.toSeq)
        }.toDF("doc_id", "spans")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
        spansTiled.count()
        val stripped = time("1 stripBoilerplateNested")(
          graft.ops.SpanOps.stripBoilerplateNested(spark, spansTiled, 5))
        val bodies = stripped.select(col("doc_id"),
          array_join(transform(
            filter(col("spans"), sp => sp.getField("kind") === "text"),
            sp => sp.getField("text")), " ").as("text"))
        val corpus = bodies.select(col("doc_id").cast("long").as("id"),
          col("text"),
          pmod(col("doc_id").cast("long"), lit(3)).cast("string").as("stratum"),
          pmod(col("doc_id").cast("long"), lit(997)).cast("string").as("source"),
          length(col("text")).cast("long").as("ord"))
        val bench = corpus.filter(pmod(col("id"), lit(101)) === 0)
          .select(col("id"), col("text")).orderBy(col("id")).limit(2000)
        val kept = time("2 curateCorpus")(
          graft.ops.TextOps.curateCorpus(spark, corpus, "id",
            "text", "stratum", "source", "ord", bench, 5000,
            Map("0" -> 0.5, "1" -> 0.25), 0.1, "bench"))
        val nKept = time("2b kept count")(kept.count())
        println(s"[extra]   kept=$nKept")
        val surv = corpus.join(kept.select(col("id")), Seq("id"), "left_semi")
        val segs = time("3 packSequences")(
          graft.ops.TextOps.packSequences(spark, surv, "id", "text", 2048))
        time("4 segs count")(segs.count())
        time("TOTAL web_tile chain (fresh, composed)") {
          val st = graft.ops.SpanOps.stripBoilerplateNested(spark, spansTiled, 5)
          val bo = st.select(col("doc_id"),
            array_join(transform(
              filter(col("spans"), sp => sp.getField("kind") === "text"),
              sp => sp.getField("text")), " ").as("text"))
          val co = bo.select(col("doc_id").cast("long").as("id"), col("text"),
            pmod(col("doc_id").cast("long"), lit(3)).cast("string").as("stratum"),
            pmod(col("doc_id").cast("long"), lit(997)).cast("string").as("source"),
            length(col("text")).cast("long").as("ord"))
          val be = co.filter(pmod(col("id"), lit(101)) === 0)
            .select(col("id"), col("text")).orderBy(col("id")).limit(2000)
          val ke = graft.ops.TextOps.curateCorpus(spark, co, "id", "text",
            "stratum", "source", "ord", be, 5000,
            Map("0" -> 0.5, "1" -> 0.25), 0.1, "bench")
          val su = co.join(ke.select(col("id")), Seq("id"), "left_semi")
          val s2 = graft.ops.TextOps.packSequences(spark, su, "id", "text", 2048)
          s2.count()
          st.unpersist(false); s2.unpersist(false)
        }

      case "couple" =>
        // reproduce the Bench tile-section ORDER (curate over a cached
        // tile, then pack in the same session) to measure cross-section
        // coupling of leaked storage/broadcast state
        val tile = if (args.length > 1) args(1).toInt else 40
        val tiled = tiledCorpus(tile)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
        tiled.count()
        val curateDocs = tiled.select(col("id"), col("text"),
          pmod(col("id"), lit(3)).cast("string").as("stratum"),
          pmod(col("id"), lit(997)).cast("string").as("source"),
          length(col("text")).cast("long").as("ord"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
        curateDocs.count()
        val curateBench = curateDocs
          .filter(pmod(col("id"), lit(101)) === 0)
          .select(col("id"), col("text")).orderBy(col("id")).limit(2000)
        for (r <- 1 to 2)
          time(s"curate rep $r") {
            graft.ops.TextOps.curateCorpus(spark, curateDocs, "id", "text",
              "stratum", "source", "ord", curateBench, 5000,
              Map("0" -> 0.5, "1" -> 0.25), 0.1, "bench").count()
          }
        curateDocs.unpersist()
        for (r <- 1 to 2)
          time(s"pack rep $r") {
            val s = graft.ops.TextOps.packSequences(spark, tiled, "id",
              "text", 2048)
            s.count()
            s.unpersist(false)
          }

      case "packprobe" =>
        val tile = if (args.length > 1) args(1).toInt else 40
        val tiled = tiledCorpus(tile)
        tiled.count()
        val segs = time("packSequences build")(
          graft.ops.TextOps.packSequences(spark, tiled, "id", "text", 2048))
        time("count 1")(segs.count())
        time("count 2")(segs.count())
        time("count 3")(segs.count())

      case "noop" =>
        val names = args(1).split(",").toSeq
        for (q <- names; r <- 1 to 3) {
          time(s"$q noop (run $r)") {
            noop(SparkEntry.queries(q)(spark, sfDir))
          }
          spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
        }

      case other => sys.error(s"unknown mode $other")
    }
    spark.stop()
  }
}
