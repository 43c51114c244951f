package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph analytics over crawl-shaped edge lists (the natural consumers
  * of [[UrlOps.outlinks]] edges). Connected components lives in
  * [[Dedup.connectedComponents]]; this adds fixed-iteration PageRank.
  *
  * Determinism contract: every step is floor'd INTEGER arithmetic in
  * micro-units — float addition is order-dependent, and over 10
  * iterations the noise compounds, so ranks are quantized at every
  * step. Two engines (or two partitionings of the same job) therefore
  * produce bit-identical rank vectors, which is what makes a DuckDB
  * oracle possible at all.
  *
  * Scale shape per iteration: ranks ⨝ out-degrees is an 8-byte-key
  * join, contributions explode along edges narrowly, the only big
  * exchange is the groupBy(dst) over (8-byte dst, 8-byte partial sum)
  * with map-side combine, and the rank vector re-attaches to the node
  * set with a left join (AQE picks broadcast when the contribution sums
  * are sparse). Lineage is cut every few iterations by a [[Pin]], like
  * the connected-components loop; the distributed path's ranks come back
  * pinned. */
object Graph {

  /** Fixed-iteration PageRank. `edges` needs (src, dst) columns
    * (any numeric type, cast to long); parallel edges collapse first.
    * Returns (id, r) with r in micro-units of total mass `scale`: r ≈
    * pagerank · scale, so Σr ≈ scale minus truncation mass. Nodes
    * without out-edges contribute nothing (their mass evaporates, the
    * classic non-normalized formulation); nodes without in-edges keep
    * the teleport base.
    *
    * `scale` is the quantization grain and MUST grow with the node
    * count: per-node resolution is scale/N units, and below ~100
    * units/node truncation eats the rank signal (at scale/N < 1 every
    * rank collapses to the teleport floor — observed at 400k nodes on
    * the default before auto-derivation). The default `scale = 0` means
    * AUTO: `max(1e6, nodeCount * 1e6)` once the node count is known, so
    * the grain is always ≥1e6 units/node and the footgun cannot fire at
    * any graph size. Pass an explicit positive scale only to pin an
    * oracle/fixture; a warning prints when an explicit grain is too
    * coarse. */
  def pageRank(spark: SparkSession, edges: DataFrame, iterations: Int = 10,
               dampingPct: Int = 85, scale: Long = 0L,
               maxLocalEdges: Long = 2000000L): DataFrame = {
    def derivedScale(n: Long): Long =
      if (scale > 0L) scale
      // saturate: n * 1e6 overflows Long past ~9.2e12 nodes and would
      // yield a negative/garbage grain instead of the footgun-free default
      else if (n > Long.MaxValue / 1000000L) Long.MaxValue / 2
      else math.max(1000000L, n * 1000000L)
    Pin.scoped { pins =>
      val (e, nEdges) = pins(edges.select(col("src").cast("long").as("src"),
          col("dst").cast("long").as("dst"))
        .distinct())
      if (nEdges <= maxLocalEdges) {
        // small-graph fast path (the connectedComponents pattern): ten
        // distributed iterations over a toy graph are pure per-job
        // scheduling latency (measured ~1 s/iteration at 500 nodes), so
        // bounded edge sets compute on the driver with the IDENTICAL
        // integer recurrence — bit-equal output by construction
        import spark.implicits._
        val es = e.as[(Long, Long)].collect()
        val ids = (es.map(_._1) ++ es.map(_._2)).distinct.sorted
        val n = ids.length.toLong
        val sc = derivedScale(n)
        val idx = ids.zipWithIndex.toMap
        val outdeg = new Array[Long](ids.length)
        es.foreach { case (s, _) => outdeg(idx(s)) += 1 }
        val base = math.floor((100L - dampingPct) * sc.toDouble / (100L * n)).toLong
        var r = Array.fill(ids.length)(math.floor(sc.toDouble / n).toLong)
        var it = 0
        while (it < iterations) {
          val sums = new Array[Long](ids.length)
          es.foreach { case (s, d) =>
            val si = idx(s)
            sums(idx(d)) += math.floor(r(si).toDouble / outdeg(si)).toLong
          }
          r = Array.tabulate(ids.length)(i =>
            base + math.floor(dampingPct.toLong * sums(i) / 100.0).toLong)
          it += 1
        }
        ids.zip(r).toSeq.toDF("id", "r")
      } else {
        val (nodes, n) = pins(e.select(col("src").as("id"))
          .union(e.select(col("dst").as("id"))).distinct())
        val sc = derivedScale(n)
        if (sc / math.max(n, 1L) < 100L)
          System.err.println(s"[graft] pageRank: only ${sc / math.max(n, 1L)} " +
            s"micro-units per node ($n nodes, scale=$sc) — truncation will " +
            "flatten ranks; pass scale >= 100 * nodeCount (or 0 for auto)")
        val outdeg = e.groupBy("src").agg(count(lit(1)).as("d"))
        val base = math.floor((100L - dampingPct) * sc.toDouble / (100L * n)).toLong
        var ranks = nodes.withColumn("r", lit(math.floor(sc.toDouble / n).toLong))
        var cut = ranks
        var i = 1
        while (i <= iterations) {
          // per-edge contribution floor(r/d); floor of a long/long double
          // division is exact below 2^53
          val contribs = ranks
            .join(outdeg, ranks("id") === outdeg("src"))
            .select(col("src"), floor(col("r") * lit(1.0) / col("d"))
              .cast("long").as("c"))
            .join(e, "src")
            .select(col("dst"), col("c"))
          val sums = contribs.groupBy("dst").agg(sum(col("c")).as("s"))
          ranks = nodes.join(sums, nodes("id") === sums("dst"), "left")
            .select(col("id"),
              (lit(base) + floor(lit(dampingPct.toLong) * coalesce(col("s"), lit(0L))
                / lit(100.0)).cast("long")).as("r"))
          // cut the growing plan with a pin, as connectedComponents does;
          // the superseded cut is released
          if (i % 3 == 0 || i == iterations) { ranks = pins.step(cut, ranks); cut = ranks }
          i += 1
        }
        pins.handOff(ranks)
      }
    }
  }
}
