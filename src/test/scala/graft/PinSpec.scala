package graft

import graft.ops.{Dedup, Graph, Pin, SpanOps, TextOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The pin contract (see [[graft.ops.Pin]]): an operator's result is a
  * one-node frame released by its handle, and its internal pins are gone
  * when it returns or throws. */
class PinSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  private def pins: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def docs: DataFrame = (0L until 60L).map { i =>
    (i, s"shared header words here then body ${i % 7} tok${i % 5} " +
      s"more text ${i % 3} with some tail words ${i % 11} and ${i % 4} end")
  }.toDF("doc_id", "text")

  private def spans: DataFrame = (0L until 30L).map { i =>
    (i.toString, Seq(graft.core.Span("text", "shared header", "", 0),
      graft.core.Span("text", s"body $i", "", 1)))
  }.toDF("doc_id", "spans")

  // long (over 50 words), stopword-rich bodies pass the quality gate
  private def curate(bench: DataFrame): DataFrame = {
    val corpus = (1L to 40L).map { i =>
      (i, s"the quick brown fox number $i jumps over the lazy dog and then " +
        "walks on to the river where it sits by the water for a while " +
        "and it is a calm day in the field as the sun sets over the hill " +
        "and the birds are in the trees by the old stone wall tonight",
        "en", (i % 3).toString, 300L - i)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    TextOps.curateCorpus(spark, corpus, "doc_id", "text", "lang", "source",
      "n_chars", bench, 5, Map("en" -> 0.5), 0.1, "s")
  }

  test("Pin: one-node frame with its row count, released by handle, recomputes once released") {
    val before = pins
    val df = docs.groupBy((col("doc_id") % 5).as("k")).agg(count(lit(1)).as("n"))
    val (frame, rows) = Pin(df)
    assert(frame.queryExecution.analyzed
      .isInstanceOf[org.apache.spark.sql.execution.LogicalRDD])
    assert(rows == 5L)
    assert(frame.storageLevel ==
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    assert(pins.size == before.size + 1)
    val expected = df.collect().toSet
    assert(frame.collect().toSet == expected)
    frame.unpersist(false)
    assert(pins == before)
    // a released pin is not a dead frame: it recomputes from RDD lineage
    assert(frame.collect().toSet == expected)
  }

  test("every pinning operator leaves no pin once its result is released by handle") {
    val ops: Seq[(String, () => DataFrame)] = Seq(
      "dedupAgainst" -> (() => Dedup.dedupAgainst(spark,
        docs.filter(col("doc_id") < 20), docs, "doc_id", "text")),
      "minhashLsh sig8" -> (() => Dedup.minhashLsh(spark, docs, "doc_id",
        "text", 0.5, verify = "sig8", pairing = "star")),
      "dedupCorpus sig8" -> (() => Dedup.dedupCorpus(spark, docs, "doc_id", "text")),
      "dedupCorpus exact" -> (() => Dedup.dedupCorpus(spark, docs, "doc_id",
        "text", verify = "exact", pairing = "all")),
      "pageRank" -> (() => Graph.pageRank(spark,
        Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst"))),
      "connectedComponents distributed" -> (() => Dedup.connectedComponents(spark,
        Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b"), localThreshold = 0)),
      "stripBoilerplateNested" -> (() =>
        SpanOps.stripBoilerplateNested(spark, spans, 5)),
      "stripBoilerplateNested semi-join" -> (() =>
        SpanOps.stripBoilerplateNested(spark, spans, 5, maxExprSet = 0)),
      "stripDupSubstrings" -> (() =>
        TextOps.stripDupSubstrings(spark, docs, "doc_id", "text", n = 5)),
      "bm25TopK" -> (() =>
        TextOps.bm25TopK(spark, docs, "doc_id", "text", Seq("body", "tok1"), 5)),
      "lmScore" -> (() => TextOps.lmScore(spark, docs, "doc_id", "text")),
      "bpeMerges" -> (() => TextOps.bpeMerges(spark, docs, "text", 4)),
      "bpeMerges distributed" -> (() => TextOps.bpeMerges(spark, docs, "text", 5,
        checkpointEvery = 2, localVocabThreshold = 0)),
      "packSequences" -> (() =>
        TextOps.packSequences(spark, docs, "doc_id", "text", 16)),
      "selectByBudget" -> (() => TextOps.selectByBudget(spark, docs, "doc_id",
        "text", length(col("text")).cast("long"), 200L)),
      "dsirWeights" -> (() => TextOps.dsirWeights(spark, docs, "doc_id",
        "text", col("doc_id") % 10 === 0)),
      "curateCorpus" -> (() => curate(Seq((99L, "zz yy xx")).toDF("id", "text"))))
    ops.foreach { case (name, op) =>
      val before = pins
      val out = op()
      assert(out.collect().nonEmpty, name)
      out.unpersist(false)
      assert(pins == before, s"$name left pins behind")
    }
  }

  test("pageRank's distributed path releases its edge and node pins") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)).toDF("src", "dst")
    val before = pins
    val out = Graph.pageRank(spark, edges, iterations = 7, maxLocalEdges = 0L)
    // three rank cuts (iterations 3, 6 and 7); only the last is left
    assert(pins.size == before.size + 1)
    assert(out.collect().toSet ==
      Graph.pageRank(spark, edges, iterations = 7).collect().toSet)
    out.unpersist(false)
    assert(pins == before)
  }

  test("curateCorpus failing at its decontamination pin leaves no pins behind") {
    val before = pins
    val bench = Seq((99L, "zz yy xx")).toDF("id", "text").as[(Long, String)]
      .map { r => if (r._1 >= 0L) throw new IllegalStateException("injected"); r }
      .toDF("id", "text")
    val err = intercept[Exception](curate(bench))
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("injected")), err)
    assert(pins == before)
  }

  test("packSequences failing after its range pin leaves no pins behind") {
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, MapPartitions, RepartitionByExpression}
    // a planner hook that fails the first typed pass planned after the
    // range repartition, i.e. the per-partition totals after the range pin
    @volatile var rangeSeen = false
    object FailAfterRange extends org.apache.spark.sql.execution.SparkStrategy {
      def apply(plan: LogicalPlan): Seq[org.apache.spark.sql.execution.SparkPlan] = {
        plan match {
          case r: RepartitionByExpression if r.partitionExpressions.nonEmpty &&
              r.partitionExpressions.forall(
                _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.SortOrder]) =>
            rangeSeen = true
          case _: MapPartitions if rangeSeen =>
            throw new IllegalStateException("injected")
          case _ =>
        }
        Nil
      }
    }
    val experimental =
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].experimental
    val before = pins
    experimental.extraStrategies = Seq(FailAfterRange)
    val err =
      try intercept[Exception](TextOps.packSequences(spark, docs, "doc_id", "text", 16))
      finally experimental.extraStrategies = Nil
    assert(rangeSeen)
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("injected")), err)
    assert(pins == before)
  }

  test("connectedComponents and pageRank failing mid-loop leave no pins behind") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
    val experimental =
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].experimental
    // a planner hook that fails the k-th aggregate planned once the loop
    // holds `minHeld` pins (CC: its edges and labels; pageRank: its edges,
    // nodes and a rank cut)
    def failMidLoop(k: Int, minHeld: Int)(run: => DataFrame): Unit = {
      val before = pins
      var seen = 0
      var heldAtFailure = 0
      object FailMidLoop extends org.apache.spark.sql.execution.SparkStrategy {
        def apply(plan: LogicalPlan): Seq[org.apache.spark.sql.execution.SparkPlan] = {
          if (plan.isInstanceOf[Aggregate]) {
            seen += 1
            heldAtFailure = (pins -- before).size
            if (seen >= k && heldAtFailure >= minHeld) throw new IllegalStateException("injected")
          }
          Nil
        }
      }
      experimental.extraStrategies = Seq(FailMidLoop)
      val err =
        try intercept[Exception](run.collect())
        finally experimental.extraStrategies = Nil
      assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
        .exists(e => String.valueOf(e.getMessage).contains("injected")), err)
      assert(heldAtFailure >= minHeld)
      assert(pins == before)
    }
    val chain = (1L to 8L).sliding(2).map(s => (s.head, s.last)).toSeq
    failMidLoop(6, 2)(Dedup.connectedComponents(spark, chain.toDF("id_a", "id_b"),
      localThreshold = 0))
    failMidLoop(6, 3)(Graph.pageRank(spark, chain.toDF("src", "dst"), iterations = 7,
      maxLocalEdges = 0L))
  }
}
