package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path}

/** The probe main's modes, driven through their functions on the shared
  * test session over a small synthesized `documents.parquet`. */
class ProbeSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val words = ("the of and to in is it that for on with as was at by this from " +
    "river stone field water light garden market winter morning village window paper " +
    "letter harbour bridge forest mountain valley station kitchen orchard meadow").split(" ")

  /** A scale-factor directory holding only `documents.parquet`: 300
    * documents of 60 to 119 words drawn from `words` per document seed. */
  private def withSfDir(f: String => Unit): Unit = {
    val dir = Files.createTempDirectory("probe-sf")
    import spark.implicits._
    (0L until 300L).map { i =>
      val rng = new scala.util.Random(i)
      (i, Seq.fill(60 + (i % 60).toInt)(words(rng.nextInt(words.length))).mkString(" "))
    }.toDF("doc_id", "text").write.parquet(dir.resolve("documents.parquet").toString)
    try f(dir.toString) finally deleteRec(dir)
  }

  private def deleteRec(p: Path): Unit = {
    if (Files.isDirectory(p)) Files.list(p).toArray.foreach(c => deleteRec(c.asInstanceOf[Path]))
    Files.delete(p)
  }

  test("explain writes <query>_<suffix>.txt holding the query's formatted plan") {
    withSfDir { sf =>
      val out = Files.createTempDirectory("probe-explain")
      val built = scala.collection.mutable.Map.empty[String, DataFrame]
      val names = Seq("t_redact", "t_token_windows")
      try {
        Probe.explain(spark, out.toString, "t", names, { name =>
          val df = SparkEntry.queries(name)(spark, sf)
          built(name) = df
          df
        })
        for (name <- names) {
          val txt = new String(Files.readAllBytes(out.resolve(s"${name}_t.txt")), "UTF-8")
          assert(txt == built(name).queryExecution.explainString(ExplainMode.fromString("formatted")))
          assert(txt.contains("Scan parquet"), txt.take(400))
        }
      } finally deleteRec(out)
    }
  }

  test("ops records one call per operator, each leaving no pin behind") {
    withSfDir { sf =>
      val sc = spark.sparkContext
      val rec = new graft.obs.Recorder(sc, _ => ())
      val before = sc.getPersistentRDDs.keySet
      sc.addSparkListener(rec)
      try Probe.ops(spark, rec, sf, 2)
      finally sc.removeSparkListener(rec)
      // job budgets: each operator's job count on this corpus, the same in
      // three runs (job counts do not drift between runs as wall time does)
      val budget = Seq("dedupCorpus" -> 14, "stripBoilerplateNested" -> 5,
        "curateCorpus" -> 21, "packSequences" -> 7)
      assert(rec.records.map(_.tag) == budget.map(_._1))
      rec.records.foreach { r =>
        assert(r.jobs > 0 && r.tasks > 0, r)
        assert(r.jobs <= budget.toMap.apply(r.tag), r)
        assert(r.cachedDelta == 0, r)
      }
      assert(sc.getPersistentRDDs.keySet == before)
    }
  }

  test("ingest records one warm Pipeline.run that keeps the pending cache") {
    val sc = spark.sparkContext
    val rec = new graft.obs.Recorder(sc, _ => ())
    val before = sc.getPersistentRDDs.keySet
    sc.addSparkListener(rec)
    try Probe.ingest(spark, rec, 200)
    finally sc.removeSparkListener(rec)
    assert(rec.records.map(_.tag) == Seq("Pipeline.run"))
    assert(rec.records.head.jobs > 0, rec.records.head)
    assert(rec.records.head.cachedDelta == 0, rec.records.head)
    assert(sc.getPersistentRDDs.keySet == before)
  }
}
