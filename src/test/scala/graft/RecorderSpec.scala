package graft

import graft.obs.Recorder
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The run recorder attributes each Spark job to the innermost recorded
  * call open when the job starts, and writes one JSON line per call. */
class RecorderSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def sc = spark.sparkContext

  private def job(): Long = sc.parallelize(1 to 100, 2).map(_ * 2).count()

  private def recording(f: (Recorder, scala.collection.mutable.Buffer[String]) => Unit): Unit = {
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    val rec = new Recorder(sc, lines += _)
    sc.addSparkListener(rec)
    try f(rec, lines) finally sc.removeSparkListener(rec)
  }

  test("a tagged call that runs N jobs records N jobs, their stages, tasks and durations") {
    recording { (rec, lines) =>
      rec.record("three")((1 to 3).foreach(_ => job()))
      val r = rec.records.last
      assert(r.tag == "three")
      assert(r.jobs == 3 && r.stages == 3 && r.tasks == 6, r)
      assert(r.jobMs.length == 3 && r.jobMs.forall(_ >= 0), r.jobMs)
      assert(r.taskMsMax >= r.taskMsP50)
      assert(lines == Seq(r.json))
      assert(r.json.startsWith("""{"tag":"three",""") && r.json.contains(""""jobs":3,"""), r.json)
    }
  }

  test("nested tags attribute jobs to the innermost tag") {
    recording { (rec, _) =>
      rec.record("outer") {
        job()
        rec.record("inner") { job(); job() }
        job()
      }
      val byTag = rec.records.map(r => r.tag -> r).toMap
      assert(rec.records.map(_.tag) == Seq("inner", "outer"))
      assert(byTag("inner").jobs == 2)
      assert(byTag("outer").jobs == 2)
    }
  }

  test("jobs outside a recorded call, or under another job group, are not counted") {
    recording { (rec, _) =>
      job()
      rec.record("quiet") {
        sc.setJobGroup("someone-else", "not a recorded call")
        job()
      }
      job()
      val r = rec.records.last
      assert(r.jobs == 0 && r.tasks == 0 && r.jobMs.isEmpty, r)
    }
  }

  test("driver_s lies in [0, wall]") {
    recording { (rec, _) =>
      rec.record("sleepy") { Thread.sleep(200); job() }
      val r = rec.records.last
      assert(r.driverS >= 0.0 && r.driverS <= r.wallS, r)
      // the sleep ran no task
      assert(r.driverS >= 0.15, r)
    }
  }

  test("the enclosing job group is restored after a body that throws") {
    recording { (rec, _) =>
      sc.setJobGroup("enclosing", "the caller's group")
      try {
        val err = intercept[IllegalStateException] {
          rec.record("boom") { job(); throw new IllegalStateException("injected") }
        }
        assert(err.getMessage == "injected")
        assert(sc.getLocalProperty("spark.jobGroup.id") == "enclosing")
        assert(sc.getLocalProperty("spark.job.description") == "the caller's group")
        assert(rec.records.last.tag == "boom" && rec.records.last.jobs == 1)
      } finally sc.clearJobGroup()
    }
  }

  test("a leaked persist shows as +1 in the cached-RDD change") {
    recording { (rec, _) =>
      val leaked = rec.record("leak") {
        val r = sc.parallelize(1 to 10, 2).persist()
        r.count()
        r
      }
      try assert(rec.records.last.cachedDelta == 1)
      finally leaked.unpersist(false)
      rec.record("clean") {
        val r = sc.parallelize(1 to 10, 2).persist()
        r.count()
        r.unpersist(false)
      }
      assert(rec.records.last.cachedDelta == 0)
    }
  }
}
