package graft.obs

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import scala.collection.mutable

/** What the Spark jobs of one recorded call did. `driverS` is the part of
  * the wall during which none of the call's tasks ran; `jobMs` holds the
  * durations of the call's jobs in submission order; `cachedDelta` is the
  * change in the number of persisted RDDs across the call. */
final case class Record(tag: String, wallS: Double, driverS: Double, jobs: Int,
                        stages: Long, tasks: Int, taskMsP50: Long, taskMsMax: Long,
                        gcMs: Long, shuffleWriteBytes: Long, spillBytes: Long,
                        planChars: Long, jobMs: Seq[Long], cachedDelta: Int) {
  def json: String =
    f"""{"tag":"${tag.replace("\\", "\\\\").replace("\"", "\\\"")}","wall_s":$wallS%.3f,""" +
      f""""driver_s":$driverS%.3f,"jobs":$jobs,"stages":$stages,"tasks":$tasks,""" +
      s""""task_ms_p50":$taskMsP50,"task_ms_max":$taskMsMax,"gc_ms":$gcMs,""" +
      s""""shuffle_write_bytes":$shuffleWriteBytes,"spill_bytes":$spillBytes,""" +
      s""""plan_chars":$planChars,"job_ms":[${jobMs.mkString(",")}],"cached_delta":$cachedDelta}"""
}

/** The run recorder: a `SparkListener` that attributes Spark work to
  * tagged calls. `record(tag)(body)` runs `body` under the job group
  * `graft|<tag>`, restores the enclosing group afterwards (also when
  * `body` throws), and writes the call's [[Record]] as one JSON line to
  * `emit`. A job counts toward the innermost call open when it starts;
  * jobs outside any call are ignored. Register it with
  * `sc.addSparkListener` and remove it when done; calls run on one driver
  * thread. */
final class Recorder(sc: SparkContext, emit: String => Unit = println(_)) extends SparkListener {
  import Recorder._

  /** Every record written so far, oldest first. */
  val records = mutable.ArrayBuffer.empty[Record]

  private final class Agg(val tag: String) {
    val jobStart = mutable.LinkedHashMap.empty[Int, Long]
    val jobEnd = mutable.HashMap.empty[Int, Long]
    val stageIds = mutable.ArrayBuffer.empty[Int]
    val taskMs = mutable.ArrayBuffer.empty[Long]
    val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
    var stages, gcMs, shuffleWrite, spill, planChars = 0L
  }

  // the open calls, innermost first, and the call each of their jobs and
  // stages belongs to
  private var open = List.empty[Agg]
  private val jobAgg = mutable.HashMap.empty[Int, Agg]
  private val stageAgg = mutable.HashMap.empty[Int, Agg]

  def record[A](tag: String)(body: => A): A = {
    drain()
    val agg = new Agg(tag)
    synchronized { open = agg :: open }
    val saved = JobKeys.map(k => k -> sc.getLocalProperty(k))
    val cached0 = sc.getPersistentRDDs.size
    val (t0, n0) = (System.currentTimeMillis(), System.nanoTime())
    sc.setJobGroup(Prefix + tag, tag)
    try body
    finally {
      val (t1, wallS) = (System.currentTimeMillis(), (System.nanoTime() - n0) / 1e9)
      saved.foreach { case (k, v) => sc.setLocalProperty(k, v) }
      drain()
      val r = synchronized {
        open = open.filterNot(_ eq agg)
        jobAgg --= agg.jobStart.keys
        stageAgg --= agg.stageIds
        val ms = agg.taskMs.sorted
        Record(tag, wallS, math.max(0.0, wallS - unionMs(agg.intervals.toSeq, t0, t1) / 1000.0),
          agg.jobStart.size, agg.stages, ms.size, if (ms.isEmpty) 0L else ms((ms.size - 1) / 2),
          ms.lastOption.getOrElse(0L), agg.gcMs, agg.shuffleWrite, agg.spill, agg.planChars,
          agg.jobStart.toSeq.map { case (j, s) => agg.jobEnd.get(j).fold(-1L)(_ - s) },
          sc.getPersistentRDDs.size - cached0)
      }
      records += r
      emit(r.json)
    }
  }

  /** Waits until the listener has seen every event posted so far. */
  def drain(): Unit = org.apache.spark.GraftBus.drain(sc)

  /** The innermost open call tagged by job group `group`. */
  private def openAgg(group: String): Option[Agg] =
    Option(group).filter(_.startsWith(Prefix)).flatMap(g => open.find(_.tag == g.stripPrefix(Prefix)))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    openAgg(Option(e.properties).map(_.getProperty(GroupKey)).orNull).foreach { a =>
      a.jobStart(e.jobId) = e.time
      jobAgg(e.jobId) = a
      e.stageIds.filterNot(stageAgg.contains).foreach { id => stageAgg(id) = a; a.stageIds += id }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    synchronized(jobAgg.get(e.jobId).foreach(_.jobEnd(e.jobId) = e.time))

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized(stageAgg.get(e.stageInfo.stageId).foreach(_.stages += 1))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageAgg.get(e.stageId).foreach { a =>
      a.taskMs += e.taskInfo.duration
      a.intervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
      Option(e.taskMetrics).foreach { m =>
        a.gcMs += m.jvmGCTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      synchronized(openAgg(s.jobGroupId.orNull).foreach(_.planChars += s.physicalPlanDescription.length))
    case _ =>
  }
}

object Recorder {
  private val Prefix = "graft|"
  private val GroupKey = "spark.jobGroup.id"
  /** The local properties `setJobGroup` sets, restored after a call. */
  private val JobKeys = Seq(GroupKey, "spark.job.description", "spark.job.interruptOnCancel")

  /** Length of the union of `ivs` clipped to [a, b]. */
  def unionMs(ivs: Seq[(Long, Long)], a: Long, b: Long): Long = {
    var (total, curS, curE) = (0L, 0L, Long.MinValue)
    ivs.map { case (s, e) => (math.max(s, a), math.min(e, b)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
      .foreach { case (s, e) =>
        if (s > curE) { total += math.max(0L, curE - curS); curS = s; curE = e }
        else if (e > curE) curE = e
      }
    total + math.max(0L, curE - curS)
  }
}
