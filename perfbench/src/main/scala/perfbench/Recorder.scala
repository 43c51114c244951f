package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import scala.collection.mutable

/** One timed call into a layer's public function. */
final case class SpanRec(id: Int, parent: Int, pass: Int, layer: String,
                         call: String, startMs: Long, endMs: Long, ns: Long)

/** Spark counters of the jobs one (pass, layer, call) group ran. */
final class GroupAgg {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  val taskMs = mutable.ArrayBuffer.empty[Long]
  val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
  var gcMs = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var planChars = 0L
}

/** Counters and spans of one pass, restricted to some layers. */
final case class Roll(jobs: Long, stages: Long, tasks: Long, taskMs: Vector[Long],
                      gcMs: Long, shuffleWrite: Long, spill: Long,
                      planChars: Long, wallS: Double, driverS: Double) {
  def taskS: Double = taskMs.sum / 1000.0
}

/** The traced run's recorder. While `tracing` is on, `span` times each
  * call, keeps it in memory, and tags the call's Spark jobs with a job
  * group `pb|pass|layer|call`; the listener half attributes job, stage and
  * task counters to that group. While it is off, `span` only runs the
  * call and the listener ignores the untagged jobs, which is what the
  * traced-versus-untraced overhead comparison relies on. */
final class Recorder(sc: SparkContext) extends SparkListener {
  var tracing = false
  var pass = 0
  val spans = mutable.ArrayBuffer.empty[SpanRec]
  private var stack: List[(Int, String)] = Nil
  private var nextId = 0
  private val groups = mutable.HashMap.empty[String, GroupAgg]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val Prefix = "pb|"

  def span[A](layer: String, call: String)(f: => A): A =
    if (!tracing) f
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      val group = s"$pass|$layer|$call"
      stack = (id, group) :: stack
      sc.setJobGroup(Prefix + group, s"$layer.$call")
      val s0 = System.currentTimeMillis()
      val n0 = System.nanoTime()
      try f
      finally {
        val ns = System.nanoTime() - n0
        spans += SpanRec(id, parent, pass, layer, call, s0, System.currentTimeMillis(), ns)
        stack = stack.tail
        stack.headOption match {
          case Some((_, g)) => sc.setJobGroup(Prefix + g, g)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  private def agg(g: String): GroupAgg = groups.getOrElseUpdate(g, new GroupAgg)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id"))
    g.filter(s => s != null && s.startsWith(Prefix)).foreach { s =>
      val key = s.stripPrefix(Prefix)
      agg(key).jobs += 1
      e.stageIds.foreach(id => stageGroup.getOrElseUpdate(id, key))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageGroup.get(e.stageInfo.stageId).foreach(agg(_).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { key =>
      val a = agg(key)
      val i = e.taskInfo
      a.tasks += 1
      a.taskMs += i.duration
      a.intervals += ((i.launchTime, i.finishTime))
      val m = e.taskMetrics
      if (m != null) {
        a.gcMs += m.jvmGCTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      s.jobGroupId.filter(_.startsWith(Prefix)).foreach { g =>
        synchronized { agg(g.stripPrefix(Prefix)).planChars += s.physicalPlanDescription.length }
      }
    case _ =>
  }

  // ---- per-pass roll-ups (call after drain) ----------------------------

  /** Roll up pass `p` over the (layer, call) groups `sel` accepts. The
    * wall is the summed duration of the outermost selected spans, or of
    * `windows` (epoch ms) when given; driver time is the part of that wall
    * during which none of the selected groups' tasks ran. */
  def roll(p: Int, sel: (String, String) => Boolean,
           windows: Option[Seq[(Long, Long)]] = None): Roll = synchronized {
    def picked(key: String): Boolean = key.split('|') match {
      case Array(ps, l, c) => ps.toInt == p && sel(l, c)
      case _ => false
    }
    val mine = groups.iterator.collect { case (k, a) if picked(k) => a }.toVector
    val ivs = mine.flatMap(_.intervals)
    val byId = spans.iterator.map(s => s.id -> s).toMap
    val outer = spans.filter { s =>
      s.pass == p && sel(s.layer, s.call) &&
        !byId.get(s.parent).exists(q => sel(q.layer, q.call))
    }
    val ws = windows.getOrElse(outer.map(s => (s.startMs, s.endMs)).toSeq)
    val wallS = windows.map(_.map { case (a, b) => (b - a) / 1000.0 }.sum)
      .getOrElse(outer.map(_.ns).sum / 1e9)
    val busyMs = ws.map { case (a, b) => Recorder.unionMs(ivs, a, b) }.sum
    Roll(mine.map(_.jobs).sum, mine.map(_.stages).sum, mine.map(_.tasks).sum,
      mine.flatMap(_.taskMs), mine.map(_.gcMs).sum, mine.map(_.shuffleWrite).sum,
      mine.map(_.spill).sum, mine.map(_.planChars).sum, wallS,
      math.max(0.0, wallS - busyMs / 1000.0))
  }

  /** Summed duration of the outermost spans of pass `p`. */
  def attributedS(p: Int): Double =
    spans.iterator.filter(s => s.pass == p && s.parent < 0).map(_.ns).sum / 1e9

  /** Spans as JSON lines, written once at the end of the run. */
  def spansJsonl: String = spans.sortBy(_.id).map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"pass":${s.pass},"layer":"${s.layer}",""" +
      s""""call":"${s.call}","start_ms":${s.startMs},"end_ms":${s.endMs},"dur_ns":${s.ns}}"""
  }.mkString("", "\n", "\n")
}

object Recorder {
  /** Length of the union of `ivs` clipped to [a, b]. */
  def unionMs(ivs: Seq[(Long, Long)], a: Long, b: Long): Long = {
    val clipped = ivs.iterator.map { case (s, e) => (math.max(s, a), math.min(e, b)) }
      .filter { case (s, e) => e > s }.toVector.sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
