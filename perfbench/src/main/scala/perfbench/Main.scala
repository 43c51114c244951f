package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Old-generation usage after every GC, stamped with the GC's end time
  * (JVM uptime, ms). Notifications arrive on a JMX thread. */
object OldGen extends NotificationListener {
  private val samples = mutable.ArrayBuffer.empty[(Long, Long)]

  def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(this, null, null)
    case _ =>
  }

  override def handleNotification(n: Notification, hb: AnyRef): Unit =
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val old = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
        case (pool, u) if pool.contains("Old Gen") || pool.contains("Tenured") => u.getUsed
      }
      if (old.nonEmpty) synchronized { samples += ((info.getGcInfo.getEndTime, old.max)) }
    }

  /** Largest old-generation usage after a GC that ended in [a, b]. */
  def peak(a: Long, b: Long): Long = synchronized {
    samples.iterator.collect { case (t, u) if t >= a && t <= b => u }.maxOption.getOrElse(0L)
  }
}

/** One measured pass. Times are the pass's timed parts only: the program
  * calls and the release of what they returned, not the output check. */
final case class Sample(id: Int, traced: Boolean, wallS: Double, cpuS: Double,
                        windows: Seq[(Long, Long)], upWindow: (Long, Long),
                        out: PassOut, leakedPins: Int) {
  var heapBytes = 0L
}

object Main {
  final case class Opts(workload: String = "", seed: Long = 1L, seconds: Double = 10.0,
                        trace: Boolean = false, smoke: Boolean = false,
                        work: String = "", traceDir: String = "", cores: Int = 3)

  /** Measured passes at least, whatever `--seconds` says; smoke runs make
    * one (two when traced). The first pass after the warm-up is still a
    * little slow while the JIT settles, which the median absorbs. */
  val MinPasses = 3

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "wall_s" -> "s", "docs_per_s" -> "1/s", "cpu_s" -> "s",
    "heap_peak_mb" -> "MB", "success_share" -> "ratio")

  /** Ingestors that take at least 2% of extract time on the ingest mix. */
  val Ingestors: Seq[(String, String)] = Seq(
    "RFC822Ingestor" -> "RFC822", "HTMLIngestor" -> "HTML", "CSVIngestor" -> "CSV",
    "PDFIngestor" -> "PDF", "OfficeOpenXMLIngestor" -> "OOXML",
    "ExcelXMLIngestor" -> "ExcelXML", "BZ2Ingestor" -> "BZ2", "XMLIngestor" -> "XML")

  private val opsFields = Seq("wall_s" -> "s", "jobs" -> "count", "stages" -> "count",
    "shuffle_write_bytes" -> "B", "spill_bytes" -> "B", "driver_s" -> "s",
    "rows_out" -> "count", "plan_chars" -> "count")

  val PerLayer: Seq[(String, String)] =
    Seq("classify.calls" -> "count", "classify.busy_s" -> "s", "classify.us_per_doc" -> "us",
      "extract.calls" -> "count", "extract.busy_s" -> "s", "extract.us_per_doc" -> "us",
      "extract.failed" -> "count") ++
    Ingestors.map { case (_, short) => s"extract.busy_s.$short" -> "s" } ++
    Seq("serial_docs_per_s" -> "1/s", "failed_share" -> "ratio",
      "pipeline.wall_s" -> "s", "pipeline.depth_levels" -> "count",
      "pipeline.jobs" -> "count", "pipeline.tasks" -> "count", "pipeline.driver_s" -> "s",
      "pipeline.core_util" -> "ratio", "pipeline.work_ratio" -> "ratio",
      "analysis.wall_s" -> "s", "analysis.jobs" -> "count",
      "analysis.shuffle_write_bytes" -> "B", "analysis.tags_out" -> "count",
      "sources.scan_s" -> "s", "sources.partitions" -> "count", "sources.rows" -> "count",
      "sources.missing_inputs" -> "count",
      "table.commits" -> "count", "table.data_files" -> "count", "table.bytes" -> "B",
      "table.read_s" -> "s",
      "durable.first_commit_s" -> "s", "durable.resume_s" -> "s",
      "durable.stored_bytes_per_input_byte" -> "ratio") ++
    Seq("dedup", "strip", "curate", "pack").flatMap(op =>
      opsFields.map { case (f, u) => s"ops.$op.$f" -> u }) ++
    Seq("ops.leaked_pins" -> "count",
      "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
      "spark.task_ms_p50" -> "ms", "spark.task_ms_max" -> "ms", "spark.gc_s" -> "s",
      "spark.shuffle_write_bytes" -> "B", "spark.spill_bytes" -> "B",
      "spark.driver_s" -> "s", "spark.core_util" -> "ratio",
      "trace.overhead_share" -> "ratio", "trace.attributed_share" -> "ratio",
      "trace.unattributed_s" -> "s")

  def parse(args: Array[String]): Opts = {
    def go(rest: List[String], o: Opts): Opts = rest match {
      case Nil => o
      case "--workload" :: v :: t => go(t, o.copy(workload = v))
      case "--seed" :: v :: t => go(t, o.copy(seed = v.toLong))
      case "--seconds" :: v :: t => go(t, o.copy(seconds = v.toDouble))
      case "--trace" :: v :: t => go(t, o.copy(trace = v == "1"))
      case "--smoke" :: t => go(t, o.copy(smoke = true))
      case "--work" :: v :: t => go(t, o.copy(work = v))
      case "--trace-dir" :: v :: t => go(t, o.copy(traceDir = v))
      case "--cores" :: v :: t => go(t, o.copy(cores = v.toInt))
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }
    val o = go(args.toList, Opts())
    require(Workloads.Names.contains(o.workload), s"--workload must be one of ${Workloads.Names.mkString(", ")}")
    require(o.work.nonEmpty, "--work is required")
    o
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  private def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  private val cpuBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuNs(): Long = cpuBean.getProcessCpuTime
  private def uptime(): Long = ManagementFactory.getRuntimeMXBean.getUptime

  def main(args: Array[String]): Unit = {
    val code =
      try run(parse(args))
      catch {
        case e: Throwable =>
          e.printStackTrace()
          2
      }
    sys.exit(code)
  }

  def run(o: Opts): Int = {
    val work = new File(o.work)
    work.mkdirs()
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val rec = new Recorder(sc)
    if (o.trace) sc.addSparkListener(rec)
    OldGen.install()
    val wl = Workloads(o.workload, spark, o.seed, work, o.smoke)
    var attempted = 0
    var failed = 0
    val samples = mutable.ArrayBuffer.empty[Sample]
    try {
      // set-up: generate and materialize the inputs three times, keep the median
      val setups = (1 to 3).map { i =>
        if (i > 1) wl.release()
        val s0 = System.nanoTime()
        wl.prepare()
        (System.nanoTime() - s0) / 1e9
      }
      val basePins = sc.getPersistentRDDs.keySet.toSet

      def onePass(id: Int, traced: Boolean, beforeCheck: () => Unit = () => ()): Sample = {
        rec.pass = id
        rec.tracing = traced
        val u0 = uptime()
        val (e0, c0, n0) = (System.currentTimeMillis(), cpuNs(), System.nanoTime())
        val run = wl.pass(rec)
        val (e1, c1, n1) = (System.currentTimeMillis(), cpuNs(), System.nanoTime())
        rec.tracing = false
        beforeCheck()
        val out =
          try run.check()
          catch { case e: Throwable => run.release(); throw e }
        rec.tracing = traced
        val (e2, c2, n2) = (System.currentTimeMillis(), cpuNs(), System.nanoTime())
        run.release()
        val (e3, c3, n3) = (System.currentTimeMillis(), cpuNs(), System.nanoTime())
        rec.tracing = false
        // pins the program kept after its outputs were released: count, then
        // sweep, and collect so the next pass starts from the same heap
        val leaked = sc.getPersistentRDDs.filter { case (k, _) => !basePins.contains(k) }
        leaked.values.foreach(_.unpersist(false))
        System.gc()
        Sample(id, traced, (n1 - n0 + n3 - n2) / 1e9, (c1 - c0 + c3 - c2) / 1e9,
          Seq((e0, e1), (e2, e3)), (u0, uptime()), out, leaked.size)
      }

      // warm-up pass; the serial reference walk runs after it, so the walk
      // is timed on warm code, and the warm-up output is then checked
      attempted += 1
      val warm = onePass(0, traced = false, beforeCheck = () => {
        val w0 = System.nanoTime()
        wl.reference()
        log(f"reference built in ${(System.nanoTime() - w0) / 1e9}%.2f s")
      })
      val setupS = sessionS + median(setups) + warm.wallS
      log(f"setup: session $sessionS%.2f s, inputs ${setups.map(s => f"$s%.2f").mkString("/")} s, " +
        f"warm-up ${warm.wallS}%.2f s")

      // when traced, passes alternate plain and traced: one more pass so
      // that both kinds get a median
      val least = if (o.smoke) 1 else MinPasses
      val minPasses = if (o.trace) least + 1 else least
      val deadline = System.nanoTime() + (o.seconds * 1e9).toLong
      var id = 1
      while (samples.size < minPasses || System.nanoTime() < deadline) {
        val traced = o.trace && id % 2 == 0
        attempted += 1
        val s = onePass(id, traced)
        log(f"pass $id${if (traced) " (traced)" else ""}: ${s.wallS}%.3f s wall, ${s.cpuS}%.2f s cpu")
        samples += s
        id += 1
      }
      Thread.sleep(200) // late GC notifications
      samples.foreach(s => s.heapBytes = OldGen.peak(s.upWindow._1, s.upWindow._2))

      val metrics =
        if (!o.trace) endToEnd(setupS, samples.toSeq)
        else {
          rec.drain()
          if (o.traceDir.nonEmpty) {
            val dir = new File(o.traceDir)
            dir.mkdirs()
            java.nio.file.Files.write(new File(dir, s"${o.workload}-seed${o.seed}.spans.jsonl").toPath,
              rec.spansJsonl.getBytes("UTF-8"))
          }
          perLayer(rec, wl, samples.toSeq, o.cores)
        }
      println(json(correct = true, attempted, failed, metrics,
        if (o.trace) PerLayer else EndToEnd))
      0
    } catch {
      case e: CheckFailed =>
        log(s"OUTPUT CHECK FAILED: ${e.getMessage}")
        failed += 1
        println(json(correct = false, math.max(attempted, 1), failed, Map.empty, Seq.empty))
        1
    } finally {
      try wl.release() catch { case _: Exception => () }
      spark.stop()
    }
  }

  def endToEnd(setupS: Double, ss: Seq[Sample]): Map[String, Double] = Map(
    "setup_s" -> setupS,
    "wall_s" -> median(ss.map(_.wallS)),
    "docs_per_s" -> median(ss.map(s => s.out.docs / s.wallS)),
    "cpu_s" -> median(ss.map(_.cpuS)),
    "heap_peak_mb" -> median(ss.map(_.heapBytes / 1048576.0)),
    "success_share" -> median(ss.map(_.out.successShare)))

  def perLayer(rec: Recorder, wl: Workload, ss: Seq[Sample], cores: Int): Map[String, Double] = {
    val traced = ss.filter(_.traced)
    val plain = ss.filterNot(_.traced)
    def util(r: Roll): Double = if (r.wallS > 0) r.taskS / (r.wallS * cores) else 0.0
    val engineS = wl.walk.map(w => (w.classifyNs + w.extractNs) / 1e9).getOrElse(0.0)
    val perPass = traced.map { s =>
      val m = mutable.Map.empty[String, Double]
      m ++= s.out.facts
      val pl = rec.roll(s.id, (l, _) => l == "pipeline")
      val plRun = rec.roll(s.id, (l, c) => l == "pipeline" && c.startsWith("run"))
      m ++= Seq("pipeline.wall_s" -> pl.wallS, "pipeline.jobs" -> pl.jobs.toDouble,
        "pipeline.tasks" -> pl.tasks.toDouble, "pipeline.driver_s" -> pl.driverS,
        "pipeline.core_util" -> util(pl),
        "pipeline.work_ratio" -> (if (engineS > 0) plRun.taskS / engineS else 0.0))
      val an = rec.roll(s.id, (l, _) => l == "analysis")
      m ++= Seq("analysis.wall_s" -> an.wallS, "analysis.jobs" -> an.jobs.toDouble,
        "analysis.shuffle_write_bytes" -> an.shuffleWrite.toDouble)
      m("sources.scan_s") = rec.roll(s.id, (l, c) => l == "sources" && c == "fromDirectory").wallS
      m("table.read_s") = rec.roll(s.id, (l, _) => l == "table").wallS
      Seq("dedup", "strip", "curate", "pack").foreach { op =>
        val r = rec.roll(s.id, (l, _) => l == s"ops.$op")
        m ++= Seq(s"ops.$op.wall_s" -> r.wallS, s"ops.$op.jobs" -> r.jobs.toDouble,
          s"ops.$op.stages" -> r.stages.toDouble,
          s"ops.$op.shuffle_write_bytes" -> r.shuffleWrite.toDouble,
          s"ops.$op.spill_bytes" -> r.spill.toDouble, s"ops.$op.driver_s" -> r.driverS,
          s"ops.$op.plan_chars" -> r.planChars.toDouble)
      }
      val all = rec.roll(s.id, (_, _) => true, Some(s.windows))
      val tms = all.taskMs.map(_.toDouble)
      m ++= Seq("spark.jobs" -> all.jobs.toDouble, "spark.stages" -> all.stages.toDouble,
        "spark.tasks" -> all.tasks.toDouble, "spark.task_ms_p50" -> median(tms),
        "spark.task_ms_max" -> tms.maxOption.getOrElse(0.0),
        "spark.gc_s" -> all.gcMs / 1000.0,
        "spark.shuffle_write_bytes" -> all.shuffleWrite.toDouble,
        "spark.spill_bytes" -> all.spill.toDouble, "spark.driver_s" -> all.driverS,
        "spark.core_util" -> util(all))
      val attributed = rec.attributedS(s.id)
      m ++= Seq("ops.leaked_pins" -> s.leakedPins.toDouble,
        "failed_share" -> (1.0 - s.out.successShare),
        "trace.attributed_share" -> attributed / s.wallS,
        "trace.unattributed_s" -> math.max(0.0, s.wallS - attributed))
      m.toMap
    }
    val keys = perPass.flatMap(_.keySet).toSet
    val med = keys.iterator.map(k => k -> median(perPass.map(_.getOrElse(k, 0.0)))).toMap
    val walkM = wl.walk.toSeq.flatMap { w =>
      val docs = math.max(w.docs, 1L).toDouble
      Seq("classify.calls" -> w.docs.toDouble, "classify.busy_s" -> w.classifyNs / 1e9,
        "classify.us_per_doc" -> w.classifyNs / 1e3 / docs,
        "extract.calls" -> w.docs.toDouble, "extract.busy_s" -> w.extractNs / 1e9,
        "extract.us_per_doc" -> w.extractNs / 1e3 / docs, "extract.failed" -> w.failed.toDouble,
        "serial_docs_per_s" -> w.docs / (w.wallNs / 1e9)) ++
        Ingestors.map { case (name, short) => s"extract.busy_s.$short" -> w.extractNsBy(name) / 1e9 }
    }
    val overhead = median(traced.map(_.wallS)) / median(plain.map(_.wallS)) - 1.0
    med ++ walkM + ("trace.overhead_share" -> overhead)
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0.0" else java.lang.Double.toString(v)

  def json(correct: Boolean, attempted: Int, failed: Int, metrics: Map[String, Double],
           names: Seq[(String, String)]): String = {
    val ms = names.map { case (n, u) =>
      s""""$n": {"value": ${num(metrics.getOrElse(n, 0.0))}, "unit": "$u"}"""
    }.mkString(", ")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$ms}}"""
  }
}
