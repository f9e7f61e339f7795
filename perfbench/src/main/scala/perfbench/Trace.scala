package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** Half-open interval [start, end) in epoch milliseconds. */
final case class Interval(start: Long, end: Long)

object Intervals {

  /** Length of the union of `xs` clipped to [lo, hi): overlapping
    * intervals (concurrent AQE or broadcast jobs, a stream thread's
    * micro-batch next to the caller's job) count once. */
  def unionLength(xs: Seq[Interval], lo: Long, hi: Long): Long = {
    val clipped = xs
      .map(i => Interval(math.max(i.start, lo), math.min(i.end, hi)))
      .filter(i => i.end > i.start)
      .sortBy(_.start)
    var total = 0L
    var curStart = 0L
    var curEnd = Long.MinValue
    for (i <- clipped) {
      if (i.start > curEnd) {
        if (curEnd > curStart) total += curEnd - curStart
        curStart = i.start
        curEnd = i.end
      } else curEnd = math.max(curEnd, i.end)
    }
    if (curEnd > curStart) total += curEnd - curStart
    total
  }

  /** Time inside [lo, hi) during which no job ran: planning, catalog
    * and file work on the driver. Never negative, because the union is
    * clipped to the window. */
  def driverGapMs(jobs: Seq[Interval], lo: Long, hi: Long): Long =
    (hi - lo) - unionLength(jobs, lo, hi)
}

/** A timed region around one call into a layer. Times are epoch millis
  * (the clock Spark stamps listener events with) plus a nanosecond
  * duration for the reported figure; counters are taken at the same
  * boundaries. */
final case class Span(id: Int, parent: Int, name: String, startMs: Long,
    endMs: Long, seconds: Double, cpuSeconds: Double, traced: Boolean,
    counters: Map[String, Double])

/** Everything the Spark listener bus reports, kept raw so it can be cut
  * by time window after a pass: a job, stage or task belongs to the
  * span whose window contains its start, whatever thread started it. */
final class EventLog extends SparkListener {
  import EventLog._

  private val open = mutable.Map.empty[Int, Long]
  val jobs = mutable.ArrayBuffer.empty[Job]
  val stages = mutable.ArrayBuffer.empty[Stage]
  val tasks = mutable.ArrayBuffer.empty[Task]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    open(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    open.remove(e.jobId).foreach(s => jobs += Job(s, e.time))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    stages += Stage(si.submissionTime.getOrElse(0L), si.numTasks)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += Task(e.taskInfo.launchTime,
      m.shuffleWriteMetrics.bytesWritten, m.inputMetrics.bytesRead,
      m.jvmGCTime)
  }

  def clear(): Unit = synchronized {
    open.clear(); jobs.clear(); stages.clear(); tasks.clear()
  }

  /** Counters for the window [lo, hi). */
  def window(lo: Long, hi: Long): Map[String, Double] = synchronized {
    def in(t: Long) = t >= lo && t < hi
    val js = jobs.filter(j => in(j.start)).toSeq
    val ts = tasks.filter(t => in(t.launch))
    val ss = stages.filter(s => in(s.submitted))
    val ivs = js.map(j => Interval(j.start, j.end))
    Map(
      "jobs" -> js.size.toDouble,
      "stages" -> ss.size.toDouble,
      "tasks" -> ss.map(_.tasks).sum.toDouble,
      "shuffle_write_bytes" -> ts.map(_.shuffleWriteBytes).sum.toDouble,
      "scan_bytes" -> ts.map(_.bytesRead).sum.toDouble,
      "gc_s" -> ts.map(_.gcMs).sum / 1000.0,
      "job_union_s" -> Intervals.unionLength(ivs, lo, hi) / 1000.0,
      "driver_gap_s" -> Intervals.driverGapMs(ivs, lo, hi) / 1000.0)
  }
}

object EventLog {
  final case class Job(start: Long, end: Long)
  final case class Stage(submitted: Long, tasks: Int)
  final case class Task(launch: Long, shuffleWriteBytes: Long, bytesRead: Long, gcMs: Long)
}

/** Records spans around the benchmark's calls into the program.
  * Untraced, it only times the calls (the end-to-end figures need
  * that); traced, a listener also logs every job, stage and task, and
  * `flush` cuts that log into per-span counters. Spans stay in memory
  * and are written once, when the run ends. */
final class Tracer(sc: SparkContext) {
  private val log = new EventLog
  private val cpu = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private var nextId = 1
  private var stack = List.empty[Int]
  private val pending = mutable.ArrayBuffer.empty[Span]
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var tracing = false

  def traced: Boolean = tracing

  def setTracing(on: Boolean): Unit = if (on != tracing) {
    flush()
    if (on) sc.addSparkListener(log) else sc.removeSparkListener(log)
    tracing = on
  }

  /** Time `f` as a span named `name`, nested under the open span. */
  def span[A](name: String)(f: => A): (A, Span) = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(0)
    stack = id :: stack
    val persisted0 = sc.getPersistentRDDs.size
    val read0 = if (tracing) Tracer.bytesRead() else 0L
    val cpu0 = cpu.getProcessCpuTime
    val ms0 = System.currentTimeMillis()
    val ns0 = System.nanoTime()
    val out = try f finally stack = stack.tail
    val sec = (System.nanoTime() - ns0) / 1e9
    val ms1 = math.max(System.currentTimeMillis(), ms0 + 1)
    val cpuSec = (cpu.getProcessCpuTime - cpu0) / 1e9
    val leaked = (sc.getPersistentRDDs.size - persisted0).toDouble
    val counters = Map("persisted_rdds_leaked" -> leaked)
    val s = Span(id, parent, name, ms0, ms1, sec, cpuSec, tracing,
      if (tracing) counters + ("read_bytes" -> (Tracer.bytesRead() - read0).toDouble) else counters)
    pending += s
    (out, s)
  }

  /** Wait for the listener bus, then attach window counters to the
    * spans closed since the last flush. Called between passes, outside
    * any timed call. */
  def flush(): Seq[Span] = {
    if (tracing) org.apache.spark.PerfbenchBus.drain(sc)
    val done = pending.toSeq.map { s =>
      if (s.traced) s.copy(counters = s.counters ++ log.window(s.startMs, s.endMs))
      else s
    }
    if (tracing) log.clear()
    pending.clear()
    spans ++= done
    done
  }

  /** The spans as JSON, one object per span. */
  def toJson: String = spans.map { s =>
    val cs = s.counters.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":${Json.num(v)}""" }
    s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
      s""""start_ms":${s.startMs},"end_ms":${s.endMs},"seconds":${Json.num(s.seconds)},""" +
      s""""cpu_s":${Json.num(s.cpuSeconds)},"traced":${s.traced},"counters":{${cs.mkString(",")}}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

object Tracer {
  /** Bytes this process has read through read syscalls (`rchar` in
    * /proc/self/io). Task `inputMetrics.bytesRead` is no substitute: for
    * these Parquet scans it reports only the footer bytes, the same for
    * every column projection. */
  def bytesRead(): Long = {
    val src = scala.io.Source.fromFile("/proc/self/io")
    try src.getLines().collectFirst { case l if l.startsWith("rchar:") => l.split("\\s+")(1).toLong }
      .getOrElse(0L) finally src.close()
  }
}

object Json {
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else java.math.BigDecimal.valueOf(d).toPlainString
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
