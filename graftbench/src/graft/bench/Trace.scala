package graft.bench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}

/** Physical counters of the tasks run under one Spark job group. */
final class Phys {
  var tasks = 0L
  var cpuNs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var shuffleRecords = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var outputRecords = 0L
  var spillBytes = 0L

  def copy: Phys = minus(new Phys)

  def +=(p: Phys): Unit = {
    tasks += p.tasks; cpuNs += p.cpuNs
    shuffleReadBytes += p.shuffleReadBytes; shuffleWriteBytes += p.shuffleWriteBytes
    shuffleRecords += p.shuffleRecords
    inputBytes += p.inputBytes; inputRecords += p.inputRecords
    outputRecords += p.outputRecords; spillBytes += p.spillBytes
  }

  /** Counters accrued since `earlier`, a copy taken from this group. */
  def minus(earlier: Phys): Phys = {
    val d = new Phys
    d.tasks = tasks - earlier.tasks
    d.cpuNs = cpuNs - earlier.cpuNs
    d.shuffleReadBytes = shuffleReadBytes - earlier.shuffleReadBytes
    d.shuffleWriteBytes = shuffleWriteBytes - earlier.shuffleWriteBytes
    d.shuffleRecords = shuffleRecords - earlier.shuffleRecords
    d.inputBytes = inputBytes - earlier.inputBytes
    d.inputRecords = inputRecords - earlier.inputRecords
    d.outputRecords = outputRecords - earlier.outputRecords
    d.spillBytes = spillBytes - earlier.spillBytes
    d
  }

  def counts: Map[String, Long] = Map(
    "tasks" -> tasks, "shuffle_records" -> shuffleRecords,
    "input_records" -> inputRecords, "output_records" -> outputRecords,
    "shuffle_bytes" -> (shuffleReadBytes + shuffleWriteBytes),
    "input_bytes" -> inputBytes)
}

/** Listener that sums task metrics per job group and keeps every job's
  * interval. Jobs without a group count under "". Read it only after
  * [[org.apache.spark.graftbench.Bus.drain]]: the bus is asynchronous.
  */
final class PhysListener extends SparkListener {
  val byGroup = mutable.HashMap.empty[String, Phys]
  /** (group, start ms, end ms) of every finished job. */
  val jobs = mutable.ArrayBuffer.empty[(String, Long, Long)]
  var peakTaskExecBytes = 0L
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val running = mutable.HashMap.empty[Int, (String, Long)]

  private def groupOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = groupOf(e.properties)
    running(e.jobId) = (g, e.time)
    // a stage shared with an earlier job ran (or was skipped) there
    e.stageIds.foreach(s => stageGroup.getOrElseUpdate(s, g))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    running.remove(e.jobId).foreach { case (g, t0) => jobs += ((g, t0, e.time)) }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val p = byGroup.getOrElseUpdate(stageGroup.getOrElse(e.stageId, ""), new Phys)
      p.tasks += 1
      p.cpuNs += m.executorCpuTime
      p.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      p.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      p.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      p.inputBytes += m.inputMetrics.bytesRead
      p.inputRecords += m.inputMetrics.recordsRead
      p.outputRecords += m.outputMetrics.recordsWritten
      p.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      peakTaskExecBytes = math.max(peakTaskExecBytes, m.peakExecutionMemory)
    }
  }

  /** Milliseconds of [t0, t1] during which a job of `group` was running. */
  def jobMillis(group: String, t0: Long, t1: Long): Long = synchronized {
    val iv = jobs.iterator.filter(_._1 == group)
      .map { case (_, a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var total = 0L
    var end = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a >= end) { total += b - a; end = b }
      else if (b > end) { total += b - end; end = b }
    }
    total
  }
}

/** A timed region around one call into a layer. Times are epoch ms with
  * sub-ms precision, so they line up with the listener's job intervals.
  */
final case class Span(id: Int, name: String, parent: Int, startMs: Double,
                      endMs: Double, runId: String) {
  def ms: Double = endMs - startMs
}

/** Records spans in memory; each span's Spark jobs run under a job group
  * named after the span, which is how [[PhysListener]] attributes tasks.
  * With `enabled = false` it runs the body and records nothing.
  */
final class Tracer(sc: SparkContext, val runId: String, val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private val epochOffsetMs =
    System.currentTimeMillis().toDouble - System.nanoTime() / 1e6

  def nowMs: Double = System.nanoTime() / 1e6 + epochOffsetMs
  def group(id: Int): String = s"$runId/$id"
  def all: Seq[Span] = spans.toSeq

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.size
      spans += null
      val parent = stack.headOption.getOrElse(-1)
      val prev = sc.getLocalProperty("spark.jobGroup.id")
      sc.setJobGroup(group(id), name)
      stack = id :: stack
      val t0 = nowMs
      try body
      finally {
        spans(id) = Span(id, name, parent, t0, nowMs, runId)
        stack = stack.tail
        if (prev == null) sc.clearJobGroup() else sc.setJobGroup(prev, name)
      }
    }

  /** A span whose interval was measured elsewhere (a streaming batch). */
  def record(name: String, startMs: Double, endMs: Double, parent: Int): Unit =
    if (enabled) spans += Span(spans.size, name, parent, startMs, endMs, runId)

  /** Span duration minus the part its child spans cover. */
  def selfMs(s: Span): Double = {
    val kids = spans.iterator.filter(_.parent == s.id).map(_.ms).sum
    math.max(0.0, s.ms - kids)
  }

  def jsonLines: Seq[String] = spans.map { s =>
    Json(Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs, "run_id" -> s.runId))
  }.toSeq
}

/** Minimal JSON writer for the harness's own result files. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_] => apply(xs.toSeq)
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }
}
