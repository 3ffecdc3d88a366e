package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One recorded span: a call into a layer, made from the benchmark's own
  * code. `parent` is the enclosing span's id (-1 at the top); all spans of
  * one operation share `op`. */
final class Span(val id: Int, val name: String, val parent: Int, val op: Int,
    val startNs: Long) {
  var endNs: Long = startNs
  def wallS: Double = (endNs - startNs) / 1e9
  // filled by the listener (job and task events) and by `Tracer.addToLast`
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var output = 0L
  val extra = mutable.LinkedHashMap.empty[String, Double]
}

/** Span recorder for the traced run (choosing-metrics §4).
  *
  * Spans are kept in memory and written out when the run ends. Spark work
  * is attributed with a local property set around each call: Spark copies
  * local properties into every job the calling thread submits (and into
  * the broadcast threads AQE uses), so each job, stage and task is charged
  * to the innermost open span. The benchmark is a single client thread. */
final class Tracer(sc: SparkContext) extends SparkListener {
  private val Prop = "perfbench.span"
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var last: Option[Span] = None
  private var opId = 0
  private val jobSpan = new ConcurrentHashMap[Int, Span]()
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageSpan = new ConcurrentHashMap[Int, Span]()

  def attach(): Unit = sc.addSparkListener(this)
  def detach(): Unit = { drain(); sc.removeSparkListener(this) }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = org.apache.spark.perfbench.ListenerBus.drain(sc)

  /** Start a new operation: spans opened until the next call share its id. */
  def newOp(): Unit = opId += 1

  def span[A](name: String)(body: => A): A = {
    val s = new Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1),
      opId, System.nanoTime())
    spans.synchronized(spans += s)
    stack = s :: stack
    val prev = sc.getLocalProperty(Prop)
    sc.setLocalProperty(Prop, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime()
      last = Some(s)
      stack = stack.tail
      sc.setLocalProperty(Prop, prev)
    }
  }

  /** Add a count the benchmark measured after the call (files, rows) to
    * the span that closed last, so the counting is outside its wall time. */
  def addToLast(field: String, v: Double): Unit = last.foreach { s =>
    s.extra(field) = s.extra.getOrElse(field, 0.0) + v
  }

  private def spanOf(props: java.util.Properties): Option[Span] =
    Option(props).flatMap(p => Option(p.getProperty(Prop)))
      .map(id => spans.synchronized(spans(id.toInt)))

  override def onJobStart(e: SparkListenerJobStart): Unit =
    spanOf(e.properties).foreach { s =>
      jobSpan.put(e.jobId, s)
      jobStart.put(e.jobId, e.time)
      e.stageIds.foreach(stageSpan.put(_, s))
      s.synchronized(s.jobs += 1)
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobSpan.remove(e.jobId)).foreach { s =>
      val t0 = jobStart.remove(e.jobId)
      s.synchronized(s.jobIntervals += ((t0.longValue, e.time)))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageSpan.get(e.stageId)).foreach { s =>
      val m = e.taskMetrics
      s.synchronized {
        s.tasks += 1
        if (m != null) {
          s.cpuNs += m.executorCpuTime
          s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          s.output += m.outputMetrics.bytesWritten
        }
      }
    }

  def all: Seq[Span] = spans.synchronized(spans.toList)
}

object Tracer {
  /** Length of the union of [start, end] intervals, in seconds. */
  def unionS(intervals: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += math.max(0L, curE - curS); curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    total += math.max(0L, curE - curS)
    total / 1e3
  }

  /** Summed fields of a set of spans (one layer's spans in one operation). */
  final case class Agg(wallS: Double, jobs: Double, tasks: Double, cpuS: Double,
      shuffleWrite: Double, spill: Double, output: Double, driverS: Double,
      extra: Map[String, Double]) {
    def field(f: String): Double = f match {
      case "wall_s" => wallS
      case "jobs" => jobs
      case "tasks" => tasks
      case "exec_cpu_s" => cpuS
      case "shuffle_write_bytes" => shuffleWrite
      case "spill_bytes" => spill
      case "output_bytes" => output
      case "driver_s" => driverS
      case "driver_share" => if (wallS > 0) driverS / wallS else 0.0
      case other => extra.getOrElse(other, 0.0)
    }
  }

  /** Aggregate spans with all their descendants' Spark work: a span's jobs
    * include the jobs of the spans nested in it. Driver time is each
    * span's wall minus the union of its own and its descendants' jobs. */
  def aggregate(spans: Seq[Span], all: Seq[Span]): Agg = {
    val children = all.groupBy(_.parent)
    def subtree(s: Span): Seq[Span] = s +: children.getOrElse(s.id, Nil).flatMap(subtree)
    val parts = spans.map { s =>
      val t = subtree(s)
      val wall = s.wallS
      val union = unionS(t.flatMap(_.jobIntervals))
      (wall, t.map(_.jobs).sum.toDouble, t.map(_.tasks).sum.toDouble,
        t.map(_.cpuNs).sum / 1e9, t.map(_.shuffleWrite).sum.toDouble,
        t.map(_.spill).sum.toDouble, t.map(_.output).sum.toDouble,
        math.max(0.0, wall - union),
        t.flatMap(_.extra.toSeq).groupMapReduce(_._1)(_._2)(_ + _))
    }
    Agg(parts.map(_._1).sum, parts.map(_._2).sum, parts.map(_._3).sum,
      parts.map(_._4).sum, parts.map(_._5).sum, parts.map(_._6).sum,
      parts.map(_._7).sum, parts.map(_._8).sum,
      parts.flatMap(_._9.toSeq).groupMapReduce(_._1)(_._2)(_ + _))
  }

  /** Self time: the span's wall minus the part its child spans cover. */
  def selfS(s: Span, all: Seq[Span]): Double = {
    val kids = all.filter(_.parent == s.id).map(k => (k.startNs / 1000000L, k.endNs / 1000000L))
    math.max(0.0, s.wallS - unionS(kids))
  }

  /** The spans as JSON lines, for the trace file. */
  def jsonLines(all: Seq[Span]): Seq[String] = {
    val t0 = if (all.isEmpty) 0L else all.map(_.startNs).min
    all.map { s =>
      val a = aggregate(Seq(s), all)
      val extra = s.extra.map { case (k, v) => s""","$k":${Json.num(v)}""" }.mkString
      s"""{"id":${s.id},"op":${s.op},"name":${Json.str(s.name)},"parent":${s.parent},""" +
        s""""start_s":${Json.num((s.startNs - t0) / 1e9)},"wall_s":${Json.num(s.wallS)},""" +
        s""""self_s":${Json.num(selfS(s, all))},"jobs":${a.jobs.toLong},"tasks":${a.tasks.toLong},""" +
        s""""exec_cpu_s":${Json.num(a.cpuS)},"shuffle_write_bytes":${a.shuffleWrite.toLong},""" +
        s""""spill_bytes":${a.spill.toLong},"output_bytes":${a.output.toLong},""" +
        s""""driver_s":${Json.num(a.driverS)}$extra}"""
    }
  }
}
