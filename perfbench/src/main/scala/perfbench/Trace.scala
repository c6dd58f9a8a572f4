package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Executor-side totals of one span, summed from task-end events. */
final class Usage {
  var jobs = 0
  var tasks = 0L
  var cpuNs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var outputBytes = 0L
  val taskMs = mutable.ArrayBuffer.empty[Double]

  /** Longest task over the median task; 0 when the span ran no task. */
  def skew: Double =
    if (taskMs.isEmpty) 0.0
    else taskMs.max / math.max(Stats.median(taskMs.toSeq), 1.0)
}

/** Attributes jobs and tasks to the job group they ran under. Both the
  * traced and the untraced run register it: the untraced run needs the
  * output bytes for `write_amp` and nothing else. */
final class Attribution extends SparkListener {
  private val stageGroup = mutable.Map.empty[Int, String]
  private val usage = mutable.Map.empty[String, Usage]

  private def groupOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = groupOf(e.properties)
    e.stageIds.foreach(stageGroup(_) = g)
    usage.getOrElseUpdate(g, new Usage).jobs += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val u = usage.getOrElseUpdate(stageGroup.getOrElse(e.stageId, ""), new Usage)
      u.tasks += 1
      u.cpuNs += m.executorCpuTime
      u.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      u.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      u.outputBytes += m.outputMetrics.bytesWritten
      u.taskMs += m.executorRunTime.toDouble
    }
  }

  /** Usage of `group`, after every queued event has been delivered. */
  def of(sc: SparkContext, group: String): Usage = {
    org.apache.spark.perfbench.ListenerDrain(sc)
    synchronized(usage.getOrElse(group, new Usage))
  }

  def totalOutputBytes(sc: SparkContext): Long = {
    org.apache.spark.perfbench.ListenerDrain(sc)
    synchronized(usage.values.map(_.outputBytes).sum)
  }
}

/** One timed region of the traced run. `op` numbers the workload
  * operation (query or FlowEngine call) the span belongs to; setup spans
  * carry op 0. */
final case class Span(id: Int, name: String, parent: Int, op: Int,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
  def group: String = s"perfbench-span-$id"
}

/** Records spans when tracing is on; a plain pass-through otherwise, so
  * the untraced run sets no job groups and keeps no spans. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1
  private var current = 0

  def span[T](name: String, op: Int)(body: => T): (T, Option[Span]) =
    if (!enabled) (body, None)
    else {
      val id = nextId
      nextId += 1
      val parent = current
      val outerGroup = sc.getLocalProperty("spark.jobGroup.id")
      val outerDesc = sc.getLocalProperty("spark.job.description")
      sc.setJobGroup(s"perfbench-span-$id", name, interruptOnCancel = false)
      current = id
      val t0 = System.nanoTime()
      try {
        val out = body
        val s = Span(id, name, parent, op, t0, System.nanoTime())
        spans += s
        (out, Some(s))
      } finally {
        current = parent
        if (outerGroup == null) sc.clearJobGroup()
        else sc.setJobGroup(outerGroup, outerDesc, interruptOnCancel = false)
      }
    }

  def json: String = spans.map { s =>
    s"""{"id":${s.id},"name":${Json.str(s.name)},"parent":${s.parent},"op":${s.op},"start_ns":${s.startNs},"end_ns":${s.endNs}}"""
  }.mkString("[\n", ",\n", "\n]")
}

/** Collects every `[stages] built <stage> in <s> s` line the engine
  * writes to stderr, so stage build times are known per stage even when
  * one accessor builds several stages. Everything is passed through. */
final class StageLog(underlying: java.io.PrintStream)
    extends java.io.OutputStream {
  private val Built = """\[stages\] built (\S+) in ([0-9.]+) s""".r.unanchored
  private val line = new java.lang.StringBuilder
  val builds = mutable.ArrayBuffer.empty[(String, Double)]

  override def write(b: Int): Unit = synchronized {
    underlying.write(b)
    if (b == '\n') {
      line.toString match {
        case Built(stage, s) => builds += stage -> s.toDouble
        case _ =>
      }
      line.setLength(0)
    } else if (line.length < 4096) line.append(b.toChar)
  }

  override def flush(): Unit = underlying.flush()

  def count: Int = synchronized(builds.size)
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
