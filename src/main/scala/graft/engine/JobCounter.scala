package graft.engine

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.graft.Bridge

/** Executor-side totals of the jobs one block launched. `spillBytes`
  * is memory plus disk spill; `inputRecords`/`inputBytes` are what the
  * tasks read from their sources; `outputBytes` is what they wrote to
  * files; `taskMs` holds each task's executor run time. */
final case class JobTotals(jobs: Int, tasks: Int, cpuNs: Long,
    shuffleReadBytes: Long, shuffleWriteBytes: Long, spillBytes: Long,
    inputRecords: Long, inputBytes: Long, outputBytes: Long, taskMs: IndexedSeq[Long]) {
  def maxTaskMs: Long = if (taskMs.isEmpty) 0L else taskMs.max
  def p50TaskMs: Long = if (taskMs.isEmpty) 0L else taskMs.sorted.apply(taskMs.size / 2)
}

/** Counts the Spark jobs a block launches and totals their tasks: a
  * `SparkListener` sees every job start tagged with the block's own job
  * group (broadcast and AQE stage jobs inherit it) and every task end
  * of those jobs' stages. The listener bus is drained before the totals
  * are read, and the caller's own job group is restored afterwards. */
object JobCounter {
  /** The number of jobs `body` launches. */
  def apply(sc: SparkContext)(body: => Unit): Int = measure(sc)(body)._2.jobs

  /** The local properties `setJobGroup` sets. */
  private val GroupProps =
    Seq("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")

  /** `body`'s result with the totals of every job it launched.
    * `onInput` gets the cumulative input (records, bytes) of those
    * jobs' tasks after each task that read records; every call has
    * happened by the time `measure` returns. */
  def measure[A](sc: SparkContext, onInput: (Long, Long) => Unit = (_, _) => ())(
      body: => A): (A, JobTotals) = {
    val listener =
      new GroupListener(s"job-counter-${java.util.UUID.randomUUID()}", onInput)
    val outer = GroupProps.map(k => k -> sc.getLocalProperty(k))
    sc.addSparkListener(listener)
    sc.setJobGroup(listener.group, "job count", interruptOnCancel = false)
    val out = try body
    finally {
      outer.foreach { case (k, v) => sc.setLocalProperty(k, v) }
      Bridge.drainListenerBus(sc)
      sc.removeSparkListener(listener)
    }
    (out, listener.totals)
  }

  private final class GroupListener(val group: String, onInput: (Long, Long) => Unit)
      extends SparkListener {
    private val stages = mutable.Set.empty[Int]
    private val taskMs = mutable.ArrayBuffer.empty[Long]
    private var jobs, tasks = 0
    private var cpuNs, shuffleRead, shuffleWrite, spill, inRecords, inBytes, outBytes = 0L

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      if (e.properties != null &&
          e.properties.getProperty("spark.jobGroup.id") == group) {
        jobs += 1
        stages ++= e.stageIds
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null && stages(e.stageId)) {
        tasks += 1
        cpuNs += m.executorCpuTime
        shuffleRead += m.shuffleReadMetrics.totalBytesRead
        shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        spill += m.memoryBytesSpilled + m.diskBytesSpilled
        inRecords += m.inputMetrics.recordsRead
        inBytes += m.inputMetrics.bytesRead
        outBytes += m.outputMetrics.bytesWritten
        taskMs += m.executorRunTime
        if (m.inputMetrics.recordsRead > 0) onInput(inRecords, inBytes)
      }
    }

    def totals: JobTotals = synchronized {
      JobTotals(jobs, tasks, cpuNs, shuffleRead, shuffleWrite, spill, inRecords, inBytes,
        outBytes, taskMs.toIndexedSeq)
    }
  }
}
