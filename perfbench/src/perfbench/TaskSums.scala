package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Task metrics over a window of time, in total and per Spark job group:
  * sums, and the largest peak execution memory of a task. */
final case class Sums(var jobs: Long = 0, var tasks: Long = 0, var cpuNs: Long = 0,
                      var runMs: Long = 0, var shuffleWriteBytes: Long = 0,
                      var outputBytes: Long = 0, var peakExecMemBytes: Long = 0) {
  def cpuS: Double = cpuNs / 1e9
  def runS: Double = runMs / 1e3
  def shuffleWriteMb: Double = shuffleWriteBytes / 1e6
  def peakExecMemMb: Double = peakExecMemBytes / 1e6
}

/** The benchmark's only instrument on untraced runs: a listener that sums
  * task metrics. Jobs are attributed to the job group set on the thread that
  * submitted them (the traced run sets one group per span). */
final class TaskSums extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private var window = Sums()
  private var groups = mutable.Map.empty[String, Sums]

  private def group(g: String): Sums = groups.getOrElseUpdate(g, Sums())

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    e.stageIds.foreach(stageGroup.put(_, g))
    window.jobs += 1
    group(g).jobs += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val g = stageGroup.getOrDefault(e.stageId, "")
      Seq(window, group(g)).foreach { s =>
        s.tasks += 1
        s.cpuNs += m.executorCpuTime
        s.runMs += m.executorRunTime
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.outputBytes += m.outputMetrics.bytesWritten
        s.peakExecMemBytes = math.max(s.peakExecMemBytes, m.peakExecutionMemory)
      }
    }
  }

  /** Starts a new window: sums so far are discarded. */
  def reset(sc: SparkContext): Unit = {
    org.apache.spark.perfbench.Bus.drain(sc)
    synchronized { window = Sums(); groups = mutable.Map.empty }
  }

  /** A copy of the sums since the last reset, after every posted event has
    * arrived. */
  def total(sc: SparkContext): Sums = {
    org.apache.spark.perfbench.Bus.drain(sc)
    synchronized(window.copy())
  }

  /** Sums of one job group since the last reset. */
  def ofGroup(sc: SparkContext, g: String): Sums = {
    org.apache.spark.perfbench.Bus.drain(sc)
    synchronized(groups.get(g).map(_.copy()).getOrElse(Sums()))
  }
}
