package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Task-level totals of one measured window (one operation or one pass). */
final case class StageTotals(jobs: Long, tasks: Long, executorRunS: Double,
                             executorCpuS: Double, gcS: Double,
                             shuffleWriteMb: Double, shuffleReadMb: Double,
                             fetchWaitS: Double, spillMb: Double, taskSkew: Double) {
  def +(o: StageTotals): StageTotals = StageTotals(jobs + o.jobs, tasks + o.tasks,
    executorRunS + o.executorRunS, executorCpuS + o.executorCpuS, gcS + o.gcS,
    shuffleWriteMb + o.shuffleWriteMb, shuffleReadMb + o.shuffleReadMb,
    fetchWaitS + o.fetchWaitS, spillMb + o.spillMb, math.max(taskSkew, o.taskSkew))
}

object StageTotals {
  val zero: StageTotals = StageTotals(0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
}

/**
 * The benchmark's own Spark listener for the `spark.*` metrics. A window is
 * opened with [[begin]] and closed with [[end]], which first waits, for at
 * most `settleTimeoutMs`, until the listener bus has delivered every event of
 * the window. A window whose wait hits the bound returns `None`, and the
 * caller counts that operation as failed.
 */
final class StageMetrics(sc: SparkContext, settleTimeoutMs: Long = 10000L) extends SparkListener {
  private val MB = 1024.0 * 1024.0
  private var jobs = 0L
  private var tasks = 0L
  private var runMs = 0L
  private var cpuNs = 0L
  private var gcMs = 0L
  private var writeBytes = 0L
  private var readBytes = 0L
  private var fetchWaitMs = 0L
  private var spillBytes = 0L
  private val taskMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]

  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      writeBytes += m.shuffleWriteMetrics.bytesWritten
      readBytes += m.shuffleReadMetrics.totalBytesRead
      fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Open a window: settle what came before, then zero the counters. */
  def begin(): Boolean = {
    val settled = org.apache.spark.perfbench.Bus.settle(sc, settleTimeoutMs)
    synchronized {
      jobs = 0; tasks = 0; runMs = 0; cpuNs = 0; gcMs = 0
      writeBytes = 0; readBytes = 0; fetchWaitMs = 0; spillBytes = 0
      taskMs.clear()
    }
    settled
  }

  /** Close the window; `None` if the listener bus did not go quiet in time. */
  def end(): Option[StageTotals] =
    if (!org.apache.spark.perfbench.Bus.settle(sc, settleTimeoutMs)) None
    else synchronized {
      Some(StageTotals(jobs, tasks, runMs / 1e3, cpuNs / 1e9, gcMs / 1e3,
        writeBytes / MB, readBytes / MB, fetchWaitMs / 1e3, spillBytes / MB,
        StageMetrics.skew(taskMs.values.map(_.toSeq))))
    }

  def close(): Unit = sc.removeSparkListener(this)
}

object StageMetrics {
  /** Task skew of a window: the largest max/median task time over its stages
   *  with at least two tasks (1.0 when no stage has two). */
  def skew(stageTaskMs: Iterable[Seq[Long]]): Double = {
    val ratios = stageTaskMs.filter(_.size >= 2).map { ds =>
      val med = Stats.median(ds.map(_.toDouble))
      if (med <= 0) 1.0 else ds.max / med
    }
    if (ratios.isEmpty) 1.0 else ratios.max
  }
}
