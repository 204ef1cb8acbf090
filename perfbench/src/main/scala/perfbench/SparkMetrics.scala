package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import scala.collection.mutable.ArrayBuffer

/** Task metrics of one stage inside a measurement window. */
final case class StageStat(stageId: Int, name: String, tasks: Int,
                           runS: Double, cpuS: Double, gcS: Double,
                           shuffleWriteBytes: Long, shuffleReadBytes: Long,
                           spillBytes: Long, skew: Double)

/** Spark execution summed over a measurement window. */
final case class SparkWindow(tasks: Long, runS: Double, cpuS: Double,
                             gcS: Double, serS: Double, busyFrac: Double,
                             taskSkew: Double, shuffleWriteBytes: Long,
                             shuffleReadBytes: Long, spillBytes: Long,
                             stages: Vector[StageStat]) {
  /** Two windows as one; the busy fraction needs the summed wall and is
    * left to the caller. */
  def +(o: SparkWindow): SparkWindow = {
    val run = runS + o.runS
    SparkWindow(tasks + o.tasks, run, cpuS + o.cpuS, gcS + o.gcS, serS + o.serS, 0.0,
      if (run > 0) (taskSkew * runS + o.taskSkew * o.runS) / run else 1.0,
      shuffleWriteBytes + o.shuffleWriteBytes, shuffleReadBytes + o.shuffleReadBytes,
      spillBytes + o.spillBytes, stages ++ o.stages)
  }

  def metrics: Vector[(String, Double, String)] = Vector(
    ("spark.tasks", tasks.toDouble, "count"),
    ("spark.run_s", runS, "s"),
    ("spark.cpu_s", cpuS, "s"),
    ("spark.gc_s", gcS, "s"),
    ("spark.ser_s", serS, "s"),
    ("spark.busy_frac", busyFrac, "ratio"),
    ("spark.task_skew", taskSkew, "ratio"),
    ("spark.shuffle_write_bytes", shuffleWriteBytes.toDouble, "bytes"),
    ("spark.shuffle_read_bytes", shuffleReadBytes.toDouble, "bytes"),
    ("spark.spill_bytes", spillBytes.toDouble, "bytes"))
}

/** Collects every finished task's metrics; [[window]] summarises and
  * clears what arrived since the previous call. */
final class SparkMetrics(sc: SparkContext) extends SparkListener {
  import SparkMetrics.Task
  private val tasks = ArrayBuffer.empty[Task]
  private val stageNames = scala.collection.mutable.Map.empty[Int, String]

  sc.addSparkListener(this)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) synchronized {
      tasks += Task(e.stageId, m.executorRunTime, m.executorCpuTime,
        m.jvmGCTime, m.executorDeserializeTime + m.resultSerializationTime,
        m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.localBytesRead + m.shuffleReadMetrics.remoteBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stageNames(e.stageInfo.stageId) = e.stageInfo.name }

  /** Clear what has been collected so far. */
  def reset(): Unit = { org.apache.spark.perfbench.ListenerDrain(sc); synchronized(tasks.clear()) }

  /** Summarise the tasks finished since the last reset/window and clear
    * them. `wallS` is the window's wall time, `cores` the task slots. */
  def window(cores: Int, wallS: Double): SparkWindow = {
    org.apache.spark.perfbench.ListenerDrain(sc)
    val ts = synchronized { val v = tasks.toVector; tasks.clear(); v }
    val stages = ts.groupBy(_.stageId).toVector.sortBy(_._1).map { case (id, st) =>
      val runs = st.map(_.runMs.toDouble)
      StageStat(id, synchronized(stageNames.getOrElse(id, "")), st.length,
        runs.sum / 1e3, st.map(_.cpuNs).sum / 1e9, st.map(_.gcMs).sum / 1e3,
        st.map(_.shW).sum, st.map(_.shR).sum, st.map(_.spill).sum,
        skew(runs))
    }
    val runS = ts.map(_.runMs).sum / 1e3
    // run-time-weighted mean of per-stage max/median, over stages whose
    // tasks could be unequal (two or more)
    val multi = stages.filter(s => s.tasks >= 2 && s.runS > 0)
    val taskSkew =
      if (multi.isEmpty) 1.0
      else multi.map(s => s.skew * s.runS).sum / multi.map(_.runS).sum
    SparkWindow(ts.length, runS, ts.map(_.cpuNs).sum / 1e9,
      ts.map(_.gcMs).sum / 1e3, ts.map(_.serMs).sum / 1e3,
      if (wallS > 0) runS / (cores * wallS) else 0.0, taskSkew,
      ts.map(_.shW).sum, ts.map(_.shR).sum, ts.map(_.spill).sum, stages)
  }

  private def skew(runs: Seq[Double]): Double = {
    val med = Stats.median(runs)
    if (med > 0) runs.max / med else 1.0
  }
}

object SparkMetrics {
  private final case class Task(stageId: Int, runMs: Long, cpuNs: Long,
                                gcMs: Long, serMs: Long, shW: Long,
                                shR: Long, spill: Long)
}
