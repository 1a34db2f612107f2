package graft.run

import org.apache.spark.SparkContext
import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{GraftColumnBridge, SparkSession}
import scala.collection.mutable.ArrayBuffer

/** Task-metric totals of the jobs a session runs: the one listener behind
  * the measurements in `graft.run`. [[timed]] resets the totals, runs one
  * call and returns its wall time with the totals of the tasks it ran. The
  * listener bus delivers events asynchronously, so `timed` waits for the
  * bus to empty before it resets and before it reads. */
final class TaskTotals private (sc: SparkContext) extends SparkListener {
  private val ended = ArrayBuffer.empty[TaskMetrics]

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null) synchronized { ended += e.taskMetrics }

  private def take(): TaskTotals.Snapshot = {
    GraftColumnBridge.drainListenerBus(sc)
    synchronized { val s = TaskTotals.of(ended.toSeq); ended.clear(); s }
  }

  /** `body`'s value, its wall seconds and the totals of the tasks it ran. */
  def timed[A](body: => A): (A, Double, TaskTotals.Snapshot) = {
    take()
    val t0 = System.nanoTime()
    val a = body
    val wall = (System.nanoTime() - t0) / 1e9
    (a, wall, take())
  }

  def close(): Unit = sc.removeSparkListener(this)
}

object TaskTotals {
  def on(spark: SparkSession): TaskTotals = {
    val t = new TaskTotals(spark.sparkContext)
    spark.sparkContext.addSparkListener(t)
    t
  }

  /** Sums over the tasks of one call, and its slowest and median task
    * (run time). */
  final case class Snapshot(tasks: Int = 0, runSec: Double = 0, cpuSec: Double = 0,
                            gcSec: Double = 0, fetchWaitSec: Double = 0,
                            resultSerSec: Double = 0, shuffleReadBytes: Long = 0,
                            shuffleWriteBytes: Long = 0, spillBytes: Long = 0,
                            maxTaskSec: Double = 0, medianTaskSec: Double = 0) {
    def line: String = String.format(java.util.Locale.ROOT,
      "tasks=%d run=%.2fs cpu=%.2fs gc=%.2fs fetchWait=%.2fs resultSer=%.2fs " +
        "shuffleRead=%dB shuffleWrite=%dB spill=%dB maxTask=%.3fs medianTask=%.3fs",
      Int.box(tasks), Double.box(runSec), Double.box(cpuSec), Double.box(gcSec),
      Double.box(fetchWaitSec), Double.box(resultSerSec), Long.box(shuffleReadBytes),
      Long.box(shuffleWriteBytes), Long.box(spillBytes), Double.box(maxTaskSec),
      Double.box(medianTaskSec))
  }

  private def of(ms: Seq[TaskMetrics]): Snapshot = {
    def sum(f: TaskMetrics => Long) = ms.map(f).sum
    val run = ms.map(_.executorRunTime).sorted
    Snapshot(ms.length, run.sum / 1e3, sum(_.executorCpuTime) / 1e9, sum(_.jvmGCTime) / 1e3,
      sum(_.shuffleReadMetrics.fetchWaitTime) / 1e3, sum(_.resultSerializationTime) / 1e3,
      sum(_.shuffleReadMetrics.totalBytesRead), sum(_.shuffleWriteMetrics.bytesWritten),
      sum(m => m.memoryBytesSpilled + m.diskBytesSpilled),
      run.lastOption.getOrElse(0L) / 1e3, if (run.isEmpty) 0.0 else run(run.length / 2) / 1e3)
  }
}
