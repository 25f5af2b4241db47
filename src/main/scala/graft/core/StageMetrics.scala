package graft.core

import org.apache.spark.SparkContext
import org.apache.spark.graft.ListenerSync
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted,
  SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** The one stage-metrics listener: per stage, in submission order, the
  * name, finished tasks, summed executor run time, longest finished task,
  * input bytes and records, and shuffle write and read. Run totals (tasks,
  * longest task, shuffle write) are kept as they arrive, so a reader can
  * cross-check them against the per-stage rows.
  *
  * Listener events are asynchronous: call [[drain]] before reading, and
  * [[reset]] (after a drain) to start a new measurement window.
  */
final class StageMetrics private (sc: SparkContext) extends SparkListener with AutoCloseable {
  import StageMetrics.Stage

  private val byId = scala.collection.mutable.LinkedHashMap[Int, Stage]()
  private var nTasks = 0L
  private var longestMs = 0L
  private var shuffleWritten = 0L

  private def update(id: Int)(f: Stage => Stage): Unit =
    byId(id) = f(byId.getOrElse(id, Stage(id)))

  override def onStageSubmitted(ev: SparkListenerStageSubmitted): Unit = synchronized {
    update(ev.stageInfo.stageId)(_.copy(name = ev.stageInfo.name))
  }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = synchronized {
    val ti = te.taskInfo
    // TaskInfo.duration throws on unfinished (killed/failed) tasks
    val d = if (ti != null && ti.finished) ti.duration else 0L
    val run = Option(te.taskMetrics).map(_.executorRunTime).getOrElse(0L)
    update(te.stageId)(s =>
      s.copy(tasks = s.tasks + 1, runMs = s.runMs + run, maxTaskMs = math.max(s.maxTaskMs, d)))
    nTasks += 1
    longestMs = math.max(longestMs, d)
  }

  override def onStageCompleted(ev: SparkListenerStageCompleted): Unit = synchronized {
    val si = ev.stageInfo
    val m = si.taskMetrics
    val w = m.shuffleWriteMetrics.bytesWritten
    update(si.stageId)(_.copy(
      name = si.name,
      inputBytes = m.inputMetrics.bytesRead,
      inputRecords = m.inputMetrics.recordsRead,
      shuffleWriteBytes = w,
      shuffleReadBytes =
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead))
    shuffleWritten += w
  }

  /** Wait until every event posted so far has been delivered. */
  def drain(): Unit = ListenerSync.drain(sc)

  /** Forget everything seen so far (drain first). */
  def reset(): Unit = synchronized {
    byId.clear(); nTasks = 0L; longestMs = 0L; shuffleWritten = 0L
  }

  def stages: Seq[Stage] = synchronized(byId.values.toVector)

  /** Tasks that ended since the last reset. */
  def tasks: Long = synchronized(nTasks)

  /** Longest finished task since the last reset. */
  def maxTaskMs: Long = synchronized(longestMs)

  /** Shuffle bytes written by stages completed since the last reset. */
  def shuffleWriteBytes: Long = synchronized(shuffleWritten)

  def close(): Unit = sc.removeSparkListener(this)
}

object StageMetrics {
  final case class Stage(
      id: Int,
      name: String = "",
      tasks: Long = 0L,
      runMs: Long = 0L,
      maxTaskMs: Long = 0L,
      inputBytes: Long = 0L,
      inputRecords: Long = 0L,
      shuffleWriteBytes: Long = 0L,
      shuffleReadBytes: Long = 0L)

  /** A listener registered on `spark`'s context. */
  def on(spark: SparkSession): StageMetrics = {
    val m = new StageMetrics(spark.sparkContext)
    spark.sparkContext.addSparkListener(m)
    m
  }
}
