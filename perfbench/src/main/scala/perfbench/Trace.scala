package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer, made by the benchmark's client thread.
  * Times are epoch milliseconds, the clock Spark's listener events use.
  */
final case class Span(id: Long, parent: Long, kind: String, name: String, start: Double, end: Double) {
  def dur: Double = end - start
}

final case class JobRec(jobId: Int, group: Option[String], start: Double, end: Double, stageIds: Seq[Int])

final case class StageRec(
    stageId: Int,
    attempt: Int,
    submit: Double,
    complete: Double,
    tasks: Int,
    runMs: Long,
    cpuNs: Long,
    gcMs: Long,
    shuffleWrite: Long,
    shuffleRead: Long,
    spill: Long,
    maxTaskMs: Long)

/** Listener the benchmark registers. Shuffle-write bytes are summed in
  * every run (end-to-end `shuffle_mb`); jobs, stages and per-stage task
  * maxima are kept only when `traced`.
  */
final class Recorder(sc: SparkContext, traced: Boolean) extends SparkListener {
  val shuffleWrite = new AtomicLong
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stages = ArrayBuffer.empty[StageRec]
  private val maxTask = mutable.HashMap.empty[(Int, Int), Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = if (traced) synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    jobs(e.jobId) = JobRec(e.jobId, group, e.time.toDouble, Double.NaN, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (traced) synchronized {
    jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(end = e.time.toDouble))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (traced) {
    val ti = e.taskInfo
    // TaskInfo.duration throws on unfinished (killed) tasks
    if (ti != null && ti.finished) synchronized {
      val k = (e.stageId, e.stageAttemptId)
      maxTask(k) = math.max(maxTask.getOrElse(k, 0L), ti.duration)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val m = si.taskMetrics
    if (m != null) shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
    if (traced) synchronized {
      def z(f: => Long) = if (m == null) 0L else f
      stages += StageRec(
        si.stageId, si.attemptNumber(),
        si.submissionTime.getOrElse(0L).toDouble, si.completionTime.getOrElse(0L).toDouble,
        si.numTasks, z(m.executorRunTime), z(m.executorCpuTime), z(m.jvmGCTime),
        z(m.shuffleWriteMetrics.bytesWritten),
        z(m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead),
        z(m.memoryBytesSpilled + m.diskBytesSpilled),
        maxTask.getOrElse((si.stageId, si.attemptNumber()), 0L))
    }
  }

  /** Wait until every posted event has reached this listener. */
  def drain(): Unit = org.apache.spark.graft.ListenerSync.drain(sc)

  /** Drain, then hand over and forget the recorded jobs and stages. */
  def take(): (Seq[JobRec], Seq[StageRec]) = {
    drain()
    synchronized {
      val out = (jobs.values.toVector, stages.toVector)
      jobs.clear(); stages.clear(); maxTask.clear()
      out
    }
  }
}

/** Spans of the client thread's calls. Each call sets a Spark job group
  * named after its span id, so every job it launches (including jobs on
  * broadcast threads, which inherit the group) names its parent span.
  * Spans stay in memory; the caller writes them out at the end of the
  * run. Disabled, `span` is a plain call.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  private var stack: List[Long] = Nil
  private var nextId = 1L
  val spans = ArrayBuffer.empty[Span]
  val attrs = mutable.HashMap.empty[Long, mutable.Map[String, Double]]

  def now(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  def span[A](kind: String, name: String)(f: => A): A =
    if (!enabled) f
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0L)
      stack = id :: stack
      sc.setJobGroup(id.toString, s"$kind:$name")
      val t0 = now()
      try f
      finally {
        val t1 = now()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(p.toString, "")
          case None => sc.clearJobGroup()
        }
        spans += Span(id, parent, kind, name, t0, t1)
      }
    }

  /** Id of the innermost open span (0 outside any span or disabled). */
  def current: Long = stack.headOption.getOrElse(0L)

  /** Add `v` to attribute `k` of span `id`. */
  def add(id: Long, k: String, v: Double): Unit =
    if (enabled && id != 0L) {
      val m = attrs.getOrElseUpdate(id, mutable.HashMap.empty)
      m(k) = m.getOrElse(k, 0.0) + v
    }
}
