package perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed interval around a call into a layer. `req` groups the spans
  * of one closed-loop iteration; `parent` is the enclosing span (-1 at top
  * level); `traced` says whether the listener was attached. Wall-clock
  * milliseconds line spans up with listener events; `seconds` is the
  * monotonic duration. */
final case class Span(id: Int, name: String, parent: Int, req: Long,
                      startMs: Long, endMs: Long, seconds: Double,
                      failed: Boolean, traced: Boolean)

object Span {
  /** The untraced spans, or all of them when every one was traced. */
  def plainOrAll(spans: Seq[Span]): Seq[Span] = {
    val plain = spans.filterNot(_.traced)
    if (plain.nonEmpty) plain else spans
  }
}

/** In-memory span recorder for the single closed-loop client thread. */
final class Tracer {
  private val done = ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private var started = 0

  def spans: Seq[Span] = done.toSeq

  def named(prefix: String): Seq[Span] =
    done.filter(s => s.name == prefix || s.name.startsWith(prefix + "."))
      .toSeq

  /** Runs `body` inside a span; the span is kept even when `body` throws. */
  def span[T](name: String, req: Long = -1L, traced: Boolean = false)(
      body: => T): (T, Span) = {
    val id = started
    started += 1
    val parent = open.headOption.getOrElse(-1)
    open = id :: open
    val ms0 = System.currentTimeMillis()
    val ns0 = System.nanoTime()
    var ok = false
    try {
      val r = body
      ok = true
      (r, close(id, name, parent, req, ms0, ns0, failed = false, traced))
    } finally if (!ok) close(id, name, parent, req, ms0, ns0, failed = true, traced)
  }

  /** Records an interval that started before the tracer existed. */
  def record(name: String, startMs: Long, endMs: Long): Span = {
    val s = Span(started, name, -1, -1L, startMs, endMs,
      (endMs - startMs) / 1e3, failed = false, traced = false)
    started += 1
    done += s
    s
  }

  private def close(id: Int, name: String, parent: Int, req: Long,
                    ms0: Long, ns0: Long, failed: Boolean,
                    traced: Boolean): Span = {
    open = open.tail
    val s = Span(id, name, parent, req, ms0, System.currentTimeMillis(),
      (System.nanoTime() - ns0) / 1e9, failed, traced)
    done += s
    s
  }
}

final case class JobRec(id: Int, submitMs: Long, endMs: Long,
                        streaming: Boolean, stages: Seq[Int])

final case class TaskRec(stage: Int, launchMs: Long, finishMs: Long,
                         runMs: Long, gcMs: Long, inBytes: Long,
                         inRecords: Long, outBytes: Long,
                         shuffleWrite: Long, spill: Long)

/** Sums of the `durationMs` parts of one micro-batch's progress report. */
final case class ProgressRec(ms: Long, planningMs: Long, addBatchMs: Long,
                             walCommitMs: Long)

/** What the jobs of one interval did. */
final case class Usage(wallS: Double, jobs: Int, tasks: Int, taskS: Double,
                       gapS: Double, maxTaskS: Double, inBytes: Long,
                       inRecords: Long, shuffleWrite: Long, spill: Long,
                       outBytes: Long, gcS: Double) {
  def cpuUtil(cores: Int): Double =
    if (wallS > 0) taskS / (wallS * cores) else 0.0
  def maxTaskShare: Double = if (wallS > 0) maxTaskS / wallS else 0.0
}

/** Spark and Structured Streaming listener that keeps job, task and
  * micro-batch records in memory. A job is attributed to a span by its
  * submission time; its tasks follow it through its stage ids. */
final class LayerListener extends SparkListener {
  private val jobStarts =
    new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val jobsDone = ArrayBuffer.empty[JobRec]
  private val tasks = ArrayBuffer.empty[TaskRec]
  private val progress = ArrayBuffer.empty[ProgressRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val streaming = Option(e.properties)
      .exists(_.getProperty("sql.streaming.queryId") != null)
    jobStarts.put(e.jobId, JobRec(e.jobId, e.time, -1L, streaming,
      e.stageIds))
    ()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStarts.remove(e.jobId)).foreach { j =>
      synchronized { jobsDone += j.copy(endMs = e.time) }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val i = e.taskInfo
    if (m != null && i != null) synchronized {
      tasks += TaskRec(e.stageId, i.launchTime, i.finishTime,
        m.executorRunTime, m.jvmGCTime, m.inputMetrics.bytesRead,
        m.inputMetrics.recordsRead, m.outputMetrics.bytesWritten,
        m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  /** The streaming half: micro-batch progress reports. */
  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(
        e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val d = e.progress.durationMs
      def part(k: String): Long =
        Option(d.get(k)).map(_.longValue).getOrElse(0L)
      val ms = java.time.Instant.parse(e.progress.timestamp).toEpochMilli
      LayerListener.this.synchronized {
        progress += ProgressRec(ms, part("queryPlanning"), part("addBatch"),
          part("walCommit"))
      }
    }
  }

  def jobs: Seq[JobRec] = synchronized(jobsDone.toSeq)
  def progressIn(startMs: Long, endMs: Long): Seq[ProgressRec] =
    synchronized(progress.filter(p => p.ms >= startMs && p.ms <= endMs).toSeq)

  /** Usage of the jobs submitted in [startMs, endMs] that `pick` keeps. */
  def usage(startMs: Long, endMs: Long,
            pick: JobRec => Boolean = _ => true): Usage = {
    val js = jobs.filter(j => j.submitMs >= startMs && j.submitMs <= endMs &&
      pick(j))
    val stages = js.flatMap(_.stages).toSet
    val ts = synchronized(tasks.filter(t => stages.contains(t.stage)).toSeq)
    val wall = math.max(0L, endMs - startMs)
    // wall time of the interval in which no picked job was running
    val covered = js.map(j => (math.max(j.submitMs, startMs),
        math.min(math.max(j.endMs, j.submitMs), endMs)))
      .sortBy(_._1)
      .foldLeft((0L, startMs)) { case ((sum, reach), (a, b)) =>
        val from = math.max(a, reach)
        if (b > from) (sum + (b - from), b) else (sum, reach)
      }._1
    Usage(wall / 1e3, js.size, ts.size, ts.map(_.runMs).sum / 1e3,
      (wall - covered) / 1e3,
      if (ts.isEmpty) 0.0 else ts.map(t => t.finishMs - t.launchMs).max / 1e3,
      ts.map(_.inBytes).sum, ts.map(_.inRecords).sum,
      ts.map(_.shuffleWrite).sum, ts.map(_.spill).sum,
      ts.map(_.outBytes).sum, ts.map(_.gcMs).sum / 1e3)
  }
}
