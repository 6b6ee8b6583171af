package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable.ArrayBuffer

/** One traced interval. Every span of one call shares `call`; `parent`
  * names the enclosing span (call -> construct/materialize -> job ->
  * stage). Times are epoch milliseconds, the clock Spark's events use. */
final case class Span(id: Long, call: Long, parent: Long, layer: String,
                      start: Long, end: Long) {
  def json: String =
    s"""{"id":$id,"call":$call,"parent":$parent,"layer":"$layer","start":$start,"end":$end}"""
}

/** Counters the task and query-execution events of one call add up. */
final class CallCounters {
  var jobs = 0; var constructJobs = 0; var stages = 0
  var tasks = 0L; var tasksOk = 0L
  var runMs = 0L; var deserMs = 0L; var delayMs = 0L
  var inBytes = 0L; var inRows = 0L
  var shWrite = 0L; var shRead = 0L; var peakMem = 0L
  var sqlExecs = 0; var sqlFailed = 0
}

/** SparkListener + QueryExecutionListener that keep spans in memory.
  *
  * Events arrive on Spark's listener bus, asynchronously. The traced pass
  * drains the bus after every call ([[org.apache.spark.PerfbenchBus]]),
  * so everything received between two drains belongs to the call that
  * just returned: one client thread issues calls one at a time, and the
  * jobs of `parallelEach` driver threads land inside their call too. */
final class Tracer extends SparkListener with QueryExecutionListener {
  private val lock = new Object
  private var nextId = 1L
  private val jobStart = scala.collection.mutable.Map.empty[Int, (Long, Seq[Int])]
  private val jobs = ArrayBuffer.empty[(Int, Long, Long)]            // id, start, end
  private val stageJob = scala.collection.mutable.Map.empty[Int, Int]
  private val stages = ArrayBuffer.empty[(Int, Long, Long)]          // job, start, end
  private var cur = new CallCounters
  val spans = ArrayBuffer.empty[Span]

  def newId(): Long = lock.synchronized { val i = nextId; nextId += 1; i }

  override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
    jobStart(e.jobId) = (e.time, e.stageIds)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
    jobStart.remove(e.jobId).foreach { case (t0, _) => jobs += ((e.jobId, t0, e.time)) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
    val i = e.stageInfo
    for (t0 <- i.submissionTime; t1 <- i.completionTime)
      stages += ((stageJob.getOrElse(i.stageId, -1), t0, t1))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
    val c = cur
    c.tasks += 1
    if (e.taskInfo.successful) c.tasksOk += 1
    val m = e.taskMetrics
    if (m != null) {
      c.runMs += m.executorRunTime
      c.deserMs += m.executorDeserializeTime
      c.delayMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime)
      c.inBytes += m.inputMetrics.bytesRead
      c.inRows += m.inputMetrics.recordsRead
      c.shWrite += m.shuffleWriteMetrics.bytesWritten
      c.shRead += m.shuffleReadMetrics.totalBytesRead
      c.peakMem = math.max(c.peakMem, m.peakExecutionMemory)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    lock.synchronized { cur.sqlExecs += 1 }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    lock.synchronized { cur.sqlExecs += 1; cur.sqlFailed += 1 }

  /** Closes one call: turns the events received since the previous call
    * into spans under `callSpan` and returns the call's counters.
    * `split` is the epoch-ms end of construction (start of the action). */
  def closeCall(callId: Long, start: Long, split: Long, end: Long): CallCounters =
    lock.synchronized {
      val c = cur
      cur = new CallCounters
      val callSpan = Span(newId(), callId, 0L, "call", start, end)
      val construct = Span(newId(), callId, callSpan.id, "construct", start, split)
      val materialize = Span(newId(), callId, callSpan.id, "materialize", split, end)
      spans += callSpan += construct += materialize
      val jobSpan = scala.collection.mutable.Map.empty[Int, Long]
      jobs.sortBy(_._2).foreach { case (id, t0, t1) =>
        val parent = if (t0 < split) construct else materialize
        if (parent eq construct) c.constructJobs += 1
        val s = Span(newId(), callId, parent.id, "job", t0, t1)
        jobSpan(id) = s.id
        spans += s
      }
      stages.foreach { case (job, t0, t1) =>
        spans += Span(newId(), callId, jobSpan.getOrElse(job, materialize.id), "stage", t0, t1)
      }
      c.jobs = jobs.size
      c.stages = stages.size
      jobs.clear(); stages.clear()
      c
    }
}

object Trace {
  /** Length of the union of intervals, clipped to [lo, hi]. */
  def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L; var reach = lo
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { total += b - math.max(a, reach); reach = b }
      }
    total
  }

  /** Call wall time not covered by any running job, summed (seconds). */
  def driverSelf(spans: Seq[Span]): Double = {
    val jobs = spans.filter(_.layer == "job").groupBy(_.call)
    spans.filter(_.layer == "call").map { c =>
      val iv = jobs.getOrElse(c.call, Nil).map(j => (j.start, j.end))
      (c.end - c.start) - covered(iv, c.start, c.end)
    }.sum / 1000.0
  }

  /** Self time per layer: a span's duration minus the part of it its
    * child spans cover, summed per layer (seconds). */
  def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val ch = kids.getOrElse(s.id, Nil).map(k => (k.start, k.end))
        (s.end - s.start) - covered(ch, s.start, s.end)
      }.sum / 1000.0
    }
  }
}
