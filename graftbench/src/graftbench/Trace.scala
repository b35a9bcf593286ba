package graftbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark work claimed by one span: what the benchmark's own listeners
  * saw between the span's start and its close. */
final class Work {
  var jobs = 0
  var tasks = 0
  var failedTasks = 0
  var taskMs = 0L
  var schedDelayMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var singleTaskStageMs = 0L
  var scanRows = 0L
  var scanFiles = 0L
  /** Wall-clock (ms) intervals of the claimed jobs. */
  val jobSpans = ArrayBuffer.empty[(Long, Long)]
}

/** One call at a layer boundary. Spans of one request share `trace`. */
final case class Span(id: Long, trace: Long, parent: Long, name: String,
    layer: String, startMs: Long, endMs: Long, durNs: Long, work: Work) {
  def ms: Double = durNs / 1e6
}

/** Spans around calls into graft, plus the two listeners that attribute
  * Spark work to them. The benchmark registers both listeners itself
  * and only in traced runs.
  *
  * Attribution: a task belongs to the job whose `SparkListenerJobStart`
  * listed its stage (stageId → jobId), never to "the oldest open job".
  * A job belongs to the span that is closed first after it ends: every
  * span drains the listener bus when it closes, and traced runs make
  * one call at a time, so the jobs an HTTP handler thread or a stream
  * thread runs during a span are unambiguously that span's. Direct calls
  * additionally carry the span id as their job group. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  private val nextId = new java.util.concurrent.atomic.AtomicLong(0L)
  val spans = ArrayBuffer.empty[Span]

  private final class JobRec(val id: Int, val start: Long) {
    var end = -1L
  }
  private final class StageRec(val id: Int, val submit: Long, val done: Long,
      val tasks: Int)
  private final class TaskAgg {
    var tasks = 0
    var failed = 0
    var runMs = 0L
    var delayMs = 0L
    var shuffle = 0L
    var spill = 0L
  }
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val openJobs = mutable.HashMap.empty[Int, JobRec]
  private val doneJobs = ArrayBuffer.empty[JobRec]
  private val jobStages = mutable.HashMap.empty[Int, ArrayBuffer[StageRec]]
  private val jobTasks = mutable.HashMap.empty[Int, TaskAgg]
  private val scans = ArrayBuffer.empty[(Long, Long)]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
      openJobs(e.jobId) = new JobRec(e.jobId, e.time)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      openJobs.remove(e.jobId).foreach { j =>
        j.end = e.time
        doneJobs += j
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val i = e.stageInfo
      stageJob.get(i.stageId).foreach { j =>
        for (s <- i.submissionTime; d <- i.completionTime)
          jobStages.getOrElseUpdate(j, ArrayBuffer.empty) +=
            new StageRec(i.stageId, s, d, i.numTasks)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      stageJob.get(e.stageId).foreach { j =>
        val a = jobTasks.getOrElseUpdate(j, new TaskAgg)
        a.tasks += 1
        if (e.reason != org.apache.spark.Success) a.failed += 1
        val m = e.taskMetrics
        val info = e.taskInfo
        if (m != null && info != null) {
          a.runMs += m.executorRunTime
          val fetch = if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
          a.delayMs += math.max(0L, info.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime - fetch)
          a.shuffle += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  private object ScanWalk extends AdaptiveSparkPlanHelper {
    def fileScans(p: SparkPlan): Seq[SparkPlan] =
      collectWithSubqueries(p) { case s if s.metrics.contains("numFiles") => s }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val found = ScanWalk.fileScans(qe.executedPlan).map { s =>
        (s.metrics.get("numOutputRows").map(_.value).getOrElse(0L),
          s.metrics("numFiles").value)
      }
      Tracer.this.synchronized { scans ++= found }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def install(): Unit = if (enabled) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  def uninstall(): Unit = if (enabled) {
    org.apache.spark.graftbench.BusDrain(sc)
    spark.listenerManager.unregister(qeListener)
    sc.removeSparkListener(listener)
  }

  /** Drain the bus and hand every job and scan finished since the last
    * claim to the closing span. */
  private def claim(): Work = {
    val w = new Work
    org.apache.spark.graftbench.BusDrain(sc)
    synchronized {
      val stages = ArrayBuffer.empty[StageRec]
      doneJobs.foreach { j =>
        w.jobs += 1
        w.jobSpans += ((j.start, j.end))
        jobTasks.remove(j.id).foreach { a =>
          w.tasks += a.tasks; w.failedTasks += a.failed; w.taskMs += a.runMs
          w.schedDelayMs += a.delayMs; w.shuffleBytes += a.shuffle; w.spillBytes += a.spill
        }
        jobStages.remove(j.id).foreach(stages ++= _)
      }
      doneJobs.clear()
      // one-task stages, minus any part of them another stage overlapped:
      // the time the other cores sat idle
      stages.filter(_.tasks == 1).foreach { s =>
        val others = stages.filter(o => (o ne s) && o.done > s.submit && o.submit < s.done)
          .map(o => (math.max(o.submit, s.submit), math.min(o.done, s.done)))
        w.singleTaskStageMs += (s.done - s.submit) - Tracer.covered(others.toSeq)
      }
      scans.foreach { case (r, f) => w.scanRows += r; w.scanFiles += f }
      scans.clear()
    }
    w
  }

  /** Open spans of the calling thread, innermost first: (id, trace). */
  private val open = new ThreadLocal[List[(Long, Long)]] {
    override def initialValue(): List[(Long, Long)] = Nil
  }

  /** Run `f` as one span, a child of the span open on this thread, if
    * any. Disabled tracers only time it. */
  def span[T](name: String, layer: String)(f: => T): (T, Span) = {
    val id = nextId.incrementAndGet()
    val stack = open.get()
    val (parent, trace) = stack.headOption.map { case (p, t) => (p, t) }.getOrElse((0L, id))
    val prevGroup = if (enabled) sc.getLocalProperty("spark.jobGroup.id") else null
    val prevDesc = if (enabled) sc.getLocalProperty("spark.job.description") else null
    if (enabled) sc.setJobGroup(s"graftbench-$id", name)
    open.set((id, trace) :: stack)
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val r =
      try f
      finally {
        open.set(stack)
        if (enabled) {
          if (prevGroup == null) sc.clearJobGroup() else sc.setJobGroup(prevGroup, prevDesc)
        }
      }
    val dur = System.nanoTime() - t0
    val w1 = System.currentTimeMillis()
    val work = if (enabled) claim() else new Work
    val s = Span(id, trace, parent, name, layer, w0, w1, dur, work)
    if (enabled) synchronized { spans += s }
    (r, s)
  }

  /** `self.<layer>_ms`: mean self time per span of each layer, a span's
    * duration minus the part its child spans and its claimed Spark jobs
    * cover. `self.spark_ms` is the mean job-covered time per span that
    * ran jobs. Spans of the benchmark's own `bench` layer only group. */
  def selfMetrics: Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    val self = spans.map { s =>
      val cover = kids.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs)) ++
        s.work.jobSpans.map { case (a, b) => (math.max(a, s.startMs), math.min(b, s.endMs)) }
      s.layer -> math.max(0.0, s.ms - Tracer.covered(cover.toSeq))
    }
    val byLayer = self.filter(_._1 != "bench").groupBy(_._1)
      .map { case (l, xs) => s"self.${l}_ms" -> xs.map(_._2).sum / xs.size }
    val withJobs = spans.filter(_.work.jobs > 0)
    byLayer + ("self.spark_ms" -> (if (withJobs.isEmpty) 0.0
      else withJobs.map(s => Tracer.covered(s.work.jobSpans.toSeq).toDouble).sum / withJobs.size))
  }

  def writeSpans(path: String): Unit = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    val out = new java.io.PrintWriter(f, "UTF-8")
    try spans.foreach { s =>
      val w = s.work
      out.println(Json.obj(Seq("id" -> s.id, "trace" -> s.trace, "parent" -> s.parent,
        "name" -> s.name, "layer" -> s.layer, "start_ms" -> s.startMs,
        "end_ms" -> s.endMs, "dur_ms" -> s.ms, "jobs" -> w.jobs, "tasks" -> w.tasks,
        "task_ms" -> w.taskMs, "sched_delay_ms" -> w.schedDelayMs,
        "shuffle_bytes" -> w.shuffleBytes, "spill_bytes" -> w.spillBytes,
        "scan_rows" -> w.scanRows, "scan_files" -> w.scanFiles)))
    } finally out.close()
  }
}

object Tracer {
  /** Length of the union of intervals. */
  def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (a > curE) {
        if (curE > curS) total += curE - curS
        curS = a; curE = b
      } else curE = math.max(curE, b)
    }
    if (curE > curS) total += curE - curS
    total
  }
}
