package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** One span: a named interval with its parent. Times are epoch milliseconds
  * with sub-millisecond digits; `attrs` holds the counts recorded at the same
  * boundary. */
final case class Span(id: Long, parent: Long, name: String, kind: String,
    start: Double, end: Double, attrs: Map[String, Double] = Map.empty) {
  def dur: Double = end - start
}

/** Per-stage figures as the listener saw them. */
final case class StageRec(stageId: Int, jobId: Int, name: String, start: Double, end: Double,
    tasks: Int, inputBytes: Long, inputRecords: Long, outputBytes: Long, outputRecords: Long,
    shuffleWriteBytes: Long, shuffleReadBytes: Long, fetchWaitMs: Long, cpuNs: Long, gcMs: Long,
    spillBytes: Long, taskMs: Seq[Long]) {
  def dur: Double = end - start
}

final case class JobRec(jobId: Int, span: Long, start: Double, end: Double, stages: Seq[Int])

/** In-memory tracer. Spans recorded by the benchmark around calls into the
  * program (kind "call" and "kernel"), plus jobs and stages reported by a
  * SparkListener the benchmark registers (kind "job" and "stage"). Nothing is
  * written until the run ends. */
final class Tracer {
  private val epochBase = System.currentTimeMillis().toDouble
  private val nanoBase = System.nanoTime()
  def now(): Double = epochBase + (System.nanoTime() - nanoBase) / 1e6

  private val spans = ArrayBuffer.empty[Span]
  private val stack = mutable.Stack[Long](0L)
  private var sc: SparkContext = null

  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stages = mutable.LinkedHashMap.empty[Int, StageRec]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val taskTimes = mutable.Map.empty[Int, ArrayBuffer[Long]]

  def current: Long = stack.top

  def span[T](name: String, kind: String = "call")(body: => T): T = {
    val id = Tracer.nextId()
    val parent = stack.top
    stack.push(id)
    if (sc != null) sc.setLocalProperty("perfbench.span", id.toString)
    val t0 = now()
    try body
    finally {
      val t1 = now()
      stack.pop()
      if (sc != null) sc.setLocalProperty("perfbench.span", stack.top.toString)
      synchronized { spans += Span(id, parent, name, kind, t0, t1) }
    }
  }

  /** Record an already-measured interval (kernel batches, derived phases). */
  def add(name: String, kind: String, parent: Long, start: Double, end: Double,
      attrs: Map[String, Double] = Map.empty): Long = {
    val id = Tracer.nextId()
    synchronized { spans += Span(id, parent, name, kind, start, end, attrs) }
    id
  }

  def all: Seq[Span] = synchronized(spans.toList)

  /** Jobs whose call span is `spanId` (or a descendant of it). */
  def jobsUnder(spanId: Long): Seq[JobRec] = {
    val parents = all.map(s => s.id -> s.parent).toMap
    def under(id: Long): Boolean = id == spanId || (id != 0 && parents.get(id).exists(under))
    synchronized(jobs.values.toList).filter(j => under(j.span)).sortBy(_.start)
  }

  def stagesOf(j: JobRec): Seq[StageRec] = synchronized(j.stages.flatMap(stages.get))

  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty("perfbench.span"))).map(_.toLong).getOrElse(0L)
      jobs(e.jobId) = JobRec(e.jobId, span, e.time.toDouble, Double.NaN, e.stageIds)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(end = e.time.toDouble))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      if (e.taskInfo != null)
        taskTimes.getOrElseUpdate(e.stageId, ArrayBuffer.empty) += e.taskInfo.duration
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val i = e.stageInfo
      val m = i.taskMetrics
      if (m != null) stages(i.stageId) = StageRec(i.stageId, stageJob.getOrElse(i.stageId, -1), i.name,
        i.submissionTime.getOrElse(0L).toDouble, i.completionTime.getOrElse(0L).toDouble, i.numTasks,
        m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
        m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleReadMetrics.fetchWaitTime, m.executorCpuTime, m.jvmGCTime,
        m.memoryBytesSpilled + m.diskBytesSpilled, taskTimes.remove(i.stageId).map(_.toList).getOrElse(Nil))
    }
  }

  def attach(context: SparkContext): Unit = {
    sc = context
    sc.addSparkListener(listener)
    sc.setLocalProperty("perfbench.span", stack.top.toString)
  }

  def detach(): Unit = if (sc != null) {
    org.apache.spark.BenchBridge.drain(sc)
    sc.removeSparkListener(listener)
    sc.setLocalProperty("perfbench.span", null)
    sc = null
  }

  /** Spans including the listener's jobs and stages as children of the call
    * spans that caused them. */
  def withSparkSpans: Seq[Span] = {
    val out = ArrayBuffer.empty[Span] ++= all
    synchronized(jobs.values.toList).filterNot(_.end.isNaN).foreach { j =>
      val jid = Tracer.nextId()
      out += Span(jid, j.span, s"spark.job", "job", j.start, j.end, Map("job_id" -> j.jobId.toDouble))
      stagesOf(j).foreach { s =>
        out += Span(Tracer.nextId(), jid, s.name, "stage", s.start, s.end, Map(
          "stage_id" -> s.stageId.toDouble, "tasks" -> s.tasks.toDouble,
          "input_bytes" -> s.inputBytes.toDouble, "shuffle_write_bytes" -> s.shuffleWriteBytes.toDouble,
          "shuffle_read_bytes" -> s.shuffleReadBytes.toDouble, "output_bytes" -> s.outputBytes.toDouble,
          "cpu_s" -> s.cpuNs / 1e9, "gc_s" -> s.gcMs / 1e3))
      }
    }
    out.toList
  }
}

object Tracer {
  private val ids = new java.util.concurrent.atomic.AtomicLong(0)
  /** Span ids are unique across tracers, so their spans can share one file. */
  def nextId(): Long = ids.incrementAndGet()

  /** Self time: a span's duration minus the part of it its children cover. */
  def selfTimes(spans: Seq[Span]): Map[Long, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil).map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0.0
      var (cs, ce) = (Double.NaN, Double.NaN)
      iv.foreach { case (a, b) =>
        if (cs.isNaN) { cs = a; ce = b }
        else if (a <= ce) ce = math.max(ce, b)
        else { covered += ce - cs; cs = a; ce = b }
      }
      if (!cs.isNaN) covered += ce - cs
      s.id -> math.max(0.0, s.dur - covered)
    }.toMap
  }

  /** Self time summed per span name, in seconds. */
  def selfByName(spans: Seq[Span]): Map[String, Double] = {
    val self = selfTimes(spans)
    spans.groupBy(s => if (s.kind == "stage") "spark.stage" else s.name)
      .map { case (n, ss) => n -> ss.map(s => self(s.id)).sum / 1e3 }
  }

  def toJson(spans: Seq[Span]): String = {
    val self = selfTimes(spans)
    val rows = spans.sortBy(_.start).map { s =>
      Json(scala.collection.immutable.ListMap[String, Any](
        "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "kind" -> s.kind,
        "start_ms" -> s.start, "end_ms" -> s.end, "self_ms" -> self(s.id), "attrs" -> s.attrs))
    }
    val layers = selfByName(spans).toSeq.sortBy(-_._2)
    "{\"spans\": [\n" + rows.mkString(",\n") + "\n],\n\"self_s_by_name\": " +
      Json(scala.collection.immutable.ListMap(layers: _*)) + "}\n"
  }
}
