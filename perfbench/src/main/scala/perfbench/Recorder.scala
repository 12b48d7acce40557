package perfbench

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.scheduler._

/** Writes the run's records with the Jackson that ships with Spark. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def write(path: String, v: Any): Unit = mapper.writeValue(new java.io.File(path), v)
}

/**
 * Everything a run measures, kept in memory and written once at exit:
 * one record per timed op, and (traced runs only) a span per op, per
 * layer call and per set-up phase, plus the Spark jobs and stages the
 * [[JobLog]] saw. Times are epoch microseconds from one monotonic clock.
 * The harness issues one call at a time, so spans nest as a stack.
 */
final class Recorder {
  private val t0Nano = System.nanoTime()
  private val t0Us = System.currentTimeMillis() * 1000L
  def nowUs: Long = t0Us + (System.nanoTime() - t0Nano) / 1000L

  final case class Op(id: Int, phase: String, cls: String, name: String, start: Long,
                      end: Long, ok: Boolean, err: String)
  final class Span(val id: Int, val parent: Int, val name: String, val layer: String,
                   val op: Int, val phase: String, val start: Long) {
    var end: Long = start
    val attrs = mutable.LinkedHashMap.empty[String, Double]
  }

  final case class Call(op: Int, phase: String, cls: String, name: String, start: Long,
                        end: Long)

  val ops = mutable.ArrayBuffer.empty[Op]
  val calls = mutable.ArrayBuffer.empty[Call]
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var lastOp: Span = _
  @volatile var tracing = false
  var phase = "setup"
  private var opId = -1

  /** Time `body` as a span of `layer` when tracing; run it bare otherwise. */
  def span[T](name: String, layer: String)(body: => T): T =
    if (!tracing) body
    else {
      val s = new Span(spans.length, stack.headOption.map(_.id).getOrElse(-1), name, layer,
        opId, phase, nowUs)
      spans += s
      if (layer == "op") lastOp = s
      stack = s :: stack
      try body
      finally { s.end = nowUs; stack = stack.tail }
    }

  /** One read or write call into a layer inside an op: always timed,
    * and a span of `layer` when tracing. */
  def call[T](cls: String, layer: String, name: String)(body: => T): T = {
    val s = nowUs
    try span(name, layer)(body)
    finally calls += Call(opId, phase, cls, name, s, nowUs)
  }

  /** Attach a measured value to the innermost open span (traced runs). */
  def attr(k: String, v: Double): Unit = if (tracing) stack.headOption.foreach(_.attrs(k) = v)

  /** Attach a value measured after an op returned to that op's span
    * (traced runs), so the measuring is not inside the op's time. */
  def attrOp(k: String, v: Double): Unit = if (tracing && lastOp != null) lastOp.attrs(k) = v

  /** Set-up phases, timed in every run (name, start, end). */
  val marks = mutable.ArrayBuffer.empty[(String, Long, Long)]
  def mark[T](name: String)(body: => T): T = {
    val s = nowUs
    try body finally marks += ((name, s, nowUs))
  }

  /** Mark the op just recorded as failed (an output check after it). */
  def failLast(reason: String): Unit = {
    val o = ops.last
    if (o.ok) ops(ops.length - 1) = o.copy(ok = false, err = reason)
  }

  /** Run one op; a throw is recorded as a failed op, never rethrown. */
  def op(cls: String, name: String)(body: => Unit): Op = {
    opId = ops.length
    val start = nowUs
    val err =
      try { span(name, "op")(body); null }
      catch { case t: Throwable => Main.describe(t) }
    val o = Op(opId, phase, cls, name, start, nowUs, err == null, err)
    ops += o
    opId = -1
    o
  }

  def opsRecords: Seq[Map[String, Any]] = ops.toSeq.map(o => Map("id" -> o.id,
    "phase" -> o.phase, "cls" -> o.cls, "name" -> o.name, "start" -> o.start, "end" -> o.end,
    "ok" -> o.ok, "err" -> o.err))

  def callsRecords: Seq[Map[String, Any]] = calls.toSeq.map(c => Map("op" -> c.op,
    "phase" -> c.phase, "cls" -> c.cls, "name" -> c.name, "start" -> c.start, "end" -> c.end))

  def marksRecords: Seq[Map[String, Any]] = marks.toSeq.map { case (n, s, e) =>
    Map("name" -> n, "start" -> s, "end" -> e) }

  def spansRecords: Seq[Map[String, Any]] = spans.toSeq.map(s => Map("id" -> s.id,
    "parent" -> s.parent, "name" -> s.name, "layer" -> s.layer, "op" -> s.op,
    "phase" -> s.phase, "start" -> s.start, "end" -> s.end, "attrs" -> s.attrs))
}

/**
 * Spark jobs and stages as the listener bus reports them, with each
 * stage's task metrics summed. Attribution to spans is done afterwards
 * from the time windows alone (see analyze.py).
 */
final class JobLog extends SparkListener {
  final class Job(val id: Int, val start: Long, val stages: Seq[Int]) {
    @volatile var end: Long = -1L
    @volatile var ok = true
  }
  final class Stage(val id: Int, val attempt: Int) {
    var submit = -1L; var complete = -1L; var tasks = 0; var failedTasks = 0
    val m = mutable.LinkedHashMap.empty[String, Double]
  }
  val jobs = mutable.ArrayBuffer.empty[Job]
  private val byJob = mutable.HashMap.empty[Int, Job]
  val stages = mutable.LinkedHashMap.empty[(Int, Int), Stage]
  private val failed = mutable.HashMap.empty[(Int, Int), Int].withDefaultValue(0)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val j = new Job(e.jobId, e.time * 1000L, e.stageIds)
    jobs += j
    byJob(e.jobId) = j
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    byJob.get(e.jobId).foreach { j =>
      j.end = e.time * 1000L
      j.ok = e.jobResult == JobSucceeded
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.reason != org.apache.spark.Success) failed((e.stageId, e.stageAttemptId)) += 1
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val s = new Stage(i.stageId, i.attemptNumber())
    s.submit = i.submissionTime.map(_ * 1000L).getOrElse(-1L)
    s.complete = i.completionTime.map(_ * 1000L).getOrElse(-1L)
    s.tasks = i.numTasks
    s.failedTasks = failed((i.stageId, i.attemptNumber()))
    val t = i.taskMetrics
    if (t != null) {
      s.m("run_s") = t.executorRunTime / 1e3
      s.m("cpu_s") = t.executorCpuTime / 1e9
      s.m("gc_s") = t.jvmGCTime / 1e3
      s.m("input_records") = t.inputMetrics.recordsRead.toDouble
      s.m("input_bytes") = t.inputMetrics.bytesRead.toDouble
      s.m("output_bytes") = t.outputMetrics.bytesWritten.toDouble
      s.m("shuffle_read_bytes") = t.shuffleReadMetrics.totalBytesRead.toDouble
      s.m("shuffle_write_bytes") = t.shuffleWriteMetrics.bytesWritten.toDouble
      s.m("spill_bytes") = (t.memoryBytesSpilled + t.diskBytesSpilled).toDouble
    }
    stages((i.stageId, i.attemptNumber())) = s
  }

  def jobsRecords: Seq[Map[String, Any]] = synchronized {
    jobs.toSeq.map(j => Map("id" -> j.id, "start" -> j.start, "end" -> j.end,
      "ok" -> j.ok, "stages" -> j.stages))
  }
  def stagesRecords: Seq[Map[String, Any]] = synchronized {
    stages.values.toSeq.map(s => Map("id" -> s.id, "attempt" -> s.attempt,
      "submit" -> s.submit, "complete" -> s.complete, "tasks" -> s.tasks,
      "failed_tasks" -> s.failedTasks, "metrics" -> s.m))
  }
}
