package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** Epoch seconds with nanosecond resolution. Spans and listener job
  * times share this clock, so job time is attributed to the span that
  * was open while the job ran. */
object Clock {
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis()
  def now(): Double = baseMs / 1e3 + (System.nanoTime() - baseNs) / 1e9
}

/** A planted-answer check that did not hold. */
final class CheckFailed(msg: String) extends Exception(msg)

/** Everything one run measures, kept in memory and written once at exit:
  * op samples, checks, spans and per-op counters (traced ops only), and
  * the Spark listener's job, stage and task counters. A traced run
  * traces every timed cycle; warm-up and untraced runs record no spans
  * and install no listener. */
final class Recorder(sc: SparkContext, traceRun: Boolean,
    breakChecks: Set[String]) {

  final case class Sample(id: Int, op: String, cycle: Int, phase: String,
      start: Double, end: Double, ok: Boolean, error: String, items: Long)
  final case class Span(id: Int, name: String, parent: Int, opId: Int,
      start: Double, end: Double)
  final case class Check(name: String, opId: Int, ok: Boolean,
      expected: String, got: String)

  val samples = ArrayBuffer[Sample]()
  val spans = ArrayBuffer[Span]()
  val checks = ArrayBuffer[Check]()
  /** op id -> counter name -> value (per-op layer counts). */
  val counters = mutable.LinkedHashMap[Int, mutable.LinkedHashMap[String, Double]]()
  val listener = new SessionsListener
  if (traceRun) sc.addSparkListener(listener)

  private var tracing = false
  private var opId = -1
  private var stack: List[Int] = Nil

  /** Run one op of the closed loop. A thrown exception marks the op
    * failed, and so does a planted-answer check in the outcome's
    * `verify`, which runs after the clock has stopped; the loop goes on. */
  def op(name: String, phase: String, cycle: Int, traced: Boolean)
      (f: => Outcome): Unit = {
    val id = samples.size
    opId = id
    tracing = traced
    if (traced) sc.setLocalProperty(SessionsListener.OpKey, id.toString)
    val t0 = Clock.now()
    val (out, thrown) =
      try { (f, None) } catch { case e: Exception => (Outcome(0), Some(e)) }
    val t1 = Clock.now()
    sc.setLocalProperty(SessionsListener.OpKey, null)
    val failure = thrown.orElse(
      try { out.verify(); None } catch { case e: Exception => Some(e) })
      .orElse(checks.find(c => c.opId == id && !c.ok).map(c =>
        new CheckFailed(s"${c.name}: expected ${c.expected}, got ${c.got}")))
    tracing = false
    samples += Sample(id, name, cycle, phase, t0, t1, failure.isEmpty,
      failure.map(e => s"${e.getClass.getSimpleName}: ${e.getMessage}".take(400))
        .getOrElse(""), out.items)
  }

  /** A span around a call into one layer; free when tracing is off. */
  def span[T](name: String)(f: => T): T =
    if (!tracing) f
    else {
      val id = spans.size
      spans += null
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = Clock.now()
      try f
      finally {
        stack = stack.tail
        spans(id) = Span(id, name, parent, opId, t0, Clock.now())
      }
    }

  /** A span whose bounds the caller took itself, for time spent inside a
    * call between the callbacks the benchmark passed to it. */
  def derived(name: String, start: Double, end: Double): Unit =
    if (tracing && !start.isNaN && !end.isNaN)
      spans += Span(spans.size, name, stack.headOption.getOrElse(-1), opId,
        start, end)

  /** Spans of the current op so far. */
  def opSpans: Seq[Span] = spans.toSeq.filter(s => s != null && s.opId == opId)

  /** Record a per-op layer counter (traced cycles only). */
  def count(name: String, v: Double): Unit =
    if (tracing)
      counters.getOrElseUpdate(opId, mutable.LinkedHashMap())(name) = v

  /** Compare a planted answer; a mismatch fails the op once all its
    * checks have run. `--break name,...` (or `all`) perturbs the expected
    * value, to show that the check catches a wrong answer. */
  def check(name: String, expected: Any, got: Any): Unit = {
    val want = if (breakChecks(name) || breakChecks("all")) s"$expected+wrong"
      else expected.toString
    checks += Check(name, opId, want == got.toString, want, got.toString)
  }
}

/** The `sessions` layer: Spark's own scheduler events, attributed to the
  * benchmark op whose id the driver thread set as a local property. */
final class SessionsListener extends SparkListener {
  final class OpStats {
    var jobs = 0
    val jobIntervals = ArrayBuffer[(Double, Double)]()
    var stages = 0
    var tasks = 0
    var taskS = 0.0
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
    /** stage id -> (wall seconds, task durations) */
    val stageTasks = mutable.HashMap[Int, ArrayBuffer[Double]]()
    val stageWall = mutable.HashMap[Int, Double]()
  }
  val byOp = mutable.HashMap[Int, OpStats]()
  private val jobOp = mutable.HashMap[Int, Int]()
  private val jobStart = mutable.HashMap[Int, Double]()
  private val stageOp = mutable.HashMap[Int, Int]()
  @volatile var events = 0L

  private def opOf(p: java.util.Properties): Option[Int] =
    Option(p).flatMap(q => Option(q.getProperty(SessionsListener.OpKey)))
      .map(_.toInt)

  /** Nanoseconds spent in this listener's callbacks: the direct cost of
    * the sessions trace. */
  @volatile var busyNs = 0L
  private def timed(f: => Unit): Unit = synchronized {
    val t0 = System.nanoTime()
    f
    busyNs += System.nanoTime() - t0
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    events += 1
    opOf(e.properties).foreach { op =>
      jobOp(e.jobId) = op
      jobStart(e.jobId) = e.time / 1e3
      byOp.getOrElseUpdate(op, new OpStats).jobs += 1
      e.stageIds.foreach(stageOp(_) = op)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    events += 1
    jobOp.remove(e.jobId).foreach { op =>
      byOp(op).jobIntervals += ((jobStart.remove(e.jobId).get, e.time / 1e3))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    timed {
      events += 1
      val si = e.stageInfo
      stageOp.get(si.stageId).foreach { op =>
        val s = byOp(op)
        s.stages += 1
        for (a <- si.submissionTime; b <- si.completionTime)
          s.stageWall(si.stageId) = (b - a) / 1e3
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    events += 1
    stageOp.get(e.stageId).foreach { op =>
      val s = byOp(op)
      s.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        s.taskS += m.executorRunTime / 1e3
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
      s.stageTasks.getOrElseUpdate(e.stageId, ArrayBuffer()) +=
        e.taskInfo.duration / 1e3
    }
  }

  /** Wait until the asynchronous listener bus has delivered everything. */
  def drain(): Unit = {
    var last = -1L
    while (last != events) { last = events; Thread.sleep(300) }
  }
}

object SessionsListener {
  val OpKey = "perfbench.op"
}
