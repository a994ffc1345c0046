package whbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. Times are epoch milliseconds; `op` is
  * the id of the benchmark operation (ETL pass, commit step, query)
  * the span belongs to. `attrs` holds counts the call returned. */
final class Span(val id: Int, val name: String, val parent: Int,
    val op: Long, val start: Double) {
  var end: Double = start
  val attrs: mutable.Map[String, Double] = mutable.LinkedHashMap.empty
  // Spark work attributed to this span alone (not its children)
  var jobs, stages, tasks = 0
  var shuffleWriteBytes = 0L
  var busyMs, planningMs = 0.0
  // filled by [[Tracer.finish]]
  var jobUnionMs, selfMs = 0.0
  def ms: Double = end - start
  def layer: String = name.takeWhile(_ != '.')
  def driverGapMs: Double = ms - jobUnionMs
}

/** Spans around the benchmark's calls into the program's layers, and
  * the Spark work under each, counted by a [[SparkListener]] and a
  * [[QueryExecutionListener]]. Everything is kept in memory; events
  * are attributed to the innermost span open at their start time once
  * the run ends ([[finish]]). Nothing is recorded, and no listener is
  * registered, outside [[record]]`(true)`; a disabled tracer never
  * records. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  import Tracer._
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  private var currentOp = 0L

  private val jobStarts = mutable.Map.empty[Int, JobEv]
  private val jobs = mutable.ArrayBuffer.empty[JobEv]
  private val plans = mutable.Map.empty[Long, String]
  private val stageSubmits = mutable.ArrayBuffer.empty[Double]
  private val tasks = mutable.ArrayBuffer.empty[TaskEv]
  private val phases = mutable.ArrayBuffer.empty[(Double, Double)]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val execution = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).fold(-1L)(_.toLong)
      // the final stage has the highest id; its newest RDD is what the job computes
      val output = e.stageInfos.maxByOption(_.stageId)
        .flatMap(_.rddInfos.map(_.id).maxOption).getOrElse(-1)
      jobStarts(e.jobId) = JobEv(e.time.toDouble, Double.NaN, execution, output)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobStarts.remove(e.jobId).foreach(j => jobs += j.copy(end = e.time.toDouble))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart => Tracer.this.synchronized {
        plans(x.executionId) = x.physicalPlanDescription
      }
      case _ =>
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        e.stageInfo.submissionTime.foreach(t => stageSubmits += t.toDouble)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      tasks += TaskEv(e.taskInfo.launchTime.toDouble, e.taskInfo.finishTime.toDouble,
        if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten)
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def note(qe: QueryExecution): Unit = Tracer.this.synchronized {
      qe.tracker.phases.values.foreach(p =>
        phases += ((p.startTimeMs.toDouble, p.durationMs.toDouble)))
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = note(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = note(qe)
  }

  private var active = false

  /** Start (true) or stop (false) recording spans and Spark events.
    * Events reach the listeners asynchronously, so stopping waits for
    * the listener bus to drain before unregistering them. */
  def record(on: Boolean): Unit = if (enabled && on != active) {
    if (on) {
      spark.sparkContext.addSparkListener(sparkListener)
      spark.listenerManager.register(qeListener)
    } else {
      org.apache.spark.WhbenchBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(sparkListener)
      spark.listenerManager.unregister(qeListener)
    }
    active = on
  }

  /** Time `body` as a span named `layer.call` under the open span. */
  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val s = new Span(spans.size, name, open.headOption.map(_.id).getOrElse(-1),
        currentOp, nowMs)
      spans += s
      open = s :: open
      try body
      finally { s.end = nowMs; open = open.tail }
    }

  /** A root span for one benchmark operation; its children share its op id. */
  def op[T](name: String)(body: => T): T = {
    currentOp += 1
    span(name)(body)
  }

  /** Attach a count to the innermost open span (or to `s`). */
  def attr(key: String, value: Double): Unit =
    if (active) open.headOption.foreach(_.attrs(key) = value)
  def attrOn(s: Option[Span], key: String, value: Double): Unit =
    s.foreach(_.attrs(key) = value)
  def last(name: String): Option[Span] = spans.reverseIterator.find(_.name == name)

  /** The Spark jobs that started inside `s`, in start order, once every
    * event posted so far has been delivered. */
  def jobsIn(s: Span): Seq[JobEv] = {
    org.apache.spark.WhbenchBus.drain(spark.sparkContext)
    synchronized(jobs.filter(j => j.start >= s.start && j.start <= s.end).sortBy(_.start).toSeq)
  }

  /** The physical plan of SQL execution `id` as Spark describes it, or "". */
  def plan(id: Long): String = synchronized(plans.getOrElse(id, ""))

  /** Add a span after the fact: a child of `parent`, the latest span to
    * have started (spans are kept in start order). */
  def child(parent: Span, name: String, start: Double, end: Double): Span = {
    require(spans.lastOption.forall(_.start <= start), s"$name starts before the last span")
    val s = new Span(spans.size, name, parent.id, parent.op, start)
    s.end = end
    spans += s
    s
  }

  /** Stop recording and attribute every event to its span. */
  def finish(): Unit = if (enabled) {
    record(false)
    val starts = spans.map(_.start).toArray
    // spans nest, so the innermost span containing t is the latest one
    // started by t, or the nearest of its ancestors still open at t
    def innermost(t: Double): Option[Span] = {
      val i = java.util.Arrays.binarySearch(starts, t) match {
        case j if j >= 0 => j
        case j => -j - 2
      }
      var s = if (i >= 0) Some(spans(i)) else None
      while (s.exists(_.end < t))
        s = s.flatMap(x => if (x.parent >= 0) Some(spans(x.parent)) else None)
      s
    }
    synchronized {
      jobs.foreach(j => innermost(j.start).foreach(_.jobs += 1))
      stageSubmits.foreach(t => innermost(t).foreach(_.stages += 1))
      tasks.foreach { t =>
        innermost(t.launch).foreach { s =>
          s.tasks += 1
          s.shuffleWriteBytes += t.shuffleBytes
          s.busyMs += t.finish - t.launch
        }
      }
      phases.foreach { case (t, d) => innermost(t).foreach(_.planningMs += d) }
      spans.foreach { s =>
        s.jobUnionMs = unionMs(jobs.map(j => (j.start max s.start, j.end min s.end)))
      }
    }
    val children = spans.groupBy(_.parent)
    spans.foreach { s =>
      s.selfMs = s.ms - unionMs(children.getOrElse(s.id, Nil).map(c => (c.start, c.end)))
    }
  }

  /** Work attributed to `s` and every span below it. */
  def subtree(s: Span): Seq[Span] = {
    val kids = spans.toSeq.groupBy(_.parent)
    def go(x: Span): Seq[Span] = x +: kids.getOrElse(x.id, Seq.empty[Span]).flatMap(go)
    go(s)
  }

  def toJson: String = {
    def num(d: Double) = Json.num(d)
    spans.map { s =>
      val attrs = s.attrs.map { case (k, v) => s""""$k":${num(v)}""" }.mkString(",")
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"op":${s.op},""" +
        s""""start_ms":${num(s.start)},"end_ms":${num(s.end)},"ms":${num(s.ms)},""" +
        s""""self_ms":${num(s.selfMs)},"jobs":${s.jobs},"stages":${s.stages},""" +
        s""""tasks":${s.tasks},"shuffle_write_bytes":${s.shuffleWriteBytes},""" +
        s""""busy_ms":${num(s.busyMs)},"planning_ms":${num(s.planningMs)},""" +
        s""""job_union_ms":${num(s.jobUnionMs)},"attrs":{$attrs}}"""
    }.mkString("{\"spans\":[\n", ",\n", "\n]}\n")
  }

  private def unionMs(intervals: Iterable[(Double, Double)]): Double = {
    var total = 0.0
    var curS, curE = Double.NaN
    intervals.filter { case (a, b) => b > a }.toSeq.sortBy(_._1).foreach { case (a, b) =>
      if (curE.isNaN || a > curE) {
        if (!curE.isNaN) total += curE - curS
        curS = a; curE = b
      } else curE = curE max b
    }
    if (!curE.isNaN) total += curE - curS
    total
  }
}

object Tracer {
  /** A Spark job: its interval, the SQL execution it ran under (-1 if
    * none) and the id of the RDD its final stage computes. */
  final case class JobEv(start: Double, end: Double, execution: Long, outputRdd: Int)
  private final case class TaskEv(launch: Double, finish: Double, shuffleBytes: Long)
}
