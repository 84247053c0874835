package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** One timed public call (or a group of them). Times are driver wall
  * clock: `startMs`/`endMs` for interval arithmetic against Spark's
  * listener timestamps, nanos for the durations themselves. */
final class Span(val id: Int, val name: String, val parent: Int,
    val phase: String, val startMs: Long, val startNs: Long) {
  var endMs: Long = startMs
  var endNs: Long = startNs
  var builtNs: Long = -1L
  var builtMs: Long = -1L
  var rddsAfter: Int = 0
  val counters: mutable.Map[String, Double] = mutable.Map.empty
  def wallMs: Double = (endNs - startNs) / 1e6
  /** Time until the call under test returned (eager work inside it). */
  def buildMs: Double = if (builtNs < 0) wallMs else (builtNs - startNs) / 1e6
  def group: String = s"perfbench-$id"
}

/** What the Spark listener saw of one job. */
final case class JobRec(jobId: Int, group: Option[String], startMs: Long,
    endMs: Long, stages: Seq[Int])

/** Per-stage task totals. */
final class StageAgg {
  var cpuNs = 0L; var shuffleWrite = 0L; var spillDisk = 0L; var recordsRead = 0L
}

/** Records spans for every run; with tracing on it also tags each
  * span's Spark jobs with a job group, and a `SparkListener` plus a
  * `QueryExecutionListener` attribute jobs, task metrics and planning
  * time back to the span. The benchmark's closed loop has a single
  * client thread, so the innermost open span owns every job submitted
  * while it is open. */
final class Tracer(spark: SparkSession, val runId: String) {
  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var traced = false
  var phase: String = "setup"

  // listener state, written on the listener-bus thread
  private val jobStarts = mutable.Map.empty[Int, (Option[String], Long, Seq[Int])]
  private val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val stages = mutable.Map.empty[Int, StageAgg]
  private val plans = mutable.ArrayBuffer.empty[(Long, Long)] // (phase start ms, duration ms)

  private val listener = new SparkListener {
    override def onJobStart(j: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val g = Option(j.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      jobStarts(j.jobId) = (g, j.time, j.stageIds)
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobStarts.remove(j.jobId).foreach { case (g, t0, st) => jobs += JobRec(j.jobId, g, t0, j.time, st) }
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = t.taskMetrics
      if (m != null) {
        val a = stages.getOrElseUpdate(t.stageId, new StageAgg)
        a.cpuNs += m.executorCpuTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spillDisk += m.diskBytesSpilled
        a.recordsRead += m.inputMetrics.recordsRead
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases.values.toSeq
      Tracer.this.synchronized { ph.foreach(p => plans += ((p.startTimeMs, p.durationMs))) }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  def tracing: Boolean = traced

  def startTracing(): Unit = if (!traced) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    traced = true
  }

  def stopTracing(): Unit = if (traced) {
    drain()
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    traced = false
  }

  /** Wait until the listener bus has delivered every posted event. */
  def drain(): Unit = org.apache.spark.perfbenchbridge.Bus.drain(sc)

  def span[T](name: String)(body: => T): T = {
    val parent = stack.headOption
    val s = new Span(spans.size, name, parent.fold(-1)(_.id), phase,
      System.currentTimeMillis(), System.nanoTime())
    spans += s
    stack = s :: stack
    if (traced) sc.setJobGroup(s.group, name, interruptOnCancel = false)
    try body
    finally {
      s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis()
      stack = stack.tail
      if (traced) {
        parent match {
          case Some(p) => sc.setJobGroup(p.group, p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
        // resource hygiene, with no clearCache() anywhere in the loop
        s.rddsAfter = sc.getPersistentRDDs.size
      }
    }
  }

  /** Mark that the call under test has returned inside the open span. */
  def built(): Unit = stack.headOption.foreach { s =>
    s.builtNs = System.nanoTime(); s.builtMs = System.currentTimeMillis()
  }

  /** Add to a named counter of the innermost open span. */
  def count(key: String, v: Double): Unit =
    stack.headOption.foreach(s => s.counters(key) = s.counters.getOrElse(key, 0.0) + v)

  def all: Seq[Span] = spans.toSeq
  def jobRecords: Seq[JobRec] = synchronized(jobs.toSeq)
  def stageAgg(id: Int): Option[StageAgg] = synchronized(stages.get(id))
  def planEvents: Seq[(Long, Long)] = synchronized(plans.toSeq)
}

/** Pure span arithmetic, kept apart so it can be tested without Spark. */
object SpanMath {
  /** Wall minus the walls of the direct children. */
  def selfTimes(spans: Seq[Span]): Map[Int, Double] = {
    val childWall = spans.filter(_.parent >= 0).groupBy(_.parent)
      .map { case (p, cs) => p -> cs.map(_.wallMs).sum }
    spans.map(s => s.id -> (s.wallMs - childWall.getOrElse(s.id, 0.0))).toMap
  }

  /** Length of the union of [start, end) intervals, clipped to [lo, hi). */
  def unionLength(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L; var curA = Long.MinValue; var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Ids of `root` and all its descendants. */
  def subtree(spans: Seq[Span], root: Int): Set[Int] = {
    val kids = spans.filter(_.parent >= 0).groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.id) }
    def go(id: Int): Seq[Int] = id +: kids.getOrElse(id, Nil).flatMap(go)
    go(root).toSet
  }

  /** Time from the end of the last job that finished by `returnedMs` to
    * `returnedMs`; jobs ending later ran after the call returned. */
  def sinceLastJob(jobEnds: Seq[Long], returnedMs: Long): Option[Double] =
    jobEnds.filter(_ <= returnedMs).maxOption.map(e => (returnedMs - e).toDouble)

  /** The innermost span whose [startMs, endMs] holds `t`. */
  def innermostAt(spans: Seq[Span], t: Long): Option[Span] =
    spans.filter(s => s.startMs <= t && t <= s.endMs).maxByOption(_.id)
}
