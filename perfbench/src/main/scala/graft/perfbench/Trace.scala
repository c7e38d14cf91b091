package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** Counters the listeners add to. Every field only grows; a span reads
  * its share as the difference between two snapshots. */
final case class Counters(
    jobs: Long = 0, tasks: Long = 0,
    taskRunMs: Long = 0, taskDeserMs: Long = 0, schedDelayMs: Long = 0,
    gcMs: Long = 0, shuffleWriteBytes: Long = 0, spillBytes: Long = 0,
    bytesWritten: Long = 0,
    planningMs: Long = 0, exchanges: Long = 0,
    triggers: Long = 0, triggerMs: Long = 0, addBatchMs: Long = 0,
    triggerJobs: Long = 0) {
  def -(o: Counters): Counters = zip(o)(_ - _)
  def +(o: Counters): Counters = zip(o)(_ + _)
  private def zip(o: Counters)(f: (Long, Long) => Long): Counters = {
    val v = productIterator.zip(o.productIterator)
      .map { case (a: Long, b: Long) => f(a, b) }.toSeq
    Counters(v(0), v(1), v(2), v(3), v(4), v(5), v(6), v(7), v(8), v(9), v(10),
      v(11), v(12), v(13), v(14))
  }
}

/** One timed call into a layer. `parent` is the span that made the
  * call (0 for a root); spans of one operation share `trace`. */
final case class Span(id: Long, parent: Long, trace: Long, name: String,
    startNs: Long, endNs: Long, counters: Counters) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** One streaming trigger that processed input. */
final case class Trigger(totalMs: Long, addBatchMs: Long)

/** Per-trigger progress of the streaming queries, recorded on every run:
  * trigger latency is an end-to-end figure of the streaming workload. */
final class TriggerLog extends StreamingQueryListener {
  private val buf = mutable.ArrayBuffer.empty[Trigger]
  def snapshot: Vector[Trigger] = synchronized(buf.toVector)
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    // idle polls report no input; only triggers that ran a batch count
    if (p.numInputRows > 0) synchronized {
      def ms(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      buf += Trigger(ms("triggerExecution"), ms("addBatch"))
    }
  }
}

/** The traced run's recorder: three listeners registered from outside
  * the engine (Spark scheduler, query execution, streaming progress)
  * feed [[Counters]]; [[span]] brackets each call into a layer and keeps
  * the finished spans in memory until the run writes them out. */
final class Tracer(spark: SparkSession) {
  @volatile private var c = Counters()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0L
  private var stack: List[Long] = Nil
  private var traceId = 0L
  private var enabled = false

  private def add(f: Counters => Counters): Unit = synchronized { c = f(c) }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val inTrigger = Option(e.properties)
        .flatMap(p => Option(p.getProperty("streaming.sql.batchId"))).isDefined
      add(x => x.copy(jobs = x.jobs + 1,
        triggerJobs = x.triggerJobs + (if (inTrigger) 1 else 0)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val i = e.taskInfo
      if (m != null && i != null) {
        val delay = math.max(0L, i.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - i.gettingResultTime)
        add(x => x.copy(tasks = x.tasks + 1,
          taskRunMs = x.taskRunMs + m.executorRunTime,
          taskDeserMs = x.taskDeserMs + m.executorDeserializeTime,
          schedDelayMs = x.schedDelayMs + delay,
          gcMs = x.gcMs + m.jvmGCTime,
          shuffleWriteBytes = x.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
          spillBytes = x.spillBytes + m.memoryBytesSpilled + m.diskBytesSpilled,
          bytesWritten = x.bytesWritten + m.outputMetrics.bytesWritten))
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      val ms = Seq("analysis", "optimization", "planning")
        .flatMap(phases.get).map(p => p.endTimeMs - p.startTimeMs).sum
      val ex = Tracer.exchanges(qe.executedPlan)
      add(x => x.copy(planningMs = x.planningMs + ms, exchanges = x.exchanges + ex))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0) {
        def ms(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
        add(x => x.copy(triggers = x.triggers + 1,
          triggerMs = x.triggerMs + ms("triggerExecution"),
          addBatchMs = x.addBatchMs + ms("addBatch")))
      }
    }
  }

  /** Register the listeners; the run records spans until [[stop]]. */
  def start(): Unit = if (!enabled) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    enabled = true
  }

  def stop(): Unit = if (enabled) {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    enabled = false
  }

  def isOn: Boolean = enabled

  /** Time `body` as a span named `name`, a child of the enclosing span.
    * With tracing off this only runs `body`. */
  def span[T](name: String)(body: => T): T = {
    if (!enabled) return body
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    val before = c
    val id = { nextId += 1; nextId }
    val parent = stack.headOption.getOrElse(0L)
    if (parent == 0L) traceId = id
    stack = id :: stack
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      stack = stack.tail
      spans += Span(id, parent, traceId, name, t0, t1, c - before)
    }
  }

  def finished: Vector[Span] = spans.toVector

  /** Spans as JSON lines (name, ids, start/end in ns, counter deltas). */
  def spansJson: String = spans.map { s =>
    Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "trace" -> s.trace,
      "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
      "jobs" -> s.counters.jobs, "tasks" -> s.counters.tasks,
      "task_run_ms" -> s.counters.taskRunMs, "planning_ms" -> s.counters.planningMs))
  }.mkString("\n")
}

object Tracer {
  /** Exchanges that ran in an executed plan: adaptive plans are walked
    * through their final stages; a reused exchange does no work and is
    * not counted. */
  def exchanges(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case s: QueryStageExec => exchanges(s.plan)
    case e: Exchange => 1L + e.children.map(exchanges).sum
    case other =>
      other.children.map(exchanges).sum + other.subqueries.map(exchanges).sum
  }
}
