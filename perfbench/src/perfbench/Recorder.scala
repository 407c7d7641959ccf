package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a call the benchmark made into an engine module. `op` is the
  * operation it belongs to (0 = outside any measured operation).
  */
final case class Span(id: Int, parent: Int, op: Int, name: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder. Spans are only kept when tracing is on; the
  * untraced run pays one branch per call.
  */
final class Tracer(val enabled: Boolean) {
  private val buf = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 1
  @volatile var op = 0

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = synchronized { val i = nextId; nextId += 1; i }
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        add(Span(id, parent, op, name, t0, t1))
      }
    }

  def add(s: Span): Unit = synchronized { buf += s }
  def newId(): Int = synchronized { val i = nextId; nextId += 1; i }
  def spans: Seq[Span] = synchronized(buf.toList)

  /** Self time per span name: each span's duration minus the time its
    * direct children cover (children of one span never overlap here:
    * they are sequential calls on the driver thread).
    */
  def selfMs: Map[String, Double] = {
    val all = spans
    val childMs = all.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.ms).sum }
    all.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => s.ms - childMs.getOrElse(s.id, 0.0)).sum
    }
  }
}

/** Spark-side counters, read from the public listener, plan and progress
  * APIs. Jobs are attributed to operations through the `perfbench.op`
  * local property the harness sets before each operation; SQL executions
  * (planning phases, scan time) by the time their analysis started.
  */
final class Recorder extends SparkListener with QueryExecutionListener {
  import Recorder.Qe
  final class Job(val op: Int, val startMs: Long, @volatile var endMs: Long)
  final class Agg {
    var tasks, runMs, cpuNs, gcMs, shW, shR, fetchMs, memSpill, diskSpill,
      inBytes, resultBytes, schedMs = 0L
    val durations = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  }

  val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageOp = new ConcurrentHashMap[Int, Int]()
  private val aggs = mutable.Map.empty[Int, Agg]
  private val stages = mutable.Map.empty[Int, mutable.Set[Int]]
  private val qes = mutable.ArrayBuffer.empty[Qe]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty("perfbench.op")))
      .map(_.toInt).getOrElse(0)
    jobs.put(e.jobId, new Job(op, e.time, -1L))
    e.stageIds.foreach(s => stageOp.put(s, op))
    synchronized { stages.getOrElseUpdate(op, mutable.Set.empty) ++= e.stageIds }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val op = stageOp.getOrDefault(e.stageId, 0)
    val i = e.taskInfo
    val total = i.finishTime - i.launchTime
    val sched = math.max(0L, total - m.executorRunTime - m.executorDeserializeTime -
      m.resultSerializationTime - (if (i.gettingResult) i.finishTime - i.gettingResultTime else 0L))
    synchronized {
      val a = aggs.getOrElseUpdate(op, new Agg)
      a.tasks += 1
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shW += m.shuffleWriteMetrics.bytesWritten
      a.shR += m.shuffleReadMetrics.totalBytesRead
      a.fetchMs += m.shuffleReadMetrics.fetchWaitTime
      a.memSpill += m.memoryBytesSpilled
      a.diskSpill += m.diskBytesSpilled
      a.inBytes += m.inputMetrics.bytesRead
      a.resultBytes += m.resultSize
      a.schedMs += sched
      a.durations.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    if (ph.isEmpty) return
    def d(k: String) = ph.get(k).map(p => p.endTimeMs - p.startTimeMs).getOrElse(0L)
    val scan = nodes(qe.executedPlan).flatMap(_.metrics.get("scanTime")).map(_.value).sum
    synchronized {
      qes += Qe(ph.values.map(_.startTimeMs).min, d("analysis"), d("optimization"),
        d("planning"), scan)
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Every physical node of the final plan, through AQE's wrappers. */
  private def nodes(plan: SparkPlan): Seq[SparkPlan] = plan match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case r: ReusedExchangeExec => r +: nodes(r.child)
    case p => p +: p.children.flatMap(nodes)
  }

  /** Aggregates over the given operations. */
  def agg(ops: Set[Int]): Agg = synchronized {
    val out = new Agg
    aggs.foreach { case (op, a) if ops(op) =>
      out.tasks += a.tasks; out.runMs += a.runMs; out.cpuNs += a.cpuNs; out.gcMs += a.gcMs
      out.shW += a.shW; out.shR += a.shR; out.fetchMs += a.fetchMs
      out.memSpill += a.memSpill; out.diskSpill += a.diskSpill; out.inBytes += a.inBytes
      out.resultBytes += a.resultBytes; out.schedMs += a.schedMs
      out.durations ++= a.durations
    case _ => }
    out
  }

  def stageCount(ops: Set[Int]): Int = synchronized {
    stages.collect { case (op, s) if ops(op) => s.size }.sum
  }

  def jobsOf(ops: Set[Int]): Seq[Job] = jobs.values.asScala.filter(j => ops(j.op)).toSeq

  def qesIn(fromMs: Long, toMs: Long): Seq[Qe] = synchronized {
    qes.filter(q => q.startMs >= fromMs && q.startMs <= toMs).toList
  }
}

object Recorder {
  /** Planning phases and scan time of one SQL execution. */
  final case class Qe(startMs: Long, analysisMs: Long, optimizerMs: Long,
      physicalMs: Long, scanMs: Long)
}

/** Micro-batch progress of every streaming query, kept in memory. */
final class StreamRecorder extends StreamingQueryListener {
  import StreamingQueryListener._
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.streaming.StreamingQueryProgress]()
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = progress.add(e.progress)
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
}
