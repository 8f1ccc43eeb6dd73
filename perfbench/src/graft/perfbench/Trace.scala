package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.SortExec
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Spans and counts at the layer boundaries, recorded from the benchmark's
  * own calls into graft plus Spark's public listener and planner hooks.
  * With tracing off every method is a plain pass-through: no listener is
  * registered and nothing is recorded.
  *
  * Times are epoch milliseconds (the clock Spark's listener events use);
  * span boundaries are taken from `System.nanoTime` and mapped onto that
  * clock through one anchor, so they never step with wall-clock changes. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  import Tracer._

  private val anchorNs = System.nanoTime()
  private val anchorMs = System.currentTimeMillis().toDouble
  def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Span]
  private val counts = mutable.LinkedHashMap.empty[String, Double]

  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val stages = mutable.LinkedHashMap.empty[Int, StageAgg]
  val queries = mutable.ArrayBuffer.empty[Query]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobs(e.jobId) = Job(e.jobId, e.time.toDouble, Double.NaN, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(endMs = e.time.toDouble))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val a = stages.getOrElseUpdate(e.stageId, new StageAgg)
      a.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        a.runMs += m.executorRunTime
        a.gcMs += m.jvmGCTime
        a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
        a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        a.inputBytes += m.inputMetrics.bytesRead
        a.peakExecMem = math.max(a.peakExecMem, m.peakExecutionMemory)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases.map { case (k, p) =>
        k -> (p.startTimeMs.toDouble, p.endTimeMs.toDouble) }
      val helper = new AdaptiveSparkPlanHelper {}
      val plan = scala.util.Try(qe.executedPlan).toOption
      val exchanges = plan.map(p => helper.collect(p) { case x: Exchange => x }.size).getOrElse(0)
      val sorts = plan.map(p => helper.collect(p) { case x: SortExec => x }.size).getOrElse(0)
      Tracer.this.synchronized { queries += Query(ph, exchanges, sorts) }
    }
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Spans and counts are recorded only inside an op: set-up and warm-up
    * run the same code untraced. */
  private def recording: Boolean = enabled && open.nonEmpty

  def count(name: String, v: Double): Unit =
    if (recording) counts(name) = counts.getOrElse(name, 0.0) + v

  def countsSnapshot: Map[String, Double] = counts.toMap

  /** A span around `body`, a child of the innermost open span. */
  def span[T](name: String, layer: String)(body: => T): T =
    if (!recording) body
    else record(name, layer)(body)

  private def record[T](name: String, layer: String)(body: => T): T = {
    val parent = open.headOption
    val s = Span(spans.length, parent.map(_.id).getOrElse(-1),
      parent.map(_.op).getOrElse(spans.length), name, layer, nowMs, Double.NaN)
    spans += s
    open.push(s)
    try body
    finally {
      s.endMs = nowMs
      open.pop()
    }
  }

  /** A span around one Spark action of an op: the driver time inside it
    * that no job and no planning phase claims (job submission, adaptive
    * re-planning between stages, result and commit handling) is charged
    * to its layer, `driver`. */
  def action[T](body: => T): T = span("action", DriverLayer)(body)

  /** A root span: one op of the closed loop. The listener bus is drained
    * after the op, so its events are recorded before the next op starts. */
  def op[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      require(open.isEmpty, s"op $name started inside another span")
      try record(name, OpLayer)(body)
      finally org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
    }

  def close(): Unit = if (enabled) {
    org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  def opsIn(fromMs: Double): Seq[Span] = spans.filter(s => s.parent < 0 && s.startMs >= fromMs).toSeq
  def childrenOf(op: Span): Seq[Span] = spans.filter(s => s.op == op.id && s.id != op.id).toSeq
  def jobsIn(op: Span): Seq[Job] = synchronized {
    jobs.values.filter(j => j.startMs >= op.startMs && j.startMs <= op.endMs).toSeq
  }
  def queriesIn(op: Span): Seq[Query] = synchronized {
    queries.filter(q => q.startMs >= op.startMs && q.startMs <= op.endMs).toSeq
  }
  def stagesOf(js: Seq[Job]): Seq[StageAgg] = synchronized {
    js.flatMap(_.stageIds).distinct.flatMap(stages.get)
  }
}

object Tracer {
  val OpLayer = "op"
  val DriverLayer = "driver"

  final case class Span(id: Int, parent: Int, op: Int, name: String, layer: String,
                        startMs: Double, var endMs: Double) {
    def ms: Double = endMs - startMs
  }
  final case class Job(id: Int, startMs: Double, endMs: Double, stageIds: Seq[Int])
  final class StageAgg {
    var tasks = 0L
    var runMs = 0L
    var gcMs = 0L
    var shuffleWriteBytes = 0L
    var shuffleRecords = 0L
    var spillBytes = 0L
    var inputBytes = 0L
    var peakExecMem = 0L
  }
  final case class Query(phases: Map[String, (Double, Double)], exchanges: Int, sorts: Int) {
    def startMs: Double =
      if (phases.isEmpty) Double.NaN else phases.values.map(_._1).min
    def phaseMs(name: String): Double =
      phases.get(name).map { case (a, b) => b - a }.getOrElse(0.0)
  }

  /** Self-time partition of one op's wall time. Each instant of the op is
    * charged to exactly one layer: `exec` while a job of the op runs, else
    * `catalyst` while a planning phase runs, else the layer of the
    * innermost open span (the op root itself is `other`). The parts
    * therefore sum to the op's wall time; [[SelfTest]] checks that. */
  def selfTimes(op: Span, children: Seq[Span], jobs: Seq[(Double, Double)],
                phases: Seq[(Double, Double)]): Map[String, Double] = {
    val (t0, t1) = (op.startMs, op.endMs)
    def clip(iv: (Double, Double)) = (math.max(t0, iv._1), math.min(t1, iv._2))
    val js = jobs.map(clip).filter(iv => iv._2 > iv._1)
    val ps = phases.map(clip).filter(iv => iv._2 > iv._1)
    val cs = children.filter(_.ms > 0)
    val cuts = (Seq(t0, t1) ++ js.flatMap(iv => Seq(iv._1, iv._2)) ++
      ps.flatMap(iv => Seq(iv._1, iv._2)) ++
      cs.flatMap(s => Seq(math.max(t0, s.startMs), math.min(t1, s.endMs))))
      .filter(t => t >= t0 && t <= t1).distinct.sorted
    val out = mutable.LinkedHashMap.empty[String, Double]
    cuts.sliding(2).foreach {
      case Seq(a, b) if b > a =>
        val mid = (a + b) / 2
        def active(iv: (Double, Double)) = iv._1 <= mid && mid < iv._2
        val layer =
          if (js.exists(active)) "exec"
          else if (ps.exists(active)) "catalyst"
          else cs.filter(s => s.startMs <= mid && mid < s.endMs)
            .sortBy(s => -s.startMs).headOption.map(_.layer).getOrElse("other")
        out(layer) = out.getOrElse(layer, 0.0) + (b - a)
      case _ =>
    }
    out.toMap
  }
}
