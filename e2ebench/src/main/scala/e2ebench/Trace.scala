package e2ebench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark work done between two snapshots of [[Counters]]. */
final case class Work(jobs: Long, stages: Long, tasks: Long, cpuMs: Double,
    runMs: Long, shuffleBytes: Long, bytesWritten: Long, recordsWritten: Long,
    planningMs: Long) {
  def -(o: Work): Work = Work(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, cpuMs - o.cpuMs, runMs - o.runMs,
    shuffleBytes - o.shuffleBytes, bytesWritten - o.bytesWritten,
    recordsWritten - o.recordsWritten, planningMs - o.planningMs)

  def +(o: Work): Work = Work(jobs + o.jobs, stages + o.stages,
    tasks + o.tasks, cpuMs + o.cpuMs, runMs + o.runMs,
    shuffleBytes + o.shuffleBytes, bytesWritten + o.bytesWritten,
    recordsWritten + o.recordsWritten, planningMs + o.planningMs)
}

/** Job, stage and task counters from a SparkListener, and the analysis,
  * optimization and planning phase times of every finished query from a
  * QueryExecutionListener. Shuffle bytes are bytes written by map tasks.
  */
final class Counters extends SparkListener with QueryExecutionListener {
  private var w = Work(0, 0, 0, 0.0, 0, 0, 0, 0, 0)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized { w = w.copy(jobs = w.jobs + 1) }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { w = w.copy(stages = w.stages + 1) }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    w = if (m == null) w.copy(tasks = w.tasks + 1)
    else w.copy(tasks = w.tasks + 1,
      cpuMs = w.cpuMs + m.executorCpuTime / 1e6,
      runMs = w.runMs + m.executorRunTime,
      shuffleBytes = w.shuffleBytes + m.shuffleWriteMetrics.bytesWritten,
      bytesWritten = w.bytesWritten + m.outputMetrics.bytesWritten,
      recordsWritten = w.recordsWritten + m.outputMetrics.recordsWritten)
  }

  private def planned(qe: QueryExecution): Unit = synchronized {
    val phases = qe.tracker.phases
    val ms = Seq("analysis", "optimization", "planning")
      .flatMap(phases.get).map(_.durationMs).sum
    w = w.copy(planningMs = w.planningMs + ms)
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = planned(qe)

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = planned(qe)

  /** Counters after every event queued so far has been delivered. */
  def snapshot(spark: SparkSession): Work = {
    ListenerBusDrain(spark.sparkContext)
    synchronized(w)
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(spark: SparkSession): Unit = {
    ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
}

final case class Span(id: Int, parent: Int, op: Long, name: String,
    startNs: Long, var endNs: Long)

/** In-memory spans: name, start, end, parent span and operation id. */
final class Spans {
  val all = ArrayBuffer.empty[Span]
  private var open = List.empty[Span]
  private var op = 0L

  /** A new operation id for the spans that follow. */
  def nextOp(): Unit = op += 1

  def apply[T](name: String)(f: => T): T = {
    val s = Span(all.size, open.headOption.map(_.id).getOrElse(-1), op,
      name, System.nanoTime(), 0L)
    all += s
    open = s :: open
    try f
    finally {
      s.endNs = System.nanoTime()
      open = open.tail
    }
  }

  /** Per span name: total, self (minus child spans) and count. */
  def selfTimes: Map[String, Map[String, Double]] = {
    val childNs = all.groupBy(_.parent).map { case (p, cs) =>
      p -> cs.map(c => c.endNs - c.startNs).sum }
    all.groupBy(_.name).map { case (name, ss) =>
      val total = ss.map(s => s.endNs - s.startNs).sum
      val self = ss.map(s => s.endNs - s.startNs - childNs.getOrElse(s.id, 0L)).sum
      name -> Map("total_ms" -> total / 1e6, "self_ms" -> self / 1e6,
        "count" -> ss.size.toDouble)
    }
  }

  def rows: Seq[Map[String, Any]] = all.toSeq.map(s => Map(
    "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
    "start_ns" -> s.startNs, "end_ns" -> s.endNs))
}
