package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.perfbench.ListenerBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer, recorded from the benchmark's side of
  * the call. Times are epoch milliseconds on the same clock as Spark's
  * listener events; `op` is the closed-loop operation the call belongs
  * to. */
final case class Span(id: Int, name: String, startMs: Double, endMs: Double,
                      parent: Int, op: Int, attrs: Map[String, String]) {
  def durS: Double = (endMs - startMs) / 1000.0
  def contains(t: Double): Boolean = t >= startMs && t <= endMs
}

/** In-memory span recorder. Disabled, `span` only runs its body. */
final class Tracer {
  @volatile var enabled = false
  private val t0Nano = System.nanoTime()
  private val t0Ms = System.currentTimeMillis().toDouble
  def nowMs: Double = t0Ms + (System.nanoTime() - t0Nano) / 1e6

  val spans = ArrayBuffer[Span]()
  private var stack: List[(Int, scala.collection.mutable.Map[String, String])] = Nil
  private var nextId = 0
  var currentOp: Int = -1

  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      val attrs = scala.collection.mutable.Map[String, String]()
      stack = (id, attrs) :: stack
      val s = nowMs
      try f
      finally {
        stack = stack.tail
        spans += Span(id, name, s, nowMs, parent, currentOp, attrs.toMap)
      }
    }

  /** Attaches a key/value to the innermost open span. */
  def annotate(key: String, value: Any): Unit =
    if (enabled) stack.headOption.foreach(_._2(key) = value.toString)
}

final case class JobRec(id: Int, startMs: Long, var endMs: Long, stageIds: Seq[Int])
final case class StageRec(id: Int, doneMs: Long)
final case class TaskRec(stageId: Int, launchMs: Long, finishMs: Long, cpuNs: Long, runMs: Long,
                         gcMs: Long, inputBytes: Long, shuffleWrite: Long, shuffleRead: Long,
                         spill: Long)
/** One executed query: its planning-phase interval and summed phase
  * times, and the aggregate routes its executed plan contains. */
final case class QeRec(planStartMs: Long, planEndMs: Long, planS: Double,
                       rowRoute: Boolean, kernelRoute: Boolean)

/** Spark substrate events (jobs, stages, tasks) and executed queries,
  * kept in memory for attribution to benchmark spans after the run. */
final class SparkEvents extends SparkListener with QueryExecutionListener {
  val jobs = ArrayBuffer[JobRec]()
  val stages = ArrayBuffer[StageRec]()
  val tasks = ArrayBuffer[TaskRec]()
  val queries = ArrayBuffer[QeRec]()
  /** (task finish time, ms the task waited between stage submit and launch) */
  val waits = ArrayBuffer[(Long, Long)]()
  private val stageSubmit = scala.collection.mutable.Map[(Int, Int), Long]()

  /** Starts receiving the session's events. */
  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  /** Stops receiving them, once every event posted so far has arrived. */
  def detach(spark: SparkSession): Unit = {
    ListenerBus.waitUntilEmpty(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += JobRec(e.jobId, e.time, -1L, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val i = e.stageInfo
    stageSubmit((i.stageId, i.attemptNumber())) =
      i.submissionTime.getOrElse(System.currentTimeMillis())
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stages += StageRec(i.stageId, i.completionTime.getOrElse(System.currentTimeMillis()))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val ti = e.taskInfo
    val m = e.taskMetrics
    val submit = stageSubmit.getOrElse((e.stageId, e.stageAttemptId), ti.launchTime)
    if (m != null) {
      tasks += TaskRec(e.stageId, ti.launchTime, ti.finishTime, m.executorCpuTime,
        m.executorRunTime, m.jvmGCTime, m.inputMetrics.bytesRead,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled)
      waits += (ti.finishTime -> (ti.launchTime - submit).max(0L))
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    if (phases.nonEmpty) {
      val start = phases.values.map(_.startTimeMs).min
      val end = phases.values.map(_.endTimeMs).max
      val planS = phases.values.map(_.durationMs).sum / 1000.0
      val nodes = Trace.nodes(qe.executedPlan).toSeq
      val row = nodes.exists {
        case a: BaseAggregateExec =>
          a.aggregateExpressions.exists(_.aggregateFunction.isInstanceOf[graft.agg.CofactorAggregate])
        case _ => false
      }
      val kernel = nodes.exists(n =>
        n.getClass.getName.startsWith("graft.plans.") && n.getClass.getSimpleName.endsWith("KernelExec"))
      synchronized { queries += QeRec(start, end, planS, row, kernel) }
    }
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object Trace {

  /** Every node of an executed plan, through adaptive wrappers, query
    * stages and subqueries. */
  def nodes(p: SparkPlan): Iterator[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => Iterator(q) ++ nodes(q.plan)
    case other =>
      Iterator(other) ++ other.children.iterator.flatMap(nodes) ++
        other.subqueries.iterator.flatMap(nodes)
  }

  /** A span's self time: its duration minus the part of its interval
    * covered by its child spans and the Spark jobs that ran inside it. */
  def selfTimeS(s: Span, children: Seq[Span], jobs: Seq[JobRec]): Double = {
    val clip = (a: Double, b: Double) => (math.max(a, s.startMs), math.min(b, s.endMs))
    val covered = children.map(c => clip(c.startMs, c.endMs)) ++
      jobs.filter(j => j.endMs > 0).map(j => clip(j.startMs.toDouble, j.endMs.toDouble))
    s.durS - Stats.unionLength(covered) / 1000.0
  }
}
