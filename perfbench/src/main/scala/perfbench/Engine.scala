package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** The benchmark's own engine probe, registered only for traced
  * repetitions. Jobs, and the stages and tasks they run, are attributed to
  * the op label the client thread had set (`Engine.label`) when the job
  * started; threads the client starts (a streaming query) inherit it. */
final class Engine(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  final class Acc {
    var jobs, stages, tasks, runMs, shuffleWrite, shuffleRead, spill = 0L
  }
  private val byLabel = mutable.Map.empty[String, Acc]
  private val stageLabel = mutable.Map.empty[Int, String]
  private val tasks = mutable.ArrayBuffer.empty[(Long, Long)]
  private val qes = mutable.ArrayBuffer.empty[(String, QueryExecution)]

  private def acc(label: String) = byLabel.getOrElseUpdate(label, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val label = Option(e.properties).flatMap(p =>
      Option(p.getProperty(Engine.Label))).getOrElse("")
    acc(label).jobs += 1
    e.stageIds.foreach(stageLabel(_) = label)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stageLabel.get(e.stageInfo.stageId).foreach(acc(_).stages += 1)
    }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageLabel.get(e.stageId).foreach { label =>
      val a = acc(label)
      a.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        a.runMs += m.executorRunTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
      tasks += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = synchronized {
    qes += ((funcName, qe))
  }
  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = ()

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }
  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
  /** Waits until every event posted so far has been delivered. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  /** Counters of the ops whose label satisfies `p`, summed. */
  def totals(p: String => Boolean): Acc = synchronized {
    val t = new Acc
    byLabel.foreach { case (l, a) if p(l) =>
      t.jobs += a.jobs; t.stages += a.stages; t.tasks += a.tasks
      t.runMs += a.runMs; t.shuffleWrite += a.shuffleWrite
      t.shuffleRead += a.shuffleRead; t.spill += a.spill
    case _ => }
    t
  }

  /** Wall time in [fromMs, toMs) during which at least one task ran. */
  def taskCoveredMs(fromMs: Long, toMs: Long): Long = synchronized {
    Trace.union(tasks.toSeq.map { case (s, e) =>
      (math.max(s, fromMs), math.min(e, toMs)) })
  }

  /** The query executions completed since the last call, oldest first
    * (call `drain` first). */
  def takeQueryExecutions(): Seq[(String, QueryExecution)] = synchronized {
    val out = qes.toSeq; qes.clear(); out
  }
}

object Engine {
  val Label = "perfbench.op"

  def label(sc: SparkContext, l: String): Unit = sc.setLocalProperty(Label, l)

  /** The `noop` write among an op's query executions: the writer reports
    * `write.mode("overwrite").save()` under the name "overwrite". */
  def noopWrite(qes: Seq[(String, QueryExecution)]): Option[QueryExecution] =
    qes.reverseIterator.collectFirst { case ("overwrite", qe) => qe }

  /** Analysis + optimization + planning time of `qe`, in seconds. */
  def planSeconds(qe: QueryExecution): Double =
    qe.tracker.phases.collect {
      case (p, s) if p != "parsing" => s.durationMs
    }.sum / 1000.0

  /** Sum of a named SQL metric over every node of an executed plan,
    * including adaptive stages and subqueries. */
  def planMetric(plan: SparkPlan, metric: String): Long = {
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec        => nodes(q.plan)
      case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
    }
    nodes(plan).flatMap(_.metrics.get(metric)).map(_.value).sum
  }
}
