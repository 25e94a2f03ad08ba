package perfbench

import java.util.IdentityHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.PerfbenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One span of the traced run: workload → pass → action → Spark job →
  * stage. Times are epoch milliseconds, the clock Spark stamps its
  * scheduler events with.
  */
final case class Span(id: Long, parent: Long, kind: String, name: String,
    start: Long, end: Long, attrs: Map[String, Double] = Map.empty)

/** Task metrics of one stage, summed over its finished tasks. */
final class StageAgg {
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var resultRunMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var peakMemBytes = 0L
}

final case class StageRec(id: Int, name: String, submitted: Long, completed: Long,
    scan: Boolean, agg: StageAgg)
final case class JobRec(id: Int, start: Long, var end: Long, stageIds: Seq[Int])

/** Counts read from the SQL metrics of the executed (final AQE) plans. */
final class PlanCounts {
  var filesRead = 0L
  var scanBytes = 0L
  var outputFiles = 0L
  var bandJoinRows = 0L
}

/** Everything the listeners saw while one action ran. */
final case class ActionEvents(jobs: Seq[JobRec], stages: Seq[StageRec], plans: PlanCounts)

/** The traced run's listeners: a SparkListener for jobs, stages and task
  * metrics, and a QueryExecutionListener for the SQL metrics of each
  * executed plan. Registered by the benchmark only when tracing, so the
  * end-to-end runs pay nothing for them. [[take]] drains the listener bus
  * and hands over (and forgets) what was seen since the last call, which
  * is how events are attributed to the action that caused them: the
  * benchmark runs one action at a time.
  */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val jobs = ArrayBuffer.empty[JobRec]
  private val stages = ArrayBuffer.empty[StageRec]
  private val aggs = scala.collection.mutable.Map.empty[Int, StageAgg]
  private var plans = new PlanCounts
  private var seen = new IdentityHashMap[SparkPlan, java.lang.Boolean]

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  def stop(): Unit = {
    spark.listenerManager.unregister(this)
    spark.sparkContext.removeSparkListener(this)
  }

  def take(): ActionEvents = {
    PerfbenchBridge.drainListenerBus(spark.sparkContext)
    synchronized {
      val out = ActionEvents(jobs.toList, stages.toList, plans)
      jobs.clear(); stages.clear(); aggs.clear()
      plans = new PlanCounts
      seen = new IdentityHashMap[SparkPlan, java.lang.Boolean]
      out
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += JobRec(e.jobId, e.time, e.time, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val a = aggs.getOrElseUpdate(e.stageId, new StageAgg)
      a.tasks += 1
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      if (e.taskType == "ResultTask") a.resultRunMs += m.executorRunTime
      a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      a.spillBytes += m.diskBytesSpilled
      a.peakMemBytes = math.max(a.peakMemBytes, m.peakExecutionMemory)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val scan = i.rddInfos.exists(_.name == "FileScanRDD")
    stages += StageRec(i.stageId, i.name, i.submissionTime.getOrElse(0L),
      i.completionTime.getOrElse(0L), scan, aggs.getOrElse(i.stageId, new StageAgg))
  }

  override def onSuccess(funcName: String,
      qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit = synchronized {
    walk(qe.executedPlan)
  }

  override def onFailure(funcName: String,
      qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()

  private def metric(p: SparkPlan, name: String): Long =
    p.metrics.get(name).map(_.value).getOrElse(0L)

  /** Visits every physical node once per action, following the edges a
    * plain tree walk misses: the final plan inside AQE, query stages,
    * reused exchanges, command plans and the plans behind cached frames.
    */
  private def walk(p: SparkPlan): Unit =
    if (seen.put(p, java.lang.Boolean.TRUE) == null) {
      p match {
        case s: FileSourceScanExec =>
          plans.filesRead += metric(s, "numFiles")
          plans.scanBytes += metric(s, "filesSize")
        case w: DataWritingCommandExec =>
          plans.outputFiles += w.cmd.metrics.get("numFiles").map(_.value).getOrElse(0L)
        case j: BaseJoinExec if j.joinType == Inner &&
            j.leftKeys.exists(_.references.exists(_.name == "band")) =>
          plans.bandJoinRows += metric(j, "numOutputRows")
        case _ =>
      }
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case r: ReusedExchangeExec => walk(r.child)
        case c: CommandResultExec => walk(c.commandPhysicalPlan)
        case i: InMemoryTableScanExec => walk(i.relation.cachedPlan)
        case _ =>
      }
      p.children.foreach(walk)
      p.subqueries.foreach(walk)
    }
}

object Tracer {

  /** Milliseconds of `[start, end)` covered by the union of `ivs`. */
  def covered(start: Long, end: Long, ivs: Seq[(Long, Long)]): Long = {
    val clipped = ivs.map { case (s, e) => (math.max(s, start), math.min(e, end)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var curS = -1L
    var curE = -1L
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Spans as JSON lines, each with its self time: its duration minus the
    * part of it that its children cover.
    */
  def writeJsonl(spans: Seq[Span], path: String): Unit = {
    val kids = spans.groupBy(_.parent)
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      val childIvs = kids.getOrElse(s.id, Nil).map(c => (c.start, c.end))
      val self = (s.end - s.start) - covered(s.start, s.end, childIvs)
      val attrs = s.attrs.map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString(",")
      w.println(s"""{"id":${s.id},"parent":${s.parent},"kind":"${s.kind}",""" +
        s""""name":"${Json.esc(s.name)}","start_ms":${s.start},"end_ms":${s.end},""" +
        s""""dur_ms":${s.end - s.start},"self_ms":$self,"attrs":{$attrs}}""")
    } finally w.close()
  }
}

object Json {
  def esc(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
}
