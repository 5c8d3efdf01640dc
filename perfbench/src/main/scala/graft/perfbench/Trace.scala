package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed interval: spans nest through `parent` (0 for the root). */
final case class Span(id: Long, parent: Long, name: String, startUs: Long, endUs: Long)

/** Wall clock in epoch microseconds, with nanoTime resolution, so spans
  * recorded here and Spark's epoch-millisecond event times share an axis. */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def nowUs: Long = baseMs * 1000 + (System.nanoTime() - baseNs) / 1000
}

/** Per-job task totals, summed from task-end events. */
final class Counters {
  var tasks, stages = 0L
  var runMs, cpuNs, gcMs, shuffleWrite, shuffleRead, spill, input, output = 0L
}

/** The benchmark's own listeners. Jobs are attributed to calls through the
  * `bench:<key>:<call id>` job description the benchmark sets around each
  * call (by start time when a job carries no description); query
  * executions by their start time. Everything is kept in memory and
  * resolved after the listener bus has drained.
  */
final class Trace extends SparkListener with QueryExecutionListener {
  import Trace._

  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Int]
  val actions = mutable.ArrayBuffer.empty[Action]
  val execStartMs = mutable.Map.empty[Long, Long]
  private val blockMem = mutable.Map.empty[String, Long]
  private var heldBytes = 0L
  var peakHeldBytes = 0L

  /** Rules of `org.apache.spark.sql.graft` whose tracker time is the
    * extensions layer. */
  private val graftRules = Seq("RewriteMultiDistinctToRoaring", "RewriteRangeDistinctToRollup")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val desc = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
    jobs(e.jobId) = Job(e.jobId, desc, e.time, e.time)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    counters(e.stageInfo.stageId).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    counters(e.stageId).foreach { c =>
      c.tasks += 1
      if (m != null) {
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.diskBytesSpilled
        c.input += m.inputMetrics.bytesRead
        c.output += m.outputMetrics.bytesWritten
      }
    }
  }

  private def counters(stageId: Int): Option[Counters] =
    stageJob.get(stageId).flatMap(jobs.get).map(_.counters)

  /** Memory held by cached and pinned (checkpointed) RDD blocks. */
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val id = info.blockId.name
      val now = if (info.storageLevel.isValid) info.memSize else 0L
      heldBytes += now - blockMem.getOrElse(id, 0L)
      if (now > 0) blockMem(id) = now else blockMem.remove(id)
      peakHeldBytes = math.max(peakHeldBytes, heldBytes)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized { execStartMs(s.executionId) = s.time }
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit = record(qe)

  private def record(qe: QueryExecution): Unit = {
    val t = qe.tracker
    val phases = Seq("analysis", "optimization", "planning").flatMap(p =>
      t.phases.get(p).map(s => (p, s.startTimeMs, s.endTimeMs)))
    val rules = t.rules.collect { case (n, r) if graftRules.exists(n.endsWith) => r }
    val helper = new AdaptiveSparkPlanHelper {}
    val bcast = scala.util.Try(helper.collectWithSubqueries(qe.executedPlan) {
      case b: BroadcastExchangeExec => b.metrics.get("dataSize").map(_.value).getOrElse(0L)
    }.sum).getOrElse(0L)
    synchronized {
      actions += Action(qe.id, phases, rules.map(_.totalTimeNs).sum,
        rules.map(_.numInvocations).sum, rules.map(_.numEffectiveInvocations).sum, bcast)
    }
  }
}

object Trace {
  final case class Job(id: Int, desc: Option[String], startMs: Long, var endMs: Long,
      counters: Counters = new Counters)
  /** One action's plan phases (name, start ms, end ms), its time in the
    * graft rules and the bytes its broadcast exchanges carried. */
  final case class Action(id: Long, phases: Seq[(String, Long, Long)],
      ruleNs: Long, ruleRuns: Long, ruleHits: Long, broadcastBytes: Long)
}
