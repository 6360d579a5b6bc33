package org.apache.spark.sql.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Task counters summed per Spark job. */
final case class JobCounters(tasks: Long, runMs: Long, gcMs: Long,
                             shuffleBytes: Long, spillBytes: Long)

/** One Spark job: its submission time (epoch ms), the SQL execution that
  * issued it (if any), and its tasks' counters once they have ended.
  */
final case class JobRecord(jobId: Int, startMs: Long, executionId: Option[Long],
                           counters: JobCounters)

/** One SQL execution (one DataFrame action or write command): interval,
  * call sites, and counters read from its executed plan.
  */
final case class ExecRecord(id: Long, startMs: Long, endMs: Long,
                            description: String, callSite: String,
                            plan: Map[String, Double])

/** Listener for the traced run. Records jobs, task counters and SQL
  * executions; the benchmark assigns them to its spans afterwards. Lives
  * under `org.apache.spark.sql` to read the executed plan the execution-end
  * event carries and to drain the listener bus.
  */
final class SparkCounters extends SparkListener {
  private val jobStarts = mutable.Map.empty[Int, (Long, Option[Long])]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val perJob = mutable.Map.empty[Int, JobCounters]
  private val execStarts = mutable.Map.empty[Long, SparkListenerSQLExecutionStart]
  private val execs = mutable.ArrayBuffer.empty[ExecRecord]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val exec = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong)
    jobStarts(e.jobId) = (e.time, exec)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) stageJob.get(e.stageId).foreach { job =>
      val c = perJob.getOrElse(job, JobCounters(0, 0, 0, 0, 0))
      perJob(job) = JobCounters(c.tasks + 1, c.runMs + m.executorRunTime,
        c.gcMs + m.jvmGCTime, c.shuffleBytes + m.shuffleWriteMetrics.bytesWritten,
        c.spillBytes + m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized { execStarts(s.executionId) = s }
    case end: SparkListenerSQLExecutionEnd =>
      val plan = Option(end.qe)
        .flatMap(qe => scala.util.Try(SparkCounters.planCounters(qe.executedPlan)).toOption)
        .getOrElse(Map.empty)
      synchronized {
        execStarts.remove(end.executionId).foreach { s =>
          execs += ExecRecord(s.executionId, s.time, end.time, s.description,
            s.details, plan)
        }
      }
    case _ =>
  }

  /** Everything recorded so far; call after [[SparkCounters.drain]]. */
  def jobs: Seq[JobRecord] = synchronized {
    jobStarts.toSeq.sortBy(_._1).map { case (id, (t, exec)) =>
      JobRecord(id, t, exec, perJob.getOrElse(id, JobCounters(0, 0, 0, 0, 0)))
    }
  }
  def executions: Seq[ExecRecord] = synchronized(execs.toSeq.sortBy(_.startMs))
}

object SparkCounters extends AdaptiveSparkPlanHelper {

  /** Block until every event posted so far has reached the listeners. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  private def metric(p: SparkPlan, name: String): Double =
    p.metrics.get(name).map(_.value.toDouble).getOrElse(0.0)

  /** Counters of an executed plan (AQE stages included): files and bytes a
    * scan read and the rows it produced, what a write command wrote,
    * exchanges planned, and the distinct (id_a, id_b) candidate rows of a
    * pair-generating aggregate.
    */
  def planCounters(root: SparkPlan): Map[String, Double] = {
    val acc = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val pairAggs = mutable.ArrayBuffer.empty[Double]
    foreach(root) {
      case w: DataWritingCommandExec =>
        acc("write.files") += metric(w, "numFiles")
        acc("write.bytes") += metric(w, "numOutputBytes")
        acc("write.rows") += metric(w, "numOutputRows")
      case x: Exchange => acc("exchanges") += 1
      case a: HashAggregateExec
          if a.aggregateExpressions.isEmpty &&
            a.groupingExpressions.map(_.name) == Seq("id_a", "id_b") =>
        pairAggs += metric(a, "numOutputRows")
      case p if p.nodeName.startsWith("Scan ") =>
        acc("scan.files") += metric(p, "numFiles")
        acc("scan.bytes") += metric(p, "filesSize")
        acc("scan.rows") += metric(p, "numOutputRows")
      case _ =>
    }
    // partial and final aggregates both match; the final one holds the
    // globally distinct count, which is the smaller
    if (pairAggs.nonEmpty) acc("pairs.distinct") = pairAggs.min
    acc.toMap
  }
}
