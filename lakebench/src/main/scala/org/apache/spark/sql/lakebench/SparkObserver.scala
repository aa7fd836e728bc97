package org.apache.spark.sql.lakebench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** What Spark reports about one run, gathered by a [[SparkListener]] and a
  * [[QueryExecutionListener]] and held in memory until the run ends. Times
  * are epoch milliseconds, as the listener events carry them.
  *
  * It lives in a Spark package only to read the query execution that a
  * `SparkListenerSQLExecutionEnd` carries (package-private there), which is
  * how an SQL execution is tied to its planning-phase times. */
final class SparkObserver extends SparkListener with QueryExecutionListener {
  import SparkObserver._

  @volatile var enabled = false

  val jobs = new ConcurrentLinkedQueue[Job]
  val jobEnds = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]
  val stageSubmitted = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]
  val tasks = new ConcurrentLinkedQueue[Task]
  val execStarts = new java.util.concurrent.ConcurrentHashMap[Long, java.lang.Long]
  val execs = new ConcurrentLinkedQueue[Exec]
  /** planning-phase ms and SQL text per query execution, by identity */
  private val planned = new java.util.IdentityHashMap[QueryExecution, (Double, Option[String])]

  override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) {
    val exec = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
    jobs.add(Job(e.jobId, e.time, e.stageIds, exec))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (enabled) jobEnds.put(e.jobId, e.time)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = if (enabled) {
    val t: Long = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    stageSubmitted.put(e.stageInfo.stageId, t)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (enabled && e.taskInfo != null) {
      val m = e.taskMetrics
      val (cpuNs, shuffle, spill, input) =
        if (m == null) (0L, 0L, 0L, 0L)
        else (m.executorCpuTime,
          m.shuffleWriteMetrics.bytesWritten + m.shuffleReadMetrics.totalBytesRead,
          m.memoryBytesSpilled + m.diskBytesSpilled,
          m.inputMetrics.bytesRead)
      tasks.add(Task(e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime,
        cpuNs, shuffle, spill, input))
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = if (enabled) e match {
    case s: SparkListenerSQLExecutionStart => execStarts.put(s.executionId, s.time)
    case x: SparkListenerSQLExecutionEnd =>
      val start = Option(execStarts.get(x.executionId)).map(_.longValue).getOrElse(x.time)
      execs.add(Exec(x.executionId, start, x.time, Option(x.qe)))
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    recordPlan(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    recordPlan(qe)

  private def recordPlan(qe: QueryExecution): Unit = if (enabled) {
    val ms = qe.tracker.phases.values.map(_.durationMs.toDouble).sum
    val sql = qe.logical.collectFirst {
      case p if p.origin.sqlText.isDefined => p.origin.sqlText.get
    }
    planned.synchronized(planned.put(qe, (ms, sql)))
  }

  /** Planning ms and SQL text of an execution's query, if it was seen. */
  def planOf(e: Exec): Option[(Double, Option[String])] =
    e.qe.flatMap(q => planned.synchronized(Option(planned.get(q))))

  /** Blocks until every event posted so far has reached the listeners. */
  def drain(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  def jobList: Seq[Job] = jobs.asScala.toSeq
  def taskList: Seq[Task] = tasks.asScala.toSeq
  def execList: Seq[Exec] = execs.asScala.toSeq
}

object SparkObserver {
  final case class Job(id: Int, startMs: Long, stageIds: Seq[Int], execId: Option[Long])
  final case class Task(stageId: Int, launchMs: Long, finishMs: Long,
      cpuNs: Long, shuffleBytes: Long, spillBytes: Long, inputBytes: Long)
  final case class Exec(id: Long, startMs: Long, endMs: Long, qe: Option[QueryExecution])

  /** Registers a fresh observer on the session (both listener kinds). */
  def attach(spark: SparkSession): SparkObserver = {
    val o = new SparkObserver
    spark.sparkContext.addSparkListener(o)
    spark.listenerManager.register(o)
    o
  }
}
