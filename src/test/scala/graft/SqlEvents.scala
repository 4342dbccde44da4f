package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.{ListenerDrain, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

/** One SQL execution as the listener bus saw it: the description (the
  * short call site unless a job description is set), the length of the
  * plan description it started with, and the plan-description lengths
  * of its AQE updates — the plan text the driver rendered for it. */
final case class SqlExecution(id: Long, description: String,
    startPlanChars: Int, updateChars: Seq[Int])

object SqlEvents {

  /** The SQL executions `body` runs, in start order. */
  def during(sc: SparkContext)(body: => Unit): Seq[SqlExecution] = {
    val seen = events(sc)(body)
    val updates = seen.collect { case u: SparkListenerSQLAdaptiveExecutionUpdate =>
      u.executionId -> u.physicalPlanDescription.length }
      .groupMap(_._1)(_._2)
    seen.collect { case s: SparkListenerSQLExecutionStart =>
      SqlExecution(s.executionId, s.description, s.physicalPlanDescription.length,
        updates.getOrElse(s.executionId, Nil))
    }
  }

  /** Every plan description the SQL executions `body` runs rendered:
    * each one's start plan and its AQE updates, in event order. */
  def plansDuring(sc: SparkContext)(body: => Unit): Seq[String] =
    events(sc)(body).collect {
      case s: SparkListenerSQLExecutionStart => s.physicalPlanDescription
      case u: SparkListenerSQLAdaptiveExecutionUpdate => u.physicalPlanDescription
    }

  private def events(sc: SparkContext)(body: => Unit): Seq[SparkListenerEvent] = {
    val events = new ConcurrentLinkedQueue[SparkListenerEvent]
    val l = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: SparkListenerSQLExecutionStart |
             _: SparkListenerSQLAdaptiveExecutionUpdate => events.add(e)
        case _ =>
      }
    }
    ListenerDrain(sc)
    sc.addSparkListener(l)
    try {
      body
      ListenerDrain(sc)
    } finally sc.removeSparkListener(l)
    events.asScala.toSeq
  }
}
