package org.apache.spark.sql.graftbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.SparkListenerEvent
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two scheduler details the tracer needs that Spark keeps package
  * private. Lives in Spark's package only to reach them; reads, never writes. */
object SparkInternals {

  /** Block until every posted listener event has been delivered. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** An SQL execution's end event with the executed query attached. */
  object SqlEnd {
    def unapply(e: SparkListenerEvent): Option[(Long, QueryExecution)] = e match {
      case x: SparkListenerSQLExecutionEnd if x.qe != null => Some((x.executionId, x.qe))
      case _ => None
    }
  }
}
