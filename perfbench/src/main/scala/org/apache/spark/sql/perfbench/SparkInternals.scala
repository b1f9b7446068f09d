package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two Spark-internal reads the harness needs. Scala grants them only
  * to code inside `org.apache.spark.sql`, hence this package. */
object SparkInternals {

  /** Blocks until every event posted so far has reached every listener, so
    * counts read afterwards cover all the work issued before the call. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(120000L)

  /** The finished execution's query execution and its wall nanoseconds. */
  def ended(e: SparkListenerSQLExecutionEnd): Option[(QueryExecution, Long)] =
    Option(e.qe).map(_ -> e.duration)
}
