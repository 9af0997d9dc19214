package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two Spark internals the traced run needs, reached from a spark-package
  * bridge: draining the listener bus (so every event of an op is folded in
  * before it is summarized) and the finished execution's QueryExecution
  * (whose tracker holds the analysis/optimization/planning phases). */
object Bridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
