package org.apache.spark.sql

import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Catalyst phase time (analysis + optimization + planning) of a finished
  * SQL execution, read from the `QueryExecution` its end event carries.
  * The event reaches streaming micro-batches too, which a
  * `QueryExecutionListener` never sees; the field is package-private to
  * Spark SQL, hence this file's package. */
object PerfbenchSql {
  def planMs(e: SparkListenerSQLExecutionEnd): Double =
    Option(e.qe).map(_.tracker.phases.values.map(_.durationMs.toDouble).sum).getOrElse(0.0)
}
