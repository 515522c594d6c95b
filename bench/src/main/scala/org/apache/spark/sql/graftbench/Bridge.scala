package org.apache.spark.sql.graftbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.SQLExecution

/** The two Spark internals the benchmark needs, reached from inside the
  * `org.apache.spark` namespace. */
object Bridge {

  /** Run `df` once through its own executed plan as one SQL execution and
    * return the number of rows. Every output row is produced, so every
    * output column is computed; nothing is kept. Unlike a `noop` write,
    * this does not optimise and plan the query a second time under a
    * write command, so a plan forced beforehand is the plan executed. */
  def consume(df: DataFrame): Long = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("graftbench")) {
      val rdd = qe.executedPlan.execute()
      val counts = qe.sparkSession.sparkContext.runJob(rdd, (it: Iterator[InternalRow]) => {
        var n = 0L
        while (it.hasNext) { it.next(); n += 1 }
        n
      })
      counts.sum
    }
  }

  /** Block until every listener has seen every event posted so far. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
