// Package-private Spark members the traced run reads.

package org.apache.spark {
  object ListenerDrain {
    /** Waits until every queued listener event has been delivered. */
    def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  }
}

package org.apache.spark.sql {
  import org.apache.spark.sql.execution.QueryExecution
  import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

  object ExecutionEnd {
    /** The finished execution's query, when the event carries one. */
    def query(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
  }
}
