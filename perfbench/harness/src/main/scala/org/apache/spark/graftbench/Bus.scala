package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Package-private Spark hooks the harness needs, reached from a class in an
  * `org.apache.spark` package. */
object Bus {

  /** Blocks until every event posted so far has reached every listener, so
    * task and job records are complete before they are read. */
  def flush(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
