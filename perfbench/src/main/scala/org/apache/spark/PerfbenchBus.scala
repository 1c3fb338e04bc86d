package org.apache.spark

/** The one Spark-internal call the benchmark's tracer needs: block until
  * every listener event posted so far has been delivered, so a traced run
  * reads complete job and stage records before it writes them out. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
