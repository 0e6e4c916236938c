package org.apache.spark

/** Lets the benchmark wait until the listener bus has delivered every event
  * posted so far, so the job records of a finished call are complete before
  * they are read (the bus is otherwise private to Spark).
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
