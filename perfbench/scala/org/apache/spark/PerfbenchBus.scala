package org.apache.spark

/** Waits until every event posted so far has reached the listeners, so a
  * trace read right after an action sees all of that action's jobs and
  * tasks. The bus is `private[spark]`; this is the benchmark's only use of
  * it.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
