package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * trace read right after an operation sees all of that operation's jobs,
  * stages, tasks and progress events. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
