package org.apache.spark

/** Blocks until the asynchronous listener bus has delivered every event
  * posted so far, so a traced phase's job and task records are complete
  * before they are read. Lives in Spark's package because the bus is
  * package-private. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
