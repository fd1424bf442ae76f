package org.apache.spark

/** `private[spark]` accessor shim (same pattern as
  * `org.apache.spark.sql.GraftColumnBridge`): the listener bus posts
  * task-end events asynchronously, and a metrics reader must drain it
  * before summing — `graft.Profile` needs the otherwise-inaccessible
  * `listenerBus.waitUntilEmpty()`.
  */
object GraftListenerBridge {
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
