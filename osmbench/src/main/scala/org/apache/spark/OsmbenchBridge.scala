package org.apache.spark

/** Reaches the one `private[spark]` call the traced run needs: block
  * until the listener bus has delivered every event posted so far, so
  * that per-op counters are read after their tasks have been counted. */
object OsmbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
