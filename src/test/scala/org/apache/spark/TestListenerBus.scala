package org.apache.spark

/** The listener bus's drain is package-private to Spark; a spec that
  * counts listener events needs it so every event a call caused has been
  * delivered before the count is read. */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
