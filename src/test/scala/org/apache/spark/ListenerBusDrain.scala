package org.apache.spark

/** Tests that count Spark jobs with a listener must see every event of
  * an action before they read the count; the listener bus delivers
  * asynchronously, and its drain is `private[spark]` (hence this
  * file's package). */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
