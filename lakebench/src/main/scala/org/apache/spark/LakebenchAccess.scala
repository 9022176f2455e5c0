package org.apache.spark

/** The one Spark-internal call the harness needs: block until the
  * listener bus has delivered every posted event, so the traced ledger
  * sees each job's end and every task of the traced phase. */
object LakebenchAccess {
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
