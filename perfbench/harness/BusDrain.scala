package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event, so
  * a listener can be detached without losing the tail of a traced pass.
  * The bus is `private[spark]`, hence this package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
