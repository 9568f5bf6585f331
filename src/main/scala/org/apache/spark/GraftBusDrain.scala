package org.apache.spark

/** Blocks until Spark's listener bus has delivered every event posted so
  * far, so a listener's totals are complete the moment an action returns
  * (instead of after a guessed sleep). The bus is `private[spark]`, hence
  * this package. */
object GraftBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
