package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously; a counter read right
  * after an action can miss the action's own task-end events. The bus's
  * drain method is package-private to Spark, hence this accessor. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
