package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** Specs that count Spark jobs with a listener must wait for the listener
  * bus, which delivers events asynchronously and is `private[spark]`. */
object Listeners {
  /** Block until every event posted so far has reached every listener. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
