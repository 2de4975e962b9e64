package org.apache.spark.graftbridge

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Specs that count Spark jobs with a listener must wait for the listener
  * bus, which delivers events asynchronously and is `private[spark]`. */
object Listeners {
  /** Block until every event posted so far has reached every listener. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Spark jobs `body` launches from this thread (tagged by job group, so
    * jobs of other threads are not counted), and its result. */
  def jobs[A](session: SparkSession)(body: => A): (Int, A) = {
    val tag = s"jobs-${java.util.UUID.randomUUID}"
    val started = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == tag))
          started.incrementAndGet()
    }
    val sc = session.sparkContext
    sc.addSparkListener(listener)
    sc.setJobGroup(tag, tag)
    try {
      val a = body
      drain(sc)
      (started.get, a)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
