package org.apache.spark

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Job counting on the listener bus, whose drain Spark keeps package-private. */
object TestListenerBus {

  /** The number of Spark jobs started while `body` runs: the bus is drained
    * before the listener is added and again before it is read.
    */
  def jobs(sc: SparkContext)(body: => Unit): Int = {
    val started = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = started.incrementAndGet()
    }
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(listener)
    try {
      body
      sc.listenerBus.waitUntilEmpty()
      started.get
    } finally sc.removeSparkListener(listener)
  }
}
