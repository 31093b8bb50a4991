package org.apache.spark

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs started while a block runs. Listener events are
  * delivered asynchronously, so the bus (internal to Spark, hence this
  * object's package) is drained before the listener is added and before
  * the count is read. */
object JobCounter {
  def jobsDuring[T](sc: SparkContext)(body: => T): (T, Int) = {
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        ()
      }
    }
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(listener)
    try {
      val result = body
      sc.listenerBus.waitUntilEmpty()
      (result, jobs.get())
    } finally sc.removeSparkListener(listener)
  }
}
