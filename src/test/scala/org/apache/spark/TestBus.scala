package org.apache.spark

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** The listener bus is private to Spark; specs drain it so that a listener
  * has seen every event of the code under test before it is read. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  /** Runs `body` and returns its result with the number of Spark jobs it
    * started. Not meaningful while other threads run jobs on `sc`. */
  def countJobs[T](sc: SparkContext)(body: => T): (T, Int) = {
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet(): Unit
    }
    drain(sc) // events of earlier jobs must not reach the new listener
    sc.addSparkListener(listener)
    try {
      val out = body
      drain(sc)
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}
