package org.apache.spark.graftshim

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a block starts on the calling thread. Jobs are
  * tagged with a thread-local property, so jobs from other threads (a
  * stream left running by another suite) are not counted, and the
  * listener bus, which is private to Spark, is drained before the count is
  * read.
  */
object JobCount {
  private val Tag = "graft.test.jobCount"

  def apply(sc: SparkContext)(body: => Any): Int = {
    val tag = java.util.UUID.randomUUID().toString
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(Tag) == tag) n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    val prev = sc.getLocalProperty(Tag)
    sc.setLocalProperty(Tag, tag)
    try body
    finally {
      sc.setLocalProperty(Tag, prev)
      sc.listenerBus.waitUntilEmpty()
      sc.removeSparkListener(listener)
    }
    n.get
  }
}
