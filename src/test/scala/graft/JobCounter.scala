package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a block starts. The listener bus is drained
  * before and after the block, so jobs of earlier work are not counted
  * and every job of the block is.
  */
object JobCounter {
  def apply[T](sc: SparkContext)(body: => T): (T, Int) = {
    org.apache.spark.GraftTestShim.drainListeners(sc)
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      org.apache.spark.GraftTestShim.drainListeners(sc)
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}
