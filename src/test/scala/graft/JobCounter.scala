package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageSubmitted}

/** Counts the Spark jobs a block starts. The listener bus is drained
  * before and after the block, so jobs of earlier work are not counted
  * and every job of the block is.
  */
object JobCounter {
  def apply[T](sc: SparkContext)(body: => T): (T, Int) = counted(sc, stages = false)(body)

  /** The stages a block runs, counted the same way; a stage skipped
    * because its shuffle output is already there does not count.
    */
  def stages[T](sc: SparkContext)(body: => T): (T, Int) = counted(sc, stages = true)(body)

  private def counted[T](sc: SparkContext, stages: Boolean)(body: => T): (T, Int) = {
    org.apache.spark.GraftTestShim.drainListeners(sc)
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (!stages) n.incrementAndGet()
      override def onStageSubmitted(ss: SparkListenerStageSubmitted): Unit =
        if (stages) n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      org.apache.spark.GraftTestShim.drainListeners(sc)
      (out, n.get)
    } finally sc.removeSparkListener(listener)
  }
}
