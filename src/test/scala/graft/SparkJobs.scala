package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.TestBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block launches: a job-start listener registered
  * around the block, with the listener bus drained before it starts
  * counting and before the count is read. Suites run one at a time, so
  * every job in the window belongs to the block.
  */
object SparkJobs {
  def count[A](spark: SparkSession)(f: => A): (A, Int) = {
    val sc = spark.sparkContext
    TestBusDrain(sc)
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val a = f
      TestBusDrain(sc)
      (a, n.get)
    } finally sc.removeSparkListener(listener)
  }
}
