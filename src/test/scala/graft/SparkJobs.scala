package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

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
    val (a, descriptions) = described(spark)(f)
    (a, descriptions.size)
  }

  /** The `spark.job.description` of every job the block launches, in start
    * order ("" for a job without one).
    */
  def described[A](spark: SparkSession)(f: => A): (A, Seq[String]) = {
    val sc = spark.sparkContext
    TestBusDrain(sc)
    val seen = new ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      val a = f
      TestBusDrain(sc)
      (a, seen.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }
}
