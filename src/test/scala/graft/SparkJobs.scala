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
    val (a, started) = jobs(spark)(f)
    (a, started.map(_.description))
  }

  /** One started job: its description ("" without one) and the SQL
    * execution it belongs to (`spark.sql.execution.id`; None for a job
    * launched outside any Catalyst query).
    */
  final case class Job(description: String, sqlExecutionId: Option[String])

  /** Every job the block launches, in start order. */
  def jobs[A](spark: SparkSession)(f: => A): (A, Seq[Job]) = {
    val sc = spark.sparkContext
    TestBusDrain(sc)
    val seen = new ConcurrentLinkedQueue[Job]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
        seen.add(Job(prop("spark.job.description").getOrElse(""), prop("spark.sql.execution.id")))
      }
    }
    sc.addSparkListener(listener)
    try {
      val a = f
      TestBusDrain(sc)
      (a, seen.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }
}
