package graft.index

import org.apache.spark.SparkContext

/** Names the Spark jobs of index and search steps. */
object Jobs {
  /** Runs `f` with Spark's job description set to `what` (cut to 200
    * chars), so listeners and the UI can tell which step launched each job;
    * the caller's description is restored afterwards. Local properties do
    * not reach pooled threads, so a `Future` body calls this itself.
    */
  def describe[A](sc: SparkContext, what: String)(f: => A): A = {
    val key = "spark.job.description"
    val prev = sc.getLocalProperty(key)
    sc.setLocalProperty(key, what.take(200))
    try f finally sc.setLocalProperty(key, prev)
  }
}
