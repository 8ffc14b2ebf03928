package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext

/** One timed call. Times are epoch nanoseconds; `op` is the id of the root
  * span of the operation the call belongs to; `layer` is a graft module name
  * (or `bench` for the operation itself, `spark` for a job).
  */
final case class Span(id: Long, parent: Long, op: Long, layer: String, name: String,
    startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory spans around the benchmark's calls into graft. Off by default;
  * when on, every span also sets the calling thread's Spark job group to its
  * id, so that the jobs it launches can be made its children.
  */
object Trace {
  val JobGroupKey = "spark.jobGroup.id"
  private val GroupPrefix = "perfbench-span-"

  @volatile private var sc: SparkContext = _
  private val spans = ArrayBuffer.empty[Span]
  private val ids = new AtomicLong(1L)
  private val stack = new ThreadLocal[List[Span]] { override def initialValue(): List[Span] = Nil }
  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()

  def nowNs: Long = System.nanoTime() + epochOffsetNs

  def enable(context: SparkContext): Unit = { sc = context }
  def disable(): Unit = { sc = null }

  def apply[A](layer: String, name: String)(f: => A): A = {
    val ctx = sc
    if (ctx == null) f
    else {
      val outer = stack.get
      val id = ids.getAndIncrement()
      val open = Span(id, outer.headOption.map(_.id).getOrElse(0L),
        outer.headOption.map(_.op).getOrElse(id), layer, name, nowNs, 0L)
      val prevGroup = ctx.getLocalProperty(JobGroupKey)
      ctx.setLocalProperty(JobGroupKey, GroupPrefix + id)
      stack.set(open :: outer)
      try f
      finally {
        val closed = open.copy(endNs = nowNs)
        stack.set(outer)
        ctx.setLocalProperty(JobGroupKey, prevGroup)
        spans.synchronized(spans += closed)
      }
    }
  }

  def recorded: Vector[Span] = spans.synchronized(spans.toVector)

  /** A span's depth below its root span (0), memoised. */
  private def depths(byId: Map[Long, Span]): Span => Int = {
    val depth = scala.collection.mutable.HashMap.empty[Long, Int]
    def depthOf(s: Span): Int = depth.getOrElseUpdate(s.id,
      byId.get(s.parent).map(depthOf(_) + 1).getOrElse(0))
    depthOf
  }

  /** Spark jobs as spans: a child of the span whose thread set the job's
    * group, else of the deepest span whose interval holds the job's start
    * (jobs launched from graft's own thread pools carry no group).
    */
  def withJobs(ss: Vector[Span], jobs: Seq[JobRec]): Vector[Span] = {
    val byId = ss.map(s => s.id -> s).toMap
    val depthOf = depths(byId)
    var next = ss.map(_.id).maxOption.getOrElse(0L) + 1
    val jobSpans = jobs.flatMap { j =>
      val startNs = j.startMs * 1000000L
      val endNs = math.max(startNs, (if (j.endMs < 0) j.startMs else j.endMs) * 1000000L)
      val byGroup =
        if (j.group.startsWith(GroupPrefix)) byId.get(j.group.stripPrefix(GroupPrefix).toLong)
        else None
      byGroup.orElse(ss.filter(s => s.startNs <= startNs && startNs <= s.endNs)
        .maxByOption(depthOf)).map { p =>
        next += 1
        Span(next, p.id, p.op, "spark", s"job ${j.id}", startNs, endNs)
      }
    }
    ss ++ jobSpans
  }

  /** Self time per layer: each instant of an operation belongs to the
    * deepest span open at that instant (jobs that overlap each other count
    * once), so the layers' self times add up to the operations' wall time.
    * Returns (layer, calls, self ns), largest first.
    */
  def selfTimes(ss: Vector[Span]): Seq[(String, Int, Long)] = {
    val depthOf = depths(ss.map(s => s.id -> s).toMap)
    val self = scala.collection.mutable.HashMap.empty[String, Long].withDefaultValue(0L)
    ss.groupBy(_.op).values.foreach { spans =>
      val root = spans.minBy(depthOf)
      val cuts = spans.flatMap(s => Seq(s.startNs, s.endNs))
        .filter(t => t >= root.startNs && t <= root.endNs).distinct.sorted
      cuts.zip(cuts.drop(1)).foreach { case (a, b) =>
        val open = spans.filter(s => s.startNs <= a && s.endNs >= b)
        if (open.nonEmpty) self(open.maxBy(depthOf).layer) += b - a
      }
    }
    ss.groupBy(_.layer).map { case (layer, xs) => (layer, xs.size, self(layer)) }
      .toSeq.sortBy(-_._3)
  }

  def writeJsonl(ss: Vector[Span], path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val w = java.nio.file.Files.newBufferedWriter(path)
    try ss.sortBy(_.startNs).foreach { s =>
      w.write(s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"layer":"${s.layer}",""" +
        s""""name":"${Report.jsonEscape(s.name)}","start_ns":${s.startNs},"end_ns":${s.endNs}}""")
      w.newLine()
    } finally w.close()
  }
}
