package perfbench

import org.apache.spark.sql.SparkSession

/** What one timed operation returns. `latencyMs` is the workload's
  * end-to-end latency for it, which may be a prefix of the operation (for
  * `refresh`: append start to the first answer); `items` is the work it
  * completed (documents or queries); `tag` names its kind.
  */
final case class OpOut(latencyMs: Double, items: Long, answer: Any, tag: String = "",
    parts: Map[String, Double] = Map.empty)

/** A finished operation: `startMs`/`endMs` are epoch ms for matching Spark
  * jobs to it; `wallNs` its full wall time; `ok` the result of its check.
  */
final case class OpRec(i: Int, out: OpOut, startMs: Long, endMs: Long, wallNs: Long, ok: Boolean)

trait Workload {
  /** Generates the inputs from the seed (untimed). */
  def prepare(): Unit

  /** Sets the workload's state up from scratch and returns how many
    * seconds that took; the harness calls it several times and measures on
    * the state the last call left. The first call may also warm the JIT up
    * for the timed loop, outside the seconds it returns.
    */
  def setup(rep: Int): Double

  def op(i: Int): OpOut

  /** The timed loop runs at least this many operations... */
  def minOps: Int

  /** ...and stops only after a whole number of blocks of this many. */
  def opBlock: Int = 1

  /** Checks one operation's answer (untimed). */
  def verify(i: Int, out: OpOut): Boolean

  /** Checks run once after the timed loops: (attempted, failed). */
  def finalChecks(): (Int, Int) = (0, 0)

  /** The workload's own end-to-end metrics, from untraced operations. */
  def e2e(ops: Seq[OpRec], busyS: Double): Seq[Metric]

  /** The workload's own layer metrics, from traced operations and the Spark
    * jobs recorded so far (`jobs()` drains the listener first). May call
    * graft again to time single stages; tracing is still on.
    */
  def layers(ops: Seq[OpRec], jobs: () => Seq[JobRec]): Seq[Metric]

  /** Texts the analysis and codec probes run on. */
  def sampleTexts: Seq[String]

  /** Digest of the generated inputs, printed so runs can be compared. */
  def inputDigest: String
}

final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
    smoke: Boolean, corrupt: Boolean, work: String, traces: String, result: String)

object Harness {
  /** Closed loop, one client: the next operation starts when the previous
    * one and its check are done. Runs until the operations' summed wall time
    * reaches `seconds` (checks excluded), at least `w.minOps` ran and the
    * last block of `w.opBlock` operations is complete.
    */
  def loop(w: Workload, seconds: Double, from: Int): Vector[OpRec] = {
    val out = Vector.newBuilder[OpRec]
    var busyNs = 0L
    var i = from
    while (busyNs < seconds * 1e9 || i - from < w.minOps || (i - from) % w.opBlock != 0) {
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val res = try Right(Trace("bench", "op")(w.op(i))) catch { case e: Exception => Left(e) }
      val wall = System.nanoTime() - t0
      val endMs = System.currentTimeMillis()
      busyNs += wall
      val rec = res match {
        case Right(o) =>
          val ok = try w.verify(i, o) catch { case e: Exception =>
            System.err.println(s"perfbench: check of operation $i threw: $e"); false }
          OpRec(i, o, startMs, endMs, wall, ok)
        case Left(e) =>
          System.err.println(s"perfbench: operation $i failed: $e")
          e.printStackTrace()
          OpRec(i, OpOut(wall / 1e6, 0L, null, "failed"), startMs, endMs, wall, ok = false)
      }
      out += rec
      i += 1
    }
    out.result()
  }

  def busyS(ops: Seq[OpRec]): Double = ops.map(_.wallNs).sum / 1e9

  /** Runs the workload as the options say; returns the result JSON. */
  def run(spark: SparkSession, o: Opts, w: Workload): String = {
    def secs(a: Long, b: Long): String = f"${(b - a) / 1e9}%.1f"
    val t0 = System.nanoTime()
    w.prepare()
    val t1 = System.nanoTime()
    val setupS = (0 until (if (o.smoke) 1 else 3)).map(w.setup)
    val t2 = System.nanoTime()
    println(s"inputs sha256=${w.inputDigest}")
    println(s"setup ${setupS.map(s => f"$s%.3f").mkString(" ")} s")
    val plain = loop(w, o.seconds, 0)
    val plainBusy = busyS(plain)
    val plainLat = plain.map(_.out.latencyMs)
    println(f"untraced: ${plain.size} operations in $plainBusy%.3f s busy")
    println(s"phases: prepare ${secs(t0, t1)} s, set-up ${secs(t1, t2)} s, " +
      s"loop with checks ${secs(t2, System.nanoTime())} s")
    val items = plain.map(_.out.items).sum
    val e2e = Seq(
      Metric("setup_s", Report.median(setupS), "s", s"p50 of n=${setupS.size} set-ups"),
      Metric("op_p50_ms", Report.median(plainLat), "ms", s"p50 of n=${plain.size}"),
      Metric("work_per_s", items / plainBusy, "1/s", s"$items items"))
    (e2e ++ Report.timing("op", "ms", plainLat).drop(1) ++ w.e2e(plain, plainBusy))
      .foreach(m => println(Report.line(m)))

    val (all, metrics) =
      if (!o.trace) (plain, e2e)
      else {
        val (ops, layer) = traced(spark, o, w, plain.size, plainLat)
        (plain ++ ops, layer)
      }
    val (fa, ff) = w.finalChecks()
    val attempted = all.size + fa
    val failed = all.count(!_.ok) + ff
    println(s"checks: $failed failed of $attempted attempted")
    Report.json(failed == 0, attempted, failed, metrics)
  }

  /** A second loop with spans and the listener on; prints the workload's
    * own layer metrics, the self-time table and the tracing overhead, and
    * returns the traced operations and the per-layer metrics.
    */
  private def traced(spark: SparkSession, o: Opts, w: Workload, from: Int,
      plainLat: Seq[Double]): (Seq[OpRec], Seq[Metric]) = {
    val sc = spark.sparkContext
    val coll = new Collector
    sc.addSparkListener(coll)
    Trace.enable(sc)
    val gc0 = gcMs()
    val (ops, opJobs, gc, own) =
      try {
        val ops = loop(w, o.seconds, from)
        val gc = gcMs() - gc0
        (ops, coll.snapshot(sc), gc, w.layers(ops, () => coll.snapshot(sc)))
      } finally Trace.disable()
    val jobs = coll.snapshot(sc)
    sc.removeSparkListener(coll)
    val layer = generic(ops, opJobs, gc) ++ Probes.run(w.sampleTexts)
    (layer ++ own).foreach(m => println(Report.line(m)))
    traceReport(o, ops, jobs, plainLat)
    (ops, layer)
  }

  /** Collection time of all the JVM's garbage collectors, driver and
    * executors alike (one JVM in local mode).
    */
  private def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
  }

  /** Per-layer metrics every workload has: Spark work per operation as the
    * listener saw it, GC time, and driver time outside jobs.
    */
  private def generic(ops: Seq[OpRec], jobs: Seq[JobRec], gc: Long): Seq[Metric] = {
    val per = ops.map(op => op -> Collector.within(jobs, op.startMs, op.endMs))
    val n = ops.size.toDouble
    val tot = Collector.totals(per.flatMap(_._2))
    val active = per.map { case (op, js) => Collector.activeMs(js, op.startMs, op.endMs) }.sum
    Seq(
      Metric("spark.jobs_per_op", per.map(_._2.size).sum / n, "count"),
      Metric("spark.zero_job_frac", per.count(_._2.isEmpty) / n, "ratio"),
      Metric("spark.tasks_per_op", tot.tasks / n, "count"),
      Metric("spark.task_run_ms_per_op", tot.runMs / n, "ms"),
      Metric("spark.task_cpu_ms_per_op", tot.cpuNs / 1e6 / n, "ms"),
      Metric("jvm.gc_ms_per_op", gc / n, "ms"),
      Metric("spark.shuffle_write_bytes_per_op", tot.shuffleWrite / n, "bytes"),
      Metric("spark.shuffle_read_bytes_per_op", tot.shuffleRead / n, "bytes"),
      Metric("spark.spill_bytes_per_op", tot.spill / n, "bytes"),
      Metric("spark.job_active_ms_per_op", active / n, "ms"),
      Metric("driver.outside_jobs_ms_per_op", (ops.map(_.wallNs).sum / 1e6 - active) / n, "ms"))
  }

  /** Writes the spans and prints the per-layer self-time table and the
    * tracing overhead (traced median minus untraced median).
    */
  private def traceReport(o: Opts, ops: Seq[OpRec], jobs: Seq[JobRec], plainLat: Seq[Double]): Unit = {
    val spans = Trace.withJobs(Trace.recorded, jobs)
    val opIds = spans.filter(_.layer == "bench").map(_.id).toSet
    val inOps = spans.filter(s => opIds.contains(s.op))
    val file = java.nio.file.Paths.get(o.traces, s"${o.workload}-seed${o.seed}.jsonl")
    Trace.writeJsonl(spans, file)
    println(s"trace: ${spans.size} spans written to $file")
    val opNs = inOps.filter(_.layer == "bench").map(_.durNs).sum.toDouble
    println(f"self time by layer over ${ops.size} traced operations:")
    println(f"  ${"layer"}%-10s ${"calls"}%8s ${"self ms"}%12s ${"ms/op"}%10s ${"share"}%7s")
    Trace.selfTimes(inOps).foreach { case (layer, calls, ns) =>
      println(f"  $layer%-10s $calls%8d ${ns / 1e6}%12.1f ${ns / 1e6 / ops.size}%10.3f ${100 * ns / opNs}%6.1f%%")
    }
    val tracedP50 = Report.median(ops.map(_.out.latencyMs))
    val plainP50 = Report.median(plainLat)
    println(f"tracing overhead: op p50 $tracedP50%.3f ms traced - $plainP50%.3f ms untraced = " +
      f"${tracedP50 - plainP50}%.3f ms (${100 * (tracedP50 - plainP50) / plainP50}%.1f%%)")
  }
}
