package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.index.{CheckIndex, IndexBuilder, IndexManifest, TieredMerge}
import graft.search._
import graft.streaming.StreamingIndexer
import graft.tools.SyntheticCorpus

/** `serve`: queries beside writes over a code-search index.
  *  - Set-up bulk-builds a `baseDocs` index with `IndexBuilder.build(resume
  *    = false)` from parquet: set-up time is ingest time.
  *  - One closed-loop client then asks a seeded Zipf stream over a fixed
  *    pool of query classes, in blocks that each ask the same mix.
  *  - Every block starts with a refresh: `StreamingIndexer.appendBatch` of
  *    a seeded `batchDocs` batch, a fresh `IndexSearcher`, the first query
  *    on it (split into the public calls a cold query makes), then one ask
  *    of every other pool query. The refresh misses every cache: metadata
  *    loads and posting fetches. The rest of the block is hot: its cost
  *    does not depend on the order the seed gave it. Most hot queries take
  *    the row-cache, zero-job driver-local path; the hot phrase, the
  *    singleton and WAND launch Spark jobs on every call.
  */
final class Serve(spark: SparkSession, seed: Long, dir: String, baseDocs: Int, batchDocs: Int,
    cpus: Int, corrupt: Boolean) extends Workload {
  private val index = s"$dir/index"
  private val corpus = s"$dir/corpus"
  private val builder = new IndexBuilder(spark, Main.indexConfig(cpus))
  private val pool = Gen.queryPool(seed, baseDocs)
  private val zipf = new Gen.ZipfBlocks(pool.size, seed * 31L + 7L)
  private var batchId = 0
  private var batch: DataFrame = _
  private var searcher: IndexSearcher = _
  private var refs: IndexedSeq[Queries.Ref] = _
  private var inputBytes = 0L
  private var baseBytes = 0L
  private val buildS = mutable.ArrayBuffer.empty[Double]

  /** Batch `b` holds the corpus docs after the base and the batches before it. */
  private def nextBatch(): DataFrame = {
    batchId += 1
    val from = Gen.corpusBase(seed) + baseDocs.toLong + (batchId - 1).toLong * batchDocs
    spark.createDataFrame((0 until batchDocs).map(i => SyntheticCorpus.file(from + i)))
  }

  /** The program's default `localSearchMaxPostings` suits a corpus of
    * [[ReferenceDocs]] docs. Scaled down to the base size, the same queries
    * take the distributed path as at that size: the hot phrase does, the
    * other pool queries stay driver-local.
    */
  private val ReferenceDocs = 200000L

  private def open(): IndexSearcher = {
    val s = new IndexSearcher(spark, index)
    s.localSearchMaxPostings = s.localSearchMaxPostings * baseDocs / ReferenceDocs
    s
  }

  private def append(): Unit = Trace("streaming", "appendBatch")(
    StreamingIndexer.appendBatch(spark, builder, batch, batchId.toLong, index))

  private def bulkBuild(out: String): IndexManifest =
    Trace("index", "build")(builder.build(spark.read.parquet(corpus), out, resume = false))

  def prepare(): Unit = {
    Gen.writeCorpus(spark, seed, 0L, baseDocs, cpus * 2, corpus)
    inputBytes = spark.read.parquet(corpus).select(Seq("repo", "path", "commit", "lang", "content")
      .map(c => sum(octet_length(col(c)))).reduce(_ + _)).first().getLong(0)
  }

  /** The bulk build. The first set-up also appends a batch and asks the
    * queries, untimed, so the timed loop runs on a warm JIT.
    */
  def setup(rep: Int): Double = {
    if (searcher != null) searcher.close()
    searcher = null
    Fs.rm(index)
    batchId = 0
    val t0 = System.nanoTime()
    bulkBuild(index)
    val s = (System.nanoTime() - t0) / 1e9
    buildS += s
    baseBytes = Fs.bytes(index)
    batch = nextBatch()
    if (rep == 0) {
      append()
      val warm = open()
      pool.foreach(q => Queries.run(warm, q))
      // the top half of the pool is the zero-job hot path: ask it until the
      // decode-and-score loop is compiled, as it is in a long-lived server
      for (_ <- 1 to 100; q <- pool.take(pool.size / 2)) Queries.run(warm, q)
      warm.close()
    }
    s
  }

  def minOps: Int = zipf.block.size

  override def opBlock: Int = zipf.block.size

  def op(i: Int): OpOut = {
    val qi = zipf.next()
    val q = pool(qi)
    if (i % opBlock != 0) {
      val t0 = System.nanoTime()
      val td = Queries.run(searcher, q)
      OpOut((System.nanoTime() - t0) / 1e6, 1L, Seq(qi -> td), q.cls)
    } else {
      val t0Ms = System.currentTimeMillis()
      val t0 = System.nanoTime()
      append()
      val t1 = System.nanoTime()
      if (searcher != null) searcher.close()
      searcher = Trace("search", "open")(open())
      val t2 = System.nanoTime()
      Trace("search", "collectionStats")(searcher.collectionStats)
      val t3 = System.nanoTime()
      Trace("search", "termStats")(searcher.termStats(
        Query.leafKeys(Query.rewrite(searcher.expandPrefixes(q.query)), searcher.field)))
      val t4 = System.nanoTime()
      val td = Queries.run(searcher, q)
      val t5 = System.nanoTime()
      val rest = pool.indices.filter(_ != qi).map(k => k -> Queries.run(searcher, pool(k)))
      val t6 = System.nanoTime()
      def ms(a: Long, b: Long) = (b - a) / 1e6
      OpOut(ms(t0, t5), pool.size.toLong, (qi -> td) +: rest, "refresh",
        Map("append_ms" -> ms(t0, t1), "open_ms" -> ms(t1, t2), "field_stats_ms" -> ms(t2, t3),
          "term_stats_ms" -> ms(t3, t4), "fetch_eval_ms" -> ms(t4, t5),
          "first_query_ms" -> ms(t1, t5), "warm_ms" -> ms(t5, t6),
          "append_start_epoch_ms" -> t0Ms.toDouble))
    }
  }

  /** Each answer against `scoredDocs` on the same searcher; a refresh's
    * answers are its first query's and those of the pool queries it asks
    * after it.
    */
  def verify(i: Int, out: OpOut): Boolean = {
    if (out.tag == "refresh") {
      refs = Queries.references(searcher, pool)
      if (corrupt && i == 0) refs = refs.updated(0, Queries.corrupted(refs(0)))
      batch = nextBatch()
    }
    out.answer.asInstanceOf[Seq[(Int, TopDocs)]].forall { case (qi, td) =>
      Queries.matches(pool(qi), td, refs(qi)) }
  }

  /** CheckIndex after all appends, and the manifest's doc count against
    * base plus appended docs: one more checked operation.
    */
  override def finalChecks(): (Int, Int) = {
    val report = CheckIndex.run(spark, index)
    val expected = baseDocs.toLong + (batchId - 1).toLong * batchDocs
    val docCount = IndexManifest.load(spark, index).docCount
    if (!report.ok) System.err.println(s"perfbench: CheckIndex problems: ${report.problems.mkString("; ")}")
    if (docCount != expected) System.err.println(s"perfbench: index holds $docCount docs, expected $expected")
    (1, if (report.ok && docCount == expected) 0 else 1)
  }

  def e2e(ops: Seq[OpRec], busyS: Double): Seq[Metric] = {
    val refreshes = ops.filter(_.out.tag == "refresh")
    Seq(
      Metric("ingest.docs_per_s", baseDocs / Report.median(buildS.toSeq), "docs/s",
        s"$baseDocs docs / p50 of n=${buildS.size} set-up builds"),
      Metric("ingest.index_bytes_ratio", baseBytes.toDouble / inputBytes, "ratio",
        s"bytes under the index dir / $inputBytes UTF-8 input bytes")) ++
      Report.timing("search", "ms", ops.map(_.out.latencyMs)) ++ Seq(
        Metric("search.qps", ops.map(_.out.items).sum / busyS, "1/s",
          s"${ops.map(_.out.items).sum} queries, one client, refreshes included")) ++
      Report.timing("refresh.visible", "s", refreshes.map(_.out.latencyMs / 1e3)) ++
      Report.timing("refresh.first_query", "ms", refreshes.map(_.out.parts("first_query_ms"))) :+
      Metric("refresh.docs_per_s", refreshes.size * batchDocs / busyS, "docs/s",
        s"${refreshes.size} appends of $batchDocs docs over the run's busy time")
  }

  /** Per query class and per refresh from the traced operations; then, as
    * probes, one merge over extra appended waves and one more bulk build.
    */
  def layers(ops: Seq[OpRec], jobsNow: () => Seq[JobRec]): Seq[Metric] = {
    val jobs = jobsNow()
    val queries = ops.filter(_.out.tag != "refresh")
    val refreshes = ops.filter(_.out.tag == "refresh")
    val byClass = queries.groupBy(_.out.tag).toSeq.sortBy(_._1).map { case (cls, xs) =>
      Metric(s"search.$cls.p50_ms", Report.median(xs.map(_.out.latencyMs)), "ms", s"p50 of n=${xs.size}")
    }
    val per = queries.map(op => (op, Collector.within(jobs, op.startMs, op.endMs)))
    val n = queries.size.toDouble
    def med(k: String): Double = Report.median(refreshes.map(_.out.parts(k)))
    def jobsIn(op: OpRec, fromMs: Double, toMs: Double): Double = {
      val start = op.out.parts("append_start_epoch_ms")
      Collector.within(jobs, (start + fromMs).toLong, (start + toMs).toLong).size.toDouble
    }
    val perQuery = byClass ++ Seq(
      Metric("search.jobs_per_query", per.map(_._2.size).sum / n, "count"),
      Metric("search.zero_job_frac", per.count(_._2.isEmpty) / n, "ratio"),
      Metric("search.task_ms_per_query", per.map(p => Collector.totals(p._2).runMs).sum / n, "ms"),
      Metric("search.driver_ms_per_query", per.map { case (op, js) =>
        op.wallNs / 1e6 - Collector.activeMs(js, op.startMs, op.endMs) }.sum / n, "ms"))
    val perRefresh = Seq(
      Metric("search.open_ms", med("open_ms"), "ms"),
      Metric("search.cold_field_stats_ms", med("field_stats_ms"), "ms"),
      Metric("search.cold_term_stats_ms", med("term_stats_ms"), "ms"),
      Metric("search.cold_fetch_eval_ms", med("fetch_eval_ms"), "ms"),
      Metric("search.cold_jobs",
        Report.median(refreshes.map(op => jobsIn(op, op.out.parts("append_ms"), op.out.latencyMs))), "count"),
      Metric("streaming.append_s", med("append_ms") / 1e3, "s"),
      Metric("streaming.append_jobs",
        Report.median(refreshes.map(op => jobsIn(op, 0.0, op.out.parts("append_ms")))), "count"))
    perQuery ++ perRefresh ++ mergeProbe() ++ buildProbe(jobsNow)
  }

  /** Appends [[MergeWaves]] more batches, then `TieredMerge.maybeMerge`
    * (at most that many waves per tier) and `IndexBuilder.publish`.
    */
  private val MergeWaves = 3

  private def mergeProbe(): Seq[Metric] = {
    (0 until MergeWaves).foreach { _ => append(); batch = nextBatch() }
    val before = TieredMerge.waves(spark, index).map(w => w.wave -> w.bytes).toMap
    val t0 = System.nanoTime()
    val merged = Trace("index", "maybeMerge")(
      TieredMerge.maybeMerge(spark, index, segsPerTier = MergeWaves, maxMergeAtOnce = MergeWaves))
    Trace("index", "publish")(builder.publish(index))
    val s = (System.nanoTime() - t0) / 1e9
    val after = TieredMerge.waves(spark, index)
    Seq(
      Metric("index.merge_s", s, "s", s"${merged.size} merges of ${before.size} waves"),
      Metric("index.merge_bytes_rewritten",
        after.filterNot(w => before.contains(w.wave)).map(_.bytes).sum.toDouble, "bytes"))
  }

  /** One more bulk build of the base corpus. Its phases run in order, so
    * they split at the first job whose call site is in `invertWave` and at
    * the first in `publish`.
    */
  private def buildProbe(jobsNow: () => Seq[JobRec]): Seq[Metric] = {
    val out = s"$dir/probe-build"
    val fromMs = System.currentTimeMillis()
    bulkBuild(out)
    val toMs = System.currentTimeMillis()
    val jobs = Collector.within(jobsNow(), fromMs, toMs)
    def firstStart(method: String): Long =
      jobs.filter(_.site.contains(method)).map(_.startMs).minOption.getOrElse(toMs)
    val publish = firstStart("IndexBuilder.publish")
    val invert = math.min(firstStart("IndexBuilder.invertWave"), firstStart("IndexBuilder.$anonfun$invertWave"))
    val tot = Collector.totals(jobs)
    Seq(
      Metric("index.stage1_s", (invert - fromMs) / 1e3, "s", "build start to the first invert job"),
      Metric("index.invert_s", (publish - invert) / 1e3, "s", "first invert job to the first publish job"),
      Metric("index.publish_s", (toMs - publish) / 1e3, "s", "first publish job to build end"),
      Metric("index.jobs", jobs.size.toDouble, "count"),
      Metric("index.task_cpu_s", tot.cpuNs / 1e9, "s"),
      Metric("index.gc_s", tot.gcMs / 1e3, "s"),
      Metric("index.shuffle_write_bytes", tot.shuffleWrite.toDouble, "bytes"),
      Metric("index.spill_bytes", tot.spill.toDouble, "bytes")) ++
      Seq("postings", "docs", "terms", "staged").map(d =>
        Metric(s"index.${d}_bytes", Fs.bytes(s"$out/$d").toDouble, "bytes"))
  }

  def sampleTexts: Seq[String] = Gen.contents(seed, 0L, math.min(baseDocs, 5000))

  def inputDigest: String =
    Fs.sha256(Gen.contents(seed, 0L, baseDocs + 4 * batchDocs).iterator ++ pool.iterator.map(_.query.toString))
}
