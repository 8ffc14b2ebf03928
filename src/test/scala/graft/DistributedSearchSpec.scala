package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.analysis.StandardCodeAnalyzer
import graft.index._
import graft.search._
import graft.streaming.StreamingIndexer

/** The distributed evaluation (a searcher with `localSearchMaxPostings = 0`)
  * ≡ the driver-local one, bit for bit: same totalHits, same top-k docIds,
  * scores equal as doubles, in both score modes, for every query shape,
  * delete path and paging call — and each distributed call is ONE Spark job,
  * named as the distributed path.
  */
class DistributedSearchSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private val modes = Seq[ScoreMode](ScoreMode.Ref32, ScoreMode.ExactDouble)

  private def cfg = IndexConfig(analyzer = new StandardCodeAnalyzer(),
    docsPerRange = 64, numSegments = 4, segmentsPerWave = 4)

  private def build(n: Int, tag: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(s"graft-dist-$tag").toString
    new IndexBuilder(spark, cfg).build(TestCorpus.corpus(n).toDF(), dir)
    dir
  }

  private lazy val indexPath = build(400, "main")

  private def should(qs: Query*) = qs.map(BooleanClause(Occur.SHOULD, _))

  private val battery: Seq[Query] = Seq(
    TermQuery("parser"),
    TermQuery("merge", boost = 2.5f),
    BooleanQuery(Seq(
      BooleanClause(Occur.MUST, TermQuery("import")),
      BooleanClause(Occur.SHOULD, TermQuery("parser")))),
    BooleanQuery(should(TermQuery("merge"), TermQuery("index"), TermQuery("buffer")), 2),
    BooleanQuery(Seq(
      BooleanClause(Occur.MUST, TermQuery("merge")),
      BooleanClause(Occur.MUST_NOT, TermQuery("scorer")),
      BooleanClause(Occur.SHOULD, TermQuery("vector")))),
    PhraseQuery(Seq("posting", "list")),
    PhraseQuery(Seq("import", "return"), slop = 2),
    DisMaxQuery(Seq(TermQuery("merge"), TermQuery("scorer")), 0.3f),
    ConstantScoreQuery(TermQuery("merge"), 2.5f),
    BooleanQuery(should(TermQuery("parser", boost = 3.0f), TermQuery("buffer", boost = 0.5f),
      PhraseQuery(Seq("posting", "list"), boost = 1.5f))))

  private def pairs(t: TopDocs) = t.scoreDocs.map(d => (d.docId, d.score)).toSeq

  private def distributed(s: IndexSearcher): IndexSearcher = {
    s.localSearchMaxPostings = 0
    s
  }

  /** Runs `f`, asserting it launched exactly one job, named as the
    * distributed path.
    */
  private def oneJob[A](what: String)(f: => A): A = {
    val (a, jobs) = SparkJobs.described(spark)(f)
    assert(jobs.size == 1 && jobs.head.startsWith("graft search distributed: "),
      s"$what launched $jobs")
    a
  }

  /** `dist` ≡ `local` on search, searchAfter and searchPage for `q`. */
  private def assertSame(local: IndexSearcher, dist: IndexSearcher, q: Query,
      mode: ScoreMode): Unit = {
    val what = s"q=$q mode=$mode"
    val exp = local.search(q, 20, mode)
    val got = oneJob(what)(dist.search(q, 20, mode))
    assert(exp.totalHits > 0, what)
    assert(got.totalHits == exp.totalHits, s"totalHits $what")
    assert(!got.totalHitsIsLowerBound, what)
    assert(pairs(got) == pairs(exp), what)
    val cursor = exp.scoreDocs(math.min(4, exp.scoreDocs.length - 1))
    val afterExp = local.searchAfter(q, cursor, 7, mode)
    val afterGot = oneJob(what)(dist.searchAfter(q, cursor, 7, mode))
    assert(afterGot.totalHits == afterExp.totalHits, s"searchAfter totalHits $what")
    assert(pairs(afterGot) == pairs(afterExp), s"searchAfter $what")
    val pageExp = local.searchPage(q, 3, 6, mode)
    val pageGot = oneJob(what)(dist.searchPage(q, 3, 6, mode))
    assert(pageGot.totalHits == pageExp.totalHits, s"searchPage totalHits $what")
    assert(pairs(pageGot) == pairs(pageExp), s"searchPage $what")
  }

  test("every query shape, both modes: distributed ≡ driver-local, one job per call") {
    val local = new IndexSearcher(spark, indexPath)
    val dist = distributed(new IndexSearcher(spark, indexPath))
    for (q <- battery; mode <- modes) assertSame(local, dist, q, mode)
  }

  test("scoredDocs runs the distributed evaluation and gives the same top-k") {
    val local = new IndexSearcher(spark, indexPath)
    val s = new IndexSearcher(spark, indexPath)
    for (q <- battery; mode <- modes) {
      val exp = local.search(q, 15, mode)
      val all = s.scoredDocs(q, mode).collect().sortBy(d => (-d.score, d.docId))
      assert(all.length == exp.totalHits, s"q=$q mode=$mode")
      assert(all.take(15).map(d => (d.docId, d.score)).toSeq == pairs(exp), s"q=$q mode=$mode")
    }
  }

  test("WAND's metadata jobs and the Spark expansions are named too") {
    val s = distributed(new IndexSearcher(spark, indexPath))
    val (_, wandJobs) = SparkJobs.described(spark)(
      Wand.searchTopK(s, TermQuery("import"), 10, phase1Ranges = 2))
    assert(wandJobs.exists(_.startsWith("graft wand phase 1 bounds: content:import")), wandJobs)
    assert(wandJobs.forall(_.startsWith("graft ")), wandJobs)
    val (_, expansionJobs) = SparkJobs.described(spark)(s.search(WildcardQuery("pa*er"), 5))
    assert(expansionJobs.exists(_.startsWith("graft expand wildcard 'content:pa*er'")),
      expansionJobs)
    assert(expansionJobs.forall(_.startsWith("graft ")), expansionJobs)
  }

  test("small and ranged deletes: distributed ≡ driver-local on every path") {
    val dir = build(400, "deletes")
    Deletes.append(spark, dir, (0L until 400L).filter(_ % 5 == 1))
    val local = new IndexSearcher(spark, dir)
    assert(!local.rangedDeletes)
    // searcher-scoped small deletes on top of the persisted ones
    val extra = Array(0L, 2L, 64L, 130L, 399L)
    val views = Seq(
      "small" -> (local, distributed(new IndexSearcher(spark, dir))),
      "small+extra" -> (local.withDeletes(extra),
        distributed(new IndexSearcher(spark, dir).withDeletes(extra))),
      "ranged" -> (local, distributed(new IndexSearcher(spark, dir, deleteBroadcastMax = 0))))
    for ((name, (l, d)) <- views) {
      assert(d.rangedDeletes == (name == "ranged"), name)
      d.search(TermQuery("import"), 1) // opens the delete view (count, load)
      for (q <- battery; mode <- modes) assertSame(l, d, q, mode)
    }
    // the driver-local evaluation of the ranged view agrees too
    val rangedLocal = new IndexSearcher(spark, dir, deleteBroadcastMax = 0)
    for (q <- battery) assert(pairs(rangedLocal.search(q, 20)) == pairs(local.search(q, 20)))
  }

  test("ranges spanning two waves after an append") {
    val dir = java.nio.file.Files.createTempDirectory("graft-dist-append").toString
    val builder = new IndexBuilder(spark, cfg)
    val corpus = TestCorpus.corpus(300)
    builder.build(corpus.take(150).toDF(), dir)
    StreamingIndexer.appendBatch(spark, builder, corpus.drop(150).toDF(), batchId = 0L, dir)
    val local = new IndexSearcher(spark, dir)
    // range 2 (docIds 128..191) holds rows of both waves
    val waves = spark.read.parquet(s"$dir/postings").where("rangeId = 2")
      .select("wave").distinct().count()
    assert(waves == 2, s"range 2 spans $waves waves")
    val dist = distributed(new IndexSearcher(spark, dir))
    for (q <- battery; mode <- modes) assertSame(local, dist, q, mode)
  }

  test("2-shard MultiSearcher: distributed shards ≡ driver-local shards, one job per shard") {
    def df(pred: Long => Boolean) =
      TestCorpus.corpus(400).zipWithIndex.collect { case (c, i) if pred(i.toLong) =>
        (i.toLong, c.repo, c.path, c.commit, c.lang, c.content)
      }.toDF("doc_id", "repo", "path", "commit", "lang", "content")
    val shardCfg = cfg.copy(explicitDocIdCol = Some("doc_id"))
    val dirs = Seq[Long => Boolean](_ % 2 == 0, _ % 2 == 1).map { pred =>
      val dir = java.nio.file.Files.createTempDirectory("graft-dist-shard").toString
      new IndexBuilder(spark, shardCfg).build(df(pred), dir)
      dir
    }
    val local = MultiSearcher(spark, dirs)
    val dist = MultiSearcher(spark, dirs)
    dist.shards.foreach(distributed)
    for (q <- battery; mode <- modes) {
      val exp = local.search(q, 20, mode)
      val (got, jobs) = SparkJobs.described(spark)(dist.search(q, 20, mode))
      assert(jobs.size == 2 && jobs.forall(_.startsWith("graft search distributed: ")),
        s"q=$q launched $jobs")
      assert(got.totalHits == exp.totalHits, s"q=$q mode=$mode")
      assert(pairs(got) == pairs(exp), s"q=$q mode=$mode")
    }
  }
}
