package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.analysis.StandardCodeAnalyzer
import graft.index._
import graft.search._

/** Occur.FILTER / FilteredQuery (the reference STUBS FilteredQuery —
  * search.go:113-118 panics on a non-nil filter) and MatchAllDocsQuery
  * (absent in the reference; `*:*`). FILTER semantics are Lucene's: must
  * match, contributes no score / coord / queryNorm.
  */
class FilterSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private val N = 500
  private lazy val indexPath = {
    val dir = java.nio.file.Files.createTempDirectory("graft-filter").toString
    val cfg = IndexConfig(analyzer = new StandardCodeAnalyzer(),
      docsPerRange = 64, numSegments = 8, segmentsPerWave = 8,
      keywordFields = Seq("lang"))
    new IndexBuilder(spark, cfg).build(TestCorpus.corpus(N).toDF(), dir)
    dir
  }
  private lazy val searcher = new IndexSearcher(spark, indexPath)
  /** WAND side: a zero driver-local bound keeps WAND on its pruned plan. */
  private lazy val wandSearcher = pruning(new IndexSearcher(spark, indexPath))

  private def hits(q: Query, mode: ScoreMode): Seq[(Long, Double)] =
    searcher.scoredDocs(q, mode).collect().map(d => (d.docId, d.score))
      .sortBy(_._1).toSeq

  test("MUST + FILTER: match set intersects, score is the MUST side alone") {
    val a = TermQuery("merge")
    val b = TermQuery("scorer")
    val filtered = BooleanQuery(Seq(
      BooleanClause(Occur.MUST, a), BooleanClause(Occur.FILTER, b)))
    val both = BooleanQuery(Seq(
      BooleanClause(Occur.MUST, a), BooleanClause(Occur.MUST, b)))
    for (mode <- Seq[ScoreMode](ScoreMode.Ref32, ScoreMode.ExactDouble)) {
      val f = hits(filtered, mode)
      assert(f.nonEmpty)
      // same docs as the all-MUST conjunction...
      assert(f.map(_._1) == hits(both, mode).map(_._1))
      // ...but scored by `a` alone (b contributes nothing)
      val aScores = hits(a, mode).toMap
      f.foreach { case (id, s) => assert(s == aScores(id), s"doc $id mode $mode") }
    }
  }

  test("FILTER-only boolean matches the filter's set and scores 0") {
    val b = TermQuery("scorer")
    val q = BooleanQuery(Seq(BooleanClause(Occur.FILTER, b)))
    for (mode <- Seq[ScoreMode](ScoreMode.Ref32, ScoreMode.ExactDouble)) {
      val f = hits(q, mode)
      assert(f.map(_._1) == hits(b, mode).map(_._1))
      assert(f.forall(_._2 == 0.0))
    }
  }

  test("SHOULD clauses are optional when a FILTER is present") {
    val q = BooleanQuery(Seq(
      BooleanClause(Occur.SHOULD, TermQuery("merge")),
      BooleanClause(Occur.FILTER, TermQuery("scorer"))))
    val f = hits(q, ScoreMode.ExactDouble)
    // match set = ALL scorer docs (incl. those without merge, scored 0)
    assert(f.map(_._1) == hits(TermQuery("scorer"), ScoreMode.ExactDouble).map(_._1))
    val merge = hits(TermQuery("merge"), ScoreMode.ExactDouble).toMap
    f.foreach { case (id, s) => assert(s == merge.getOrElse(id, 0.0)) }
    assert(f.exists(_._2 == 0.0) && f.exists(_._2 > 0.0)) // both kinds occur
  }

  test("FILTER contributes no queryNorm under TF-IDF") {
    val tfidf = new IndexSearcher(spark, indexPath, similarity = new TfIdfSimilarity())
    val a = TermQuery("merge")
    val filtered = BooleanQuery(Seq(
      BooleanClause(Occur.MUST, a), BooleanClause(Occur.FILTER, TermQuery("scorer"))))
    val aScores = tfidf.scoredDocs(a, ScoreMode.Ref32).collect()
      .map(d => (d.docId, d.score)).toMap
    tfidf.scoredDocs(filtered, ScoreMode.Ref32).collect().foreach { d =>
      // coord: 1 scoring clause of maxOverlap 1 -> coord=1; queryNorm must
      // come from `a` alone, so scores match the bare term query exactly
      assert(d.score == aScores(d.docId), s"doc ${d.docId}")
    }
  }

  test("WAND == exhaustive for FILTER shapes (flat, nested, msm)") {
    val qs = Seq(
      BooleanQuery(Seq(
        BooleanClause(Occur.MUST, TermQuery("merge")),
        BooleanClause(Occur.FILTER, TermQuery("scorer")))),
      BooleanQuery(Seq(
        BooleanClause(Occur.SHOULD, TermQuery("merge")),
        BooleanClause(Occur.SHOULD, TermQuery("index")),
        BooleanClause(Occur.FILTER, BooleanQuery(Seq(
          BooleanClause(Occur.SHOULD, TermQuery("scorer")),
          BooleanClause(Occur.SHOULD, TermQuery("buffer")))))), 1),
      BooleanQuery(Seq(BooleanClause(Occur.FILTER, TermQuery("scorer")))))
    for (q <- qs; mode <- Seq[ScoreMode](ScoreMode.Ref32, ScoreMode.ExactDouble)) {
      val ex = searcher.search(q, 10, mode)
      val wd = Wand.searchTopK(wandSearcher, q, 10, mode)
      assert(ex.scoreDocs.map(d => (d.docId, d.score)).toSeq ==
        wd.scoreDocs.map(d => (d.docId, d.score)).toSeq, s"q=$q mode=$mode")
    }
  }

  test("FilteredQuery sugar desugars; FilteredQuery(MatchAll, f) is the pure filter") {
    val a = TermQuery("merge")
    val b = TermQuery("scorer")
    assert(Query.rewrite(FilteredQuery(a, b)) == BooleanQuery(Seq(
      BooleanClause(Occur.MUST, a), BooleanClause(Occur.FILTER, b))))
    val pure = Query.rewrite(FilteredQuery(MatchAllQuery(), b))
    assert(pure == BooleanQuery(Seq(BooleanClause(Occur.FILTER, b)), 0, 1.0f))
    // runs end to end and scores 0 over b's match set
    val f = hits(FilteredQuery(MatchAllQuery(), b), ScoreMode.ExactDouble)
    assert(f.map(_._1) == hits(b, ScoreMode.ExactDouble).map(_._1))
    assert(f.forall(_._2 == 0.0))
  }

  test("MatchAll: totalHits = live count, constant boost score, docId-asc top-k") {
    val top = searcher.search(MatchAllQuery(2.5f), 7, ScoreMode.Ref32)
    assert(top.totalHits == N)
    assert(top.scoreDocs.map(_.docId).toSeq == (0L until 7L))
    assert(top.scoreDocs.forall(_.score == 2.5))
    // parser syntax
    val p = new QueryParser(new StandardCodeAnalyzer())
    assert(p.parse("*:*") == MatchAllQuery())
    assert(p.parse("*:*^2") == MatchAllQuery(2.0f))
    // deletes apply
    val withDel = searcher.withDeletes(Array(0L, 3L))
    val t2 = withDel.search(MatchAllQuery(), 5, ScoreMode.Ref32)
    assert(t2.totalHits == N - 2)
    assert(t2.scoreDocs.map(_.docId).toSeq == Seq(1L, 2L, 4L, 5L, 6L))
    // explain agrees
    assert(searcher.explain(MatchAllQuery(2.5f), 4L).value == 2.5)
    assert(!withDel.explain(MatchAllQuery(), 3L).isMatch)
  }

  test("MatchAll composes with facets/sort; nested MatchAll is rejected") {
    val counts = searcher.facetCounts(MatchAllQuery(), "lang").collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(counts.values.sum == N) // every live doc counted once
    val sorted = searcher.searchSortBy(MatchAllQuery(), "lang", 3).collect()
    assert(sorted.length == 3)
    val ex = intercept[IllegalArgumentException](searcher.search(
      BooleanQuery(Seq(
        BooleanClause(Occur.MUST, TermQuery("merge")),
        BooleanClause(Occur.SHOULD, MatchAllQuery()))), 5, ScoreMode.Ref32))
    assert(ex.getMessage.contains("FilteredQuery"), ex.getMessage)
  }
}
