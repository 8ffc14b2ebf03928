package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.analysis.StandardCodeAnalyzer
import graft.index._
import graft.search._

/** DisjunctionMaxQuery and ConstantScoreQuery (both absent in the reference
  * — only the SUM disjunction exists, disjunctionSumScorer.go). DisMax:
  * score = (1−tie)·max + tie·sum over matching clauses, computed as
  * `mx + tie*(sm − mx)`. ConstantScore: inner query gates, the constant is
  * emitted verbatim (no norm/queryNorm/coord — engine spec).
  */
class DisMaxSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private val N = 500
  private lazy val indexPath = {
    val dir = java.nio.file.Files.createTempDirectory("graft-dismax").toString
    val cfg = IndexConfig(analyzer = new StandardCodeAnalyzer(),
      docsPerRange = 64, numSegments = 8, segmentsPerWave = 8)
    new IndexBuilder(spark, cfg).build(TestCorpus.corpus(N).toDF(), dir)
    dir
  }
  private lazy val searcher = new IndexSearcher(spark, indexPath)
  /** WAND side: a zero driver-local bound keeps WAND on its pruned plan. */
  private lazy val wandSearcher = pruning(new IndexSearcher(spark, indexPath))

  private def scores(q: Query, mode: ScoreMode): Map[Long, Double] =
    searcher.scoredDocs(q, mode).collect().map(d => (d.docId, d.score)).toMap

  test("tie=0 is the per-doc max of matching clause scores; match set is the union") {
    val a = TermQuery("merge"); val b = TermQuery("scorer")
    val dm = DisMaxQuery(Seq(a, b), 0.0f)
    for (mode <- Seq[ScoreMode](ScoreMode.Ref32, ScoreMode.ExactDouble)) {
      val sa = scores(a, mode); val sb = scores(b, mode)
      val got = scores(dm, mode)
      assert(got.keySet == (sa.keySet ++ sb.keySet))
      got.foreach { case (id, s) =>
        val expect = math.max(sa.getOrElse(id, Double.NegativeInfinity),
          sb.getOrElse(id, Double.NegativeInfinity))
        assert(s == expect, s"doc $id mode $mode")
      }
    }
  }

  test("tie=1 approximates the SHOULD sum (same match set, ~same scores)") {
    val dm = DisMaxQuery(Seq(TermQuery("merge"), TermQuery("index")), 1.0f)
    val or = BooleanQuery(Seq(
      BooleanClause(Occur.SHOULD, TermQuery("merge")),
      BooleanClause(Occur.SHOULD, TermQuery("index"))))
    val got = scores(dm, ScoreMode.ExactDouble)
    val want = scores(or, ScoreMode.ExactDouble)
    assert(got.keySet == want.keySet)
    // mx + 1.0*(sm − mx) re-associates the sum — equal to ~1 ulp, not bitwise
    got.foreach { case (id, s) =>
      assert(math.abs(s - want(id)) <= math.ulp(want(id)) * 4, s"doc $id") }
  }

  test("general tie matches the hand formula in each mode's arithmetic") {
    val a = TermQuery("merge"); val b = TermQuery("scorer"); val c = TermQuery("index")
    val tie = 0.25f
    for (mode <- Seq[ScoreMode](ScoreMode.ExactDouble, ScoreMode.Ref32)) {
      val got = scores(DisMaxQuery(Seq(a, b, c), tie), mode)
      val per = Seq(a, b, c).map(scores(_, mode))
      // the formula only rounds where two or more clauses match
      assert(got.keys.count(id => per.count(_.contains(id)) >= 2) > 0, s"mode $mode")
      got.foreach { case (id, s) =>
        // clause-order accumulation: sm adds a, b, c in order; mx is the max
        val vs = per.flatMap(_.get(id))
        val want = mode match {
          case ScoreMode.ExactDouble =>
            val sm = vs.foldLeft(0.0)(_ + _); val mx = vs.max
            mx + tie.toDouble * (sm - mx)
          case ScoreMode.Ref32 => // float32 throughout
            val fs = vs.map(_.toFloat)
            assert(fs.map(_.toDouble) == vs, s"doc $id: Ref32 clause scores are float32 values")
            val sm = fs.foldLeft(0.0f)(_ + _); val mx = fs.max
            (mx + tie * (sm - mx)).toDouble
        }
        assert(s == want, s"doc $id mode $mode")
      }
    }
  }

  test("1-clause dismax rewrites to the clause with folded boost") {
    assert(Query.rewrite(DisMaxQuery(Seq(TermQuery("merge")), 0.3f, 2.0f)) ==
      TermQuery("merge", 2.0f))
  }

  test("constant score: inner set, constant value, explain agrees") {
    val inner = BooleanQuery(Seq(
      BooleanClause(Occur.SHOULD, TermQuery("merge")),
      BooleanClause(Occur.SHOULD, TermQuery("scorer"))))
    val q = ConstantScoreQuery(inner, 3.25f)
    for (mode <- Seq[ScoreMode](ScoreMode.Ref32, ScoreMode.ExactDouble)) {
      val got = scores(q, mode)
      assert(got.keySet == scores(inner, mode).keySet)
      assert(got.values.forall(_ == 3.25))
      val id = got.keySet.min
      assert(searcher.explain(q, id, mode).value == 3.25)
      val nonMatch = (0L until N.toLong).find(i => !got.keySet.contains(i)).get
      assert(!searcher.explain(q, nonMatch, mode).isMatch)
    }
    // an outer boost multiplies the constant
    assert(Query.boosted(q, 2.0f) == ConstantScoreQuery(inner, 6.5f))
  }

  test("WAND == exhaustive for dismax/constant shapes, both modes") {
    val qs = Seq(
      DisMaxQuery(Seq(TermQuery("merge"), TermQuery("scorer")), 0.0f),
      DisMaxQuery(Seq(TermQuery("merge"), TermQuery("index"), TermQuery("buffer")), 0.5f),
      BooleanQuery(Seq( // nested: dismax under MUST beside a SHOULD term
        BooleanClause(Occur.MUST, DisMaxQuery(Seq(TermQuery("merge"), TermQuery("scorer")), 0.25f)),
        BooleanClause(Occur.SHOULD, TermQuery("index")))),
      ConstantScoreQuery(TermQuery("merge"), 2.0f),
      BooleanQuery(Seq( // constant-score clause beside a scored clause
        BooleanClause(Occur.SHOULD, ConstantScoreQuery(TermQuery("scorer"), 5.0f)),
        BooleanClause(Occur.SHOULD, TermQuery("merge")))))
    for (q <- qs; mode <- Seq[ScoreMode](ScoreMode.Ref32, ScoreMode.ExactDouble)) {
      val ex = searcher.search(q, 10, mode)
      val wd = Wand.searchTopK(wandSearcher, q, 10, mode)
      assert(ex.scoreDocs.map(d => (d.docId, d.score)).toSeq ==
        wd.scoreDocs.map(d => (d.docId, d.score)).toSeq, s"q=$q mode=$mode")
    }
  }

  test("explain root value == search score for dismax, both modes") {
    val q = DisMaxQuery(Seq(TermQuery("merge"), TermQuery("scorer")), 0.5f)
    for (mode <- Seq[ScoreMode](ScoreMode.Ref32, ScoreMode.ExactDouble)) {
      val top = searcher.search(q, 5, mode)
      top.scoreDocs.foreach { d =>
        assert(searcher.explain(q, d.docId, mode).value == d.score,
          s"doc ${d.docId} mode $mode")
      }
    }
  }

  test("parser: ^= constant-score on terms and groups; ^ still boosts") {
    val p = new QueryParser(new StandardCodeAnalyzer())
    assert(p.parse("merge^=2") == ConstantScoreQuery(TermQuery("merge"), 2.0f))
    assert(p.parse("(merge scorer)^=1.5") == ConstantScoreQuery(BooleanQuery(Seq(
      BooleanClause(Occur.SHOULD, TermQuery("merge")),
      BooleanClause(Occur.SHOULD, TermQuery("scorer")))), 1.5f))
    assert(p.parse("merge^2") == TermQuery("merge", 2.0f))
    // composes as a clause
    assert(p.parse("+merge^=2 scorer") == BooleanQuery(Seq(
      BooleanClause(Occur.MUST, ConstantScoreQuery(TermQuery("merge"), 2.0f)),
      BooleanClause(Occur.SHOULD, TermQuery("scorer")))))
  }
}
