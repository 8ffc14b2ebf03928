package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.analysis.StandardCodeAnalyzer
import graft.index._
import graft.search._

/** Sloppy-phrase semantics (the reference STUBS sloppy phrases —
  * phrase.go:87 panics — so these pin THIS engine's defined spec, the one
  * the ft_phrase_slop oracle reproduces in SQL): anchored on the first
  * term, an anchor p matches iff Σᵢ minₚ∈Pᵢ |p − (p+i)| ≤ slop.
  */
class SloppyPhraseSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private lazy val dir = {
    val d = java.nio.file.Files.createTempDirectory("graft-slop").toString
    val docs = Seq(
      (0L, "alpha beta pad"), // adjacent: slop 0
      (1L, "alpha pad beta"), // gap 1: slop >= 1
      (2L, "beta alpha pad"), // reversed: displacement 2 (slop >= 2)
      (3L, "alpha pad pad beta"), // gap 2: slop >= 2
      (4L, "alpha pad pad pad beta"), // gap 3: not at slop 2
      (5L, "beta pad alpha"), // reversed with gap: displacement 3
      (6L, "alpha beta alpha beta"), // two exact anchors: pf = 2
      (7L, "alpha pad beta gamma"), // 3-term: disp 1 + 1 = 2
      (8L, "alpha beta pad gamma"), // 3-term: disp 0 + 1 = 1
      (9L, "gamma beta alpha pad") // 3-term reversed: disp 2 + 4 = 6
    ).map { case (id, text) => (id, s"r$id", f"p$id%03d", "", "scala", text) }
      .toDF("docId", "repo", "path", "commit", "lang", "content")
    val cfg = IndexConfig(analyzer = new StandardCodeAnalyzer(), docsPerRange = 4,
      numSegments = 2, segmentsPerWave = 2, explicitDocIdCol = Some("docId"))
    new IndexBuilder(spark, cfg).build(docs, d)
    d
  }
  private lazy val s = new IndexSearcher(spark, dir)
  /** WAND side: a zero driver-local bound keeps WAND on its pruned plan. */
  private lazy val w = pruning(new IndexSearcher(spark, dir))

  private def matchIds(q: Query): Seq[Long] =
    s.scoredDocs(q, ScoreMode.ExactDouble).collect().map(_.docId).sorted.toSeq

  test("2-term displacement ladder: slop 0/1/2 match the hand-derived sets") {
    // docs 7-9 contain alpha/beta too: 7 = gap 1, 8 = adjacent, 9 = reversed
    // (beta@1, alpha@2 → |1-3| = 2)
    assert(matchIds(PhraseQuery(Seq("alpha", "beta"))) == Seq(0L, 6L, 8L))
    assert(matchIds(PhraseQuery(Seq("alpha", "beta"), slop = 1)) ==
      Seq(0L, 1L, 6L, 7L, 8L))
    assert(matchIds(PhraseQuery(Seq("alpha", "beta"), slop = 2)) ==
      Seq(0L, 1L, 2L, 3L, 6L, 7L, 8L, 9L),
      "reorder (docs 2, 9) and gap-2 (doc 3) match at slop 2")
    assert(matchIds(PhraseQuery(Seq("alpha", "beta"), slop = 3)) ==
      (0L to 9L).toSeq)
  }

  test("3-term: displacements SUM across members") {
    assert(matchIds(PhraseQuery(Seq("alpha", "beta", "gamma"), slop = 1)) == Seq(8L))
    assert(matchIds(PhraseQuery(Seq("alpha", "beta", "gamma"), slop = 2)) == Seq(7L, 8L))
    assert(matchIds(PhraseQuery(Seq("alpha", "beta", "gamma"), slop = 5)) == Seq(7L, 8L))
    assert(matchIds(PhraseQuery(Seq("alpha", "beta", "gamma"), slop = 6)) == Seq(7L, 8L, 9L))
  }

  test("slop=0 PhraseQuery is bit-identical to the historical exact path") {
    for (mode <- Seq[ScoreMode](ScoreMode.Ref32, ScoreMode.ExactDouble)) {
      val a = s.search(PhraseQuery(Seq("alpha", "beta")), 10, mode)
      val b = s.search(PhraseQuery(Seq("alpha", "beta"), slop = 0), 10, mode)
      assert(a.scoreDocs.map(d => (d.docId, d.score)).toSeq ==
        b.scoreDocs.map(d => (d.docId, d.score)).toSeq)
    }
  }

  test("sloppy pf feeds the same phrase scorer: doc 6 (pf=2) outscores doc 0 (pf=1)") {
    val hits = s.scoredDocs(PhraseQuery(Seq("alpha", "beta"), slop = 0), ScoreMode.ExactDouble)
      .collect().map(d => d.docId -> d.score).toMap
    // doc 6 has pf=2 but dl=4 vs doc 0 pf=1 dl=3: tf growth dominates here
    assert(hits(6L) > hits(0L))
  }

  test("parser: \"a b\"~2 and fielded f:\"a b\"~1, unconsumed-token safety") {
    val p = new QueryParser(new StandardCodeAnalyzer())
    assert(p.parse("\"alpha beta\"~2") == PhraseQuery(Seq("alpha", "beta"), 1.0f, None, 2))
    assert(p.parse("\"alpha beta\"") == PhraseQuery(Seq("alpha", "beta")))
    val pf = new QueryParser(new StandardCodeAnalyzer(), analyzedFields = Set("path"))
    assert(pf.parse("path:\"alpha beta\"~1") ==
      PhraseQuery(Seq("alpha", "beta"), 1.0f, Some("path"), 1))
    // ~ not followed by digits stays an ordinary (analyzed) token
    assert(p.parse("\"alpha beta\" gamma") == BooleanQuery(Seq(
      BooleanClause(Occur.SHOULD, PhraseQuery(Seq("alpha", "beta"))),
      BooleanClause(Occur.SHOULD, TermQuery("gamma")))))
  }

  test("parser: single-quote phrases at token boundaries; apostrophes stay word text") {
    val p = new QueryParser(new StandardCodeAnalyzer())
    assert(p.parse("'alpha beta'~2") == PhraseQuery(Seq("alpha", "beta"), 1.0f, None, 2))
    assert(p.parse("'alpha beta'") == PhraseQuery(Seq("alpha", "beta")))
    // mid-word apostrophe is NOT a phrase delimiter (shell-friendly quoting
    // must not break natural text); UAX#29 keeps don't one token
    assert(p.parse("don't gamma") == BooleanQuery(Seq(
      BooleanClause(Occur.SHOULD, TermQuery("don't")),
      BooleanClause(Occur.SHOULD, TermQuery("gamma")))))
    // unterminated single quote: ordinary word text, no crash
    assert(p.parse("'til gamma") == BooleanQuery(Seq(
      BooleanClause(Occur.SHOULD, TermQuery("til")),
      BooleanClause(Occur.SHOULD, TermQuery("gamma")))))
    // a LATER mid-word apostrophe must not close a leading-apostrophe word
    // into a phrase: the closing quote needs a token-end follower too
    assert(p.parse("'til o'clock") == BooleanQuery(Seq(
      BooleanClause(Occur.SHOULD, TermQuery("til")),
      BooleanClause(Occur.SHOULD, TermQuery("o'clock")))))
  }

  test("WAND parity on sloppy phrases (first-member bound), both modes") {
    val qs = Seq[Query](
      PhraseQuery(Seq("alpha", "beta"), slop = 2),
      BooleanQuery(Seq(
        BooleanClause(Occur.SHOULD, PhraseQuery(Seq("alpha", "beta"), slop = 1)),
        BooleanClause(Occur.SHOULD, TermQuery("gamma")))),
      BooleanQuery(Seq(
        BooleanClause(Occur.MUST, PhraseQuery(Seq("alpha", "beta", "gamma"), slop = 2)),
        BooleanClause(Occur.SHOULD, TermQuery("pad")))))
    for (q <- qs; mode <- Seq[ScoreMode](ScoreMode.Ref32, ScoreMode.ExactDouble)) {
      val exact = s.search(q, 5, mode)
      val wand = Wand.searchTopK(w, q, 5, mode, phase1Ranges = 1)
      assert(wand.scoreDocs.map(d => (d.docId, d.score)).toSeq ==
        exact.scoreDocs.map(d => (d.docId, d.score)).toSeq, s"parity $q mode=$mode")
    }
  }

  test("sloppy anchors can REUSE one later-member position: pf can exceed its freq") {
    // 'alpha alpha' anchors both match the single 'beta' within slop 2 →
    // pf=2 > freq(beta)=1 — this is why the WAND sloppy bound must use the
    // FIRST member's maxFreq, not the min across members
    val d2 = java.nio.file.Files.createTempDirectory("graft-slop2").toString
    val docs = Seq((0L, "alpha alpha beta"), (1L, "alpha pad pad pad pad beta"))
      .map { case (id, text) => (id, s"r$id", f"p$id%03d", "", "scala", text) }
      .toDF("docId", "repo", "path", "commit", "lang", "content")
    val cfg = IndexConfig(analyzer = new StandardCodeAnalyzer(), docsPerRange = 4,
      numSegments = 1, segmentsPerWave = 1, explicitDocIdCol = Some("docId"))
    new IndexBuilder(spark, cfg).build(docs, d2)
    val s2 = new IndexSearcher(spark, d2)
    val w2 = pruning(new IndexSearcher(spark, d2))
    val q = PhraseQuery(Seq("alpha", "beta"), slop = 2)
    val hits = s2.scoredDocs(q, ScoreMode.ExactDouble).collect().map(_.docId).toSet
    assert(hits == Set(0L))
    for (mode <- Seq[ScoreMode](ScoreMode.Ref32, ScoreMode.ExactDouble)) {
      val exact = s2.search(q, 2, mode)
      val wand = Wand.searchTopK(w2, q, 2, mode, phase1Ranges = 1)
      assert(wand.scoreDocs.map(d => (d.docId, d.score)).toSeq ==
        exact.scoreDocs.map(d => (d.docId, d.score)).toSeq)
    }
  }

  test("explain == search score for sloppy phrases, both modes") {
    val q = PhraseQuery(Seq("alpha", "beta"), slop = 2)
    for (mode <- Seq[ScoreMode](ScoreMode.Ref32, ScoreMode.ExactDouble)) {
      val top = s.search(q, 5, mode)
      for (hit <- top.scoreDocs) {
        val ex = s.explain(q, hit.docId, mode)
        assert(ex.value == hit.score, ex.render)
        assert(ex.description.contains("~2"))
      }
    }
  }
}
