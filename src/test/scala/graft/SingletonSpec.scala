package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.analysis.StandardCodeAnalyzer
import graft.index._
import graft.search._

/** Singleton pulsing (reference postingsWriter.go:412-417,571-575): when
  * every query term has docFreq == 1, the docId inlined in the terms dict +
  * the stored per-field dls answer the query with ZERO postings reads. The
  * proof here is physical: the postings directory is DELETED and the queries
  * still return exactly the pre-deletion results.
  */
class SingletonSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  test("all-singleton queries bypass postings entirely; results identical") {
    val dir = java.nio.file.Files.createTempDirectory("graft-singleton").toString
    val cfg = IndexConfig(analyzer = new StandardCodeAnalyzer(),
      docsPerRange = 64, numSegments = 4, segmentsPerWave = 4)
    new IndexBuilder(spark, cfg).build(TestCorpus.corpus(300).toDF(), dir)

    val queries = Seq[Query](
      TermQuery("uniqtoken_5"),
      BooleanQuery(Seq(
        BooleanClause(Occur.MUST, TermQuery("uniqtoken_5")),
        BooleanClause(Occur.SHOULD, TermQuery("uniqtoken_7")))),
      BooleanQuery(Seq(
        BooleanClause(Occur.SHOULD, TermQuery("uniqtoken_5")),
        BooleanClause(Occur.SHOULD, TermQuery("uniqtoken_7")),
        BooleanClause(Occur.MUST_NOT, TermQuery("uniqtoken_9")))))

    // expected results from the full scored-Dataset path, BEFORE deletion
    val s0 = new IndexSearcher(spark, dir)
    val expected = queries.map { q =>
      val all = s0.scoredDocs(q, ScoreMode.Ref32).collect()
        .sortBy(d => (-d.score, d.docId))
      (all.length.toLong, all.take(5).toSeq)
    }
    // singleton stats must really hold (the corpus guarantees unique tokens)
    assert(s0.termStatsOf(Seq("uniqtoken_5"))("uniqtoken_5").docFreq == 1)

    // physically remove the postings — any read would now throw
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete()
    }
    rm(new java.io.File(s"$dir/postings"))

    val s1 = new IndexSearcher(spark, dir)
    queries.zip(expected).foreach { case (q, (total, top)) =>
      val got = s1.search(q, 5, ScoreMode.Ref32)
      assert(got.totalHits == total, s"totalHits for $q")
      assert(got.scoreDocs.map(d => (d.docId, d.score)).toSeq ==
        top.map(d => (d.docId, d.score)), s"singleton path parity for $q")
    }
    // both score modes work
    assert(s1.search(TermQuery("uniqtoken_5"), 5, ScoreMode.ExactDouble).totalHits == 1)
    // searcher-scoped (small) deletes still apply on the singleton path
    val victim = expected.head._2.head.docId
    assert(s1.withDeletes(Array(victim))
      .search(TermQuery("uniqtoken_5"), 5, ScoreMode.Ref32).totalHits == 0)
    // canary: a NON-singleton term must fail loudly (postings are gone) —
    // proves the singleton queries above really never touched them
    intercept[Exception](s1.search(TermQuery("import"), 5, ScoreMode.Ref32))
  }

  test("repeated singleton queries read the docs table once: stored rows are cached") {
    val dir = java.nio.file.Files.createTempDirectory("graft-singleton-docs").toString
    val cfg = IndexConfig(analyzer = new StandardCodeAnalyzer(),
      docsPerRange = 64, numSegments = 4, segmentsPerWave = 4)
    new IndexBuilder(spark, cfg).build(TestCorpus.corpus(300).toDF(), dir)
    val s = new IndexSearcher(spark, dir)
    val q = TermQuery("uniqtoken_5")
    val first = s.search(q, 5, ScoreMode.Ref32)
    assert(first.totalHits == 1)
    assert(s.termStatsOf(Seq("uniqtoken_8"))("uniqtoken_8").docFreq == 1)
    // physical proof: without the docs table the repeat still answers, and
    // the hit's stored fields come from the same cached row
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete()
    }
    rm(new java.io.File(s"$dir/docs"))
    val again = s.search(q, 5, ScoreMode.Ref32)
    assert(again.totalHits == first.totalHits)
    assert(again.scoreDocs.map(d => (d.docId, d.score)).toSeq ==
      first.scoreDocs.map(d => (d.docId, d.score)).toSeq)
    assert(s.doc(first.scoreDocs.head.docId).map(_.docId) == Some(first.scoreDocs.head.docId))
    // canary: a singleton never asked needs its stored row — the read fails
    intercept[Exception](s.search(TermQuery("uniqtoken_8"), 5, ScoreMode.Ref32))
  }
}
