package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.analysis.StandardCodeAnalyzer
import graft.index._
import graft.search._

/** Per-searcher posting-row cache: a searcher is a point-in-time view
  * (Lucene IndexReader semantics), so collected rows are cacheable per
  * (field, term). The proof is physical, as in SingletonSpec: after warming,
  * the postings directory is DELETED and repeated queries still answer
  * identically — zero Spark jobs touch postings.
  */
class RowCacheSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  test("repeated queries serve from the row cache: identical results, no postings reads") {
    val dir = java.nio.file.Files.createTempDirectory("graft-rowcache").toString
    val cfg = IndexConfig(analyzer = new StandardCodeAnalyzer(),
      docsPerRange = 128, numSegments = 4, segmentsPerWave = 4)
    new IndexBuilder(spark, cfg).build(TestCorpus.corpus(400).toDF(), dir)

    val s = new IndexSearcher(spark, dir)
    val queries = Seq[Query](
      new QueryParser(new StandardCodeAnalyzer()).parse("parser OR buffer"),
      BooleanQuery(Seq(
        BooleanClause(Occur.MUST, TermQuery("import")),
        BooleanClause(Occur.MUST_NOT, TermQuery("scorer")))),
      PhraseQuery(Seq("posting", "list"))) // positions-loaded cache entries
    val warm = queries.map(q => s.search(q, 10, ScoreMode.Ref32))

    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete()
    }
    rm(new java.io.File(s"$dir/postings"))

    queries.zip(warm).foreach { case (q, expected) =>
      val again = s.search(q, 10, ScoreMode.Ref32)
      assert(again.totalHits == expected.totalHits, s"totalHits for $q")
      assert(again.scoreDocs.map(d => (d.docId, d.score)).toSeq ==
        expected.scoreDocs.map(d => (d.docId, d.score)).toSeq, s"cached parity for $q")
    }
    // a query mixing cached + UNCACHED terms must fail loudly (postings are
    // gone) — proves the hits above really came from the cache
    intercept[Exception](s.search(BooleanQuery(Seq(
      BooleanClause(Occur.SHOULD, TermQuery("parser")),
      BooleanClause(Occur.SHOULD, TermQuery("merge")))), 10, ScoreMode.Ref32))
    // a FRESH searcher has an empty cache and must also fail
    intercept[Exception](
      new IndexSearcher(spark, dir).search(queries.head, 10, ScoreMode.Ref32))
  }

  test("cache is byte-bounded: evicts LRU entries, never the live query's") {
    val dir = java.nio.file.Files.createTempDirectory("graft-rowcache-b").toString
    val cfg = IndexConfig(analyzer = new StandardCodeAnalyzer(),
      docsPerRange = 128, numSegments = 4, segmentsPerWave = 4)
    new IndexBuilder(spark, cfg).build(TestCorpus.corpus(400).toDF(), dir)
    val s = new IndexSearcher(spark, dir)
    s.rowCacheMaxBytes = 1 // everything evicts after insertion
    val q = TermQuery("parser")
    val a = s.search(q, 10, ScoreMode.Ref32)
    val b = s.search(q, 10, ScoreMode.Ref32) // re-fetches, same answer
    assert(a.scoreDocs.map(d => (d.docId, d.score)).toSeq ==
      b.scoreDocs.map(d => (d.docId, d.score)).toSeq)
  }

  test("suggestTerms caches per (input, edits, topN, field): repeat = zero terms reads") {
    val dir = java.nio.file.Files.createTempDirectory("graft-suggcache").toString
    val cfg = IndexConfig(analyzer = new StandardCodeAnalyzer(),
      docsPerRange = 128, numSegments = 4, segmentsPerWave = 4)
    new IndexBuilder(spark, cfg).build(TestCorpus.corpus(400).toDF(), dir)
    val s = new IndexSearcher(spark, dir)
    val warm = s.suggestTerms("merg", 2, 5).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSeq
    assert(warm.nonEmpty)
    // physical proof (the RowCacheSpec pattern): delete the terms dictionary
    // — the repeated call must answer identically from the cache, while an
    // UNCACHED input must fail loudly (its scan has nothing to read)
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete()
    }
    rm(new java.io.File(
      graft.index.IndexManifest.load(spark, dir).termsLocation))
    val again = s.suggestTerms("merg", 2, 5).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSeq
    assert(again == warm)
    intercept[Exception](s.suggestTerms("sorr", 2, 5).collect())
  }

  test("expansions and suggestions share the byte budget: a flood evicts the oldest") {
    val dir = java.nio.file.Files.createTempDirectory("graft-lru").toString
    val cfg = IndexConfig(analyzer = new StandardCodeAnalyzer(),
      docsPerRange = 128, numSegments = 4, segmentsPerWave = 4)
    new IndexBuilder(spark, cfg).build(TestCorpus.corpus(400).toDF(), dir)
    val truth = new IndexSearcher(spark, dir) // default budget
    val s = new IndexSearcher(spark, dir)
    s.rowCacheMaxBytes = 2048 // holds about two (prefix, suggestion) pairs
    def suggest(x: IndexSearcher, in: String) = x.suggestTerms(in, 2, 5).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSeq
    val inputs = (10 until 30).map(i => s"w$i") // TestCorpus terms w0..w499
    val answers = inputs.map { p =>
      val a = (suggest(s, p + "q"), s.expandPrefixes(PrefixQuery(p)))
      assert(a == ((suggest(truth, p + "q"), truth.expandPrefixes(PrefixQuery(p)))), p)
      assert(a._1.nonEmpty && a._2 != BooleanQuery(Nil), p)
      a
    }
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete()
    }
    rm(new java.io.File(
      graft.index.IndexManifest.load(spark, dir).termsLocation))
    // the newest input is still served from the cache ...
    assert(s.expandPrefixes(PrefixQuery(inputs.last)) == answers.last._2)
    assert(suggest(s, inputs.last + "q") == answers.last._1)
    // ... the first was evicted: re-computing it needs the deleted dictionary
    intercept[Exception](s.expandPrefixes(PrefixQuery(inputs.head)))
    intercept[Exception](suggest(s, inputs.head + "q"))
  }

  test("stored-doc rows share the byte budget: a DocKey flood stays within it") {
    val dir = java.nio.file.Files.createTempDirectory("graft-lru-docs").toString
    val cfg = IndexConfig(analyzer = new StandardCodeAnalyzer(),
      docsPerRange = 128, numSegments = 4, segmentsPerWave = 4)
    new IndexBuilder(spark, cfg).build(TestCorpus.corpus(400).toDF(), dir)
    val ids = (0L until 40L)
    val truth = new IndexSearcher(spark, dir).docs(ids) // default budget
    assert(truth.map(_.docId) == ids)
    val s = new IndexSearcher(spark, dir)
    s.rowCacheMaxBytes = 2048 // holds about eight stored-doc rows
    // one batch lookup returns every row, however few the cache keeps
    assert(s.docs(ids) == truth)
    assert(s.cacheBytesInUse <= s.rowCacheMaxBytes)
    ids.zip(truth).foreach { case (id, row) =>
      assert(s.doc(id) == Some(row), s"doc $id")
      assert(s.cacheBytesInUse <= s.rowCacheMaxBytes, s"after doc $id")
    }
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete()
    }
    rm(new java.io.File(s"$dir/docs"))
    // the newest lookup is still served from the cache; the first was evicted
    assert(s.doc(ids.last) == Some(truth.last))
    intercept[Exception](s.doc(ids.head))
  }

  test("term stats share the byte budget: an absent-term flood stays within it") {
    val dir = java.nio.file.Files.createTempDirectory("graft-lru-stats").toString
    val cfg = IndexConfig(analyzer = new StandardCodeAnalyzer(),
      docsPerRange = 128, numSegments = 4, segmentsPerWave = 4)
    new IndexBuilder(spark, cfg).build(TestCorpus.corpus(400).toDF(), dir)
    val s = new IndexSearcher(spark, dir)
    s.rowCacheMaxBytes = 16L << 10
    val q = BooleanQuery(Seq(
      BooleanClause(Occur.SHOULD, TermQuery("parser")),
      BooleanClause(Occur.SHOULD, TermQuery("uniqtoken_7"))))
    val before = s.search(q, 10, ScoreMode.Ref32)
    // 10k lookups of terms the dictionary does not hold, 100 per call
    for (b <- 0 until 100) {
      assert(s.termStats((0 until 100).map(i => ("content", s"absent_${b}_$i"))).isEmpty)
      assert(s.cacheBytesInUse <= s.rowCacheMaxBytes, s"after batch $b")
    }
    // the query's stats entries were evicted: answering it needs the dictionary
    val terms = new java.io.File(s.manifest.termsLocation)
    val aside = new java.io.File(s"$dir/terms-aside")
    assert(terms.renameTo(aside))
    intercept[Exception](s.search(q, 10, ScoreMode.Ref32))
    assert(aside.renameTo(terms))
    val again = s.search(q, 10, ScoreMode.Ref32)
    assert(again.totalHits == before.totalHits)
    assert(again.scoreDocs.map(d => (d.docId, d.score)).toSeq ==
      before.scoreDocs.map(d => (d.docId, d.score)).toSeq)
  }
}
