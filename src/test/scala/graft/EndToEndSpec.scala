package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.analysis.StandardCodeAnalyzer
import graft.index._
import graft.search._

/** Round-trip build → query parity against the scalar oracle — the engine's
  * analogue of the reference's TestBasicIndexAndSearch + golden-index tests
  * (/root/reference/core_test/search_test.go:36-78,
  * /root/reference/core/search/search_test.go:27-54), over the FIXTURES.md §3
  * reference query set Q1–Q8.
  */
class EndToEndSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private val N = 800
  private val analyzer = new StandardCodeAnalyzer()
  private lazy val indexPath = {
    val dir = java.nio.file.Files.createTempDirectory("graft-idx").toString
    val config = IndexConfig(analyzer = analyzer, docsPerRange = 256,
      numSegments = 8, segmentsPerWave = 4, buildPartitions = 8)
    new IndexBuilder(spark, config).build(TestCorpus.corpus(N).toDF(), dir)
    dir
  }

  private lazy val searcher = new IndexSearcher(spark, indexPath)

  /** Oracle over the engine's own docId assignment (read back from docs). */
  private lazy val oracle: Oracle.OIndex = {
    val idByPath = spark.read.parquet(s"$indexPath/docs")
      .select("path", "docId").as[(String, Long)].collect().toMap
    Oracle.index(
      TestCorpus.corpus(N).map(f => idByPath(f.path) -> f.content),
      analyzer)
  }

  private val parser = new QueryParser(analyzer)

  private def assertParity(q: Query, k: Int = 10): Unit = {
    val got = searcher.search(q, k, ScoreMode.Ref32)
    val (expTotal, expTop) = oracle.topK(q, k)
    assert(got.totalHits == expTotal, s"totalHits for $q")
    assert(got.scoreDocs.map(_.docId).toSeq == expTop.map(_._1),
      s"rank order for $q:\n got=${got.scoreDocs.toSeq}\n exp=$expTop")
    // Ref32 is float32 arithmetic widened: bit parity with the oracle
    got.scoreDocs.zip(expTop).foreach { case (g, (_, es)) =>
      assert(g.score == es.toDouble, s"score parity for $q: $g vs $es")
    }
  }

  test("per-row invariant: stored sha256(content) equals corpus sha256") {
    val docs = spark.read.parquet(s"$indexPath/docs")
    val corpusDF = TestCorpus.corpus(N).toDF()
      .withColumn("sha", sha2(col("content"), 256))
      .select(col("path").as("cpath"), col("sha"))
    val mismatches = docs.join(corpusDF, docs("path") === corpusDF("cpath"))
      .where(col("contentSha") =!= col("sha")).count()
    assert(mismatches == 0)
    assert(docs.count() == N)
  }

  test("docIds are a contiguous deterministic permutation") {
    val ids = spark.read.parquet(s"$indexPath/docs").select("docId")
      .as[Long].collect().sorted
    assert(ids.toSeq == (0L until N).toSeq)
  }

  test("term dictionary stats match oracle df/ttf") {
    val terms = spark.read.parquet(s"$indexPath/terms")
      .select("term", "docFreq", "totalTermFreq")
      .as[(String, Long, Long)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    for (t <- TestCorpus.hot ++ TestCorpus.mid ++ Seq("uniqtoken_5", "posting", "list")) {
      val expDf = oracle.df.getOrElse(t, 0L)
      val expTtf = oracle.docs.map(_.freqs.getOrElse(t, 0).toLong).sum
      assert(terms.get(t).map(_._1).getOrElse(0L) == expDf, s"df($t)")
      assert(terms.get(t).map(_._2).getOrElse(0L) == expTtf, s"ttf($t)")
    }
    // stopwords never indexed
    assert(!terms.contains("the"))
    // singleton pulsing representation
    val singleton = spark.read.parquet(s"$indexPath/terms")
      .where(col("term") === "uniqtoken_5").select("singletonDocId").as[Long].collect()
    assert(singleton.length == 1 && singleton(0) >= 0)
  }

  test("collection stats match oracle") {
    val cs = searcher.collectionStats
    assert(cs.maxDoc == oracle.maxDoc)
    assert(cs.sumTotalTermFreq == oracle.sumTtf)
  }

  test("Q1: single TermQuery top-10 rank + score parity") {
    assertParity(TermQuery("import"))
    assertParity(TermQuery("parser"))
    assertParity(TermQuery("uniqtoken_5"), k = 5)
  }

  test("Q2: parsed disjunction `parser OR buffer`") {
    assertParity(parser.parse("parser OR buffer"))
  }

  test("Q3: exact phrase \"posting list\"") {
    assertParity(parser.parse("\"posting list\""))
    // phrase must actually constrain: compare against bare conjunction
    val phrase = searcher.search(PhraseQuery(Seq("posting", "list")), 1000, ScoreMode.Ref32)
    val conj = searcher.search(BooleanQuery(Seq(
      BooleanClause(Occur.MUST, TermQuery("posting")),
      BooleanClause(Occur.MUST, TermQuery("list")))), 1000, ScoreMode.Ref32)
    assert(phrase.totalHits <= conj.totalHits)
    assert(phrase.totalHits == (0 until N).count(_ % 7 == 0))
  }

  test("Q4: negative boost → negative scores, still rank-identical") {
    assertParity(TermQuery("scorer", boost = -42.0f))
    val got = searcher.search(TermQuery("scorer", -42.0f), 3, ScoreMode.Ref32)
    assert(got.scoreDocs.forall(_.score < 0))
  }

  test("Q5: conjunction `+import +parser`") {
    assertParity(parser.parse("+import +parser"))
    assertParity(parser.parse("import AND parser AND buffer"))
  }

  test("Q6: ReqExcl `parser -uniqtoken_7` and `merge NOT scorer`") {
    assertParity(parser.parse("parser -uniqtoken_7"))
    assertParity(parser.parse("merge NOT scorer"))
  }

  test("Q7: stopword-heavy `a OR the OR import` collapses to `import`") {
    val q = parser.parse("a OR the OR import")
    assertParity(q)
    // stop terms vanish at parse time → same results as bare term
    val bare = searcher.search(TermQuery("import"), 10, ScoreMode.Ref32)
    val got = searcher.search(q, 10, ScoreMode.Ref32)
    assert(got.scoreDocs.map(_.docId).toSeq == bare.scoreDocs.map(_.docId).toSeq)
  }

  test("Q8: minShouldMatch=2 over three SHOULD terms") {
    val q = BooleanQuery(Seq(
      BooleanClause(Occur.SHOULD, TermQuery("parser")),
      BooleanClause(Occur.SHOULD, TermQuery("buffer")),
      BooleanClause(Occur.SHOULD, TermQuery("scorer"))), minShouldMatch = 2)
    assertParity(q)
  }

  test("ReqOpt: MUST + SHOULD adds optional scores on the required set") {
    assertParity(BooleanQuery(Seq(
      BooleanClause(Occur.MUST, TermQuery("parser")),
      BooleanClause(Occur.SHOULD, TermQuery("buffer")))))
  }

  test("nested boolean: (parser AND buffer) OR uniqtoken_3") {
    assertParity(parser.parse("(parser AND buffer) OR uniqtoken_3"))
  }

  test("tie-break: equal scores order by ascending docId") {
    // singleton terms in equal-length docs can tie; verify ordering contract
    val got = searcher.search(TermQuery("import"), 50, ScoreMode.Ref32)
    val pairs = got.scoreDocs.toSeq
    pairs.sliding(2).foreach {
      case Seq(a, b) =>
        assert(a.score > b.score || (a.score == b.score && a.docId < b.docId))
      case _ =>
    }
  }

  test("missing term: MUST over absent term matches nothing; SHOULD ignores it") {
    val none = searcher.search(parser.parse("+import +zzz_not_a_term"), 10, ScoreMode.Ref32)
    assert(none.totalHits == 0)
    assertParity(parser.parse("import OR zzz_not_a_term"))
  }

  test("k=1000 distributed top-k: treeAggregate heap merge == oracle") {
    // force the distributed path (no driver-local fast path) so the
    // tree-merged per-partition heaps are what is being tested
    val s = new IndexSearcher(spark, indexPath)
    s.localSearchMaxPostings = 0
    for (q <- Seq[Query](TermQuery("import"), parser.parse("parser OR buffer OR import"))) {
      val got = s.search(q, 1000, ScoreMode.Ref32)
      val (expTotal, expTop) = oracle.topK(q, 1000)
      assert(got.totalHits == expTotal, s"totalHits for $q")
      assert(got.scoreDocs.map(_.docId).toSeq == expTop.map(_._1), s"k=1000 rank order for $q")
    }
  }

  test("pagination: page 2 continues exactly where page 1 ended") {
    val all = searcher.search(TermQuery("parser"), 20, ScoreMode.Ref32)
    val p1 = searcher.searchPage(TermQuery("parser"), 0, 10, ScoreMode.Ref32)
    val p2 = searcher.searchPage(TermQuery("parser"), 10, 10, ScoreMode.Ref32)
    assert((p1.scoreDocs ++ p2.scoreDocs).map(_.docId).toSeq ==
      all.scoreDocs.map(_.docId).toSeq)
    assert(p2.totalHits == all.totalHits)
  }

  test("stored-field retrieval and explain reproduce the hit") {
    val top = searcher.search(TermQuery("parser"), 3, ScoreMode.Ref32)
    val hit = top.scoreDocs.head
    val stored = searcher.doc(hit.docId)
    assert(stored.isDefined && stored.get.docId == hit.docId)
    // per-row invariant reachable through the read API too
    val corpusByPath = TestCorpus.corpus(N).map(f => f.path -> f.content).toMap
    val sha = java.security.MessageDigest.getInstance("SHA-256")
      .digest(corpusByPath(stored.get.path).getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(stored.get.contentSha == sha)
    val ex = searcher.explain(TermQuery("parser"), hit.docId)
    assert(ex.isMatch && ex.value == hit.score,
      s"explain value ${ex.value} != search score ${hit.score}\n${ex.render}")
    assert(ex.render.contains("parser") && ex.render.contains("docFreq=") &&
      ex.render.contains("tfNorm"))
  }

  test("pluggable similarities run end-to-end and rank plausibly") {
    for (sim <- Seq(new TfIdfSimilarity, new LMDirichletSimilarity(),
      new DFRSimilarity(), new IBSimilarity(), new Bm25LSimilarity())) {
      val s = new IndexSearcher(spark, indexPath, similarity = sim)
      val top = s.search(parser.parse("parser buffer"), 10, ScoreMode.Ref32)
      assert(top.totalHits > 0, sim.name)
      assert(top.scoreDocs.nonEmpty && top.scoreDocs.forall(d => !d.score.isNaN), sim.name)
      // descending scores with docId tie-break
      top.scoreDocs.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.score > b.score || (a.score == b.score && a.docId < b.docId), sim.name)
        case _ =>
      }
    }
  }

  test("resume: killing one wave and rebuilding reproduces identical results") {
    val before = searcher.search(TermQuery("parser"), 10, ScoreMode.Ref32)
    // simulate a failed build: remove one postings wave + commit marker
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val wave = new org.apache.hadoop.fs.Path(s"$indexPath/postings/wave=1")
    assert(fs.exists(wave))
    fs.delete(wave, true)
    fs.delete(new org.apache.hadoop.fs.Path(s"$indexPath/commit.json"), false)
    val config = IndexConfig(analyzer = analyzer, docsPerRange = 256,
      numSegments = 8, segmentsPerWave = 4, buildPartitions = 8)
    new IndexBuilder(spark, config).build(TestCorpus.corpus(N).toDF(), indexPath, resume = true)
    val after = new IndexSearcher(spark, indexPath).search(TermQuery("parser"), 10, ScoreMode.Ref32)
    assert(after.totalHits == before.totalHits)
    assert(after.scoreDocs.map(d => (d.docId, d.score)).toSeq ==
      before.scoreDocs.map(d => (d.docId, d.score)).toSeq)
  }

  test("IndexConfig rejects field names the manifest JSON cannot round-trip") {
    // quotes/commas/backslashes in field names could be stored (commit.json
    // escapes them, ManifestSpec) but never named back in comma-separated
    // field lists or query syntax — gated at construction
    for (bad <- Seq("a\"b", "a,b", "a\\b", ""))
      intercept[IllegalArgumentException] {
        IndexConfig(analyzedFields = Seq(bad))
      }
    IndexConfig(analyzedFields = Seq("perfectly_fine-name")) // sane names pass
  }
}
