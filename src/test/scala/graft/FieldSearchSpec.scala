package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.analysis.StandardCodeAnalyzer
import graft.index._
import graft.search._

/** Multi-field indexing + field-scoped queries: keyword fields (lang, repo)
  * are indexed as single unanalyzed terms with dl=1; `field:value` parses to
  * a fielded TermQuery; unknown fields are rejected (never silently searched
  * against the default field, the round-1 bug).
  */
class FieldSearchSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private val N = 800
  private lazy val indexPath = {
    val dir = java.nio.file.Files.createTempDirectory("graft-fields").toString
    val cfg = IndexConfig(analyzer = new StandardCodeAnalyzer(),
      docsPerRange = 128, numSegments = 8, segmentsPerWave = 8,
      keywordFields = Seq("lang", "repo"))
    new IndexBuilder(spark, cfg).build(TestCorpus.corpus(N).toDF(), dir)
    dir
  }
  private lazy val searcher = new IndexSearcher(spark, indexPath)
  /** WAND side: a zero driver-local bound keeps WAND on its pruned plan. */
  private lazy val wandSearcher = pruning(new IndexSearcher(spark, indexPath))
  private lazy val parser =
    new QueryParser(new StandardCodeAnalyzer(), keywordFields = Set("lang", "repo"))
  private lazy val corpus = TestCorpus.corpus(N)

  test("keyword term query matches exactly the docs with that value") {
    val goCount = corpus.count(_.lang == "go")
    val hits = searcher.search(TermQuery("go", 1.0f, Some("lang")), N, ScoreMode.ExactDouble)
    assert(hits.totalHits == goCount)
    // keyword values are NOT analyzed: a content term does not leak in
    val langDocs = searcher.docs(hits.scoreDocs.take(20).map(_.docId))
    assert(langDocs.forall(_.lang == "go"))
  }

  test("fielded conjunction: lang filter + content term, both modes") {
    val q = BooleanQuery(Seq(
      BooleanClause(Occur.MUST, TermQuery("go", 1.0f, Some("lang"))),
      BooleanClause(Occur.MUST, TermQuery("parser"))))
    for (mode <- Seq[ScoreMode](ScoreMode.Ref32, ScoreMode.ExactDouble)) {
      val hits = searcher.search(q, N, mode)
      val expected = corpus.zipWithIndex.count { case (f, _) =>
        f.lang == "go" && f.content.split("\\s+").contains("parser")
      }
      assert(hits.totalHits == expected, s"mode=$mode")
      assert(hits.scoreDocs.forall(d => !d.score.isNaN && d.score > 0))
    }
  }

  test("keyword dl=1 does not pollute content-leaf normalization") {
    // same content query with and without an extra keyword MUST: the content
    // leaf's score contribution must be identical (per-field dl/norm)
    val qPlain = TermQuery("parser")
    val qFielded = BooleanQuery(Seq(
      BooleanClause(Occur.MUST, TermQuery("go", 1.0f, Some("lang"))),
      BooleanClause(Occur.MUST, TermQuery("parser"))))
    val plain = searcher.search(qPlain, N, ScoreMode.ExactDouble)
      .scoreDocs.map(d => d.docId -> d.score).toMap
    val langScore = searcher.search(TermQuery("go", 1.0f, Some("lang")), 1, ScoreMode.ExactDouble)
      .scoreDocs.head.score
    val fielded = searcher.search(qFielded, N, ScoreMode.ExactDouble)
    assert(fielded.scoreDocs.nonEmpty)
    fielded.scoreDocs.foreach { d =>
      assert(math.abs(d.score - (plain(d.docId) + langScore)) < 1e-12,
        s"doc ${d.docId}: ${d.score} != ${plain(d.docId)} + $langScore")
    }
  }

  test("CheckIndex validates a multi-field index") {
    val report = CheckIndex.run(spark, indexPath)
    assert(report.ok, report.problems.mkString("; "))
  }

  test("parser routes field: prefixes and rejects unknown fields") {
    val q = parser.parse("+lang:go +parser")
    q match {
      case BooleanQuery(cs, _, _) =>
        assert(cs.exists(c => c.query == TermQuery("go", 1.0f, Some("lang"))))
        assert(cs.exists(c => c.query == TermQuery("parser")))
      case other => fail(s"unexpected parse: $other")
    }
    val ex = intercept[IllegalArgumentException](parser.parse("nosuchfield:x"))
    assert(ex.getMessage.contains("unknown field"))
    // lenient mode: colon words are ordinary text (std::vector, URLs)
    val lenient = new QueryParser(new StandardCodeAnalyzer(),
      keywordFields = Set("lang"), strictFields = false)
    lenient.parse("std::vector") match {
      case BooleanQuery(cs, _, _) =>
        assert(cs.map(_.query) == Seq(TermQuery("std"), TermQuery("vector")))
      case other => fail(s"unexpected: $other")
    }
    // known fields still route in lenient mode
    assert(lenient.parse("lang:go") == TermQuery("go", 1.0f, Some("lang")))
  }

  test("WAND covers fielded flat booleans with parity") {
    val q = BooleanQuery(Seq(
      BooleanClause(Occur.MUST, TermQuery("go", 1.0f, Some("lang"))),
      BooleanClause(Occur.SHOULD, TermQuery("parser")),
      BooleanClause(Occur.SHOULD, TermQuery("buffer"))))
    val exact = searcher.search(q, 10, ScoreMode.Ref32)
    val wand = Wand.searchTopK(wandSearcher, q, 10, ScoreMode.Ref32, phase1Ranges = 4)
    assert(wand.scoreDocs.map(d => (d.docId, d.score)).toSeq ==
      exact.scoreDocs.map(d => (d.docId, d.score)).toSeq)
  }

  test("PerFieldSimilarityWrapper routes keyword leaves to their own model") {
    // lang field scored by BM25(k1=0): leaf score degenerates to pure idf
    val wrapper = new PerFieldSimilarityWrapper(new Bm25Similarity(),
      Map("lang" -> new Bm25Similarity(0f, 0f)))
    val s = new IndexSearcher(spark, indexPath, similarity = wrapper)
    val q = BooleanQuery(Seq(
      BooleanClause(Occur.MUST, TermQuery("go", 1.0f, Some("lang"))),
      BooleanClause(Occur.MUST, TermQuery("parser"))))
    val base = searcher.search(TermQuery("parser"), N, ScoreMode.Ref32)
      .scoreDocs.map(d => d.docId -> d.score).toMap
    val goDf = corpus.count(_.lang == "go").toLong
    val idfGo = Bm25.idfRef(goDf, N).toDouble
    val hits = s.search(q, N, ScoreMode.Ref32)
    assert(hits.scoreDocs.nonEmpty)
    hits.scoreDocs.foreach { d =>
      // float32 clause-order sum: (idfGo + parserScore)
      val expected = (idfGo.toFloat + base(d.docId).toFloat).toDouble
      assert(math.abs(d.score - expected) < 1e-6,
        s"doc ${d.docId}: ${d.score} vs $expected")
    }
  }

  // ---- second ANALYZED field (round-3: multi-field text indexing) ----

  private val M = 300
  private lazy val mfCorpus = (0 until M).map(i => CodeFile(
    repo = s"team${i % 3} proj${i % 5}", // 2-token analyzed text
    path = f"p$i%05d",
    commit = "",
    lang = if (i == 0) "" else if (i % 2 == 0) "go" else "scala",
    content = if (i == 1) "" else s"parser buffer tokn$i"))
  private lazy val mfIndex = {
    val dir = java.nio.file.Files.createTempDirectory("graft-mf").toString
    val cfg = IndexConfig(analyzer = new StandardCodeAnalyzer(),
      docsPerRange = 64, numSegments = 4, segmentsPerWave = 4,
      keywordFields = Seq("lang"), analyzedFields = Seq("repo"))
    new IndexBuilder(spark, cfg).build(mfCorpus.toDF(), dir)
    dir
  }
  private lazy val mfSearcher = new IndexSearcher(spark, mfIndex)
  private lazy val mfParser = new QueryParser(new StandardCodeAnalyzer(),
    keywordFields = Set("lang"), analyzedFields = Set("repo"))

  test("second analyzed field: tokenized terms score with that field's own stats") {
    val hits = mfSearcher.search(TermQuery("team1", 1.0f, Some("repo")), M, ScoreMode.ExactDouble)
    val df = mfCorpus.count(_.repo.startsWith("team1"))
    assert(hits.totalHits == df)
    // every repo value has exactly 2 tokens → dl = avgdl = 2 → tfNorm = 1 →
    // score = idf(df, M) exactly, in float64
    val expected = Bm25.idfExact(df, M)
    hits.scoreDocs.foreach(d => assert(d.score == expected,
      s"doc ${d.docId}: ${d.score} != $expected"))
    // the term must NOT leak into the content field
    assert(mfSearcher.search(TermQuery("team1"), M, ScoreMode.ExactDouble).totalHits == 0)
  }

  test("fielded phrase: exact adjacency within the analyzed field, order-sensitive") {
    val q = PhraseQuery(Seq("team1", "proj2"), field = Some("repo"))
    val hits = mfSearcher.search(q, M, ScoreMode.ExactDouble)
    val expected = (0 until M).count(i => i % 3 == 1 && i % 5 == 2)
    assert(expected > 0 && hits.totalHits == expected)
    val dfTeam = mfCorpus.count(_.repo.startsWith("team1"))
    val dfProj = mfCorpus.count(_.repo.endsWith("proj2"))
    val want = Bm25.idfExact(dfTeam, M) + Bm25.idfExact(dfProj, M) // tfNorm = 1
    hits.scoreDocs.foreach(d => assert(d.score == want))
    // reversed order never matches (positions, not bag-of-words)
    assert(mfSearcher.search(PhraseQuery(Seq("proj2", "team1"), field = Some("repo")),
      M, ScoreMode.ExactDouble).totalHits == 0)
    // Ref32 mode works too and explain reproduces it
    val r32 = mfSearcher.search(q, 3, ScoreMode.Ref32)
    val ex = mfSearcher.explain(q, r32.scoreDocs.head.docId, ScoreMode.Ref32)
    assert(ex.isMatch && ex.value == r32.scoreDocs.head.score, ex.render)
  }

  test("parser: analyzed-field routing, fielded phrases, keyword-phrase rejection") {
    assert(mfParser.parse("repo:team1") == TermQuery("team1", 1.0f, Some("repo")))
    assert(mfParser.parse("repo:\"team1 proj2\"") ==
      PhraseQuery(Seq("team1", "proj2"), 1.0f, Some("repo")))
    // multi-token unquoted field text → SHOULD terms on that field
    mfParser.parse("repo:team1proj2".replace("team1proj2", "team1")) // single stays term
    // keyword field + phrase: rejected loudly (single-position field)
    val ex = intercept[IllegalArgumentException](mfParser.parse("lang:\"a b\""))
    assert(ex.getMessage.contains("keyword field"))
    // unknown field + phrase: strict rejects; lenient treats as text + phrase
    intercept[IllegalArgumentException](mfParser.parse("nosuch:\"a b\""))
    val lenient = new QueryParser(new StandardCodeAnalyzer(), strictFields = false)
    lenient.parse("nosuch:\"posting list\"") match {
      case BooleanQuery(cs, _, _) =>
        assert(cs.exists(_.query == TermQuery("nosuch")))
        assert(cs.exists(_.query == PhraseQuery(Seq("posting", "list"))))
      case other => fail(s"unexpected lenient parse: $other")
    }
  }

  test("per-field docCount is each field's own non-empty count; CheckIndex verifies it") {
    val stats = spark.read.parquet(s"$mfIndex/fieldstats")
      .select("field", "docCount", "maxDoc")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(stats("content")._1 == M - 1) // doc 1 has empty content
    assert(stats("lang")._1 == M - 1) // doc 0 has empty lang
    assert(stats("repo")._1 == M)
    assert(stats.values.forall(_._2 == M)) // maxDoc stays global
    val report = CheckIndex.run(spark, mfIndex)
    assert(report.ok, report.problems.mkString("; "))

    // CheckIndex catches a corrupted per-field docCount (advisor round-2 fix:
    // the summed check let compensating per-field errors pass)
    val stPath = s"$mfIndex/fieldstats"
    val rows = spark.read.parquet(stPath).collect()
    val schema = spark.read.parquet(stPath).schema
    val di = schema.fieldIndex("docCount")
    val fi = schema.fieldIndex("field")
    val corrupted = rows.map { r =>
      val vals = r.toSeq.toArray
      if (r.getString(fi) == "repo") vals(di) = 1L
      org.apache.spark.sql.Row.fromSeq(vals.toSeq)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(corrupted.toSeq), schema)
      .write.mode("overwrite").parquet(stPath)
    val bad = CheckIndex.run(spark, mfIndex)
    assert(!bad.ok && bad.problems.exists(_.contains("docCount")),
      s"per-field docCount corruption must be caught: ${bad.problems}")
    // restore for other tests
    spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq), schema)
      .write.mode("overwrite").parquet(stPath)
  }

  test("explain on a fielded query reproduces the score") {
    val q = parser.parse("+lang:go +parser")
    val top = searcher.search(q, 3, ScoreMode.Ref32)
    val ex = searcher.explain(q, top.scoreDocs.head.docId, ScoreMode.Ref32)
    assert(ex.isMatch && ex.value == top.scoreDocs.head.score, ex.render)
    assert(ex.details.exists(_.description.contains("lang:go")))
  }

  test("arbitrary extra analyzed column: rank-id path, own stats, CheckIndex green") {
    // `docstring` is NOT one of the four metadata columns — it must be
    // carried through staging (rank-id assignment path) and inverted as an
    // analyzed field with its own df/dl/avgdl
    val dir = java.nio.file.Files.createTempDirectory("graft-extrafield").toString
    val corpusDf = TestCorpus.corpus(300).toDF()
      .withColumn("docstring",
        concat(lit("doc for "), col("path"), lit(" kind "), col("lang")))
    val cfg = IndexConfig(analyzer = new StandardCodeAnalyzer(),
      docsPerRange = 128, numSegments = 8, segmentsPerWave = 8,
      keywordFields = Seq("lang"), analyzedFields = Seq("docstring"))
    new IndexBuilder(spark, cfg).build(corpusDf, dir)

    val s = new IndexSearcher(spark, dir)
    val p = new QueryParser(new StandardCodeAnalyzer(),
      keywordFields = Set("lang"), analyzedFields = Set("docstring"))
    // every docstring contains 'kind'; 'go' appears for go-lang docs
    val all = s.search(TermQuery("kind", 1.0f, Some("docstring")), 400, ScoreMode.ExactDouble)
    assert(all.totalHits == 300)
    val goDocs = TestCorpus.corpus(300).count(_.lang == "go")
    val go = s.search(p.parse("docstring:go"), 400, ScoreMode.ExactDouble)
    assert(go.totalHits == goDocs, s"${go.totalHits} != $goDocs")
    assert(go.scoreDocs.forall(d => d.score > 0 && !d.score.isNaN))

    // fielded PHRASE over the extra column (positions present)
    val ph = s.search(p.parse("docstring:\"doc for\""), 400, ScoreMode.ExactDouble)
    assert(ph.totalHits == 300)

    // per-field stats row exists with the field's own sums
    val st = spark.read.parquet(IndexManifest.load(spark, dir).statsLocation)
      .where(col("field") === "docstring").collect()
    assert(st.length == 1 && st(0).getAs[Long]("docCount") == 300)

    // rank-id determinism with extras riding along: rebuild → identical docIds
    val dir2 = java.nio.file.Files.createTempDirectory("graft-extrafield2").toString
    new IndexBuilder(spark, cfg).build(corpusDf, dir2)
    val ids1 = spark.read.parquet(s"$dir/docs").select("docId", "path")
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    val ids2 = spark.read.parquet(s"$dir2/docs").select("docId", "path")
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(ids1 == ids2)

    assert(CheckIndex.run(spark, dir).ok)
  }

  test("collection stats of a never-indexed field: None, or an error naming the field") {
    assert(searcher.collectionStatsOpt("lang").nonEmpty)
    assert(searcher.collectionStatsOpt("nosuch_field").isEmpty)
    val e = intercept[IllegalArgumentException](searcher.collectionStats("nosuch_field"))
    assert(e.getMessage.contains("nosuch_field"))
  }
}
