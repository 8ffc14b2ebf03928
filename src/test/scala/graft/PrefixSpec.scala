package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.analysis.StandardCodeAnalyzer
import graft.index._
import graft.search._

/** Prefix expansion (`field:pre*` → bounded SHOULD disjunction over the
  * terms dictionary). The reference lexes the star but panics in the
  * handlers (queryParserBase.go:181-199) — semantics here are Lucene's
  * SCORING_BOOLEAN_QUERY_REWRITE with the 1024-clause cap as rewrite budget.
  */
class PrefixSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private val N = 600
  private lazy val indexPath = {
    val dir = java.nio.file.Files.createTempDirectory("graft-prefix").toString
    val cfg = IndexConfig(analyzer = new StandardCodeAnalyzer(),
      docsPerRange = 64, numSegments = 8, segmentsPerWave = 8,
      keywordFields = Seq("lang"))
    new IndexBuilder(spark, cfg).build(TestCorpus.corpus(N).toDF(), dir)
    dir
  }
  private lazy val searcher = new IndexSearcher(spark, indexPath)
  /** WAND side: a zero driver-local bound keeps WAND on its pruned plan. */
  private lazy val wandSearcher = pruning(new IndexSearcher(spark, indexPath))

  test("prefix == explicit disjunction of the matching vocabulary terms") {
    // TestCorpus mid terms starting with 's': scorer, shard, sort? (vocab:
    // parser buffer index scorer merge token query shard vector cache) →
    // compute the truth from the dictionary itself, then compare against an
    // explicit OR of those terms
    val expanded = spark.read.parquet(
      graft.index.IndexManifest.load(spark, indexPath).termsLocation)
      .where(col("field") === "content" && col("term").startsWith("s"))
      .select("term").as[String].collect().sorted.toSeq
    assert(expanded.nonEmpty && expanded.size < 50)
    val explicit = BooleanQuery(expanded.map(t =>
      BooleanClause(Occur.SHOULD, TermQuery(t))))
    for (mode <- Seq[ScoreMode](ScoreMode.Ref32, ScoreMode.ExactDouble)) {
      val a = searcher.search(PrefixQuery("s"), 15, mode)
      val b = searcher.search(explicit, 15, mode)
      assert(a.scoreDocs.map(d => (d.docId, d.score)).toSeq ==
        b.scoreDocs.map(d => (d.docId, d.score)).toSeq, s"mode=$mode")
      assert(a.totalHits == b.totalHits)
    }
  }

  test("prefix composes in boolean trees, including MUST_NOT") {
    val q = BooleanQuery(Seq(
      BooleanClause(Occur.MUST, TermQuery("import")),
      BooleanClause(Occur.MUST_NOT, PrefixQuery("uniqtoken_1"))))
    val hits = searcher.scoredDocs(q, ScoreMode.ExactDouble).collect()
      .map(d => (d.docId, d.score)).sortBy(_._1).toSeq
    assert(hits.nonEmpty)
    // must equal the EXPLICIT disjunction of the expanded terms under MUST_NOT
    val expanded = spark.read.parquet(
      graft.index.IndexManifest.load(spark, indexPath).termsLocation)
      .where(col("field") === "content" && col("term").startsWith("uniqtoken_1"))
      .select("term").as[String].collect().sorted.toSeq
    assert(expanded.size > 100) // 1, 1x, 1xx at N=600
    val explicit = BooleanQuery(Seq(
      BooleanClause(Occur.MUST, TermQuery("import")),
      BooleanClause(Occur.MUST_NOT, BooleanQuery(expanded.map(t =>
        BooleanClause(Occur.SHOULD, TermQuery(t)))))))
    val hits2 = searcher.scoredDocs(explicit, ScoreMode.ExactDouble).collect()
      .map(d => (d.docId, d.score)).sortBy(_._1).toSeq
    assert(hits == hits2)
    // and it must exclude strictly more than the bare MUST does
    val bare = searcher.scoredDocs(TermQuery("import"), ScoreMode.ExactDouble).count()
    assert(hits.size < bare)
  }

  test("single-term expansion folds to a TermQuery (singleton pulsing intact)") {
    // uniqtoken_423* matches exactly uniqtoken_423 (N=600) → df==1 →
    // the zero-postings-read singleton path must answer it
    val top = searcher.search(PrefixQuery("uniqtoken_423"), 5, ScoreMode.Ref32)
    assert(top.totalHits == 1 && top.scoreDocs.head.docId ==
      searcher.search(TermQuery("uniqtoken_423"), 1, ScoreMode.Ref32).scoreDocs.head.docId)
  }

  test("keyword-field prefix takes the raw value; parser routes all forms") {
    val p = new QueryParser(new StandardCodeAnalyzer(), keywordFields = Set("lang"))
    assert(p.parse("sco*") == PrefixQuery("sco"))
    assert(p.parse("lang:sc*") == PrefixQuery("sc", 1.0f, Some("lang")))
    assert(p.parse("+import sco*") == BooleanQuery(Seq(
      BooleanClause(Occur.MUST, TermQuery("import")),
      BooleanClause(Occur.SHOULD, PrefixQuery("sco")))))
    // analyzed prefix is lowercased through the analyzer
    assert(p.parse("SCO*") == PrefixQuery("sco"))
    // unknown field under strict parsing stays an error
    intercept[IllegalArgumentException](p.parse("nosuch:ab*"))
    // keyword prefix matches the raw dictionary values
    val hits = searcher.search(PrefixQuery("sc", 1.0f, Some("lang")), 100, ScoreMode.Ref32)
    assert(hits.totalHits == searcher.search(TermQuery("scala", 1.0f, Some("lang")),
      1, ScoreMode.Ref32).totalHits)
  }

  test("WAND parity over prefix-bearing trees") {
    val q = BooleanQuery(Seq(
      BooleanClause(Occur.SHOULD, PrefixQuery("sc")), // scorer...
      BooleanClause(Occur.SHOULD, TermQuery("buffer"))))
    for (mode <- Seq[ScoreMode](ScoreMode.Ref32, ScoreMode.ExactDouble)) {
      val exact = searcher.search(q, 10, mode)
      val wand = Wand.searchTopK(wandSearcher, q, 10, mode, phase1Ranges = 4)
      assert(wand.scoreDocs.map(d => (d.docId, d.score)).toSeq ==
        exact.scoreDocs.map(d => (d.docId, d.score)).toSeq, s"mode=$mode")
    }
  }

  test("no matching terms: empty result, no crash") {
    val r = searcher.search(PrefixQuery("zzznope"), 5, ScoreMode.Ref32)
    assert(r.totalHits == 0 && r.scoreDocs.isEmpty)
  }

  test("wildcard == explicit disjunction; regex filters BEFORE the limit") {
    // '*rser' and 'p?rser' and 'pa*er' all expand to exactly {parser}; a
    // broader 'b*r' hits buffer; cross-check vs explicit term queries
    val cases = Seq(
      "*rser" -> Seq("parser"),
      "p?rser" -> Seq("parser"),
      "b*r" -> Seq("buffer"),
      "*er" -> spark.read.parquet(
        graft.index.IndexManifest.load(spark, indexPath).termsLocation)
        .where(col("field") === "content" && col("term").endsWith("er"))
        .select("term").as[String].collect().sorted.toSeq)
    for ((pat, expanded) <- cases) {
      assert(expanded.nonEmpty, s"fixture assumption broken for $pat")
      val explicit = BooleanQuery(expanded.map(t =>
        BooleanClause(Occur.SHOULD, TermQuery(t))))
      for (mode <- Seq[ScoreMode](ScoreMode.Ref32, ScoreMode.ExactDouble)) {
        val a = searcher.search(WildcardQuery(pat), 12, mode)
        val b = searcher.search(explicit, 12, mode)
        assert(a.scoreDocs.map(d => (d.docId, d.score)).toSeq ==
          b.scoreDocs.map(d => (d.docId, d.score)).toSeq, s"$pat mode=$mode")
        assert(a.totalHits == b.totalHits, pat)
      }
    }
    // parser routing incl. '?' and fielded/keyword forms
    val p = new QueryParser(new StandardCodeAnalyzer(), keywordFields = Set("lang"))
    assert(p.parse("p?rser") == WildcardQuery("p?rser"))
    assert(p.parse("*ER") == WildcardQuery("*er")) // lowercased for analyzed fields
    assert(p.parse("lang:s*a") == WildcardQuery("s*a", 1.0f, Some("lang")))
    assert(p.parse("sco*") == PrefixQuery("sco")) // trailing-star stays the cheap path
    // all-wildcard pattern rejected
    intercept[IllegalArgumentException](searcher.search(WildcardQuery("*"), 5))
    // no match: empty, no crash
    assert(searcher.search(WildcardQuery("zz*qq"), 5).totalHits == 0)
  }

  test("fuzzy == explicit disjunction of terms within Levenshtein distance") {
    // brute-force the truth over the dictionary with a local Levenshtein
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val vocab = spark.read.parquet(
      graft.index.IndexManifest.load(spark, indexPath).termsLocation)
      .where(col("field") === "content").select("term").as[String].collect()
    for ((q, n) <- Seq(("parser", 1), ("bufer", 1), ("scorer", 2))) {
      val expanded = vocab.filter(t => lev(t, q) <= n).sorted.toSeq
      assert(expanded.nonEmpty, s"fixture assumption broken for $q~$n")
      val explicit = BooleanQuery(expanded.map(t =>
        BooleanClause(Occur.SHOULD, TermQuery(t))))
      val a = searcher.search(FuzzyQuery(q, n), 12, ScoreMode.ExactDouble)
      val b = searcher.search(explicit, 12, ScoreMode.ExactDouble)
      assert(a.scoreDocs.map(d => (d.docId, d.score)).toSeq ==
        b.scoreDocs.map(d => (d.docId, d.score)).toSeq, s"$q~$n")
      assert(a.totalHits == b.totalHits)
    }
    val p = new QueryParser(new StandardCodeAnalyzer())
    assert(p.parse("parser~1") == FuzzyQuery("parser", 1))
    assert(p.parse("parser~") == FuzzyQuery("parser", 2))
    assert(p.parse("PARSER~1") == FuzzyQuery("parser", 1)) // analyzed
    intercept[IllegalArgumentException](searcher.search(FuzzyQuery("parser", 3), 5))
  }

  test("term range == explicit disjunction; exclusive bounds; keyword ranges") {
    val vocab = spark.read.parquet(
      graft.index.IndexManifest.load(spark, indexPath).termsLocation)
      .where(col("field") === "content").select("term").as[String].collect().sorted
    val expanded = vocab.filter(t => t >= "parser" && t < "shard").toSeq
    assert(expanded.size > 1)
    val explicit = BooleanQuery(expanded.map(t =>
      BooleanClause(Occur.SHOULD, TermQuery(t))))
    val rq = TermRangeQuery(Some("parser"), Some("shard"), includeUpper = false)
    val a = searcher.search(rq, 12, ScoreMode.ExactDouble)
    val b = searcher.search(explicit, 12, ScoreMode.ExactDouble)
    assert(a.scoreDocs.map(d => (d.docId, d.score)).toSeq ==
      b.scoreDocs.map(d => (d.docId, d.score)).toSeq)
    // keyword range over lang; open upper bound via *
    val p = new QueryParser(new StandardCodeAnalyzer(), keywordFields = Set("lang"))
    assert(p.parse("lang:[go TO java]") ==
      TermRangeQuery(Some("go"), Some("java"), field = Some("lang")))
    assert(p.parse("lang:{go TO java}") ==
      TermRangeQuery(Some("go"), Some("java"), includeLower = false,
        includeUpper = false, field = Some("lang")))
    assert(p.parse("[parser TO *]") == TermRangeQuery(Some("parser"), None))
    val langHits = searcher.search(
      TermRangeQuery(Some("go"), Some("java"), field = Some("lang")), 5, ScoreMode.Ref32)
    val goJava = searcher.search(BooleanQuery(Seq(
      BooleanClause(Occur.SHOULD, TermQuery("go", 1.0f, Some("lang"))),
      BooleanClause(Occur.SHOULD, TermQuery("java", 1.0f, Some("lang"))))), 5, ScoreMode.Ref32)
    assert(langHits.totalHits == goJava.totalHits)
    intercept[IllegalArgumentException](
      searcher.search(TermRangeQuery(None, None), 5))
  }

  test("regexp == explicit disjunction; parser forms; bad pattern rejected") {
    val vocab = spark.read.parquet(
      graft.index.IndexManifest.load(spark, indexPath).termsLocation)
      .where(col("field") === "content").select("term").as[String].collect()
    val rx = "s(corer|hard)"
    val expanded = vocab.filter(_.matches(rx)).sorted.toSeq
    assert(expanded.size >= 2, s"fixture assumption broken: $expanded")
    val explicit = BooleanQuery(expanded.map(t =>
      BooleanClause(Occur.SHOULD, TermQuery(t))))
    val a = searcher.search(RegexpQuery(rx), 12, ScoreMode.ExactDouble)
    val b = searcher.search(explicit, 12, ScoreMode.ExactDouble)
    assert(a.scoreDocs.map(d => (d.docId, d.score)).toSeq ==
      b.scoreDocs.map(d => (d.docId, d.score)).toSeq)
    assert(a.totalHits == b.totalHits)
    val p = new QueryParser(new StandardCodeAnalyzer(), keywordFields = Set("lang"))
    // bare form lexes across parens/pipes; fielded form is one word
    assert(p.parse("/s(corer|hard)/") == RegexpQuery("s(corer|hard)"))
    assert(p.parse("lang:/go|java/") == RegexpQuery("go|java", field = Some("lang")))
    // an absolute path typed as free text must NOT become a regex (closing
    // slash is mid-token)
    assert(p.parse("/root/repo").isInstanceOf[BooleanQuery])
    intercept[java.util.regex.PatternSyntaxException](
      searcher.search(RegexpQuery("s(corer"), 5))
  }

  test("caret boost parses on every clause shape and scales scores exactly") {
    val p = new QueryParser(new StandardCodeAnalyzer(), keywordFields = Set("lang"))
    assert(p.parse("scorer^2") == TermQuery("scorer", 2.0f))
    assert(p.parse("SCORER^2.5") == TermQuery("scorer", 2.5f)) // analyzed
    assert(p.parse("lang:go^4") == TermQuery("go", 4.0f, Some("lang")))
    assert(p.parse("pre*^2") == PrefixQuery("pre", 2.0f))
    assert(p.parse("a?b^2") == WildcardQuery("a?b", 2.0f))
    assert(p.parse("scorer~1^2") == FuzzyQuery("scorer", 1, 2.0f))
    assert(p.parse("/sc.*/^2") == RegexpQuery("sc.*", 2.0f))
    assert(p.parse("[merge TO token]^2") ==
      TermRangeQuery(Some("merge"), Some("token"), boost = 2.0f))
    assert(p.parse("\"index scorer\"^2") == PhraseQuery(Seq("index", "scorer"), 2.0f))
    assert(p.parse("\"index scorer\"~1^2") ==
      PhraseQuery(Seq("index", "scorer"), 2.0f, None, 1))
    assert(p.parse("(merge scorer)^2") == BooleanQuery(Seq(
      BooleanClause(Occur.SHOULD, TermQuery("merge")),
      BooleanClause(Occur.SHOULD, TermQuery("scorer"))), 0, 2.0f))
    // a caret that isn't a boost stays query text
    assert(p.parse("xx^yy") == BooleanQuery(Seq(
      BooleanClause(Occur.SHOULD, TermQuery("xx")),
      BooleanClause(Occur.SHOULD, TermQuery("yy"))))) // analyzer splits on ^
    // scoring: under BM25 (queryNorm=1) a ^2 boost EXACTLY doubles the
    // exact-double score (power-of-two multiply is lossless)
    val plain = searcher.search(TermQuery("scorer"), 8, ScoreMode.ExactDouble)
    val boosted = searcher.search(p.parse("scorer^2"), 8, ScoreMode.ExactDouble)
    assert(plain.scoreDocs.map(_.docId).toSeq == boosted.scoreDocs.map(_.docId).toSeq)
    plain.scoreDocs.zip(boosted.scoreDocs).foreach { case (a, b) =>
      assert(b.score == a.score * 2.0, s"doc ${a.docId}")
    }
    // boosts flow through WAND top-k identically (bounds are mode-matched)
    val viaWand = Wand.searchTopK(wandSearcher, p.parse("scorer^2 merge"), 8,
      ScoreMode.ExactDouble)
    val exhaustive = searcher.search(p.parse("scorer^2 merge"), 8, ScoreMode.ExactDouble)
    assert(viaWand.scoreDocs.map(d => (d.docId, d.score)).toSeq ==
      exhaustive.scoreDocs.map(d => (d.docId, d.score)).toSeq)
  }

  test("searchAfter: cursor pages concatenate to the full top-k, both modes") {
    val q = BooleanQuery(Seq(
      BooleanClause(Occur.SHOULD, TermQuery("scorer")),
      BooleanClause(Occur.SHOULD, TermQuery("merge")),
      BooleanClause(Occur.SHOULD, TermQuery("index"))))
    for (mode <- Seq[ScoreMode](ScoreMode.Ref32, ScoreMode.ExactDouble)) {
      val full = searcher.search(q, 15, mode)
      assert(full.scoreDocs.length == 15)
      val p1 = searcher.search(q, 5, mode)
      val p2 = searcher.searchAfter(q, p1.scoreDocs.last, 5, mode)
      val p3 = searcher.searchAfter(q, p2.scoreDocs.last, 5, mode)
      val paged = (p1.scoreDocs ++ p2.scoreDocs ++ p3.scoreDocs)
        .map(d => (d.docId, d.score)).toSeq
      assert(paged == full.scoreDocs.map(d => (d.docId, d.score)).toSeq, s"mode=$mode")
      // totalHits counts every match regardless of the cursor
      assert(p2.totalHits == full.totalHits && p3.totalHits == full.totalHits)
      // a cursor below every match yields an empty page
      val beyond = searcher.searchAfter(q, ScoredDoc(Long.MaxValue, -1.0), 5, mode)
      assert(beyond.scoreDocs.isEmpty && beyond.totalHits == full.totalHits)
    }
  }

  test("facetCounts == brute-force counts over matching docs; bad column rejected") {
    import spark.implicits._
    val q = TermQuery("scorer")
    val got = searcher.facetCounts(q, "lang", topN = 10)
      .as[(String, Long)].collect().toSeq
    // truth: language of every matching doc, counted — derived from
    // scoredDocs (already verified against explicit evaluation elsewhere)
    // joined to the corpus by docId identity (explicit docIds not used here:
    // recover lang via the stored docs read API)
    val matchIds = searcher.scoredDocs(q, ScoreMode.Ref32).collect().map(_.docId).toSeq
    val truth = searcher.docs(matchIds).groupBy(_.lang)
      .map { case (l, ds) => (l, ds.size.toLong) }.toSeq
      .sortBy { case (l, c) => (-c, l) }
    assert(got == truth)
    assert(got.map(_._2).sum == matchIds.size)
    intercept[IllegalArgumentException](searcher.facetCounts(q, "norm"))
    intercept[IllegalArgumentException](searcher.facetCounts(q, "nope"))
  }

  test("moreLikeThis: selection filters + tie-break; query == hand disjunction") {
    val an = new StandardCodeAnalyzer()
    // absent-from-dictionary terms drop out; surviving clauses are term-sorted
    val q = searcher.moreLikeThisQuery(an, "scorer scorer merge zzzznotaword")
    assert(q == BooleanQuery(List(
      BooleanClause(Occur.SHOULD, TermQuery("merge")),
      BooleanClause(Occur.SHOULD, TermQuery("scorer")))))
    // minTermFreq prunes by tf within the seed
    assert(searcher.moreLikeThisQuery(an, "scorer scorer merge", minTermFreq = 2) ==
      BooleanQuery(List(BooleanClause(Occur.SHOULD, TermQuery("scorer")))))
    // maxQueryTerms keeps the most interesting term: equal tf → the rarer
    // term (higher idf) wins; scorer appears in fewer docs than merge in
    // this fixture iff dictionary df says so — assert against df directly
    val dfs = searcher.termStats(Seq(("content", "scorer"), ("content", "merge")))
      .map { case ((_, t), s) => (t, s.docFreq) }
    val rarer = Seq("scorer", "merge").minBy(t => (dfs(t), t))
    assert(searcher.moreLikeThisQuery(an, "scorer merge", maxQueryTerms = 1) ==
      BooleanQuery(List(BooleanClause(Occur.SHOULD, TermQuery(rarer)))))
    // the MLT query searches like its hand-built twin, incl. through WAND
    val full = searcher.search(q, 10, ScoreMode.ExactDouble)
    val wand = Wand.searchTopK(wandSearcher, q, 10, ScoreMode.ExactDouble)
    assert(full.scoreDocs.map(d => (d.docId, d.score)).toSeq ==
      wand.scoreDocs.map(d => (d.docId, d.score)).toSeq)
    assert(full.totalHits > 0)
  }

  test("searchSortBy == brute-force (field, docId) order, both directions; column gate") {
    val q = TermQuery("merge")
    val ids = searcher.scoredDocs(q, ScoreMode.Ref32).collect().map(_.docId).toSeq
    val meta = searcher.docs(ids).map(d => (d.docId, d.lang))
    assert(meta.map(_._2).distinct.size > 1) // the sort actually discriminates
    val gotAsc = searcher.searchSortBy(q, "lang", 12).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(gotAsc == meta.sortBy { case (id, l) => (l, id) }.take(12))
    val gotDesc = searcher.searchSortBy(q, "lang", 12, ascending = false).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    // desc on the field, docId ASC tie-break regardless of direction
    val expDesc = meta.sortBy { case (id, l) => (l, id) }(
      Ordering.Tuple2(Ordering.String.reverse, Ordering.Long)).take(12)
    assert(gotDesc == expDesc)
    intercept[IllegalArgumentException](searcher.searchSortBy(q, "norm", 5))
  }

  test("groupedSearch == brute-force grouping (leader rank, member rank, scores)") {
    val q = BooleanQuery(Seq(
      BooleanClause(Occur.SHOULD, TermQuery("merge")),
      BooleanClause(Occur.SHOULD, TermQuery("scorer"))))
    val got = searcher.groupedSearch(q, "lang", topGroups = 2, docsPerGroup = 3,
        ScoreMode.ExactDouble).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getInt(2), r.getLong(3), r.getDouble(4)))
      .sortBy(r => (r._1, r._3)).toSeq
    val hits = searcher.scoredDocs(q, ScoreMode.ExactDouble).collect()
      .map(d => (d.docId, d.score)).toSeq
    val langOf = searcher.docs(hits.map(_._1)).map(d => d.docId -> d.lang).toMap
    val byLang = hits.groupBy(h => langOf(h._1))
    val leaders = byLang.view.mapValues(_.map(_._2).max).toSeq
      .sortBy { case (l, top) => (-top, l) }.take(2)
    val expect = leaders.flatMap { case (l, top) =>
      byLang(l).sortBy { case (id, s) => (-s, id) }.take(3).zipWithIndex.map {
        case ((id, s), i) => (l, top, i + 1, id, s)
      }
    }.sortBy(r => (r._1, r._3))
    assert(got == expect)
    intercept[IllegalArgumentException](
      searcher.groupedSearch(q, "lang", topGroups = 0, docsPerGroup = 3))
  }

  test("suggestTerms ranks (dist asc, df desc, term asc) and excludes the input") {
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1)(i => Array.tabulate(b.length + 1)(j =>
        if (i == 0) j else if (j == 0) i else 0))
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val vocab = spark.read.parquet(searcher.manifest.termsLocation)
      .where(col("field") === "content")
      .select("term", "docFreq").as[(String, Long)].collect().toSeq
    val expect = vocab
      .flatMap { case (t, df) =>
        val dd = lev(t, "scorr")
        if (t != "scorr" && dd <= 2) Some((t, df, dd)) else None
      }
      .sortBy { case (t, df, dd) => (dd, -df, t) }.take(4)
    assert(expect.exists(_._1 == "scorer")) // the intended correction is in range
    val got = searcher.suggestTerms("scorr", maxEdits = 2, topN = 4).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSeq
    assert(got == expect)
    intercept[IllegalArgumentException](searcher.suggestTerms("x", maxEdits = 3))
  }

  test("expansion beyond the 1024-clause budget is rejected; 1024 exactly works") {
    // one doc whose content is 1025 distinct 'zz<i>' words → 'zz*' expands
    // past the reference maxClauseCount and must error with a clear message
    val dir = java.nio.file.Files.createTempDirectory("graft-prefix-cap").toString
    val content = (0 until 1025).map(i => s"zz$i").mkString(" ")
    val docs = Seq(CodeFile("r", "p", "", "scala", content)).toDF()
    val cfg = IndexConfig(analyzer = new StandardCodeAnalyzer(),
      docsPerRange = 64, numSegments = 1, segmentsPerWave = 1)
    new IndexBuilder(spark, cfg).build(docs, dir)
    val s = new IndexSearcher(spark, dir)
    val ex = intercept[IllegalArgumentException](
      s.search(PrefixQuery("zz"), 5, ScoreMode.Ref32))
    assert(ex.getMessage.contains("1024"), ex.getMessage)
    // narrowing under the cap works: zz1* → zz1, zz10..zz19, zz100..zz1024
    val ok = s.search(PrefixQuery("zz1"), 5, ScoreMode.Ref32)
    assert(ok.totalHits == 1) // all terms live in the single doc
  }

  /** Keyword values whose UTF-8 order differs from UTF-16 order (U+FF41 is
    * below a surrogate pair in UTF-8, above it in UTF-16), supplementary
    * values, and 1100 content terms for the over-budget case.
    */
  private lazy val seekDir = {
    val dir = java.nio.file.Files.createTempDirectory("graft-prefix-seek").toString
    val langs = Seq("k𝒳", "kａ", "ka", "kb", "𝒳lang",
      "𝒳𝒴", "go")
    val docs = (CodeFile("r", "p", "", "scala", (0 until 1100).map(i => s"tok$i").mkString(" ")) +:
      langs.zipWithIndex.map { case (l, i) => CodeFile("r", s"p$i", "", l, s"word$i") }).toDF()
    val cfg = IndexConfig(analyzer = new StandardCodeAnalyzer(),
      docsPerRange = 64, numSegments = 2, segmentsPerWave = 2, buildPartitions = 4,
      keywordFields = Seq("lang"))
    new IndexBuilder(spark, cfg).build(docs, dir)
    dir
  }

  test("prefix expansion seeks the terms dictionary on the driver: ≡ Spark startsWith, no job") {
    val dir = seekDir
    val terms = spark.read.parquet(IndexManifest.load(spark, dir).termsLocation)
    val s = new IndexSearcher(spark, dir)
    def expanded(f: String, pre: String): Seq[String] =
      s.expandPrefixes(PrefixQuery(pre, field = Some(f))) match {
        case BooleanQuery(cs, _, _) => cs.map(_.query).map { case TermQuery(t, _, _) => t }
        case other => fail(s"unexpected expansion $other")
      }
    for ((f, pre) <- Seq(("content", "tok10"), ("lang", "k"), ("lang", "𝒳"),
        ("content", "zzz"))) {
      val exp = terms.where(col("field") === f && col("term").startsWith(pre))
        .select("term").orderBy("term").as[String].collect().toSeq
      val (got, jobs) = SparkJobs.count(spark)(expanded(f, pre))
      assert(jobs == 0, s"$f:$pre* launched $jobs jobs")
      assert(got == exp, s"$f:$pre*")
    }
    assert(expanded("content", "tok10").size == 111 && expanded("lang", "k").size == 4)
    assert(expanded("content", "zzz").isEmpty)
    val (err, jobs) = SparkJobs.count(spark)(
      intercept[IllegalArgumentException](expanded("content", "tok")))
    assert(jobs == 0)
    assert(err.getMessage.contains("prefix 'content:tok*' expands to more than 1024 terms"),
      err.getMessage)
  }

  // '𝒳𝒴' is 2 code points but 4 UTF-16 units: a length window taken from
  // the query's UTF-16 length skips it
  test("fuzzy length window counts code points on both sides") {
    val s = new IndexSearcher(spark, seekDir)
    val fuzzy = s.expandPrefixes(FuzzyQuery("𝒳𝒴", 1, field = Some("lang"))) match {
      case BooleanQuery(cs, _, _) => cs.map(_.query).collect { case TermQuery(t, _, _) => t }
      case other => fail(s"unexpected expansion $other")
    }
    assert(fuzzy == Seq("𝒳𝒴"))
  }

  test("suggest length window counts code points on both sides") {
    val s = new IndexSearcher(spark, seekDir)
    val suggested = s.suggestTerms("𝒳𝒴𝒵", maxEdits = 1, topN = 5, f = "lang").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSeq
    assert(suggested == Seq(("𝒳𝒴", 1L, 1)))
  }

  test("regexp guard: pathological patterns error fast on the driver") {
    // (a+)+ shape: nested quantifier → rejected before any rlike fan-out
    val e1 = intercept[IllegalArgumentException](
      searcher.search(RegexpQuery("(s+)+r"), 5, ScoreMode.Ref32))
    assert(e1.getMessage.contains("backtracking"))
    for (rx <- Seq("(a*)*", "(ab+){3}", "(x(ab)+)*")) {
      val e = intercept[IllegalArgumentException](
        searcher.search(RegexpQuery(rx), 5, ScoreMode.Ref32))
      assert(e.getMessage.contains("backtracking"), rx)
    }
    // oversized pattern → rejected
    val e2 = intercept[IllegalArgumentException](
      searcher.search(RegexpQuery("s" * 300), 5, ScoreMode.Ref32))
    assert(e2.getMessage.contains("256"))
    // the sane oracle-style pattern still works
    val ok = searcher.search(RegexpQuery("s[ct][a-z]+"), 5, ScoreMode.Ref32)
    assert(ok.totalHits > 0)
  }

  test("regexp guard: escaped and character-class quantifiers are not nested") {
    // keyword values hold the literal '+'/'-' the patterns quantify over
    val values = Seq("a+b", "a+ba+b", "ab", "+x", "-x+x", "x", "axax", "+x+x", "ax")
    val dir = java.nio.file.Files.createTempDirectory("graft-rxguard").toString
    val docs = values.zipWithIndex.map { case (v, i) =>
      CodeFile(s"r$i", f"p$i%03d", "", v, s"doc$i")
    }
    val cfg = IndexConfig(analyzer = new StandardCodeAnalyzer(), docsPerRange = 16,
      numSegments = 1, segmentsPerWave = 1, keywordFields = Seq("lang"))
    new IndexBuilder(spark, cfg).build(docs.toDF(), dir)
    val s = new IndexSearcher(spark, dir)
    for (rx <- Seq("""(a\+b)*""", "([+-]x)*", "([a+]x){2}")) {
      val expected = values.filter(_.matches(rx)).sorted
      assert(expected.nonEmpty, s"fixture matches nothing for $rx")
      val expanded = s.expandPrefixes(RegexpQuery(rx, field = Some("lang"))) match {
        case BooleanQuery(cs, _, _) => cs.map(_.query).collect { case TermQuery(t, _, _) => t }
        case other => fail(s"unexpected expansion $other")
      }
      assert(expanded == expected, rx)
      assert(s.search(RegexpQuery(rx, field = Some("lang")), 20).totalHits == expected.size, rx)
    }
  }

  test("expansion cache keys are typed: a prefix never reuses a regexp or fuzzy expansion") {
    val s = new IndexSearcher(spark, indexPath)
    assert(s.search(RegexpQuery("pars.*"), 5).totalHits > 0)
    assert(s.search(PrefixQuery("rx pars.*"), 5).totalHits == 0)
    assert(s.search(FuzzyQuery("parser", 1), 5).totalHits > 0)
    assert(s.search(PrefixQuery("fz1 parser"), 5).totalHits == 0)
  }
}
