package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.analysis.StandardCodeAnalyzer
import graft.index._
import graft.search._

/** WAND pruning is score-safe: pruned top-k must equal exhaustive top-k
  * exactly (docIds and scores), with totalHits degrading to a lower bound.
  */
class WandSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private val N = 2000
  private lazy val indexPath = {
    val dir = java.nio.file.Files.createTempDirectory("graft-wand").toString
    val cfg = IndexConfig(analyzer = new StandardCodeAnalyzer(),
      docsPerRange = 64, numSegments = 8, segmentsPerWave = 8)
    new IndexBuilder(spark, cfg).build(TestCorpus.corpus(N).toDF(), dir)
    dir
  }
  private lazy val searcher = new IndexSearcher(spark, indexPath)
  /** WAND side: a zero driver-local bound keeps WAND on its pruned plan. */
  private lazy val wandSearcher = pruning(new IndexSearcher(spark, indexPath))

  /** Parity with the exhaustive search, asserting which route answered:
    * phase 2 ran (`totalHitsIsLowerBound`), or — `fallback` — too few
    * phase-1 candidates sent WAND to its exhaustive fallback (exact count).
    */
  private def assertSafe(q: Query, k: Int, phase1: Int, fallback: Boolean = false): Unit = {
    val exact = searcher.search(q, k, ScoreMode.Ref32)
    val wand = Wand.searchTopK(wandSearcher, q, k, ScoreMode.Ref32, phase1Ranges = phase1)
    assert(wand.scoreDocs.map(d => (d.docId, d.score)).toSeq ==
      exact.scoreDocs.map(d => (d.docId, d.score)).toSeq, s"top-k parity for $q")
    assert(wand.totalHitsIsLowerBound == !fallback, s"route for $q")
    if (fallback) assert(wand.totalHits == exact.totalHits, s"totalHits for $q")
    else assert(wand.totalHits <= exact.totalHits, s"totalHits for $q")
    assert(wand.scoreDocs.length == math.min(k.toLong, exact.totalHits))
  }

  test("single hot term: pruned == exhaustive with tiny phase-1 budget") {
    assertSafe(TermQuery("import"), k = 10, phase1 = 4)
    assertSafe(TermQuery("parser"), k = 10, phase1 = 4)
  }

  test("driver-local route: under the bound, exact totalHits cold and no postings reads warm") {
    val dir = java.nio.file.Files.createTempDirectory("graft-wand-local").toString
    val cfg = IndexConfig(analyzer = new StandardCodeAnalyzer(),
      docsPerRange = 64, numSegments = 4, segmentsPerWave = 4)
    new IndexBuilder(spark, cfg).build(TestCorpus.corpus(400).toDF(), dir)
    val q = BooleanQuery(Seq(
      BooleanClause(Occur.SHOULD, TermQuery("parser")),
      BooleanClause(Occur.SHOULD, TermQuery("buffer"))))
    val exact = new IndexSearcher(spark, dir).scoredDocs(q, ScoreMode.Ref32).collect()
      .sortBy(d => (-d.score, d.docId))
    def top(t: TopDocs) = t.scoreDocs.map(d => (d.docId, d.score)).toSeq
    // first (cold) call on a fresh searcher: exact totalHits, no cache needed
    val s = new IndexSearcher(spark, dir)
    val cold = Wand.searchTopK(s, q, 10, ScoreMode.Ref32, phase1Ranges = 2)
    assert(!cold.totalHitsIsLowerBound)
    assert(cold.totalHits == exact.length)
    assert(top(cold) == exact.take(10).map(d => (d.docId, d.score)).toSeq)
    // a bound below the query's df sum: the same query prunes
    val dfSum = s.termStatsOf(Seq("parser", "buffer")).values.map(_.docFreq).sum
    val low = new IndexSearcher(spark, dir)
    low.localSearchMaxPostings = dfSum - 1
    val pruned = Wand.searchTopK(low, q, 10, ScoreMode.Ref32, phase1Ranges = 2)
    assert(pruned.totalHitsIsLowerBound)
    assert(top(pruned) == top(cold))
    // physical proof: with postings deleted, the repeat answers from the
    // row cache the cold call filled
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete()
    }
    rm(new java.io.File(s"$dir/postings"))
    val warm = Wand.searchTopK(s, q, 10, ScoreMode.Ref32, phase1Ranges = 2)
    assert(!warm.totalHitsIsLowerBound && warm.totalHits == cold.totalHits)
    assert(top(warm) == top(cold))
    intercept[Exception](Wand.searchTopK(s, TermQuery("merge"), 10, ScoreMode.Ref32))
  }

  test("disjunction: pruned == exhaustive") {
    val q = BooleanQuery(Seq(
      BooleanClause(Occur.SHOULD, TermQuery("parser")),
      BooleanClause(Occur.SHOULD, TermQuery("buffer")),
      BooleanClause(Occur.SHOULD, TermQuery("scorer"))))
    assertSafe(q, k = 10, phase1 = 4)
    assertSafe(q, k = 25, phase1 = 4)
  }

  test("pruning actually skips ranges (totalHits strictly lower-bounded)") {
    // graded corpus: tf of "graded" grows with docId → low ranges provably
    // below τ → phase 2 skips them
    val dir = java.nio.file.Files.createTempDirectory("graft-wand-graded").toString
    val docs = (0 until 1024).map { i =>
      val tf = 1 + i / 64
      CodeFile(s"r$i", f"p$i%05d", "", "scala",
        ("graded " * tf) + s"filler uniq_$i " + ("pad " * 20))
    }
    val cfg = IndexConfig(analyzer = new StandardCodeAnalyzer(),
      docsPerRange = 64, numSegments = 4, segmentsPerWave = 4)
    new IndexBuilder(spark, cfg).build(docs.toDF(), dir)
    val s = new IndexSearcher(spark, dir)
    val q = TermQuery("graded")
    val exact = s.search(q, 10, ScoreMode.Ref32)
    val wand = Wand.searchTopK(pruning(new IndexSearcher(spark, dir)), q, 10,
      ScoreMode.Ref32, phase1Ranges = 2)
    assert(wand.totalHitsIsLowerBound)
    assert(wand.scoreDocs.map(d => (d.docId, d.score)).toSeq ==
      exact.scoreDocs.map(d => (d.docId, d.score)).toSeq)
    assert(wand.totalHits < exact.totalHits, "expected pruned ranges on graded tf")
  }

  test("more than SurvivorCollectMax survivors: the distributed survivor join keeps parity") {
    // 2000 docs in ranges of 4 → 500 ranges; a constant-score leaf bounds
    // every eligible range at exactly τ, and a deep k leaves τ low, so far
    // more than 256 ranges survive phase 2
    val dir = java.nio.file.Files.createTempDirectory("graft-wand-survivors").toString
    val cfg = IndexConfig(analyzer = new StandardCodeAnalyzer(),
      docsPerRange = 4, numSegments = 4, segmentsPerWave = 4)
    new IndexBuilder(spark, cfg).build(TestCorpus.corpus(N).toDF(), dir)
    val s = new IndexSearcher(spark, dir)
    for ((q, k) <- Seq[(Query, Int)](
        ConstantScoreQuery(TermQuery("import"), 1.5f) -> 10,
        BooleanQuery(Seq(
          BooleanClause(Occur.SHOULD, TermQuery("parser")),
          BooleanClause(Occur.SHOULD, TermQuery("buffer")))) -> 150)) {
      val exact = s.search(q, k, ScoreMode.Ref32)
      val (wand, jobs) = SparkJobs.described(spark)(Wand.searchTopK(
        pruning(new IndexSearcher(spark, dir)), q, k, ScoreMode.Ref32, phase1Ranges = 64))
      assert(jobs.exists(_.contains("distributed survivor ranges")),
        s"the distributed survivor branch did not run for $q: $jobs")
      assert(wand.totalHitsIsLowerBound, s"route for $q")
      assert(wand.scoreDocs.map(d => (d.docId, d.score)).toSeq ==
        exact.scoreDocs.map(d => (d.docId, d.score)).toSeq, s"top-k parity for $q")
      assert(wand.totalHits <= exact.totalHits)
    }
  }

  test("conjunction (MUST) pruning: pruned == exhaustive") {
    val q = BooleanQuery(Seq(
      BooleanClause(Occur.MUST, TermQuery("import")),
      BooleanClause(Occur.MUST, TermQuery("parser"))))
    assertSafe(q, k = 10, phase1 = 4)
    // MUST term with df=1: only its single range is eligible, and its one
    // candidate is fewer than k → the exhaustive fallback answers
    val q2 = BooleanQuery(Seq(
      BooleanClause(Occur.MUST, TermQuery("parser")),
      BooleanClause(Occur.MUST, TermQuery("uniqtoken_17"))))
    assertSafe(q2, k = 5, phase1 = 2, fallback = true)
  }

  test("MUST+SHOULD and MUST_NOT shapes: pruned == exhaustive") {
    val reqOpt = BooleanQuery(Seq(
      BooleanClause(Occur.MUST, TermQuery("parser")),
      BooleanClause(Occur.SHOULD, TermQuery("buffer")),
      BooleanClause(Occur.SHOULD, TermQuery("scorer"))))
    assertSafe(reqOpt, k = 10, phase1 = 4)
    val reqExcl = BooleanQuery(Seq(
      BooleanClause(Occur.SHOULD, TermQuery("parser")),
      BooleanClause(Occur.MUST_NOT, TermQuery("buffer"))))
    assertSafe(reqExcl, k = 10, phase1 = 4)
    val msm = BooleanQuery(Seq(
      BooleanClause(Occur.SHOULD, TermQuery("parser")),
      BooleanClause(Occur.SHOULD, TermQuery("buffer")),
      BooleanClause(Occur.SHOULD, TermQuery("scorer"))), minShouldMatch = 2)
    assertSafe(msm, k = 10, phase1 = 4)
  }

  test("negative-scoring models (LM): pruned == exhaustive — SHOULD bounds clamp at 0") {
    // LMJM's +ln(λ) background takes a common term's scores NEGATIVE; the
    // hazard: 'uniqtoken_9 OR import' — a doc matching only the rare term
    // outranks everything, but import's negative bound would drag its
    // range's bound below τ and wrongly prune it if summed raw
    for (sim <- Seq[Similarity](new LMJelinekMercerSimilarity, new LMDirichletSimilarity)) {
      val s = new IndexSearcher(spark, indexPath, similarity = sim)
      val w = pruning(new IndexSearcher(spark, indexPath, similarity = sim))
      val qs = Seq[Query](
        BooleanQuery(Seq(
          BooleanClause(Occur.SHOULD, TermQuery("uniqtoken_9")),
          BooleanClause(Occur.SHOULD, TermQuery("import")))),
        BooleanQuery(Seq(
          BooleanClause(Occur.MUST, TermQuery("parser")),
          BooleanClause(Occur.SHOULD, TermQuery("import")))),
        BooleanQuery(Seq(
          BooleanClause(Occur.SHOULD, TermQuery("parser")),
          BooleanClause(Occur.SHOULD, TermQuery("buffer")),
          BooleanClause(Occur.SHOULD, TermQuery("import"))), minShouldMatch = 1))
      for (q <- qs; mode <- Seq[ScoreMode](ScoreMode.Ref32, ScoreMode.ExactDouble)) {
        val exact = s.search(q, 10, mode)
        val wand = Wand.searchTopK(w, q, 10, mode, phase1Ranges = 4)
        assert(wand.scoreDocs.map(d => (d.docId, d.score)).toSeq ==
          exact.scoreDocs.map(d => (d.docId, d.score)).toSeq,
          s"${sim.getClass.getSimpleName}/$mode parity for $q")
      }
    }
  }

  test("phrase leaves are pruned with parity (MUST and SHOULD shapes, both modes)") {
    val shapes = Seq(
      BooleanQuery(Seq(
        BooleanClause(Occur.MUST, PhraseQuery(Seq("posting", "list"))),
        BooleanClause(Occur.SHOULD, TermQuery("parser")))),
      BooleanQuery(Seq(
        BooleanClause(Occur.SHOULD, PhraseQuery(Seq("posting", "list"))),
        BooleanClause(Occur.SHOULD, TermQuery("parser")),
        BooleanClause(Occur.SHOULD, TermQuery("buffer")))),
      PhraseQuery(Seq("posting", "list")),
      BooleanQuery(Seq( // phrase + msm over mixed term/phrase SHOULDs
        BooleanClause(Occur.SHOULD, PhraseQuery(Seq("posting", "list"))),
        BooleanClause(Occur.SHOULD, TermQuery("parser")),
        BooleanClause(Occur.SHOULD, TermQuery("scorer"))), minShouldMatch = 2))
    for (q <- shapes; mode <- Seq[ScoreMode](ScoreMode.Ref32, ScoreMode.ExactDouble)) {
      val exact = searcher.search(q, 10, mode)
      val wand = Wand.searchTopK(wandSearcher, q, 10, mode, phase1Ranges = 4)
      assert(wand.scoreDocs.map(d => (d.docId, d.score)).toSeq ==
        exact.scoreDocs.map(d => (d.docId, d.score)).toSeq, s"parity $q mode=$mode")
      assert(wand.totalHits <= exact.totalHits)
    }
  }

  test("nested booleans prune with parity (round 4: no exhaustive fallback left)") {
    val p = new QueryParser(new StandardCodeAnalyzer())
    val shapes: Seq[Query] = Seq(
      p.parse("parser OR (buffer AND scorer)"),
      p.parse("+import (parser OR buffer) -uniqtoken_3"),
      // nested msm inside a SHOULD
      BooleanQuery(Seq(
        BooleanClause(Occur.SHOULD, TermQuery("import")),
        BooleanClause(Occur.SHOULD, BooleanQuery(Seq(
          BooleanClause(Occur.SHOULD, TermQuery("parser")),
          BooleanClause(Occur.SHOULD, TermQuery("buffer")),
          BooleanClause(Occur.SHOULD, TermQuery("scorer"))), minShouldMatch = 2)))),
      // phrase nested under a MUST boolean
      BooleanQuery(Seq(
        BooleanClause(Occur.MUST, BooleanQuery(Seq(
          BooleanClause(Occur.SHOULD, PhraseQuery(Seq("posting", "list"))),
          BooleanClause(Occur.SHOULD, TermQuery("scorer"))))),
        BooleanClause(Occur.SHOULD, TermQuery("parser")))),
      // a nested MUST child that can match nowhere collapses the whole tree
      BooleanQuery(Seq(
        BooleanClause(Occur.MUST, BooleanQuery(Seq(
          BooleanClause(Occur.MUST, TermQuery("zzz_nosuchterm")),
          BooleanClause(Occur.SHOULD, TermQuery("parser"))))),
        BooleanClause(Occur.SHOULD, TermQuery("import")))))
    for (q <- shapes; mode <- Seq[ScoreMode](ScoreMode.Ref32, ScoreMode.ExactDouble)) {
      val exact = searcher.search(q, 10, mode)
      val wand = Wand.searchTopK(wandSearcher, q, 10, mode, phase1Ranges = 4)
      assert(wand.scoreDocs.map(d => (d.docId, d.score)).toSeq ==
        exact.scoreDocs.map(d => (d.docId, d.score)).toSeq, s"parity $q mode=$mode")
      assert(wand.totalHits <= exact.totalHits)
    }
    // nested query under a negative-scoring model (SHOULD clamp recursion)
    val lm = new IndexSearcher(spark, indexPath, similarity = new LMJelinekMercerSimilarity)
    val q = p.parse("parser OR (buffer AND scorer)")
    val e = lm.search(q, 10, ScoreMode.Ref32)
    val w = Wand.searchTopK(
      pruning(new IndexSearcher(spark, indexPath, similarity = new LMJelinekMercerSimilarity)),
      q, 10, ScoreMode.Ref32, phase1Ranges = 4)
    assert(w.scoreDocs.map(d => (d.docId, d.score)).toSeq ==
      e.scoreDocs.map(d => (d.docId, d.score)).toSeq)
  }

  test("phrase bound under b=0 (norm-insensitive) with tie-break adversarial data") {
    // b=0 kills the norm margin: bounds are exactly attainable, so a doc
    // scoring exactly tau with a SMALLER docId in a pruned-late range must
    // still win the tie-break. Identical phrase tf everywhere → all phrase
    // scores equal → correctness rests on the >= tau inclusion.
    val dir = java.nio.file.Files.createTempDirectory("graft-wand-b0").toString
    val docs = (0 until 512).map { i =>
      CodeFile(s"r$i", f"p$i%05d", "", "scala",
        s"alpha beta gap_$i " + ("pad " * (i % 7)))
    }
    val cfg = IndexConfig(analyzer = new StandardCodeAnalyzer(),
      docsPerRange = 64, numSegments = 4, segmentsPerWave = 4)
    new IndexBuilder(spark, cfg).build(docs.toDF(), dir)
    val s = new IndexSearcher(spark, dir, similarity = new Bm25Similarity(1.2f, 0f))
    val w = pruning(new IndexSearcher(spark, dir, similarity = new Bm25Similarity(1.2f, 0f)))
    for (mode <- Seq[ScoreMode](ScoreMode.Ref32, ScoreMode.ExactDouble)) {
      val q = PhraseQuery(Seq("alpha", "beta"))
      val exact = s.search(q, 5, mode)
      val wand = Wand.searchTopK(w, q, 5, mode, phase1Ranges = 2)
      assert(wand.scoreDocs.map(d => (d.docId, d.score)).toSeq ==
        exact.scoreDocs.map(d => (d.docId, d.score)).toSeq, s"b=0 parity mode=$mode")
    }
  }

  test("duplicate clauses (same term, multiple occurs/boosts): pruned == exhaustive") {
    // '+parser parser' — the require+boost idiom: the term scores once per
    // CLAUSE, so the per-key bound must sum clause bounds or pruning drops
    // true top-k docs
    val reqBoost = BooleanQuery(Seq(
      BooleanClause(Occur.MUST, TermQuery("parser")),
      BooleanClause(Occur.SHOULD, TermQuery("parser"))))
    assertSafe(reqBoost, k = 10, phase1 = 2)
    // duplicated SHOULD with different boosts
    val dupBoost = BooleanQuery(Seq(
      BooleanClause(Occur.SHOULD, TermQuery("parser", 2.0f)),
      BooleanClause(Occur.SHOULD, TermQuery("parser", 0.5f)),
      BooleanClause(Occur.SHOULD, TermQuery("buffer"))))
    assertSafe(dupBoost, k = 10, phase1 = 2)
    // msm over duplicate clauses: one distinct present term satisfies msm=2
    val msmDup = BooleanQuery(Seq(
      BooleanClause(Occur.SHOULD, TermQuery("parser")),
      BooleanClause(Occur.SHOULD, TermQuery("parser")),
      BooleanClause(Occur.SHOULD, TermQuery("buffer"))), minShouldMatch = 2)
    assertSafe(msmDup, k = 10, phase1 = 2)
  }

  test("empty boolean query: zero hits, no crash") {
    val r = searcher.search(BooleanQuery(Nil), 10, ScoreMode.Ref32)
    assert(r.totalHits == 0 && r.scoreDocs.isEmpty)
  }

  test("65+ distinct terms: no bitmask cap; WAND parity holds") {
    // mixes present terms with many absent ones — exceeds the old 64-term cap
    val terms = Seq("parser", "buffer", "scorer", "merge", "import") ++
      (0 until 70).map(i => s"w$i")
    val q = BooleanQuery(terms.map(t => BooleanClause(Occur.SHOULD, TermQuery(t))))
    assertSafe(q, k = 10, phase1 = 8)
  }

  test("bound safe when doc lengths straddle byte315 bucket edges") {
    // constant tf, dl sweeping 96..191 → scores differ only by dl, separated
    // by less than one quantization bucket; with the unsafe (byte-down) bound
    // phase 2 pruned ranges holding true top-k docs here
    val dir = java.nio.file.Files.createTempDirectory("graft-wand-edge").toString
    val docs = (0 until 512).map { i =>
      val dl = 96 + (i % 96)
      CodeFile(s"r$i", f"p$i%05d", "", "scala",
        ("edgeterm " * 2) + ("pad " * (dl - 2)))
    }
    val cfg = IndexConfig(analyzer = new StandardCodeAnalyzer(),
      docsPerRange = 32, numSegments = 4, segmentsPerWave = 4)
    new IndexBuilder(spark, cfg).build(docs.toDF(), dir)
    val s = new IndexSearcher(spark, dir)
    val w = pruning(new IndexSearcher(spark, dir))
    for (k <- Seq(5, 17, 40); p1 <- Seq(1, 2, 4)) {
      val exact = s.search(TermQuery("edgeterm"), k, ScoreMode.Ref32)
      val wand = Wand.searchTopK(w, TermQuery("edgeterm"), k, ScoreMode.Ref32, phase1Ranges = p1)
      assert(wand.scoreDocs.map(d => (d.docId, d.score)).toSeq ==
        exact.scoreDocs.map(d => (d.docId, d.score)).toSeq, s"k=$k phase1=$p1")
    }
  }

  test("ExactDouble mode: pruned == exhaustive (bound covers exact dl too)") {
    for (q <- Seq[Query](
      TermQuery("import"),
      BooleanQuery(Seq(
        BooleanClause(Occur.MUST, TermQuery("parser")),
        BooleanClause(Occur.SHOULD, TermQuery("buffer")))))) {
      val exact = searcher.search(q, 10, ScoreMode.ExactDouble)
      val wand = Wand.searchTopK(wandSearcher, q, 10, ScoreMode.ExactDouble, phase1Ranges = 4)
      assert(wand.scoreDocs.map(d => (d.docId, d.score)).toSeq ==
        exact.scoreDocs.map(d => (d.docId, d.score)).toSeq, s"exact-mode parity for $q")
    }
  }

  test("1024-term clause limit: boundary accepted, beyond rejected") {
    // 1025 distinct terms → reference maxClauseCount exceeded
    val tooMany = BooleanQuery((0 until 1025).map(i =>
      BooleanClause(Occur.SHOULD, TermQuery(s"zz_$i"))))
    val ex = intercept[IllegalArgumentException](searcher.search(tooMany, 5))
    assert(ex.getMessage.contains("1024"))
    // exactly at the limit works (all-absent terms → empty result)
    val atLimit = BooleanQuery((0 until 1024).map(i =>
      BooleanClause(Occur.SHOULD, TermQuery(s"zz_$i"))))
    assert(searcher.search(atLimit, 5).totalHits == 0)
  }

  test("norm-insensitive similarity (b=0): exactly-attainable bound == tau is not pruned") {
    // advisor round-2 case: with b=0 the row bound s(maxFreq) is EXACTLY
    // attainable. Range 1 (high docIds) holds x@freq2 and y@freq2 in
    // different docs → bound 2·s(2), actual best s(2); range 0 holds x@freq2
    // at doc 0 → bound s(2). Phase 1 (budget 1) picks range 1, τ = s(2).
    // Range 0's bound == τ and its doc 0 ties the score with a SMALLER docId
    // → it is the true winner; strict `> τ` pruned it.
    val dir = java.nio.file.Files.createTempDirectory("graft-wand-b0").toString
    val docs = Seq(
      (0L, "r", "p0", "", "scala", "xterm xterm"),
      (40L, "r", "p40", "", "scala", "xterm xterm"),
      (41L, "r", "p41", "", "scala", "yterm yterm"),
      (42L, "r", "p42", "", "scala", "yterm")
    ).toDF("docId", "repo", "path", "commit", "lang", "content")
    val cfg = IndexConfig(analyzer = new StandardCodeAnalyzer(), docsPerRange = 32,
      numSegments = 2, segmentsPerWave = 2, explicitDocIdCol = Some("docId"))
    new IndexBuilder(spark, cfg).build(docs, dir)
    val s = new IndexSearcher(spark, dir, "content", new Bm25Similarity(1.2f, 0f))
    val q = BooleanQuery(Seq(
      BooleanClause(Occur.SHOULD, TermQuery("xterm")),
      BooleanClause(Occur.SHOULD, TermQuery("yterm"))))
    val exact = s.search(q, 1, ScoreMode.Ref32)
    assert(exact.scoreDocs.head.docId == 0L) // score tie, smaller docId wins
    val wand = Wand.searchTopK(pruning(new IndexSearcher(spark, dir, "content",
      new Bm25Similarity(1.2f, 0f))), q, 1, ScoreMode.Ref32, phase1Ranges = 1)
    assert(wand.scoreDocs.map(d => (d.docId, d.score)).toSeq ==
      exact.scoreDocs.map(d => (d.docId, d.score)).toSeq,
      "bound==tau range pruned: tie-break winner lost")
  }

  test("missing terms: empty result, no crash") {
    val r = Wand.searchTopK(searcher, TermQuery("zzz_none"), 10)
    assert(r.totalHits == 0 && r.scoreDocs.isEmpty)
  }

  test("LM Pitman-Yor: boundScore dominates score over ALL doc lengths (advisor round-4)") {
    // PY's discount term ln(1 - T/(dl+μ)) INCREASES with dl, so the generic
    // bound (score at minDl) is NOT an upper bound over a range. NOTE: with
    // CONSISTENT corpus stats (f ≤ ttf, dl ≤ T) the raw PY score is provably
    // ≤ ~0 for every μ — the clamp lands every real match at 0, so the
    // mis-prune cannot manifest on an actual index (verified by exhaustive
    // numeric search). The bound must STILL dominate for arbitrary stats
    // (MultiSimilarity mixes, future similarity params): assert the
    // dl-independent boundScore ≥ score at every length, both arithmetics,
    // in the positive regime the exact-twin fixture uses (ExactSimSpec).
    val sim = new LMPitmanYorProcessSimilarity
    val cs = CollectionStats("content", maxDoc = 10, docCount = 10,
      sumTotalTermFreq = 50, sumDocFreq = 30)
    val ts = TermStats("content", "t", docFreq = 2, totalTermFreq = 2)
    for (boost <- Seq(1.0, 3.5)) {
      val ex = sim.exactTermScorer(ts, cs, boost)
      for (f <- Seq(1.0, 2.0, 10.0, 40.0); dlLo <- Seq(1.0, 5.0, 20.0)) {
        val b = ex.boundScore(f, dlLo)
        for (dl <- Seq(dlLo, dlLo + 1, 50.0, 200.0, 1950.0, 10000.0) if dl >= dlLo)
          assert(b >= ex.score(f, dl),
            s"exact bound $b < score(${ex.score(f, dl)}) at f=$f dl=$dl (dlLo=$dlLo)")
      }
      val fs = sim.termScorer(ts, cs, boost.toFloat)
      for (f <- Seq(1f, 2f, 10f, 40f); bLo <- 0 until 256) {
        val bound = fs.boundScore(f, bLo.toByte)
        for (b2 <- 0 until 256) // every byte = every representable length
          assert(bound >= fs.score(f, b2.toByte),
            s"float bound $bound < ${fs.score(f, b2.toByte)} at f=$f byte=$b2")
      }
    }
    // end-to-end parity on the shared corpus (all-clamped regime: scores 0,
    // tie-break by docId — pruning must preserve it), both modes
    val s2 = new IndexSearcher(spark, indexPath, similarity = new LMPitmanYorProcessSimilarity)
    val w2 = pruning(new IndexSearcher(spark, indexPath,
      similarity = new LMPitmanYorProcessSimilarity))
    val q = BooleanQuery(Seq(
      BooleanClause(Occur.SHOULD, TermQuery("parser")),
      BooleanClause(Occur.SHOULD, TermQuery("buffer"))))
    for (mode <- Seq[ScoreMode](ScoreMode.Ref32, ScoreMode.ExactDouble)) {
      val exact = s2.search(q, 10, mode)
      val wand = Wand.searchTopK(w2, q, 10, mode, phase1Ranges = 4)
      assert(wand.scoreDocs.map(d => (d.docId, d.score)).toSeq ==
        exact.scoreDocs.map(d => (d.docId, d.score)).toSeq, s"PY mixed-corpus parity $mode")
    }
  }

  test("nested MatchAllQuery through WAND throws the guided error, not a MatchError") {
    val s = new IndexSearcher(spark, indexPath)
    val q = BooleanQuery(Seq(
      BooleanClause(Occur.MUST, TermQuery("parser")),
      BooleanClause(Occur.SHOULD, MatchAllQuery())))
    val e = intercept[IllegalArgumentException] {
      Wand.searchTopK(s, q, 10, ScoreMode.Ref32)
    }
    assert(e.getMessage.contains("FilteredQuery"))
  }
}
