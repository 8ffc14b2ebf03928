package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.analysis.StandardCodeAnalyzer
import graft.index._
import graft.search._

/** Sharded search ≡ monolithic: a MultiSearcher over two interleaved shards
  * (doc_id % 2) must produce BIT-IDENTICAL results to one index over the
  * union corpus — same totalHits, same (docId, score) pairs, both score
  * modes, every query shape — because scoring uses globally merged
  * statistics (idf from summed df, avgdl from summed field totals).
  */
class MultiSearcherSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private val N = 500

  private def df(pred: Long => Boolean) =
    TestCorpus.corpus(N).zipWithIndex.collect { case (c, i) if pred(i.toLong) =>
      (i.toLong, c.repo, c.path, c.commit, c.lang, c.content)
    }.toDF("doc_id", "repo", "path", "commit", "lang", "content")

  private def cfg = IndexConfig(analyzer = new StandardCodeAnalyzer(),
    docsPerRange = 64, numSegments = 8, segmentsPerWave = 8,
    explicitDocIdCol = Some("doc_id"))

  private def build(pred: Long => Boolean, tag: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(s"graft-multi-$tag").toString
    new IndexBuilder(spark, cfg).build(df(pred), dir)
    dir
  }

  private lazy val monoPath = build(_ => true, "mono")
  private lazy val shardAPath = build(_ % 2 == 0, "a")
  private lazy val shardBPath = build(_ % 2 == 1, "b")

  private lazy val mono = new IndexSearcher(spark, monoPath)
  private lazy val multi = MultiSearcher(spark, Seq(shardAPath, shardBPath))
  /** WAND side: shards with a zero driver-local bound take the pruned plan. */
  private lazy val pruned = {
    val m = MultiSearcher(spark, Seq(shardAPath, shardBPath))
    m.shards.foreach(pruning)
    m
  }

  private val battery: Seq[Query] = Seq(
    TermQuery("merge"),
    BooleanQuery(Seq(
      BooleanClause(Occur.MUST, TermQuery("merge")),
      BooleanClause(Occur.MUST, TermQuery("scorer")))),
    BooleanQuery(Seq(
      BooleanClause(Occur.SHOULD, TermQuery("merge")),
      BooleanClause(Occur.SHOULD, TermQuery("index")),
      BooleanClause(Occur.SHOULD, TermQuery("buffer"))), 2),
    BooleanQuery(Seq(
      BooleanClause(Occur.MUST, TermQuery("merge")),
      BooleanClause(Occur.MUST_NOT, TermQuery("scorer")),
      BooleanClause(Occur.SHOULD, TermQuery("vector")))),
    PhraseQuery(Seq("posting", "list")),
    DisMaxQuery(Seq(TermQuery("merge"), TermQuery("scorer")), 0.5f),
    ConstantScoreQuery(TermQuery("merge"), 2.5f),
    FilteredQuery(TermQuery("merge"), TermQuery("index")))

  test("search ≡ monolithic: totalHits and (docId, score), both modes") {
    for (q <- battery; mode <- Seq[ScoreMode](ScoreMode.Ref32, ScoreMode.ExactDouble)) {
      val m = mono.search(q, 12, mode)
      val s = multi.search(q, 12, mode)
      assert(s.totalHits == m.totalHits, s"totalHits q=$q mode=$mode")
      assert(s.scoreDocs.map(d => (d.docId, d.score)).toSeq ==
        m.scoreDocs.map(d => (d.docId, d.score)).toSeq, s"q=$q mode=$mode")
    }
  }

  test("scoredDocs union ≡ monolithic full match set") {
    val q = battery(2) // msm disjunction
    val m = mono.scoredDocs(q, ScoreMode.ExactDouble).collect()
      .map(d => (d.docId, d.score)).sortBy(_._1).toSeq
    val s = multi.scoredDocs(q, ScoreMode.ExactDouble).collect()
      .map(d => (d.docId, d.score)).sortBy(_._1).toSeq
    assert(s == m)
  }

  test("per-shard WAND merge ≡ monolithic exhaustive top-k") {
    val routes = for (q <- battery; mode <- Seq[ScoreMode](ScoreMode.Ref32, ScoreMode.ExactDouble))
      yield {
        val m = mono.search(q, 10, mode)
        val s = pruned.searchWand(q, 10, mode)
        assert(s.scoreDocs.map(d => (d.docId, d.score)).toSeq ==
          m.scoreDocs.map(d => (d.docId, d.score)).toSeq, s"q=$q mode=$mode")
        // a merge that no shard pruned counts every hit
        assert(s.totalHitsIsLowerBound || s.totalHits == m.totalHits, s"totalHits q=$q mode=$mode")
        s.totalHitsIsLowerBound
      }
    assert(routes.contains(true), "no shard pruned")
  }

  test("explain routes to the owning shard; value == monolithic score") {
    val q = battery(1)
    val top = mono.search(q, 5, ScoreMode.Ref32)
    top.scoreDocs.foreach { d =>
      assert(multi.explain(q, d.docId).value == d.score, s"doc ${d.docId}")
    }
    assert(!multi.explain(q, N + 100L).isMatch)
  }

  test("match-all merges across shards: live count and docId-asc top-k") {
    val t = multi.search(MatchAllQuery(1.5f), 6)
    assert(t.totalHits == N)
    assert(t.scoreDocs.map(_.docId).toSeq == (0L until 6L))
    assert(t.scoreDocs.forall(_.score == 1.5))
  }

  test("TF-IDF similarity: coord/queryNorm computed from merged stats") {
    val multiT = MultiSearcher(spark, Seq(shardAPath, shardBPath),
      similarity = new TfIdfSimilarity())
    val monoT = new IndexSearcher(spark, monoPath, similarity = new TfIdfSimilarity())
    val q = battery(3)
    for (mode <- Seq[ScoreMode](ScoreMode.Ref32, ScoreMode.ExactDouble)) {
      val m = monoT.search(q, 10, mode)
      val s = multiT.search(q, 10, mode)
      assert(s.scoreDocs.map(d => (d.docId, d.score)).toSeq ==
        m.scoreDocs.map(d => (d.docId, d.score)).toSeq, s"mode=$mode")
    }
  }

  test("facets and sort-by-field across shards ≡ monolithic") {
    val q = BooleanQuery(Seq(
      BooleanClause(Occur.SHOULD, TermQuery("merge")),
      BooleanClause(Occur.SHOULD, TermQuery("vector"))))
    val mf = mono.facetCounts(q, "lang").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    val sf = multi.facetCounts(q, "lang").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(sf == mf)
    val ms = mono.searchSortBy(q, "repo", 12, ascending = false).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val ss = multi.searchSortBy(q, "repo", 12, ascending = false).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(ss == ms)
    def grouped(r: org.apache.spark.sql.DataFrame) = r.collect()
      .map(x => (x.getString(0), x.getDouble(1), x.getInt(2), x.getLong(3), x.getDouble(4)))
      .sortBy(t => (t._1, t._3)).toSeq
    val mg = grouped(mono.groupedSearch(q, "lang", 3, 4, ScoreMode.ExactDouble))
    val sg = grouped(multi.groupedSearch(q, "lang", 3, 4, ScoreMode.ExactDouble))
    assert(sg == mg)
  }

  test("suggest and MoreLikeThis across shards ≡ monolithic") {
    def sug(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSeq
    val msug = sug(mono.suggestTerms("merg", 2, 5))
    val ssug = sug(multi.suggestTerms("merg", 2, 5))
    assert(ssug == msug)
    val an = new StandardCodeAnalyzer()
    val seed = "merge scorer index buffer"
    val mq = mono.moreLikeThisQuery(an, seed, maxQueryTerms = 3)
    val sq = multi.moreLikeThisQuery(an, seed, maxQueryTerms = 3)
    assert(sq == mq) // merged df/maxDoc rank-selects the same disjunction
    val m = mono.search(mq, 10, ScoreMode.ExactDouble)
    val s = multi.search(sq, 10, ScoreMode.ExactDouble)
    assert(s.scoreDocs.map(d => (d.docId, d.score)).toSeq ==
      m.scoreDocs.map(d => (d.docId, d.score)).toSeq)
  }

  test("per-shard deletes apply") {
    val del = Array(1L, 3L, 5L) // all live in shard B (odd ids)
    val multiD = MultiSearcher.of(Seq(
      new IndexSearcher(spark, shardAPath),
      new IndexSearcher(spark, shardBPath).withDeletes(del)))
    val monoD = mono.withDeletes(del)
    val q = TermQuery("merge")
    val m = monoD.search(q, 10, ScoreMode.ExactDouble)
    val s = multiD.search(q, 10, ScoreMode.ExactDouble)
    assert(s.totalHits == m.totalHits)
    assert(s.scoreDocs.map(d => (d.docId, d.score)).toSeq ==
      m.scoreDocs.map(d => (d.docId, d.score)).toSeq)
  }

  private val modes = Seq[ScoreMode](ScoreMode.Ref32, ScoreMode.ExactDouble)
  private def pairs(t: TopDocs) = t.scoreDocs.map(d => (d.docId, d.score)).toSeq

  test("shards passed to MultiSearcher.of keep answering standalone with their own stats") {
    val shards = Seq(shardAPath, shardBPath).map(p => p -> new IndexSearcher(spark, p))
    val m = MultiSearcher.of(shards.map(_._2))
    for (q <- battery; mode <- modes) {
      assert(pairs(m.search(q, 12, mode)) == pairs(mono.search(q, 12, mode)), s"q=$q mode=$mode")
      for ((dir, s) <- shards) {
        val fresh = new IndexSearcher(spark, dir)
        val keys = Query.leafKeys(Query.rewrite(q), "content")
        assert(s.termStats(keys) == fresh.termStats(keys), s"termStats q=$q")
        assert(s.collectionStats == fresh.collectionStats)
        val (got, exp) = (s.search(q, 12, mode), fresh.search(q, 12, mode))
        assert(got.totalHits == exp.totalHits && pairs(got) == pairs(exp),
          s"standalone shard $dir q=$q mode=$mode")
      }
    }
  }

  test("concurrent queries on one cold MultiSearcher ≡ sequential; no df double-counted") {
    val an = new StandardCodeAnalyzer()
    val seed = "merge scorer index buffer"
    def op(name: String)(f: MultiSearcher => TopDocs) = name -> f
    val ops = Seq(
      op("term")(_.search(TermQuery("merge"), 10, ScoreMode.Ref32)),
      op("boolean")(_.search(battery(3), 10, ScoreMode.ExactDouble)),
      op("phrase")(_.search(PhraseQuery(Seq("posting", "list")), 10, ScoreMode.Ref32)),
      op("prefix")(_.search(PrefixQuery("uniqtoken_1"), 10, ScoreMode.ExactDouble)),
      op("mlt")(m => m.search(m.moreLikeThisQuery(an, seed), 10, ScoreMode.Ref32)))
    val sequential = {
      val m = MultiSearcher(spark, Seq(shardAPath, shardBPath))
      ops.map { case (_, op) => op(m) }
    }
    val shards = Seq(shardAPath, shardBPath).map(new IndexSearcher(spark, _))
    val m = MultiSearcher.of(shards)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      // each thread asks every query twice, starting at a different one
      val runs = (0 until 4).map { t =>
        pool.submit(new java.util.concurrent.Callable[Seq[(Int, TopDocs)]] {
          def call(): Seq[(Int, TopDocs)] = (0 until 2 * ops.size).map { j =>
            val i = (t + j) % ops.size
            i -> ops(i)._2(m)
          }
        })
      }.flatMap(_.get())
      runs.foreach { case (i, got) =>
        assert(got.totalHits == sequential(i).totalHits && pairs(got) == pairs(sequential(i)),
          s"${ops(i)._1}: concurrent ≠ sequential")
      }
    } finally pool.shutdown()
    val keys = (Seq[Query](TermQuery("merge"), battery(3), PhraseQuery(Seq("posting", "list")),
      mono.moreLikeThisQuery(an, seed)) :+ mono.expandPrefixes(PrefixQuery("uniqtoken_1")))
      .flatMap(q => Query.leafKeys(Query.rewrite(q), "content")).distinct
    Seq(shardAPath, shardBPath).zip(shards).foreach { case (dir, s) =>
      assert(s.termStats(keys) == new IndexSearcher(spark, dir).termStats(keys), s"shard $dir")
    }
    m.shards.foreach(v => assert(v.termStats(keys) == mono.termStats(keys), "merged ≠ monolithic"))
  }

  test("multi-term queries expand against the UNION dictionary ≡ monolithic") {
    val qs: Seq[Query] = Seq(
      PrefixQuery("mer"), // common stem — terms present in both shards
      // uniqtoken_N terms are per-doc unique → every expansion term lives
      // in exactly ONE shard (the cross-shard stats/eligibility stress)
      PrefixQuery("uniqtoken_1"),
      FuzzyQuery("merge", 1),
      WildcardQuery("s*rd"),
      TermRangeQuery(Some("shard"), Some("token")),
      BooleanQuery(Seq( // nested beside a scored term
        BooleanClause(Occur.MUST, TermQuery("index")),
        BooleanClause(Occur.SHOULD, PrefixQuery("scor")))))
    for (q <- qs; mode <- Seq[ScoreMode](ScoreMode.Ref32, ScoreMode.ExactDouble)) {
      val m = mono.search(q, 10, mode)
      val s = multi.search(q, 10, mode)
      assert(s.totalHits == m.totalHits, s"totalHits q=$q mode=$mode")
      assert(s.scoreDocs.map(d => (d.docId, d.score)).toSeq ==
        m.scoreDocs.map(d => (d.docId, d.score)).toSeq, s"q=$q mode=$mode")
    }
  }

  test("groupedSearch heap ≡ window reference on a 90%-skewed group column") {
    import org.apache.spark.sql.functions._
    // one group owns 90% of the matches — the skew shape the former
    // row_number window funneled through a single task
    val rows = (0 until 400).map { i =>
      val lang = if (i % 10 == 0) s"minor${i % 3}" else "dominant"
      (i.toLong, "r", s"p$i", s"c$i", lang, s"merge tok$i shared merge words")
    }.toDF("doc_id", "repo", "path", "commit", "lang", "content")
    def built(tag: String, keep: org.apache.spark.sql.Column) = {
      val dir = java.nio.file.Files.createTempDirectory(s"graft-group-skew$tag").toString
      new IndexBuilder(spark, cfg).build(rows.where(keep), dir)
      dir
    }
    val dir = built("", lit(true))
    val s = new IndexSearcher(spark, dir)
    // the same rows in two shards split by docId: the dominant group spans both
    val sharded = MultiSearcher(spark,
      Seq(built("-lo", col("doc_id") < 200), built("-hi", col("doc_id") >= 200)))
    val q = TermQuery("merge")
    def norm(rs: Array[org.apache.spark.sql.Row]) = rs
      .map(r => (r.getString(0), r.getDouble(1), r.getInt(2), r.getLong(3), r.getDouble(4)))
      .sortBy(t => (t._1, t._3)).toSeq
    val got = norm(s.groupedSearch(q, "lang", 10, 3, ScoreMode.ExactDouble).collect())
    val gotSharded = norm(sharded.groupedSearch(q, "lang", 10, 3, ScoreMode.ExactDouble).collect())
    // independent window reference over the same scored match set
    val hits = s.scoredDocs(q, ScoreMode.ExactDouble).toDF("docId", "score")
      .join(spark.read.parquet(s"$dir/docs").select(col("docId"), col("lang")), "docId")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("score").desc, col("docId").asc)
    val leaders = hits.groupBy(col("lang")).agg(max(col("score")).as("groupTop"))
      .orderBy(col("groupTop").desc, col("lang")).limit(10)
    val ref = norm(hits.withColumn("rank", row_number().over(w))
      .where(col("rank") <= 3)
      .join(broadcast(leaders), Seq("lang"))
      .select(col("lang"), col("groupTop"), col("rank"), col("docId"), col("score"))
      .collect())
    assert(got == ref)
    assert(gotSharded == ref)
    assert(got.count(_._1 == "dominant") == 3) // dominant group capped at docsPerGroup
    assert(got.nonEmpty && ref.nonEmpty)
  }

  test("sharded grouping with more groups than topGroups returns exactly topGroups") {
    val q = BooleanQuery(Seq(
      BooleanClause(Occur.SHOULD, TermQuery("merge")),
      BooleanClause(Occur.SHOULD, TermQuery("vector"))))
    def grouped(r: org.apache.spark.sql.DataFrame) = r.collect()
      .map(x => (x.getString(0), x.getDouble(1), x.getInt(2), x.getLong(3), x.getDouble(4)))
      .sortBy(t => (t._1, t._3)).toSeq
    assert(mono.facetCounts(q, "repo", topN = 100).count() > 5) // more groups than topGroups
    for (mode <- modes) {
      val mg = grouped(mono.groupedSearch(q, "repo", 5, 2, mode))
      val sg = grouped(multi.groupedSearch(q, "repo", 5, 2, mode))
      assert(sg.map(_._1).distinct.size == 5, s"mode=$mode")
      assert(sg == mg, s"mode=$mode")
    }
  }

  test("a warm sharded suggestion launches no Spark job; answers ≡ monolithic") {
    def sug(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSeq
    val m = MultiSearcher(spark, Seq(shardAPath, shardBPath))
    for ((in, edits, topN) <- Seq(("merg", 2, 5), ("scorr", 2, 3), ("w12", 1, 8))) {
      val cold = sug(m.suggestTerms(in, edits, topN))
      val (warm, jobs) = SparkJobs.count(spark)(sug(m.suggestTerms(in, edits, topN)))
      assert(jobs == 0, s"$in: warm suggestion launched $jobs jobs")
      assert(warm == cold && warm == sug(mono.suggestTerms(in, edits, topN)), in)
      assert(warm.nonEmpty, in)
    }
  }

  test("MultiSearcher rejects engine columns and unknown columns like the single index") {
    val q = TermQuery("merge")
    for (c <- Seq("norm", "nope")) {
      intercept[IllegalArgumentException](multi.facetCounts(q, c))
      intercept[IllegalArgumentException](multi.searchSortBy(q, c, 5))
      intercept[IllegalArgumentException](multi.groupedSearch(q, c, 3, 2))
    }
  }
}
