package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

import graft.analysis.StandardCodeAnalyzer
import graft.index._
import graft.search._
import graft.streaming.StreamingIndexer

/** Streaming append: micro-batches become new index waves; queries see the
  * union; CheckIndex stays green.
  */
class StreamingSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  test("foreachBatch append extends a committed index, queryable after each batch") {
    val dir = java.nio.file.Files.createTempDirectory("graft-stream").toString
    val cfg = IndexConfig(analyzer = new StandardCodeAnalyzer(),
      docsPerRange = 128, numSegments = 4, segmentsPerWave = 4)
    val builder = new IndexBuilder(spark, cfg)
    builder.build(TestCorpus.corpus(200).toDF(), dir)

    val before = new IndexSearcher(spark, dir).search(TermQuery("import"), 5)
    assert(before.totalHits > 0)

    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[CodeFile]
    // two batches of fresh docs (distinct paths → distinct ids)
    val batch1 = (1000 until 1100).map(i => TestCorpus.corpus(1).head.copy(
      path = s"stream/$i.scala", content = s"import streamed token$i uniqstream_$i"))
    val batch2 = (1100 until 1150).map(i => TestCorpus.corpus(1).head.copy(
      path = s"stream/$i.scala", content = s"streamed merge uniqstream_$i"))

    val q = StreamingIndexer.append(spark, stream.toDF(), dir, cfg,
      checkpoint = Some(s"$dir/_checkpoint"), trigger = Trigger.ProcessingTime(0))
    stream.addData(batch1: _*)
    q.processAllAvailable() // batch 0 → wave 100000
    stream.addData(batch2: _*)
    q.processAllAvailable() // batch 1 → wave 100001
    q.stop()

    val s = new IndexSearcher(spark, dir)
    assert(s.manifest.maxDoc == 200 + 150)
    val streamed = s.search(TermQuery("streamed"), 200)
    assert(streamed.totalHits == 150)
    val merged = s.search(TermQuery("merge"), 500)
    assert(merged.totalHits >= 50) // batch2 docs all contain 'merge'
    // original docs still intact
    val imp = s.search(TermQuery("import"), 500)
    assert(imp.totalHits >= before.totalHits)

    val report = CheckIndex.run(spark, dir)
    assert(report.ok, report.problems.mkString("; "))
  }

  test("appendBatch with explicit ids: caller ids used verbatim, stats global") {
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-ids").toString
    val cfg = IndexConfig(analyzer = new StandardCodeAnalyzer(),
      docsPerRange = 64, numSegments = 4, segmentsPerWave = 4,
      explicitDocIdCol = Some("docId"))
    val builder = new IndexBuilder(spark, cfg)
    val all = (0 until 300).map(i => (i.toLong, TestCorpus.corpus(300)(i)))
    def df(rows: Seq[(Long, graft.index.CodeFile)]) =
      rows.map { case (id, f) => (id, f.repo, f.path, f.commit, f.lang, f.content) }
        .toDF("docId", "repo", "path", "commit", "lang", "content")
    builder.build(df(all.take(150)), dir)
    StreamingIndexer.appendBatch(spark, builder, df(all.drop(150)), batchId = 0L, dir)

    // equivalence with a single-shot build over the union, id-for-id
    val singleDir = java.nio.file.Files.createTempDirectory("graft-stream-ids-s").toString
    new IndexBuilder(spark, cfg).build(df(all), singleDir)
    val sA = new IndexSearcher(spark, dir)
    val sB = new IndexSearcher(spark, singleDir)
    for (q <- Seq[Query](TermQuery("import"),
      BooleanQuery(Seq(
        BooleanClause(Occur.MUST, TermQuery("parser")),
        BooleanClause(Occur.SHOULD, TermQuery("buffer")))))) {
      val a = sA.search(q, 300, ScoreMode.Ref32)
      val b = sB.search(q, 300, ScoreMode.Ref32)
      assert(a.totalHits == b.totalHits, s"totalHits for $q")
      assert(a.scoreDocs.map(d => (d.docId, d.score)).toSeq ==
        b.scoreDocs.map(d => (d.docId, d.score)).toSeq, s"streamed ≡ single-shot for $q")
    }
    assert(CheckIndex.run(spark, dir).ok)
  }

  test("views derived after an append score with their parent's commit") {
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-views").toString
    val cfg = IndexConfig(analyzer = new StandardCodeAnalyzer(),
      docsPerRange = 64, numSegments = 4, segmentsPerWave = 4,
      explicitDocIdCol = Some("docId"))
    val builder = new IndexBuilder(spark, cfg)
    val all = (0 until 300).map(i => (i.toLong, TestCorpus.corpus(300)(i)))
    def df(rows: Seq[(Long, graft.index.CodeFile)]) =
      rows.map { case (id, f) => (id, f.repo, f.path, f.commit, f.lang, f.content) }
        .toDF("docId", "repo", "path", "commit", "lang", "content")
    builder.build(df(all.take(150)), dir)
    val queries = Seq[Query](TermQuery("import"),
      BooleanQuery(Seq(
        BooleanClause(Occur.MUST, TermQuery("parser")),
        BooleanClause(Occur.SHOULD, TermQuery("buffer")))),
      PhraseQuery(Seq("posting", "list")))
    def pairs(t: TopDocs) = t.scoreDocs.map(d => (d.docId, d.score)).toSeq
    // references on the 150-doc commit, before the append
    val tfidf = new TfIdfSimilarity()
    val ref = new IndexSearcher(spark, dir)
    val refTfidf = new IndexSearcher(spark, dir, similarity = tfidf)
    val expected = queries.map(q => (ref.search(q, 300), refTfidf.search(q, 300)))
    val keys = Seq(("content", "import"), ("content", "parser"))
    val oldStats = ref.termStats(keys)

    val s0 = new IndexSearcher(spark, dir)
    val victim = s0.search(queries.head, 300).scoreDocs.head.docId
    StreamingIndexer.appendBatch(spark, builder, df(all.drop(150)), batchId = 0L, dir)
    assert(new IndexSearcher(spark, dir).termStats(keys) != oldStats, "the append changed df")

    val deleted = s0.withDeletes(Array(victim))
    val rescored = s0.withSimilarity(tfidf) // the FtQueries.searcherWith derivation
    assert(deleted.manifest.maxDoc == 150 && rescored.manifest.maxDoc == 150)
    assert(deleted.termStats(keys) == oldStats && rescored.termStats(keys) == oldStats)
    queries.zip(expected).foreach { case (q, (bm25, tf)) =>
      val d = deleted.search(q, 300)
      val live = pairs(bm25).filterNot(_._1 == victim)
      assert(d.totalHits == bm25.totalHits - (pairs(bm25).size - live.size), s"totalHits $q")
      assert(pairs(d) == live, s"delete view scores $q with the parent's commit")
      val r = rescored.search(q, 300)
      assert(r.totalHits == tf.totalHits && pairs(r) == pairs(tf),
        s"similarity view scores $q with the parent's commit")
    }
  }

  test("a searcher opened before an append reads only its own commit's postings and docs") {
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-pit").toString
    val cfg = IndexConfig(analyzer = new StandardCodeAnalyzer(),
      docsPerRange = 64, numSegments = 4, segmentsPerWave = 4,
      explicitDocIdCol = Some("docId"))
    val builder = new IndexBuilder(spark, cfg)
    val all = (0 until 300).map(i => (i.toLong, TestCorpus.corpus(300)(i)))
    def df(rows: Seq[(Long, graft.index.CodeFile)]) =
      rows.map { case (id, f) => (id, f.repo, f.path, f.commit, f.lang, f.content) }
        .toDF("docId", "repo", "path", "commit", "lang", "content")
    builder.build(df(all.take(150)), dir)
    val queries = Seq[Query](TermQuery("import"),
      BooleanQuery(Seq(
        BooleanClause(Occur.MUST, TermQuery("parser")),
        BooleanClause(Occur.SHOULD, TermQuery("buffer")))),
      PhraseQuery(Seq("posting", "list")),
      MatchAllQuery())
    def pairs(t: TopDocs) = t.scoreDocs.map(d => (d.docId, d.score)).toSeq
    val ref = new IndexSearcher(spark, dir)
    val maxDocId = ref.manifest.maxDocId
    val expected = queries.map(q => ref.search(q, 300))
    // opened before the append, first asked after it: driver-local and
    // distributed (zero driver-local bound) evaluation
    val local = new IndexSearcher(spark, dir)
    val distributed = pruning(new IndexSearcher(spark, dir))
    StreamingIndexer.appendBatch(spark, builder, df(all.drop(150)), batchId = 0L, dir)
    assert(new IndexSearcher(spark, dir).manifest.maxDoc == 300)

    for (s <- Seq(local, distributed); (q, exp) <- queries.zip(expected)) {
      val got = s.search(q, 300)
      assert(got.totalHits == exp.totalHits && pairs(got) == pairs(exp), s"search $q")
      assert(got.scoreDocs.forall(_.docId <= maxDocId), s"docIds of $q")
      exp.scoreDocs.take(3).foreach(d => assert(s.explain(q, d.docId).value == d.score))
    }
    val appended = 152L // an appended doc whose first word is "import"
    assert(new IndexSearcher(spark, dir).explain(TermQuery("import"), appended).isMatch)
    assert(!local.explain(TermQuery("import"), appended).isMatch)
    assert(local.docs(Seq(0L, maxDocId, maxDocId + 1, 299L)).map(_.docId) == Seq(0L, maxDocId))
    val wand = Wand.searchTopK(distributed, queries(1), 10, ScoreMode.Ref32)
    assert(pairs(wand) == pairs(expected(1)).take(10))
    assert(local.facetCounts(MatchAllQuery(), "lang").collect().map(_.getLong(1)).sum == 150)
  }

  test("a searcher opened between a wave's write and its commit reads its own commit only") {
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-window").toString
    val cfg = IndexConfig(analyzer = new StandardCodeAnalyzer(),
      docsPerRange = 64, numSegments = 4, segmentsPerWave = 4,
      explicitDocIdCol = Some("docId"))
    val builder = new IndexBuilder(spark, cfg)
    val all = TestCorpus.corpus(300).zipWithIndex.map { case (f, i) =>
      (i.toLong, f.repo, f.path, f.commit, f.lang, f.content) }
    builder.build(all.take(150).toDF("docId", "repo", "path", "commit", "lang", "content"), dir)
    val queries = Seq[Query](TermQuery("import"), PhraseQuery(Seq("posting", "list")))
    def pairs(t: TopDocs) = t.scoreDocs.map(d => (d.docId, d.score)).toSeq
    val expected = queries.map(q => new IndexSearcher(spark, dir).search(q, 20))
    val wave = StreamingIndexer.StreamingWaveBase
    builder.invertWave(all.drop(150).toDF("docId", "repo", "path", "commit", "lang", "content")
      .withColumn("segId", org.apache.spark.sql.functions.lit(wave))
      .select(builder.stagedColumns.map(org.apache.spark.sql.functions.col): _*), wave, dir)
    val inWindow = new IndexSearcher(spark, dir) // the wave is written, not committed
    for ((q, exp) <- queries.zip(expected)) {
      val got = inWindow.search(q, 20)
      assert(got.totalHits == exp.totalHits && pairs(got) == pairs(exp), s"in the window: $q")
    }
    builder.publishIncremental(dir, wave)
    for ((q, exp) <- queries.zip(expected)) {
      val got = inWindow.search(q, 20)
      assert(got.totalHits == exp.totalHits && pairs(got) == pairs(exp), s"after the commit: $q")
      assert(new IndexSearcher(spark, dir).search(q, 20).totalHits > exp.totalHits, q)
    }
  }

  test("an empty batch commits nothing; the next commit sweeps its dirs") {
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-empty").toString
    val cfg = IndexConfig(analyzer = new StandardCodeAnalyzer(),
      docsPerRange = 64, numSegments = 4, segmentsPerWave = 4)
    val builder = new IndexBuilder(spark, cfg)
    builder.build(TestCorpus.corpus(100).toDF(), dir)
    val commit = java.nio.file.Paths.get(s"$dir/commit.json")
    val before = java.nio.file.Files.readAllBytes(commit)
    StreamingIndexer.appendBatch(spark, builder, Seq.empty[CodeFile].toDF(), batchId = 0L, dir)
    assert(java.nio.file.Files.readAllBytes(commit).sameElements(before))
    StreamingIndexer.appendBatch(spark, builder, TestCorpus.corpus(101).drop(100).toDF(), batchId = 1L, dir)
    assert(!new java.io.File(s"$dir/postings/wave=${StreamingIndexer.StreamingWaveBase}").exists())
    assert(IndexManifest.load(spark, dir).maxDoc == 101)
    assert(CheckIndex.run(spark, dir).ok)
  }

  test("incremental publish: dictionary == full recompute; replay is a no-op; generations swept") {
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-inc").toString
    val cfg = IndexConfig(analyzer = new StandardCodeAnalyzer(),
      docsPerRange = 64, numSegments = 4, segmentsPerWave = 4,
      explicitDocIdCol = Some("docId"))
    val builder = new IndexBuilder(spark, cfg)
    val all = (0 until 240).map(i => (i.toLong, TestCorpus.corpus(240)(i)))
    def df(rows: Seq[(Long, graft.index.CodeFile)]) =
      rows.map { case (id, f) => (id, f.repo, f.path, f.commit, f.lang, f.content) }
        .toDF("docId", "repo", "path", "commit", "lang", "content")
    def checked(): Unit = {
      val report = CheckIndex.run(spark, dir)
      assert(report.ok, report.problems)
    }
    builder.build(df(all.take(120)), dir)
    checked()
    StreamingIndexer.appendBatch(spark, builder, df(all.slice(120, 180)), batchId = 0L, dir)
    checked()
    val preBatch1 = IndexManifest.load(spark, dir)
    StreamingIndexer.appendBatch(spark, builder, df(all.drop(180)), batchId = 1L, dir)
    checked()

    val m = IndexManifest.load(spark, dir)
    def statsTable(mf: IndexManifest) =
      spark.read.parquet(mf.statsLocation).as[FieldStats].collect().sortBy(_.field).toSeq
    val incrementalStats = statsTable(m)
    assert(m.termsGen == 2, s"two increments → gen 2, got ${m.termsGen}")
    assert(m.waves.count(_.wave >= StreamingIndexer.StreamingWaveBase) == 2)
    assert(m.maxDoc == 240 && m.maxDocId == 239)
    // gen-0 dirs superseded at gen 2 → swept; gen-1 kept for in-flight readers
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/terms")))
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/terms_g1")))

    def dict(path: String) = spark.read.parquet(path)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(t => (t._1, t._2)).toSeq
    val incremental = dict(m.termsLocation)

    // replayed batch (at-least-once foreachBatch): wave already published → no-op
    StreamingIndexer.appendBatch(spark, builder, df(all.drop(180)), batchId = 1L, dir)
    val m2 = IndexManifest.load(spark, dir)
    assert(m2.termsGen == 2 && m2.maxDoc == 240, "replay must not advance the generation")
    assert(dict(m2.termsLocation) == incremental)
    checked()

    // crash-window replay: roll the manifest back to before batch 1 (batch
    // 1's row already sits in segments.json and its wave dir is durable) —
    // the re-run must REPLACE the segment row, not duplicate it, and
    // re-derive the identical dictionary from the still-live g1
    assert(preBatch1.termsGen == 1 && preBatch1.maxDoc == 180 && preBatch1.maxDocId == 179)
    IndexManifest.commit(spark, preBatch1)
    StreamingIndexer.appendBatch(spark, builder, df(all.drop(180)), batchId = 1L, dir)
    val m2b = IndexManifest.load(spark, dir)
    assert(m2b.termsGen == 2 && m2b.maxDoc == 240)
    assert(dict(m2b.termsLocation) == incremental)
    val segLines = {
      val in = fs.open(new org.apache.hadoop.fs.Path(s"$dir/segments.json"))
      val txt = scala.io.Source.fromInputStream(in).mkString
      in.close(); txt.linesIterator.toSeq
    }
    val waveRows = segLines.count(_.contains(
      s""""segId":${StreamingIndexer.StreamingWaveBase + 1},"""))
    assert(waveRows == 1, s"crash replay duplicated the segment row ($waveRows)")
    checked()

    // ground truth: a full publish re-aggregates everything from postings
    builder.publish(dir)
    val m3 = IndexManifest.load(spark, dir)
    assert(m3.termsGen > m2b.termsGen, "a full publish commits a fresh generation")
    assert(dict(m3.termsLocation) == incremental,
      "incrementally-folded dictionary must equal the full recompute")
    // the rest of the commit folds exactly too: totals, field stats, table rows
    assert((m.maxDoc, m.docCount, m.maxDocId) == (m3.maxDoc, m3.docCount, m3.maxDocId))
    assert(m.fieldStats.nonEmpty && m.fieldStats == m3.fieldStats)
    assert(incrementalStats == statsTable(m3))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/terms_g1")),
      "full publish sweeps stale generations")
    assert(CheckIndex.run(spark, dir).ok)

    // checkpoint-less restart hazard: a PUBLISHED batchId arrives again with
    // NEW data (invertWave overwrites the wave before publish runs). The
    // replay guard must detect the content change via the committed segment
    // row and fall back to a FULL publish — not serve the stale dictionary.
    val replacement = (300 until 330).map(i => (i.toLong, TestCorpus.corpus(240)(i % 240)
      .copy(path = s"rewrite/$i.scala", content = s"rewritten uniqrw_$i")))
    StreamingIndexer.appendBatch(spark, builder, df(replacement), batchId = 1L, dir)
    val mR = IndexManifest.load(spark, dir)
    assert(mR.termsGen > m3.termsGen, "content change must trigger the full-publish fallback")
    assert(new IndexSearcher(spark, dir).search(TermQuery("rewritten"), 50).totalHits == 30,
      "new wave content must be reflected in the dictionary")
    assert(CheckIndex.run(spark, dir).ok, "index must stay self-consistent after the fallback")
  }

  test("windowed aggregation with watermark: windows finalize, late events drop") {
    import java.sql.Timestamp
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Timestamp, String, Double)]
    def ts(h: Int, m: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    val out = graft.streaming.StreamingStats.windowedCounts(
      stream.toDF().toDF("ts", "event_type", "value"), watermarkDelay = "10 minutes")
    val q = out.writeStream.format("memory").queryName("ev_out")
      .outputMode("append").start()
    // window 10:00-11:00 fills; an event at 12:30 advances the watermark to
    // 12:20 → the 10:00 window finalizes and emits
    stream.addData((ts(10, 5), "click", 1.5), (ts(10, 40), "click", 2.0),
      (ts(10, 50), "view", 4.25))
    q.processAllAvailable()
    stream.addData((ts(12, 30), "click", 1.0))
    q.processAllAvailable()
    // LATE event for the finalized 10:00 window: behind the watermark → dropped
    stream.addData((ts(10, 59), "click", 100.0))
    q.processAllAvailable()
    stream.addData((ts(14, 0), "view", 1.0)) // advance watermark past 12:00 too
    q.processAllAvailable()
    q.stop()
    val rows = spark.sql(
      "SELECT event_type, n_events, sum_value FROM ev_out WHERE hour(window_start) = 10 ORDER BY event_type")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    // the late 100.0 click never lands: counts frozen at finalization
    assert(rows.toSeq == Seq(("click", 2L, 3.5), ("view", 1L, 4.25)))
  }

  test("stateful streaming dedup emits each content once, first-seen wins") {
    import graft.streaming.StreamingDedup
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, String)]
    val out = StreamingDedup.firstSeen(
      stream.toDF().toDF("doc_id", "text"), "text", "doc_id")
    val q = out.writeStream.format("memory").queryName("dedup_out")
      .outputMode("update").start()
    // batch 1: a duplicated within the batch (id 2 < 5 wins), b unique
    stream.addData((5L, "a a a"), (2L, "a a a"), (3L, "b b b"))
    q.processAllAvailable()
    // batch 2: a again (already seen → dropped), c new
    stream.addData((9L, "a a a"), (7L, "c c c"))
    q.processAllAvailable()
    q.stop()
    val rows = spark.sql("SELECT id, text FROM dedup_out ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(rows.toSeq == Seq((2L, "a a a"), (3L, "b b b"), (7L, "c c c")))
  }
}
