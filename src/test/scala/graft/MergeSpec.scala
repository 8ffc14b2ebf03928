package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.analysis.StandardCodeAnalyzer
import graft.index._
import graft.search._

/** Merge invariant (FIXTURES.md §5): merge(build waves) ≡ build(union) on
  * posting lists and stats — the reference's merge execution is a stub, so
  * equivalence to a single-shot build IS the correctness definition.
  */
class MergeSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private val N = 600
  private val analyzer = new StandardCodeAnalyzer()

  private def build(dir: String, wavesOf: Int): Unit = {
    val cfg = IndexConfig(analyzer = analyzer, docsPerRange = 128,
      numSegments = 12, segmentsPerWave = wavesOf, buildPartitions = 8)
    new IndexBuilder(spark, cfg).build(TestCorpus.corpus(N).toDF(), dir)
  }

  private def decodedPostings(dir: String): Map[(String, String, Long), Seq[(Long, Int, Int)]] =
    spark.read.parquet(IndexManifest.load(spark, dir).paths("postings"): _*)
      .select("field", "term", "rangeId", "payload")
      .as[(String, String, Long, Array[Byte])]
      .collect()
      .groupBy(r => (r._1, r._2, r._3))
      .map { case (k, rows) =>
        val entries = rows.flatMap { r =>
          val d = graft.codec.PostingsCodec.decode(r._4)
          (0 until d.length).map(i => (d.docIds(i), d.freqs(i), d.dls(i)))
        }.sortBy(_._1)
        k -> entries.toSeq
      }

  test("tiered merge preserves posting lists, stats, and query results") {
    val single = java.nio.file.Files.createTempDirectory("graft-single").toString
    val waved = java.nio.file.Files.createTempDirectory("graft-waved").toString
    build(single, wavesOf = 12) // one wave
    build(waved, wavesOf = 1) // 12 waves

    val preWaves = TieredMerge.waves(spark, waved)
    assert(preWaves.size == 12)

    // aggressive policy to force merging in-test
    val merged = TieredMerge.maybeMerge(spark, waved, segsPerTier = 1, maxMergeAtOnce = 10)
    assert(merged.nonEmpty)
    val postWaves = TieredMerge.waves(spark, waved)
    assert(postWaves.size < preWaves.size)

    // posting-level equivalence with the single-shot build
    val dw = decodedPostings(waved)
    val ds = decodedPostings(single)
    val onlyW = dw.keySet -- ds.keySet
    val onlyS = ds.keySet -- dw.keySet
    assert(onlyW.isEmpty && onlyS.isEmpty,
      s"keys only in waved: ${onlyW.take(5)}; only in single: ${onlyS.take(5)}")
    val diffs = dw.keys.filter(k => dw(k) != ds(k)).take(3)
    assert(diffs.isEmpty, diffs.map(k => s"$k:\n waved=${dw(k)}\n single=${ds(k)}").mkString("\n"))

    // query-level equivalence
    val qs = Seq[Query](
      TermQuery("import"),
      new QueryParser(analyzer).parse("parser OR buffer"),
      PhraseQuery(Seq("posting", "list")),
      new QueryParser(analyzer).parse("+import +parser -uniqtoken_3"))
    val sW = new IndexSearcher(spark, waved)
    val sS = new IndexSearcher(spark, single)
    for (q <- qs) {
      val a = sW.search(q, 10, ScoreMode.Ref32)
      val b = sS.search(q, 10, ScoreMode.Ref32)
      assert(a.totalHits == b.totalHits, s"totalHits $q")
      assert(a.scoreDocs.map(d => (d.docId, d.score)).toSeq ==
        b.scoreDocs.map(d => (d.docId, d.score)).toSeq, s"topk $q")
    }

    // validator passes on the merged index
    val report = CheckIndex.run(spark, waved)
    assert(report.ok, report.problems.mkString("; "))
    assert(report.maxDoc == N)
  }

  test("LogMergePolicy: adjacent same-level runs of mergeFactor; oversized never merge") {
    def w(i: Int, bytes: Long) = TieredMerge.WaveInfo(i, bytes)
    // 12 similar-size segments → two adjacent groups of 10 cannot both form;
    // exactly one group of the first 10 (positional, arrival order)
    val flat = (0 until 12).map(i => w(i, 10L << 20))
    val p1 = TieredMerge.planLog(flat, mergeFactor = 10)
    assert(p1.size == 1 && p1.head.map(_.wave) == (0 until 10))
    // a trailing huge segment widens the window but only small runs merge
    val withBig = (0 until 13).map(i => if (i == 12) w(i, 6L << 30) else w(i, 10L << 20))
    val p2 = TieredMerge.planLog(withBig, mergeFactor = 10)
    assert(p2.size == 1 && p2.head.map(_.wave) == (0 until 10))
    // groups containing an over-max segment are skipped entirely
    assert(TieredMerge.planLog((0 until 11).map(i => w(i, 6L << 30))).isEmpty)
    // exactly mergeFactor in a level DOES merge (reference loop bound
    // `end <= 1+upto`); one fewer does not
    assert(TieredMerge.planLog((0 until 10).map(i => w(i, 10L << 20))).size == 1)
    assert(TieredMerge.planLog((0 until 9).map(i => w(i, 10L << 20))).isEmpty)
    // merge(log-policy waves) ≡ build(union): query-level equivalence
    val single = java.nio.file.Files.createTempDirectory("graft-log-single").toString
    val waved = java.nio.file.Files.createTempDirectory("graft-log-waved").toString
    build(single, wavesOf = 12)
    build(waved, wavesOf = 1)
    val merged = TieredMerge.maybeMergeWith(spark, waved,
      TieredMerge.planLog(_, mergeFactor = 3, minMergeBytes = 1L), positional = true)
    assert(merged.nonEmpty)
    val sW = new IndexSearcher(spark, waved)
    val sS = new IndexSearcher(spark, single)
    for (q <- Seq[Query](TermQuery("import"), PhraseQuery(Seq("posting", "list")))) {
      val a = sW.search(q, 10, ScoreMode.Ref32)
      val b = sS.search(q, 10, ScoreMode.Ref32)
      assert(a.totalHits == b.totalHits, s"totalHits $q")
      assert(a.scoreDocs.map(d => (d.docId, d.score)).toSeq ==
        b.scoreDocs.map(d => (d.docId, d.score)).toSeq, s"topk $q")
    }
    assert(CheckIndex.run(spark, waved).ok)
  }

  test("merged waves use a disjoint namespace and survive streaming appends + resume") {
    val dir = java.nio.file.Files.createTempDirectory("graft-merge-ns").toString
    val cfg = IndexConfig(analyzer = analyzer, docsPerRange = 128,
      numSegments = 12, segmentsPerWave = 1, buildPartitions = 8)
    new IndexBuilder(spark, cfg).build(TestCorpus.corpus(N).toDF(), dir)

    val merged = TieredMerge.maybeMerge(spark, dir, segsPerTier = 1, maxMergeAtOnce = 10)
    assert(merged.nonEmpty)
    // merge output waves live above MergeWaveBase — a streaming micro-batch
    // (wave = 100000 + batchId, mode=overwrite) can never clobber them
    assert(merged.forall(_ >= TieredMerge.MergeWaveBase))
    val committed = IndexManifest.load(spark, dir)
    assert(committed.retired.nonEmpty)
    // generational ordering: the commit lists the merged wave (numbered
    // ≥ 1e6) at its OLDEST source's position, not after everything else
    val byAge = TieredMerge.waves(spark, dir)
    assert(byAge.map(_.wave) == committed.waves.map(_.wave))
    val mergedIdx = byAge.indexWhere(_.wave >= TieredMerge.MergeWaveBase)
    assert(mergedIdx >= 0)
    val oldestSource = committed.waves(mergedIdx).covers.min
    assert(byAge.take(mergedIdx).forall(_.wave < oldestSource),
      s"merged wave out of generational position: ${byAge.map(_.wave)}")
    val hitsBefore = new IndexSearcher(spark, dir)
      .search(TermQuery("import"), 5, ScoreMode.Ref32).totalHits

    // a streaming append after the merge must not collide with merged waves
    val builder = new IndexBuilder(spark, cfg)
    val batch = (5000 until 5050).map(i => TestCorpus.corpus(1).head.copy(
      path = s"stream/$i.scala", content = s"import uniqafter_$i")).toDF()
    graft.streaming.StreamingIndexer.appendBatch(spark, builder, batch, batchId = 0L, dir)
    val s1 = new IndexSearcher(spark, dir)
    assert(s1.search(TermQuery("import"), 5, ScoreMode.Ref32).totalHits == hitsBefore + 50)

    // resume after the merge must NOT re-invert retired waves (duplicated
    // postings would double freqs/hit counts)
    new IndexBuilder(spark, cfg).build(TestCorpus.corpus(N).toDF(), dir, resume = true)
    val s2 = new IndexSearcher(spark, dir)
    assert(s2.search(TermQuery("import"), 5, ScoreMode.Ref32).totalHits == hitsBefore + 50)
    val report = CheckIndex.run(spark, dir)
    assert(report.ok, report.problems.mkString("; "))
  }

  private def copyDir(src: java.io.File, dst: java.io.File): Unit =
    if (src.isDirectory) {
      dst.mkdirs()
      src.listFiles().foreach(f => copyDir(f, new java.io.File(dst, f.getName)))
    } else
      java.nio.file.Files.copy(src.toPath, dst.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)

  test("merge crash windows: retired leftovers and uncommitted outputs are swept") {
    val dir = java.nio.file.Files.createTempDirectory("graft-merge-crash").toString
    val cfg = IndexConfig(analyzer = analyzer, docsPerRange = 128,
      numSegments = 12, segmentsPerWave = 1, buildPartitions = 8)
    new IndexBuilder(spark, cfg).build(TestCorpus.corpus(N).toDF(), dir)
    val q = TermQuery("import")
    val before = new IndexSearcher(spark, dir).search(q, 5, ScoreMode.Ref32).totalHits
    val pre = CheckIndex.run(spark, dir)
    val snap = new java.io.File(s"$dir/postings_snapshot")
    copyDir(new java.io.File(s"$dir/postings"), snap)

    assert(TieredMerge.maybeMerge(spark, dir, segsPerTier = 1, maxMergeAtOnce = 10).nonEmpty)
    val m = IndexManifest.load(spark, dir)
    val mergedWave = m.waves.map(_.wave).max
    assert(mergedWave >= TieredMerge.MergeWaveBase)
    // a retired source on disk — kept for readers of the previous commit,
    // or left by a crash between a commit and its sweep — and an
    // uncommitted merge output (a crash after the merged wave's write,
    // before its commit)
    val leftover = m.retired.min
    val leftoverDir = new java.io.File(s"$dir/postings/wave=$leftover")
    if (!leftoverDir.exists()) copyDir(new java.io.File(snap, s"wave=$leftover"), leftoverDir)
    val orphanWave = TieredMerge.MergeWaveBase + 777
    val orphan = new java.io.File(s"$dir/postings/wave=$orphanWave")
    copyDir(new java.io.File(s"$dir/postings/wave=$mergedWave"), orphan)
    copyDir(new java.io.File(s"$dir/termsPartial/wave=$mergedWave"),
      new java.io.File(s"$dir/termsPartial/wave=$orphanWave"))

    // invisible to a new searcher and to CheckIndex's counts
    assert(new IndexSearcher(spark, dir).search(q, 5, ScoreMode.Ref32).totalHits == before)
    val report = CheckIndex.run(spark, dir)
    assert(report.ok, report.problems.mkString("; "))
    assert(report.maxDoc == N && report.sumDocFreq == pre.sumDocFreq &&
      report.sumTotalTermFreq == pre.sumTotalTermFreq)
    assert(report.unlisted.exists(_.startsWith(s"postings/wave=$orphanWave/")) &&
      report.unlisted.exists(_.startsWith(s"postings/wave=$leftover/")), report.unlisted)
    assert(!TieredMerge.waves(spark, dir).exists(w => w.wave == orphanWave || w.wave == leftover))

    // the next commit (an append) sweeps both; a full publish never adopts them
    graft.streaming.StreamingIndexer.appendBatch(spark, new IndexBuilder(spark, cfg),
      Seq(TestCorpus.corpus(1).head.copy(path = "stream/0.scala", content = "import appended")).toDF(),
      batchId = 0L, dir)
    assert(!orphan.exists() && !new java.io.File(s"$dir/termsPartial/wave=$orphanWave").exists(),
      "uncommitted merge output not swept")
    assert(!leftoverDir.exists(), "retired source not swept")
    copyDir(new java.io.File(s"$dir/postings/wave=$mergedWave"), orphan)
    new IndexBuilder(spark, cfg).publish(dir)
    assert(!orphan.exists())
    assert(new IndexSearcher(spark, dir).search(q, 5, ScoreMode.Ref32).totalHits == before + 1)
    assert(CheckIndex.run(spark, dir).ok)
  }

  test("a searcher opened before a merge keeps answering after the merge commits") {
    val dir = java.nio.file.Files.createTempDirectory("graft-merge-open").toString
    val cfg = IndexConfig(analyzer = analyzer, docsPerRange = 64,
      numSegments = 4, segmentsPerWave = 1, buildPartitions = 4)
    new IndexBuilder(spark, cfg).build(TestCorpus.corpus(200).toDF(), dir)
    assert(TieredMerge.waves(spark, dir).size == 4)
    val queries = Seq[Query](TermQuery("import"), PhraseQuery(Seq("posting", "list")))
    val ref = new IndexSearcher(spark, dir)
    val expected = queries.map(q => ref.search(q, 10, ScoreMode.Ref32))
    val opened = new IndexSearcher(spark, dir) // never queried before the merge
    assert(TieredMerge.maybeMerge(spark, dir, segsPerTier = 2, maxMergeAtOnce = 3).size == 1)
    queries.zip(expected).foreach { case (q, exp) =>
      val got = opened.search(q, 10, ScoreMode.Ref32)
      assert(got.totalHits == exp.totalHits, s"totalHits $q")
      assert(got.scoreDocs.map(d => (d.docId, d.score)).toSeq ==
        exp.scoreDocs.map(d => (d.docId, d.score)).toSeq, s"topk $q")
    }
  }

  test("CheckIndex catches a broken manifest") {
    val dir = java.nio.file.Files.createTempDirectory("graft-chk").toString
    build(dir, wavesOf = 12)
    assert(CheckIndex.run(spark, dir).ok)
    // corrupt the commit marker
    IndexManifest.commit(spark, IndexManifest(dir, 999999L, 1L, 128))
    val r = CheckIndex.run(spark, dir)
    assert(!r.ok && r.problems.exists(_.contains("maxDoc")))
  }

  test("republish of an existing index inherits its field config (forExisting)") {
    // advisor round-4 case: Cli merge/expunge republished with a DEFAULT
    // IndexConfig — docsPerRange 8192 stamped over a 128-range index and
    // extra fields' docCounts zeroed. forExisting must reproduce the
    // committed config exactly.
    val dir = java.nio.file.Files.createTempDirectory("graft-repub").toString
    val cfg = IndexConfig(analyzer = analyzer, docsPerRange = 128,
      numSegments = 4, segmentsPerWave = 1, buildPartitions = 8,
      keywordFields = Seq("lang"), analyzedFields = Seq("path"))
    new IndexBuilder(spark, cfg).build(TestCorpus.corpus(200).toDF(), dir)
    val before = IndexManifest.load(spark, dir)
    assert(before.docsPerRange == 128 && before.keywordFields == Seq("lang") &&
      before.analyzedFields == Seq("path"))
    if (TieredMerge.waves(spark, dir).size > 1)
      TieredMerge.maybeMerge(spark, dir, segsPerTier = 1, maxMergeAtOnce = 10)
    // the Cli path: republish WITHOUT the original builder/config in hand
    IndexBuilder.forExisting(spark, dir).publish(dir)
    val after = IndexManifest.load(spark, dir)
    assert(after.docsPerRange == 128, s"docsPerRange corrupted: ${after.docsPerRange}")
    assert(after.keywordFields == Seq("lang") && after.analyzedFields == Seq("path"))
    // extra fields keep nonzero docCounts (a default config would zero them)
    val stats = spark.read.parquet(after.statsLocation)
      .select("field", "docCount").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(stats("lang") > 0 && stats("path") > 0, stats.toString)
    // rangeId-dependent paths still work: fielded query through the searcher
    val s = new IndexSearcher(spark, dir)
    assert(s.search(TermQuery("scala", 1.0f, Some("lang")), 5, ScoreMode.Ref32).totalHits > 0)
  }

  test("CheckIndex reports an old format version cleanly (no mid-run crash)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-chk-fmt").toString
    build(dir, wavesOf = 12)
    val m = IndexManifest.load(spark, dir)
    assert(m.formatVersion == IndexManifest.CurrentFormat)
    IndexManifest.commit(spark, m.copy(formatVersion = 1))
    val r = CheckIndex.run(spark, dir)
    assert(!r.ok && r.problems.exists(_.contains("format version 1")), r.problems.toString)
    IndexManifest.commit(spark, m) // restore
    assert(CheckIndex.run(spark, dir).ok)
  }
}
