package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.analysis.StandardCodeAnalyzer
import graft.index._
import graft.search._

/** commit.json round trip, the field statistics it carries, and their
  * readers: searchers, incremental publish and CheckIndex.
  */
class ManifestSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private val cfg = IndexConfig(analyzer = new StandardCodeAnalyzer(),
    docsPerRange = 128, numSegments = 4, segmentsPerWave = 4, buildPartitions = 8,
    keywordFields = Seq("lang"), analyzedFields = Seq("path"))

  private def build(n: Int): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-manifest").toString
    new IndexBuilder(spark, cfg).build(TestCorpus.corpus(n).toDF(), dir)
    dir
  }

  private def conf = spark.sparkContext.hadoopConfiguration

  test("commit then load preserves every field, field stats included") {
    val dir = java.nio.file.Files.createTempDirectory("graft-manifest-rt").toString
    // names a hand-rolled format could not round-trip: quotes, commas,
    // backslashes, a non-BMP character, and a field named like a top-level
    // key whose stats differ from the top-level values
    val m = IndexManifest(dir, maxDoc = 1234L, docCount = 1200L, docsPerRange = 256,
      maxDocId = 5000L, termsGen = 3,
      waves = Seq(WaveEntry(0, Seq(0), Seq(IndexFile("postings/wave=0/p\"a,rt.parquet", 10L),
          IndexFile("docs/wave=0/part.parquet", 20L))),
        WaveEntry(TieredMerge.MergeWaveBase, Seq(1, 100002),
          Seq(IndexFile("postings/wave=1000000/part.parquet", 30L)))),
      termsFiles = Seq(IndexFile("terms_g3/part-0.parquet", 40L)),
      formatVersion = IndexManifest.FormatOffsets, field = "bo\"dy",
      analyzedFields = Seq("a,b", "c\\d", "𝒳"), keywordFields = Seq("lang", "docCount"),
      fieldStats = Some(Seq(
        FieldStats("docCount", sumTotalTermFreq = 7L, sumDocFreq = 6L, termCount = 5L,
          maxDoc = 4L, docCount = 3L),
        FieldStats("bo\"dy", 70000000000L, 900L, 80L, 1234L, 1111L))))
    IndexManifest.commit(spark, m)
    assert(IndexManifest.load(spark, dir) == m)
    IndexManifest.commit(spark, m.copy(fieldStats = None, waves = Nil, termsFiles = Nil))
    assert(IndexManifest.load(spark, dir) == m.copy(fieldStats = None, waves = Nil, termsFiles = Nil))
  }

  test("a manifest written before commits listed their files loads with the files on disk") {
    val dir = build(300)
    val m = IndexManifest.load(spark, dir)
    assert(m.waves.map(_.wave) == Seq(0) && m.waves.head.of("postings").nonEmpty &&
      m.waves.head.of("docs").nonEmpty && m.termsFiles.nonEmpty)
    val q = new QueryParser(new StandardCodeAnalyzer()).parse("parser \"posting list\"")
    val expected = new IndexSearcher(spark, dir).search(q, 10)
    ManifestSpec.dropFileList(spark, dir)
    assert(IndexManifest.load(spark, dir) == m)
    val got = new IndexSearcher(spark, dir).search(q, 10)
    assert(got.totalHits == expected.totalHits && got.scoreDocs.toSeq == expected.scoreDocs.toSeq)
    // the next commit writes the list again
    IndexBuilder.forExisting(spark, dir).publish(dir)
    assert(IndexManifest.load(spark, dir).waves == m.waves)
  }

  test("an index merged under merge logs upgrades through them: resume re-inverts nothing") {
    val dir = java.nio.file.Files.createTempDirectory("graft-manifest-logs").toString
    val builder = new IndexBuilder(spark, cfg.copy(segmentsPerWave = 1))
    val corpus = TestCorpus.corpus(300).toDF()
    builder.build(corpus, dir)
    Deletes.append(spark, dir, spark.read.parquet(s"$dir/docs/wave=0", s"$dir/docs/wave=1")
      .select("docId").as[Long].collect().filter(_ % 3 == 0).toSeq)
    val into = TieredMerge.execute(spark, dir, TieredMerge.waves(spark, dir).filter(_.wave < 2))
    val q = new QueryParser(new StandardCodeAnalyzer()).parse("parser \"posting list\"")
    val expected = new IndexSearcher(spark, dir).search(q, 10)
    val m = IndexManifest.load(spark, dir)
    assert(m.waves.map(_.wave) == Seq(into, 2, 3))

    // the layout of the older format after that reclaiming merge, with the
    // leftovers of a crash while it deleted its sources (postings/wave=0 gone,
    // postings/wave=1 and both docs dirs not yet) and an uncommitted output
    def rm(rel: String) = org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$dir/$rel"))
    rm("postings/wave=0")
    org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(s"$dir/postings/wave=2"),
      new java.io.File(s"$dir/postings/wave=${into + 1}"))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/merges_$into.json"),
      s"""{"merged":[0,1],"into":$into,"bytes":1,"docsFrom":[0,1]}""".getBytes("UTF-8"))
    ManifestSpec.dropFileList(spark, dir)

    val upgraded = IndexManifest.load(spark, dir)
    assert(upgraded.waves == m.waves)
    val got = new IndexSearcher(spark, dir).search(q, 10)
    assert(got.totalHits == expected.totalHits && got.scoreDocs.toSeq == expected.scoreDocs.toSeq)
    assert(CheckIndex.run(spark, dir).maxDoc == m.maxDoc)
    val (_, jobs) = SparkJobs.described(spark)(builder.build(corpus, dir, resume = true))
    assert(!jobs.exists(_.startsWith("graft invert")), jobs)
    assert(new IndexSearcher(spark, dir).search(q, 10).totalHits == expected.totalHits)

    // the next commit writes the list and sweeps the leftovers and the log
    IndexBuilder.forExisting(spark, dir).publish(dir)
    assert(IndexManifest.load(spark, dir).waves.map(_.wave) == Seq(into, 2, 3))
    Seq("postings/wave=1", "docs/wave=0", "docs/wave=1", s"postings/wave=${into + 1}", s"merges_$into.json")
      .foreach(rel => assert(!new java.io.File(s"$dir/$rel").exists, rel))
    val after = new IndexSearcher(spark, dir).search(q, 10)
    assert(after.totalHits == expected.totalHits && after.scoreDocs.toSeq == expected.scoreDocs.toSeq)
  }

  test("CheckIndex checks the commit's file list and reports files it does not name") {
    val dir = build(300)
    val m = IndexManifest.load(spark, dir)
    // a stray parquet under a listed wave dir and a whole unlisted wave dir:
    // reported, not counted, not a problem
    val stray = s"postings/wave=0/part-stray.parquet"
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$dir/${m.waves.head.of("postings").head.path}"),
      java.nio.file.Paths.get(s"$dir/$stray"))
    spark.read.parquet(s"$dir/docs/wave=0").write.parquet(s"$dir/docs/wave=7")
    val r = CheckIndex.run(spark, dir)
    assert(r.ok, r.problems)
    assert(r.maxDoc == 300)
    assert(r.unlisted.contains(stray) && r.unlisted.exists(_.startsWith("docs/wave=7/")), r.unlisted)
    assert(!r.unlisted.exists(p => m.waves.head.files.exists(_.path == p)))
    // a listed file whose size differs, then one that is missing
    val victim = m.waves.head.of("docs").head
    IndexManifest.commit(spark, m.copy(waves = m.waves.map(e => e.copy(files = e.files.map(f =>
      if (f == victim) f.copy(bytes = f.bytes + 1) else f)))))
    assert(CheckIndex.run(spark, dir).problems.exists(p => p.contains(victim.path) && p.contains("bytes")))
    IndexManifest.commit(spark, m)
    new java.io.File(s"$dir/${victim.path}").delete()
    val missing = CheckIndex.run(spark, dir)
    assert(!missing.ok && missing.problems.exists(p => p.contains(victim.path) && p.contains("missing")),
      missing.problems)
  }

  test("publish writes the fieldstats table's rows into the manifest") {
    val dir = build(300)
    val m = IndexManifest.load(spark, dir)
    val table = spark.read.parquet(m.statsLocation).as[FieldStats].collect().sortBy(_.field).toSeq
    assert(table.map(_.field) == Seq("content", "lang", "path"))
    assert(m.fieldStats.contains(table))
    val s = new IndexSearcher(spark, dir)
    val (cs, jobs) = SparkJobs.count(spark)(Seq("content", "lang", "path").map(s.collectionStats))
    assert(jobs == 0)
    assert(cs.map(c => (c.field, c.maxDoc, c.docCount, c.sumTotalTermFreq, c.sumDocFreq)) ==
      table.map(t => (t.field, t.maxDoc, t.docCount, t.sumTotalTermFreq, t.sumDocFreq)))
  }

  test("a manifest without field stats falls back to the parquet table") {
    val dir = build(300)
    val m = IndexManifest.load(spark, dir)
    val before = new IndexSearcher(spark, dir)
    val q = new QueryParser(new StandardCodeAnalyzer(), keywordFields = Set("lang"))
      .parse("parser lang:go")
    val expected = before.search(q, 10)
    IndexManifest.commit(spark, m.copy(fieldStats = None))
    val old = IndexManifest.load(spark, dir)
    assert(old.fieldStats.isEmpty)
    assert(old.fieldStatsOrTable(conf) == m.fieldStats.get)
    val s = new IndexSearcher(spark, dir)
    assert(s.collectionStats("lang") == before.collectionStats("lang"))
    val got = s.search(q, 10)
    assert(got.totalHits == expected.totalHits)
    assert(got.scoreDocs.toSeq == expected.scoreDocs.toSeq)
    // an incremental publish on top takes the old docCounts from the table
    // and writes a manifest that carries the stats again
    graft.streaming.StreamingIndexer.appendBatch(spark, new IndexBuilder(spark, cfg),
      TestCorpus.corpus(340).drop(300).toDF(), 0L, dir)
    val next = IndexManifest.load(spark, dir)
    assert(next.fieldStats.contains(
      spark.read.parquet(next.statsLocation).as[FieldStats].collect().sortBy(_.field).toSeq))
    assert(next.fieldStats.get.forall(_.maxDoc == 340L))
    assert(CheckIndex.run(spark, dir).ok)
  }

  test("forExisting republishes the same field stats") {
    val dir = build(300)
    val m = IndexManifest.load(spark, dir)
    IndexBuilder.forExisting(spark, dir).publish(dir)
    val again = IndexManifest.load(spark, dir)
    assert(again.fieldStats.nonEmpty && again.fieldStats == m.fieldStats)
    assert(again.termsGen > m.termsGen, "a republish commits a fresh generation")
    assert(again.copy(fieldStats = None, termsGen = m.termsGen, termsFiles = m.termsFiles) ==
      m.copy(fieldStats = None))
  }

  test("a republish commits a fresh generation; a searcher opened before it still answers") {
    val dir = build(150)
    val queries = Seq(TermQuery("parser"), PrefixQuery("w1"))
    val reference = new IndexSearcher(spark, dir)
    val expected = queries.map(q => reference.search(q, 20))
    val old = new IndexSearcher(spark, dir) // opened, never queried: every lookup is cold
    val gen = IndexManifest.load(spark, dir).termsGen
    IndexBuilder.forExisting(spark, dir).publish(dir)
    assert(IndexManifest.load(spark, dir).termsGen > gen)
    queries.zip(expected).foreach { case (q, exp) =>
      val got = old.search(q, 20)
      assert(got.totalHits == exp.totalHits && got.scoreDocs.toSeq == exp.scoreDocs.toSeq, q)
    }
    assert(CheckIndex.run(spark, dir).ok)
  }

  test("segments.json round-trips every row; a lineage may hold quotes and backslashes") {
    val dir = java.nio.file.Files.createTempDirectory("graft-segments").toString
    val segs = Seq(
      SegmentMeta(3, 0L, 99L, 100L, 1, "C:\\idx \"q\"\\docs/wave=0"),
      SegmentMeta(100001, 100L, 159L, 60L, 1, "a,b}\n{\"segId\":7,"))
    IndexManifest.writeSegments(spark, dir, segs)
    assert(IndexManifest.readSegments(spark, dir) == segs)
    assert(IndexManifest.readSegments(spark, s"$dir/absent").isEmpty)
  }

  test("CheckIndex reports a tampered field-stats entry in commit.json") {
    val dir = build(300)
    val report = CheckIndex.run(spark, dir)
    assert(report.ok, report.problems)
    val m = IndexManifest.load(spark, dir)
    val tampered = m.fieldStats.get.map(fs =>
      if (fs.field == "lang") fs.copy(docCount = fs.docCount + 1) else fs)
    IndexManifest.commit(spark, m.copy(fieldStats = Some(tampered)))
    val bad = CheckIndex.run(spark, dir)
    assert(!bad.ok)
    assert(bad.problems.exists(p => p.contains("commit.json") && p.contains("lang") &&
      p.contains("docCount")), bad.problems)
    // a missing entry is reported too
    IndexManifest.commit(spark, m.copy(fieldStats = Some(m.fieldStats.get.filterNot(_.field == "path"))))
    assert(CheckIndex.run(spark, dir).problems.exists(p => p.contains("commit.json") &&
      p.contains("path")))
  }
}

object ManifestSpec {
  /** Rewrites `commit.json` as a manifest written before commits listed
    * their files: no `waves`, no `termsFiles`.
    */
  def dropFileList(spark: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/commit.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
    val in = fs.open(p)
    val root = try json.readTree(in).asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      finally in.close()
    root.remove("waves")
    root.remove("termsFiles")
    val out = fs.create(p, true)
    try out.write(json.writeValueAsBytes(root)) finally out.close()
  }
}
