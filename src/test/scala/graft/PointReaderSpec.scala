package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.analysis.StandardCodeAnalyzer
import graft.index._
import graft.search._

/** The driver-side point reader: every lookup whose result is collected to
  * the driver reads parquet without a Spark job, returns exactly what the
  * Spark read returns, and gives concurrent callers the sequential answers.
  */
class PointReaderSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private val analyzer = new StandardCodeAnalyzer()
  /** A supplementary-plane keyword term (UTF-16 surrogate pair). */
  private val Supp = "𝒳lang"

  private def config(offsets: Boolean) = IndexConfig(analyzer = analyzer,
    docsPerRange = 128, numSegments = 8, segmentsPerWave = 4, buildPartitions = 8,
    keywordFields = Seq("lang"), analyzedFields = Seq("path"), withOffsets = offsets)

  private def build(cfg: IndexConfig, n: Int): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-points").toString
    val docs = TestCorpus.corpus(n).zipWithIndex.map { case (f, i) =>
      if (i % 50 == 7) f.copy(lang = Supp) else f
    }
    new IndexBuilder(spark, cfg).build(docs.toDF(), dir)
    dir
  }

  private lazy val dir = build(config(offsets = false), 600)
  private lazy val offsetsDir = build(config(offsets = true), 300)
  private def conf = spark.sparkContext.hadoopConfiguration

  private val keys = Seq(("content", "parser"), ("content", "posting"),
    ("content", "uniqtoken_5"), ("content", "nosuchterm"), ("lang", "go"), ("lang", Supp),
    ("lang", "nosuchlang"), ("path", "src"), ("nosuchfield", "parser"))

  private def sparkPairs(ks: Seq[(String, String)]) =
    ks.groupBy(_._1).map { case (f, kk) =>
      col("field") === f && col("term").isin(kk.map(_._2): _*)
    }.reduce(_ || _)

  private def hex(b: Array[Byte]): String =
    if (b == null) "null" else b.map("%02x".format(_)).mkString

  test("terms reads equal the Spark read: present and absent keys, keyword and supplementary terms") {
    val loc = IndexManifest.load(spark, dir).termsLocation
    val got = new PointReader(conf, IndexManifest.load(spark, dir).termsPaths).read(
        Seq("field", "term", "docFreq", "totalTermFreq", "singletonDocId"),
        Some(PointReader.pairs(keys))) { g =>
      (g.getString("field", 0), g.getString("term", 0), g.getLong("docFreq", 0),
        g.getLong("totalTermFreq", 0), g.getLong("singletonDocId", 0))
    }.sorted
    val exp = spark.read.parquet(loc).where(sparkPairs(keys))
      .select("field", "term", "docFreq", "totalTermFreq", "singletonDocId")
      .as[(String, String, Long, Long, Long)].collect().toSeq.sorted
    assert(got == exp)
    assert(got.map(t => (t._1, t._2)).toSet ==
      Set(("content", "parser"), ("content", "posting"), ("content", "uniqtoken_5"),
        ("lang", "go"), ("lang", Supp), ("path", "src")))
    // the searcher's lookup returns the same stats, absent keys absent
    val s = new IndexSearcher(spark, dir)
    assert(s.termStats(keys).map { case (k, ts) => k -> (ts.docFreq, ts.totalTermFreq) } ==
      exp.map(t => (t._1, t._2) -> (t._3, t._4)).toMap)
  }

  test("posting reads equal the Spark read, with and without a range filter, offsets included") {
    for (d <- Seq(dir, offsetsDir)) {
      val cols = Seq("field", "term", "rangeId", "firstDocId", "payload", "posPayload", "offPayload")
      def rows(pred: org.apache.parquet.filter2.predicate.FilterPredicate) =
        new PointReader(conf, IndexManifest.load(spark, d).paths("postings")).read(cols, Some(pred)) { g =>
          (g.getString("field", 0), g.getString("term", 0), g.getLong("rangeId", 0),
            g.getLong("firstDocId", 0), hex(g.getBinary("payload", 0).getBytes),
            hex(PointReader.bytesOrNull(g, "posPayload")),
            hex(PointReader.bytesOrNull(g, "offPayload")))
        }.sorted
      def sparkRows(where: org.apache.spark.sql.Column) = {
        val df = spark.read.parquet(s"$d/postings").where(where)
        val off = if (df.columns.contains("offPayload")) col("offPayload")
          else lit(null).cast("binary")
        df.select(col("field"), col("term"), col("rangeId"), col("firstDocId"),
            col("payload"), col("posPayload"), off)
          .as[(String, String, Long, Long, Array[Byte], Array[Byte], Array[Byte])].collect()
          .map(r => (r._1, r._2, r._3, r._4, hex(r._5), hex(r._6), hex(r._7))).toSeq.sorted
      }
      val all = rows(PointReader.pairs(keys))
      assert(all.nonEmpty)
      assert(all == sparkRows(sparkPairs(keys)), d)
      val ranged = rows(org.apache.parquet.filter2.predicate.FilterApi.and(
        PointReader.pairs(keys), PointReader.longIn("rangeId", Seq(0L, 2L))))
      assert(ranged.nonEmpty && ranged.size < all.size)
      assert(ranged == sparkRows(sparkPairs(keys) && col("rangeId").isin(0L, 2L)), d)
      if (d == offsetsDir) assert(all.exists(_._7 != "null"))
    }
  }

  test("stored-doc reads equal the Spark read, version-1 docs without fieldDls included") {
    val suppId = spark.read.parquet(s"$dir/docs").where(col("lang") === Supp)
      .select("docId").as[Long].collect().min
    val ids = Seq(0L, 5L, suppId, 299L, 599L, 100000L)
    val s = new IndexSearcher(spark, dir)
    val exp = spark.read.parquet(s"$dir/docs").where(col("docId").isin(ids: _*))
      .select("docId", "segId", "repo", "path", "commit", "lang", "contentSha", "dl", "norm",
        "fieldDls").as[DocRow].collect().sortBy(_.docId).toSeq
    assert(exp.size == 5 && exp.exists(_.lang == Supp))
    assert(s.docs(ids) == exp)

    // a version-1 index: docs rewritten without fieldDls, manifest format 1
    val v1 = build(config(offsets = false), 300)
    val docs = spark.read.parquet(s"$v1/docs").drop("fieldDls").localCheckpoint()
    docs.write.partitionBy("wave").mode("overwrite").parquet(s"$v1/docs_v1")
    val fs = org.apache.hadoop.fs.FileSystem.get(conf)
    fs.delete(new org.apache.hadoop.fs.Path(s"$v1/docs"), true)
    fs.rename(new org.apache.hadoop.fs.Path(s"$v1/docs_v1"), new org.apache.hadoop.fs.Path(s"$v1/docs"))
    IndexManifest.commit(spark, IndexManifest.load(spark, v1).copy(formatVersion = 1))
    ManifestSpec.dropFileList(spark, v1) // a version-1 commit lists no files
    val expV1 = spark.read.parquet(s"$v1/docs").where(col("docId").isin(ids: _*))
      .withColumn("fieldDls", typedLit(Map.empty[String, Int]))
      .select("docId", "segId", "repo", "path", "commit", "lang", "contentSha", "dl", "norm",
        "fieldDls").as[DocRow].collect().sortBy(_.docId).toSeq
    assert(expV1.size == 3 + (if (suppId < 300) 1 else 0))
    assert(new IndexSearcher(spark, v1).docs(ids) == expV1)
  }

  private val parser = new QueryParser(analyzer, keywordFields = Set("lang"),
    analyzedFields = Set("path"))
  private def driverLocalQueries: Seq[(String, IndexSearcher => TopDocs)] = Seq(
    "term" -> (_.search(TermQuery("parser"), 10)),
    "keyword term" -> (_.search(TermQuery(Supp, field = Some("lang")), 10)),
    "boolean" -> (_.search(parser.parse("parser AND buffer -scorer"), 10)),
    "fielded boolean" -> (_.search(parser.parse("parser lang:go"), 10)),
    "phrase" -> (_.search(PhraseQuery(Seq("posting", "list")), 10)),
    "wand" -> (s => Wand.searchTopK(s, parser.parse("merge OR shard OR w17"), 10)),
    "singleton" -> (_.search(parser.parse("uniqtoken_5 OR uniqtoken_9"), 10)))

  private def same(a: TopDocs, b: TopDocs): Boolean =
    a.totalHits == b.totalHits &&
      a.scoreDocs.map(d => (d.docId, d.score)).toSeq == b.scoreDocs.map(d => (d.docId, d.score)).toSeq

  test("a fresh searcher serves stats and driver-local queries with zero Spark jobs") {
    val s = new IndexSearcher(spark, dir)
    val (got, jobs) = SparkJobs.count(spark) {
      s.collectionStats
      s.collectionStats("lang")
      s.termStats(keys)
      driverLocalQueries.map { case (name, run) => name -> run(s) }
    }
    assert(jobs == 0, s"$jobs Spark jobs on the driver-local path")
    // the same queries through Spark (localSearchMaxPostings = 0) launch
    // jobs and return identical TopDocs — WAND (pruned plan, totalHits a
    // lower bound) excepted from the totals, singletons never leave the
    // driver
    val viaSpark = new IndexSearcher(spark, dir)
    viaSpark.localSearchMaxPostings = 0
    val (spk, sparkJobs) = SparkJobs.count(spark) {
      driverLocalQueries.map { case (name, run) => name -> run(viaSpark) }
    }
    assert(sparkJobs > 0)
    got.zip(spk).foreach { case ((name, a), (_, b)) =>
      if (name == "wand")
        assert(a.scoreDocs.map(d => (d.docId, d.score)).toSeq ==
          b.scoreDocs.map(d => (d.docId, d.score)).toSeq, name)
      else assert(same(a, b), s"$name: $a vs $b")
      assert(a.totalHits > 0, name)
    }
  }

  test("the explain and small-range fetches read through the reader") {
    val s = new IndexSearcher(spark, dir)
    val q = parser.parse("parser AND buffer")
    val top = s.search(q, 3)
    val (ex, jobs) = SparkJobs.count(spark)(top.scoreDocs.map(d => s.explain(q, d.docId)))
    assert(jobs == 0)
    ex.zip(top.scoreDocs).foreach { case (e, d) => assert(e.value == d.score) }
  }

  test("concurrent callers of one searcher get the sequential answers") {
    def work(s: IndexSearcher): Seq[Any] =
      driverLocalQueries.map { case (_, run) => run(s) }.map(td =>
        (td.totalHits, td.scoreDocs.map(d => (d.docId, d.score)).toSeq)) ++
        Seq(s.collectionStats, s.termStats(keys), s.docs(Seq(3L, 30L, 300L)))
    val expected = work(new IndexSearcher(spark, dir))
    val shared = new IndexSearcher(spark, dir)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      val answers = scala.concurrent.Await.result(
        scala.concurrent.Future.sequence((1 to 8).map(_ => scala.concurrent.Future(work(shared)))),
        scala.concurrent.duration.Duration(5, "min"))
      answers.foreach(a => assert(a == expected))
    } finally pool.shutdown()
  }
}
