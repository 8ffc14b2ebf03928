package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.analysis.StandardCodeAnalyzer
import graft.index._
import graft.search._
import graft.sources.GraftSearchTable
import graft.streaming.StreamingIndexer

/** The DataSource V2 SQL surface: `graft-search` views answer through the
  * real engine, compose with plain SQL, and push LIMIT down into k.
  */
class GraftSourceSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private val N = 600
  private lazy val indexPath = {
    val dir = java.nio.file.Files.createTempDirectory("graft-src").toString
    val cfg = IndexConfig(analyzer = new StandardCodeAnalyzer(),
      docsPerRange = 128, numSegments = 8, segmentsPerWave = 8,
      keywordFields = Seq("lang"))
    new IndexBuilder(spark, cfg).build(TestCorpus.corpus(N).toDF(), dir)
    dir
  }
  private lazy val searcher = new IndexSearcher(spark, indexPath)
  private lazy val parser = new QueryParser(new StandardCodeAnalyzer())

  test("SQL temporary view answers through the engine") {
    spark.sql(
      s"""CREATE OR REPLACE TEMPORARY VIEW hits
         |USING `graft-search`
         |OPTIONS (index '$indexPath', query 'import parser', k '10')""".stripMargin)
    val rows = spark.sql("SELECT docId, score FROM hits ORDER BY score DESC, docId")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val expected = searcher.search(parser.parse("import parser"), 10, ScoreMode.Ref32)
      .scoreDocs.map(d => (d.docId, d.score))
    assert(rows.toSeq == expected.toSeq)
    // composes with ordinary SQL on top
    val filtered = spark.sql("SELECT count(*) FROM hits WHERE score > 0").collect()(0).getLong(0)
    assert(filtered == 10)
  }

  test("DataFrame reader + LIMIT pushdown into k") {
    val df = spark.read.format("graft-search")
      .option("index", indexPath).option("query", "import").option("k", "10")
      .load()
    assert(df.count() == 10)
    val top3 = df.limit(3).collect().map(r => (r.getLong(0), r.getDouble(1)))
    val expected = searcher.search(TermQuery("import"), 3, ScoreMode.Ref32)
      .scoreDocs.map(d => (d.docId, d.score))
    assert(top3.sortBy(t => (-t._2, t._1)).toSeq == expected.toSeq)
  }

  test("fielded SQL query routes through keywordFields") {
    spark.sql(
      s"""CREATE OR REPLACE TEMPORARY VIEW go_hits
         |USING `graft-search`
         |OPTIONS (index '$indexPath', query '+lang:go +parser', k '500',
         |         keywordFields 'lang')""".stripMargin)
    val n = spark.sql("SELECT * FROM go_hits").count()
    val expected = searcher.search(new QueryParser(new StandardCodeAnalyzer(),
      keywordFields = Set("lang")).parse("+lang:go +parser"), 500, ScoreMode.Ref32)
    assert(n == math.min(500L, expected.totalHits))
  }

  test("index mutations after the first query are visible (no stale cache)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-src-fresh").toString
    val cfg = IndexConfig(analyzer = new StandardCodeAnalyzer(),
      docsPerRange = 128, numSegments = 4, segmentsPerWave = 4)
    new IndexBuilder(spark, cfg).build(TestCorpus.corpus(300).toDF(), dir)
    def hits(): Array[Long] = spark.read.format("graft-search")
      .option("index", dir).option("query", "import").option("k", "300")
      .load().collect().map(_.getLong(0))
    val before = hits()
    assert(before.nonEmpty)
    // persisted delete AFTER the searcher was cached must take effect
    Deletes.append(spark, dir, Seq(before.head))
    val after = hits()
    assert(after.length == before.length - 1 && !after.contains(before.head))
  }

  test("concurrent queries across a publish: one searcher per key, displaced ones closed") {
    val dir = java.nio.file.Files.createTempDirectory("graft-src-race").toString
    val cfg = IndexConfig(analyzer = new StandardCodeAnalyzer(),
      docsPerRange = 128, numSegments = 4, segmentsPerWave = 4)
    val builder = new IndexBuilder(spark, cfg)
    builder.build(TestCorpus.corpus(200).toDF(), dir)
    def hits(): Seq[(Long, Double)] = spark.read.format("graft-search")
      .option("index", dir).option("query", "import parser").option("k", "20")
      .load().collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq.sortBy(h => (-h._2, h._1))
    val beforeAnswer = hits()
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[IndexSearcher]()
    seen.add(GraftSearchTable.searcher(dir, "content"))
    val answers = new java.util.concurrent.ConcurrentLinkedQueue[Seq[(Long, Double)]]()
    val published = new java.util.concurrent.atomic.AtomicBoolean(false)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until 4).map { _ =>
      new Thread(() => {
        var afterPublish = 0
        try while (afterPublish < 6) {
          if (published.get()) afterPublish += 1
          seen.add(GraftSearchTable.searcher(dir, "content"))
          answers.add(hits())
        } catch { case t: Throwable => failures.add(t) }
      })
    }
    threads.foreach(_.start())
    StreamingIndexer.appendBatch(spark, builder, TestCorpus.corpus(260).drop(200).toDF(), 0L, dir)
    published.set(true)
    threads.foreach(_.join())
    assert(failures.isEmpty, failures.asScala.mkString("; "))
    val afterAnswer = hits()
    assert(afterAnswer != beforeAnswer)
    assert(answers.asScala.forall(a => a == beforeAnswer || a == afterAnswer))
    assert(GraftSearchTable.cachedSearchers.count(_.indexPath == dir) == 1)
    assert(seen.size >= 2, "the publish never replaced the cached searcher")

    // the cache's open-or-reuse under the same race, with values that record
    // their closing: tokens flip while 4 threads ask, yet the key keeps one
    // value and every value it displaced was closed
    val cache = new java.util.concurrent.ConcurrentHashMap[String, (String, java.util.concurrent.atomic.AtomicBoolean)]
    val opened = new java.util.concurrent.ConcurrentLinkedQueue[java.util.concurrent.atomic.AtomicBoolean]()
    val askers = (0 until 4).map(t => new Thread(() => (0 until 400).foreach { i =>
      GraftSearchTable.reuseOrOpen(cache, "key", ((i + t * 7) / 25).toString) {
        val v = new java.util.concurrent.atomic.AtomicBoolean(false); opened.add(v); v
      }(_.set(true))
    }))
    askers.foreach(_.start())
    askers.foreach(_.join())
    val live = cache.get("key")._2
    assert(cache.size == 1 && !live.get && opened.size > 1)
    assert(opened.asScala.filterNot(_ eq live).forall(_.get), "a displaced value was never closed")
  }

  test("free-text default is lenient: colon queries search; strictFields opts back in") {
    // std::vector-style text must not throw on the SQL surface
    val df = spark.read.format("graft-search")
      .option("index", indexPath).option("query", "std::vector OR import")
      .option("k", "5").load()
    assert(df.count() > 0)
    val strict = spark.read.format("graft-search")
      .option("index", indexPath).option("query", "nosuchfield:x")
      .option("strictFields", "true").option("k", "5").load()
    val ex = intercept[Exception](strict.count())
    assert(ex.getMessage.contains("unknown field") ||
      Option(ex.getCause).exists(_.getMessage.contains("unknown field")))
  }

  test("similarity option routes scoring models through the SQL view") {
    def top(sim: String) = {
      spark.sql(
        s"""CREATE OR REPLACE TEMPORARY VIEW sim_hits
           |USING `graft-search`
           |OPTIONS (index '$indexPath', query 'import', k '5', similarity '$sim')""".stripMargin)
      spark.sql("SELECT docId, score FROM sim_hits ORDER BY score DESC, docId")
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    }
    val viaTfidf = top("tfidf")
    val direct = new IndexSearcher(spark, indexPath, similarity = new TfIdfSimilarity)
      .search(TermQuery("import"), 5, ScoreMode.Ref32)
      .scoreDocs.map(d => (d.docId, d.score)).toSeq
    assert(viaTfidf == direct, "tfidf view must equal a direct TF-IDF searcher")
    assert(viaTfidf.map(_._2) != top("bm25").map(_._2),
      "distinct models must score distinctly")
    val err = intercept[Exception](top("nope"))
    assert(err.getMessage.contains("unknown similarity") ||
      Option(err.getCause).exists(_.getMessage.contains("unknown similarity")))
  }

  test("wand option prunes with identical top-k") {
    val df = spark.read.format("graft-search")
      .option("index", indexPath).option("query", "parser buffer scorer")
      .option("k", "10").option("wand", "true").load()
    val rows = df.collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(t => (-t._2, t._1))
    val expected = searcher.search(parser.parse("parser buffer scorer"), 10, ScoreMode.Ref32)
      .scoreDocs.map(d => (d.docId, d.score))
    assert(rows.toSeq == expected.toSeq)
  }

  test("graft_search table-valued function: FROM-clause search, join-composable") {
    graft.functions.GraftSearchTvf.register(spark)
    val rows = spark.sql(
      s"SELECT docId, score FROM graft_search('$indexPath', 'import parser', 10) " +
        "ORDER BY score DESC, docId")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val expected = searcher.search(parser.parse("import parser"), 10, ScoreMode.Ref32)
      .scoreDocs.map(d => (d.docId, d.score))
    assert(rows.toSeq == expected.toSeq)
    // composes as a relation: join hits back to a docs table
    spark.read.parquet(s"$indexPath/docs").createOrReplaceTempView("src_docs")
    val joined = spark.sql(
      s"""SELECT count(*) FROM graft_search('$indexPath', 'import', 5) h
         |JOIN src_docs d ON d.docId = h.docId""".stripMargin).collect()(0).getLong(0)
    assert(joined == 5)
    // default k and similarity selection
    assert(spark.sql(s"SELECT * FROM graft_search('$indexPath', 'import')").count() == 10)
    val tfidf = spark.sql(
      s"SELECT docId FROM graft_search('$indexPath', 'import', 5, 'tfidf') ORDER BY score DESC, docId")
      .collect().map(_.getLong(0))
    val expTfidf = new IndexSearcher(spark, indexPath, similarity = new TfIdfSimilarity)
      .search(parser.parse("import"), 5, ScoreMode.Ref32).scoreDocs.map(_.docId)
    assert(tfidf.toSeq == expTfidf.toSeq)
    // non-literal arguments are rejected with a clear error
    val err = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_search(concat('$indexPath', docId), 'x') ").collect()
    }
    assert(err.getMessage != null)
  }
}
