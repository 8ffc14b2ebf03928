package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.analysis.StandardCodeAnalyzer
import graft.index._
import graft.search._

/** liveDocs semantics (reference term.go:132, bufferedDeletes.go): deleted
  * docs vanish from matches, top-k, totalHits, and explain; term/collection
  * stats still count them (Lucene behavior until a rewrite reclaims).
  */
class DeletesSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private val N = 600
  private lazy val indexPath = {
    val dir = java.nio.file.Files.createTempDirectory("graft-del").toString
    val cfg = IndexConfig(analyzer = new StandardCodeAnalyzer(),
      docsPerRange = 64, numSegments = 8, segmentsPerWave = 8)
    new IndexBuilder(spark, cfg).build(TestCorpus.corpus(N).toDF(), dir)
    dir
  }

  test("searcher-scoped deletes filter matches and totalHits on all paths") {
    val s0 = new IndexSearcher(spark, indexPath)
    val all = s0.search(TermQuery("import"), N, ScoreMode.Ref32)
    val victims = all.scoreDocs.take(5).map(_.docId)
    val s1 = s0.withDeletes(victims)
    val after = s1.search(TermQuery("import"), N, ScoreMode.Ref32)
    assert(after.totalHits == all.totalHits - 5)
    assert(victims.forall(v => !after.scoreDocs.exists(_.docId == v)))
    // surviving docs keep their exact scores (stats unchanged — Lucene
    // semantics: deletes don't affect df/ttf until rewrite)
    val before = all.scoreDocs.map(d => d.docId -> d.score).toMap
    after.scoreDocs.foreach(d => assert(d.score == before(d.docId)))
    // distributed path agrees
    s1.localSearchMaxPostings = 0
    val dist = s1.search(TermQuery("import"), N, ScoreMode.Ref32)
    assert(dist.totalHits == after.totalHits)
    assert(dist.scoreDocs.map(_.docId).toSeq == after.scoreDocs.map(_.docId).toSeq)
  }

  test("persisted deletes load automatically; WAND respects them") {
    val dir = java.nio.file.Files.createTempDirectory("graft-del2").toString
    val cfg = IndexConfig(analyzer = new StandardCodeAnalyzer(),
      docsPerRange = 64, numSegments = 4, segmentsPerWave = 4)
    new IndexBuilder(spark, cfg).build(TestCorpus.corpus(300).toDF(), dir)
    val pre = new IndexSearcher(spark, dir).search(TermQuery("import"), 300)
    val victims = pre.scoreDocs.take(3).map(_.docId)
    Deletes.append(spark, dir, victims.toSeq)
    val s = new IndexSearcher(spark, dir)
    val post = s.search(TermQuery("import"), 300)
    assert(post.totalHits == pre.totalHits - 3)
    // WAND top-k over the deleted view == exhaustive over the deleted view
    val exact = s.search(TermQuery("import"), 10, ScoreMode.Ref32)
    val wand = Wand.searchTopK(pruning(new IndexSearcher(spark, dir)), TermQuery("import"), 10,
      ScoreMode.Ref32, phase1Ranges = 2)
    assert(wand.scoreDocs.map(d => (d.docId, d.score)).toSeq ==
      exact.scoreDocs.map(d => (d.docId, d.score)).toSeq)
    // appending more deletes accumulates
    Deletes.append(spark, dir, Seq(pre.scoreDocs(3).docId))
    assert(new IndexSearcher(spark, dir).search(TermQuery("import"), 300).totalHits ==
      pre.totalHits - 4)
  }

  test("ranged deletes (beyond broadcast threshold): identical results, no driver collect") {
    val s0 = new IndexSearcher(spark, indexPath)
    val all = s0.search(TermQuery("import"), N, ScoreMode.Ref32)
    // bulk delete: every third doc — a DISTRIBUTED delete set
    val victims = (0L until N.toLong).filter(_ % 3 == 0)
    val victimSet = victims.toSet
    val expected = all.scoreDocs.filterNot(d => victimSet.contains(d.docId))

    // path A: distributed DF deletes (always ranged, whatever the size)
    val sDf = s0.withDeletesDF(victims.toDF("docId"))
    assert(sDf.rangedDeletes, "withDeletesDF must select the ranged path")
    val gotDf = sDf.search(TermQuery("import"), N, ScoreMode.Ref32)
    assert(gotDf.totalHits == expected.length)
    assert(gotDf.scoreDocs.map(d => (d.docId, d.score)).toSeq ==
      expected.map(d => (d.docId, d.score)).toSeq)

    // path B: persisted deletes above the broadcast threshold flip to ranged
    val dir2 = java.nio.file.Files.createTempDirectory("graft-del-bulk").toString
    val cfg = IndexConfig(analyzer = new StandardCodeAnalyzer(),
      docsPerRange = 64, numSegments = 4, segmentsPerWave = 4)
    new IndexBuilder(spark, cfg).build(TestCorpus.corpus(300).toDF(), dir2)
    Deletes.append(spark, dir2, (0L until 300L).filter(_ % 3 == 0).toDF("docId"))
    val sSmall = new IndexSearcher(spark, dir2) // default threshold → broadcast
    assert(!sSmall.rangedDeletes)
    val sRanged = new IndexSearcher(spark, dir2,
      deleteBroadcastMax = 10) // 100 persisted deletes > 10 → ranged
    assert(sRanged.rangedDeletes)
    for (q <- Seq[Query](TermQuery("import"),
      BooleanQuery(Seq(
        BooleanClause(Occur.MUST, TermQuery("import")),
        BooleanClause(Occur.SHOULD, TermQuery("parser")))))) {
      val a = sSmall.search(q, 300, ScoreMode.Ref32)
      val b = sRanged.search(q, 300, ScoreMode.Ref32)
      assert(a.totalHits == b.totalHits, s"totalHits parity for $q")
      assert(a.scoreDocs.map(d => (d.docId, d.score)).toSeq ==
        b.scoreDocs.map(d => (d.docId, d.score)).toSeq, s"ranged == broadcast for $q")
    }
    // distributed evaluation path with ranged deletes
    sRanged.localSearchMaxPostings = 0
    val dist = sRanged.search(TermQuery("import"), 300, ScoreMode.Ref32)
    val loc = sSmall.search(TermQuery("import"), 300, ScoreMode.Ref32)
    assert(dist.scoreDocs.map(_.docId).toSeq == loc.scoreDocs.map(_.docId).toSeq)
    // explain honors ranged deletes too
    val deletedHit = (0L until 300L).find(_ % 3 == 0).get
    val ex = sRanged.explain(TermQuery("import"), deletedHit)
    assert(!ex.isMatch)
  }

  test("delete-by-term: one distributed pass, no ids on the driver") {
    val dir = java.nio.file.Files.createTempDirectory("graft-del-term").toString
    val cfg = IndexConfig(analyzer = new StandardCodeAnalyzer(),
      docsPerRange = 64, numSegments = 4, segmentsPerWave = 4)
    new IndexBuilder(spark, cfg).build(TestCorpus.corpus(300).toDF(), dir)
    val s0 = new IndexSearcher(spark, dir)
    val parserHits = s0.search(TermQuery("parser"), 300).totalHits
    val importHits = s0.search(TermQuery("import"), 300).totalHits
    val bothHits = s0.search(BooleanQuery(Seq(
      BooleanClause(Occur.MUST, TermQuery("import")),
      BooleanClause(Occur.MUST, TermQuery("parser")))), 300).totalHits
    assert(parserHits > 0 && bothHits > 0)
    Deletes.deleteByTerm(spark, dir, Seq(("content", "parser")))
    val s1 = new IndexSearcher(spark, dir)
    assert(s1.search(TermQuery("parser"), 300).totalHits == 0,
      "every doc containing the term must be deleted")
    assert(s1.search(TermQuery("import"), 300).totalHits == importHits - bothHits,
      "docs with import AND parser are gone; import-only docs survive")
  }

  test("explain on a deleted doc reports non-match") {
    val s0 = new IndexSearcher(spark, indexPath)
    val hit = s0.search(TermQuery("parser"), 1).scoreDocs.head
    val s1 = s0.withDeletes(Array(hit.docId))
    val ex = s1.explain(TermQuery("parser"), hit.docId)
    assert(!ex.isMatch && ex.value == 0.0)
  }

  test("close() releases the ranged-delete cache (no leaked persisted DF per view)") {
    val del = spark.range(0, 50).selectExpr("id * 7 as docId")
    val view = new IndexSearcher(spark, indexPath).withDeletesDF(del)
    view.search(TermQuery("parser"), 10) // materializes delRangesDF
    val before = spark.sparkContext.getPersistentRDDs.size
    assert(before > 0)
    view.close()
    val after = spark.sparkContext.getPersistentRDDs.size
    assert(after < before, s"close() released nothing: $before -> $after")
    // idempotent, and the searcher stays usable (caches rebuild)
    view.close()
    assert(view.search(TermQuery("parser"), 10).totalHits > 0)
  }

  test("close() of a view releases its own deletes; close() of the root releases the LRU") {
    val root = new IndexSearcher(spark, indexPath,
      extraDeletesDF = Some(spark.range(0, 20).selectExpr("id * 5 as docId")))
    val q = TermQuery("parser")
    val rootHits = root.search(q, 10)
    val rootRdds = spark.sparkContext.getPersistentRDDs.keySet
    val view = root.withDeletesDF(spark.range(0, 20).selectExpr("id * 5 + 1 as docId"))
    val viewHits = view.search(q, 10)
    assert(spark.sparkContext.getPersistentRDDs.keySet.size == rootRdds.size + 1)
    val lruBytes = root.cacheBytesInUse
    assert(lruBytes > 0) // term stats: the shared LRU holds them under ranged deletes too
    view.close()
    assert(spark.sparkContext.getPersistentRDDs.keySet == rootRdds, "view released the root's deletes")
    assert(root.cacheBytesInUse == lruBytes, "view emptied the shared LRU")
    assert(root.search(q, 10).scoreDocs.toSeq == rootHits.scoreDocs.toSeq)
    root.close()
    assert(root.cacheBytesInUse == 0)
    assert(spark.sparkContext.getPersistentRDDs.keySet.size < rootRdds.size)
    // both stay usable: caches and delete arrays rebuild
    assert(view.search(q, 10).scoreDocs.toSeq == viewHits.scoreDocs.toSeq)
    assert(root.search(q, 10).scoreDocs.toSeq == rootHits.scoreDocs.toSeq)
  }
}
