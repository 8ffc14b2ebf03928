package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.analysis.StandardCodeAnalyzer
import graft.index._
import graft.search._

/** Merge-time delete reclamation (round-4 judge item #1): merging with a
  * deletes table drops dead postings physically, rewrites the docs waves,
  * clears the reclaimed ids, and — after republish — every stat (df, ttf,
  * docCount, maxDoc) equals a from-scratch build over the SURVIVORS.
  * Explicit docIds keep the id spaces identical so equivalence is exact.
  */
class MergeReclaimSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private val N = 600
  private val analyzer = new StandardCodeAnalyzer()

  private def cfg(wavesOf: Int) = IndexConfig(analyzer = analyzer, docsPerRange = 128,
    numSegments = 12, segmentsPerWave = wavesOf, buildPartitions = 8,
    explicitDocIdCol = Some("docId"))

  // explicit deterministic ids: docId = corpus index
  private def corpusDf = TestCorpus.corpus(N).zipWithIndex
    .map { case (c, i) => (i.toLong, c.repo, c.path, c.commit, c.lang, c.content) }
    .toDF("docId", "repo", "path", "commit", "lang", "content")

  private def postingsBytes(dir: String): Long = {
    def size(f: java.io.File): Long =
      if (f.isDirectory) f.listFiles().map(size).sum else f.length()
    size(new java.io.File(s"$dir/postings"))
  }

  private def decoded(dir: String): Map[(String, String, Long), Seq[(Long, Int, Int)]] =
    spark.read.parquet(s"$dir/postings")
      .select("field", "term", "rangeId", "payload")
      .as[(String, String, Long, Array[Byte])]
      .collect()
      .groupBy(r => (r._1, r._2, r._3))
      .map { case (k, rows) =>
        k -> rows.flatMap { r =>
          val d = graft.codec.PostingsCodec.decode(r._4)
          (0 until d.length).map(i => (d.docIds(i), d.freqs(i), d.dls(i)))
        }.sortBy(_._1).toSeq
      }

  test("reclaiming merge ≡ build(survivors): postings, stats, deletes cleared") {
    val waved = java.nio.file.Files.createTempDirectory("graft-rec-waved").toString
    val ref = java.nio.file.Files.createTempDirectory("graft-rec-ref").toString
    val builder = new IndexBuilder(spark, cfg(1))
    builder.build(corpusDf, waved) // 12 waves, committed manifest

    // delete 20%: every docId % 5 == 0
    val delIds = (0L until N.toLong).filter(_ % 5 == 0)
    Deletes.append(spark, waved, delIds)
    val bytesBefore = postingsBytes(waved)

    // full tiered merge with reclamation, then republish
    val merged = TieredMerge.maybeMerge(spark, waved, segsPerTier = 1, maxMergeAtOnce = 12)
    assert(merged.nonEmpty)
    builder.publish(waved)

    // reference: single-shot build over the survivors with the SAME ids
    new IndexBuilder(spark, cfg(12))
      .build(corpusDf.where(col("docId") % 5 =!= 0), ref)

    // (b) postings physically shrink
    assert(postingsBytes(waved) < bytesBefore,
      s"postings did not shrink: $bytesBefore -> ${postingsBytes(waved)}")

    // (a) posting-level equivalence with build(survivors)
    val dw = decoded(waved)
    val dr = decoded(ref)
    assert((dw.keySet -- dr.keySet).isEmpty && (dr.keySet -- dw.keySet).isEmpty,
      s"key sets differ: onlyMerged=${(dw.keySet -- dr.keySet).take(3)} onlyRef=${(dr.keySet -- dw.keySet).take(3)}")
    val diffs = dw.keys.filter(k => dw(k) != dr(k)).take(3)
    assert(diffs.isEmpty, diffs.map(k => s"$k:\n merged=${dw(k)}\n ref=${dr(k)}").mkString("\n"))

    // (c) republished stats equal the survivor build's stats
    def stats(dir: String) =
      spark.read.parquet(graft.index.IndexManifest.load(spark, dir).statsLocation)
        .select("field", "sumTotalTermFreq", "sumDocFreq", "termCount", "maxDoc", "docCount")
        .as[(String, Long, Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(stats(waved) == stats(ref), s"stats:\n ${stats(waved)}\n ${stats(ref)}")
    def terms(dir: String) =
      spark.read.parquet(graft.index.IndexManifest.load(spark, dir).termsLocation)
        .as[(String, String, Long, Long, Long)].collect().sortBy(t => (t._1, t._2)).toSeq
    assert(terms(waved) == terms(ref))

    // reclaimed ids are cleared from the deletes table (full coverage here)
    assert(Deletes.count(spark, waved) == 0L, "deletes not cleared after full reclaim")

    // query-level equivalence WITHOUT any delete view
    val sW = new IndexSearcher(spark, waved)
    val sR = new IndexSearcher(spark, ref)
    for (q <- Seq[Query](TermQuery("import"),
        new QueryParser(analyzer).parse("parser OR buffer"),
        PhraseQuery(Seq("posting", "list")))) {
      val a = sW.search(q, 10, ScoreMode.Ref32)
      val b = sR.search(q, 10, ScoreMode.Ref32)
      assert(a.totalHits == b.totalHits, s"totalHits $q")
      assert(a.scoreDocs.map(d => (d.docId, d.score)).toSeq ==
        b.scoreDocs.map(d => (d.docId, d.score)).toSeq, s"topk $q")
    }

    assert(CheckIndex.run(spark, waved).ok)

    // resume after reclamation: retired waves (whose postings AND doc dirs
    // are gone) must NOT re-invert, and the republish must keep the
    // survivor stats bit-for-bit
    builder.build(corpusDf, waved, resume = true)
    assert(stats(waved) == stats(ref), "resume after reclaim changed stats")
    assert(Deletes.count(spark, waved) == 0L)
    assert(CheckIndex.run(spark, waved).ok)
  }

  test("expungeDeletes rewrites only delete-heavy waves; partial coverage keeps other deletes") {
    val dir = java.nio.file.Files.createTempDirectory("graft-rec-exp").toString
    val builder = new IndexBuilder(spark, cfg(1))
    builder.build(corpusDf, dir)
    val wavesBefore = TieredMerge.waves(spark, dir)
    assert(wavesBefore.size == 12)

    // heavy deletes in the first two waves (fully deleted), a light sprinkle
    // in the last wave (below the expunge threshold)
    val heavy = (0L until 100L)
    val light = (550L until 555L)
    Deletes.append(spark, dir, heavy ++ light)
    val fracs = TieredMerge.deletedFractions(spark, dir)
    assert(fracs.values.exists(_ > 0.5) && fracs.values.exists(_ == 0.0), fracs.toString)

    val rewritten = TieredMerge.expungeDeletes(spark, dir, minDeletedFraction = 0.5)
    assert(rewritten.nonEmpty && rewritten.size < 12, rewritten.toString)
    builder.publish(dir)

    // deletes covered by the rewritten waves are cleared; the light ones
    // (outside any rewritten wave) remain live
    val remaining = Deletes.load(spark, dir).toSet
    assert(remaining == light.toSet, s"remaining deletes: $remaining")

    // query results (remaining deletes auto-applied by the searcher) ==
    // build over the survivors of BOTH delete sets
    val s = new IndexSearcher(spark, dir)
    val hits = s.search(TermQuery("import"), 5, ScoreMode.Ref32).totalHits
    val sRef = new IndexSearcher(spark, {
      val ref = java.nio.file.Files.createTempDirectory("graft-rec-exp-ref").toString
      new IndexBuilder(spark, cfg(12)).build(
        corpusDf.where(col("docId") >= 100 && !col("docId").between(550, 554)), ref)
      ref
    })
    assert(hits == sRef.search(TermQuery("import"), 5, ScoreMode.Ref32).totalHits)
    assert(CheckIndex.run(spark, dir).ok)
  }

  test("plan() reclaim scoring: delete-heavy waves tier lower and are picked first") {
    def w(i: Int, bytes: Long) = TieredMerge.WaveInfo(i, bytes)
    // 11 equal-size waves in one tier → default plan merges the 10 smallest
    val segs = (0 until 11).map(i => w(i, 100L << 20))
    val p0 = TieredMerge.plan(segs, segsPerTier = 5, maxMergeAtOnce = 3)
    assert(p0.size == 1 && p0.head.map(_.wave) == Seq(0, 1, 2))
    // with wave 9 and 10 mostly deleted, their effective size drops a tier:
    // they form/join the small tier and are preferred candidates
    val fracs = Map(9 -> 0.95, 10 -> 0.95)
    val p1 = TieredMerge.plan(segs, segsPerTier = 1, maxMergeAtOnce = 3,
      delFracByWave = fracs)
    assert(p1.exists(g => g.map(_.wave).toSet == Set(9, 10)),
      s"delete-heavy waves not grouped: $p1")
  }

  test("maybeMergeReclaim: delete-heavy waves merge first and deletes clear") {
    val dir = java.nio.file.Files.createTempDirectory("graft-rec-auto").toString
    val builder = new IndexBuilder(spark, cfg(1))
    builder.build(corpusDf, dir)
    Deletes.append(spark, dir, (0L until 100L)) // waves 0-1 fully deleted
    // tight tier budget: the reclaim-aware planner groups the delete-heavy
    // waves (effective size ~0) into their own merge
    val merged = TieredMerge.maybeMergeReclaim(spark, dir, segsPerTier = 1, maxMergeAtOnce = 3)
    assert(merged.nonEmpty)
    builder.publish(dir)
    assert(Deletes.count(spark, dir) == 0L) // full merge coverage reclaims all
    val s = new IndexSearcher(spark, dir)
    val ref = java.nio.file.Files.createTempDirectory("graft-rec-auto-ref").toString
    new IndexBuilder(spark, cfg(12)).build(corpusDf.where(col("docId") >= 100), ref)
    val sR = new IndexSearcher(spark, ref)
    val a = s.search(TermQuery("import"), 10, ScoreMode.Ref32)
    val b = sR.search(TermQuery("import"), 10, ScoreMode.Ref32)
    assert(a.totalHits == b.totalHits)
    assert(a.scoreDocs.map(d => (d.docId, d.score)).toSeq ==
      b.scoreDocs.map(d => (d.docId, d.score)).toSeq)
    assert(CheckIndex.run(spark, dir).ok)
  }

  test("a merge no delete touches commits as a plain merge; an expunge round folds once") {
    val dir = java.nio.file.Files.createTempDirectory("graft-rec-plain").toString
    new IndexBuilder(spark, cfg(1)).build(corpusDf, dir)
    Deletes.append(spark, dir, (0L until 25L) ++ (50L until 75L))
    val fracs = TieredMerge.deletedFractions(spark, dir)
    val (hit, clean) = TieredMerge.waves(spark, dir).partition(w => fracs(w.wave) > 0)
    assert(hit.size == 2)
    val gen = IndexManifest.load(spark, dir).termsGen
    val before = new IndexSearcher(spark, dir).search(TermQuery("import"), 10, ScoreMode.Ref32)

    // no deleted doc in the group: the live dictionary and the deletes
    // table stay, and the merged wave lists its sources' docs
    val plain = TieredMerge.execute(spark, dir, clean.take(3))
    assert(IndexManifest.load(spark, dir).termsGen == gen)
    assert(Deletes.count(spark, dir) == 50L)
    assert(!new java.io.File(s"$dir/docs/wave=$plain").exists)
    val after = new IndexSearcher(spark, dir).search(TermQuery("import"), 10, ScoreMode.Ref32)
    assert(after.totalHits == before.totalHits &&
      after.scoreDocs.map(d => (d.docId, d.score)).toSeq == before.scoreDocs.map(d => (d.docId, d.score)).toSeq)

    // both delete-hit waves rewritten in one round: one fold, one swap
    assert(TieredMerge.expungeDeletes(spark, dir, minDeletedFraction = 0.4).size == 2)
    assert(IndexManifest.load(spark, dir).termsGen == gen + 1)
    assert(Deletes.count(spark, dir) == 0L)
    assert(CheckIndex.run(spark, dir).ok)
  }

  test("deletes swap crash windows: committed swap completes, partial swap rolls back") {
    val dir = java.nio.file.Files.createTempDirectory("graft-rec-swap").toString
    new IndexBuilder(spark, cfg(12)).build(corpusDf, dir)
    Deletes.append(spark, dir, Seq(1L, 2L, 3L))
    assert(Deletes.load(spark, dir).toSeq == Seq(1L, 2L, 3L))

    // committed swap (crash between old-dir delete and rename): _SUCCESS
    // present → recovery must complete the rename
    Seq(7L).toDF("docId").write.mode("overwrite").parquet(s"$dir/deletes_swap")
    val live = new java.io.File(s"$dir/deletes")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
    }
    rm(live)
    assert(Deletes.load(spark, dir).toSeq == Seq(7L), "committed swap not completed")

    // partial swap (no _SUCCESS): discarded, live table stands
    Seq(9L).toDF("docId").write.mode("overwrite").parquet(s"$dir/deletes_swap")
    new java.io.File(s"$dir/deletes_swap/_SUCCESS").delete()
    assert(Deletes.load(spark, dir).toSeq == Seq(7L), "partial swap applied")
    assert(!new java.io.File(s"$dir/deletes_swap").exists())
  }
}
