package perfbench

import graft.search._

/** Runs a pool query the way a client would, and checks answers against
  * the exhaustive scored result set.
  */
object Queries {
  val K = 10

  def run(s: IndexSearcher, q: Gen.Q): TopDocs =
    Trace("search", q.cls)(
      if (q.wand) Wand.searchTopK(s, q.query, K) else s.search(q.query, K))

  /** Reference answers: `scoredDocs(q, Ref32)` of every query sorted by
    * (score desc, docId asc), top K and the total count. The queries' scored
    * sets are collected as one union, so the check costs one Spark job, not
    * one per query.
    */
  final case class Ref(top: Seq[(Long, Double)], total: Long)

  def references(s: IndexSearcher, qs: IndexedSeq[Gen.Q]): IndexedSeq[Ref] = {
    val spark = s.sparkSession
    import spark.implicits._
    val all = qs.indices.map { i =>
      s.scoredDocs(qs(i).query, ScoreMode.Ref32).map(d => (i, d.docId, d.score))
    }.reduce(_ union _).collect().groupBy(_._1)
    qs.indices.map { i =>
      val xs = all.getOrElse(i, Array.empty[(Int, Long, Double)])
        .map(t => (t._2, t._3)).sortBy { case (d, sc) => (-sc, d) }
      Ref(xs.take(K).toSeq, xs.length.toLong)
    }
  }

  /** Top-k docIds and scores must equal the reference (scores to a relative
    * 1e-9, since both sides are double images of float32 sums), and so must
    * totalHits except for WAND, whose totalHits is a lower bound on a cold
    * cache.
    */
  def matches(q: Gen.Q, got: TopDocs, ref: Ref): Boolean = {
    val top = got.scoreDocs.toSeq.map(d => (d.docId, d.score))
    top.size == ref.top.size &&
      top.zip(ref.top).forall { case ((d1, s1), (d2, s2)) =>
        d1 == d2 && math.abs(s1 - s2) <= 1e-9 * math.max(1.0, math.abs(s2)) } &&
      (q.wand || got.totalHits == ref.total)
  }

  /** A reference with the top hit's docId moved, so it can never match. */
  def corrupted(r: Ref): Ref =
    if (r.top.isEmpty) r.copy(total = r.total + 1)
    else r.copy(top = (r.top.head._1 + 1000000000L, r.top.head._2) +: r.top.tail)
}
