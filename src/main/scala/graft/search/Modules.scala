package graft.search

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.index.IndexBuilder

/** The Lucene-module analogues — facets, sort-by-field, grouping and
  * spelling suggestions, none ported in the reference — written once for
  * one index ([[IndexSearcher]]) or many ([[MultiSearcher]]), over three
  * members each searcher supplies: its scored match set, the
  * `(docId, column)` rows of its stored docs and its dictionaries'
  * suggestion candidates. A sharded searcher supplies unions over its
  * shards: a shard's matches are more partitions of one Dataset, so the
  * plan's partial aggregation is the per-shard reduce and its final
  * aggregation the global merge (local-then-global top-k); disjoint docId
  * spaces pair each match with its own shard's row. Suggestions merge on
  * the driver.
  */
trait SearchModules {
  /** Default field of [[suggestTerms]]. */
  def field: String

  /** Every matching doc of `q` with its score, multi-term leaves expanded. */
  def scoredDocs(q: Query, mode: ScoreMode): Dataset[ScoredDoc]

  private[search] def sparkSession: SparkSession

  /** `(docId, c)` of every stored doc; fails unless `c` is a stored
    * metadata column (not one of the engine's own columns). `role` names
    * the column's use in the error.
    */
  private[search] def docsColumn(c: String, role: String): DataFrame

  /** Suggestion candidates `(term, docFreq, dist)` of `input` within
    * `maxEdits` edits, the input itself excluded, from each dictionary: at
    * least each one's first `topN` by rank (every candidate when None).
    */
  private[search] def suggestions(input: String, maxEdits: Int, topN: Option[Int],
      f: String): Seq[(String, Long, Int)]

  /** Facet counts — the distinct values of a stored metadata column among
    * ALL docs matching the query, with match counts, topN by (count desc,
    * value asc). Fully distributed: the match set hash-joins the docs
    * column on docId, the groupBy partial-aggregates map-side before one
    * value-cardinality-sized shuffle, `limit(topN)` is a distributed
    * TakeOrdered. Counting needs no scores, so matching runs in Ref32.
    */
  def facetCounts(q: Query, facetCol: String, topN: Int = 20): DataFrame = {
    val values = docsColumn(facetCol, "facet")
    scoredDocs(q, ScoreMode.Ref32).select(col("docId"))
      .join(values, "docId")
      .groupBy(col(facetCol))
      .agg(count(lit(1)).as("matchCount"))
      .orderBy(col("matchCount").desc, col(facetCol))
      .limit(topN)
  }

  /** Sort-by-field top-k — the Lucene Sort/TopFieldCollector analogue.
    * Matching runs Ref32 (scores are unused, like Lucene's non-scoring
    * TopFieldCollector); `orderBy(...).limit(k)` over the match set joined
    * to the docs column plans as TakeOrderedAndProject — per-partition
    * k-bounded heaps merged on the driver, never a global sort. Equal sort
    * values order by docId asc in either direction (Lucene's implicit final
    * docId comparator).
    */
  def searchSortBy(q: Query, sortCol: String, k: Int,
      ascending: Boolean = true): DataFrame = {
    val values = docsColumn(sortCol, "sort")
    require(k > 0, s"k must be positive, got $k")
    val ord = if (ascending) col(sortCol).asc else col(sortCol).desc
    scoredDocs(q, ScoreMode.Ref32).select(col("docId"))
      .join(values, "docId")
      .orderBy(ord, col("docId").asc)
      .limit(k)
      .select(col("docId"), col(sortCol))
  }

  /** Result grouping — the Lucene grouping-module analogue: the top
    * `topGroups` groups of a stored metadata column ranked by their BEST hit
    * (max score desc, group value asc — Lucene's groupSort=relevance), each
    * carrying its top `docsPerGroup` hits (score desc, docId asc). Within-
    * group ranks come from ONE k-bounded per-group heap aggregation
    * ([[GroupTopHits]]) in the same pass as the groupTop max, so partial
    * aggregation caps every task's state at groups × docsPerGroup entries
    * and a skewed group column never pushes one group's whole match set
    * through one task. The topGroups leaderboard derives from the same
    * aggregation and broadcasts back onto the exploded hits. Groups rank on
    * unrounded scores (exact-double scores reproduce bit for bit).
    */
  def groupedSearch(q: Query, groupCol: String, topGroups: Int,
      docsPerGroup: Int, mode: ScoreMode = ScoreMode.Ref32): DataFrame = {
    val values = docsColumn(groupCol, "group")
    require(topGroups > 0 && docsPerGroup > 0,
      s"topGroups/docsPerGroup must be positive, got $topGroups/$docsPerGroup")
    val hits = scoredDocs(q, mode).toDF("docId", "score").join(values, "docId")
    val heapAgg = udaf(new GroupTopHits(docsPerGroup))
    val grouped = hits.groupBy(col(groupCol))
      .agg(heapAgg(col("docId"), col("score")).as("c"),
        max(col("score")).as("groupTop"))
    val leaders = grouped
      .select(col(groupCol), col("groupTop"))
      .orderBy(col("groupTop").desc, col(groupCol)).limit(topGroups)
    grouped.join(broadcast(leaders.select(col(groupCol))), Seq(groupCol))
      .select(col(groupCol), col("groupTop"),
        posexplode(col("c.hits")).as(Seq("pos", "h")))
      .select(col(groupCol), col("groupTop"),
        (col("pos") + 1).cast("int").as("rank"),
        col("h.docId").as("docId"), col("h.score").as("score"))
  }

  /** Spelling suggestions — the Lucene suggest/spellchecker analogue:
    * dictionary terms within `maxEdits` CLASSIC Levenshtein edits of `input`
    * (the FuzzyQuery distance, so DuckDB's `levenshtein` reproduces it),
    * the input itself excluded, ranked (distance asc, docFreq desc, term in
    * UTF-8 order), topN. docFreq is the INDEXED df summed over the
    * dictionaries (point-in-time, like Lucene's spellchecker — query-time
    * deletes don't re-rank suggestions). The candidates merge on the
    * driver, so a warm suggestion launches no Spark job.
    */
  def suggestTerms(input: String, maxEdits: Int = 2, topN: Int = 5,
      f: String = field): DataFrame = {
    require(maxEdits >= 1 && maxEdits <= 2,
      s"suggest maxEdits must be 1..2 (Lucene's classic bound), got $maxEdits")
    require(topN > 0, s"topN must be positive, got $topN")
    val rank = Ordering.Tuple3(Ordering.Int, Ordering.Long, IndexBuilder.utf8Order)
    val merged = suggestions(input, maxEdits, Some(topN), f)
      .groupMapReduce(_._1)(c => (c._2, c._3))((a, b) => (a._1 + b._1, a._2))
      .toSeq.map { case (t, (df, dist)) => (t, df, dist) }
      .sortBy { case (t, df, dist) => (dist, -df, t) }(rank)
      .take(topN)
    val sp = sparkSession
    import sp.implicits._
    merged.toDF("term", "docFreq", "dist")
  }
}

/** One hit inside a per-group bounded heap ([[GroupTopHits]]). */
final case class GroupHit(docId: Long, score: Double)

/** Buffer/output of [[GroupTopHits]]: hits sorted (score desc, docId asc),
  * never more than the group's docsPerGroup bound.
  */
final case class GroupTopBuf(hits: Seq[GroupHit])

/** Per-group top-d heap AGGREGATOR of [[SearchModules.groupedSearch]] — the
  * skew-safe replacement for a row_number window: partial (map-side)
  * aggregation bounds every task's state at groups × d entries, so one
  * low-cardinality group owning most of the match set can never funnel its
  * whole match set through a single window task. The kept set and its order
  * are EXACTLY the window's (score desc, docId asc — the BoundedHitQueue
  * tie-break), so ranks explode identically.
  */
final class GroupTopHits(d: Int)
    extends org.apache.spark.sql.expressions.Aggregator[(Long, Double), GroupTopBuf, GroupTopBuf] {
  private def better(a: GroupHit, b: GroupHit): Boolean =
    a.score > b.score || (a.score == b.score && a.docId < b.docId)
  def zero: GroupTopBuf = GroupTopBuf(Vector.empty)
  def reduce(b: GroupTopBuf, x: (Long, Double)): GroupTopBuf = {
    val h = GroupHit(x._1, x._2)
    val j = b.hits.indexWhere(e => better(h, e))
    val i = if (j < 0) b.hits.size else j
    if (i >= d) b
    else GroupTopBuf(((b.hits.take(i) :+ h) ++ b.hits.drop(i)).take(d))
  }
  def merge(x: GroupTopBuf, y: GroupTopBuf): GroupTopBuf = {
    val out = Vector.newBuilder[GroupHit]
    var i = 0
    var j = 0
    var n = 0
    while (n < d && (i < x.hits.size || j < y.hits.size)) {
      if (j >= y.hits.size || (i < x.hits.size && better(x.hits(i), y.hits(j)))) {
        out += x.hits(i); i += 1
      } else {
        out += y.hits(j); j += 1
      }
      n += 1
    }
    GroupTopBuf(out.result())
  }
  def finish(b: GroupTopBuf): GroupTopBuf = b
  def bufferEncoder: Encoder[GroupTopBuf] = Encoders.product[GroupTopBuf]
  def outputEncoder: Encoder[GroupTopBuf] = Encoders.product[GroupTopBuf]
}
