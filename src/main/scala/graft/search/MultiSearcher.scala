package graft.search

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** Sharded search over several index directories with GLOBALLY CONSISTENT
  * scoring — the Spark-scale analogue of Lucene's MultiReader/IndexSearcher
  * over multiple leaves (the reference reads a single directory only;
  * /root/reference/core/search/search.go:93-111 iterates the leaves of ONE
  * reader). At 100 TB an index is naturally sharded — by time window, by
  * tenant, by ingest wave — and queries must score ACROSS shards as if the
  * corpus were one index: idf from global docFreq, avgdl from global field
  * totals, tie-breaks on global docIds.
  *
  * Mechanism: every shard runs through a view of its own commit
  * ([[IndexSearcher.withStats]]) whose statistics, per query, are the sums
  * of the shards' own statistics of the query's (field, term) keys and of
  * their fields. Each shard's own statistics come from its commit's LRU, so
  * a repeated key costs a few LRU hits and Long additions. Each view
  * evaluates the query with its shard's ordinary plan — postings pruned to
  * the query terms, per-range evaluation, the shard's delete view — but
  * scores with the merged statistics, so per-shard results are
  * bit-identical to what a monolithic index over the union corpus would
  * produce for the same docs (MultiSearcherSpec pins merge ≡ monolithic for
  * every query shape, both score modes). Top-k merging is then the shards'
  * top-k through one driver-side [[BoundedHitQueue]] (score desc, docId
  * asc); totalHits sums.
  * Merged statistics carry no singleton ids (a summed df of 1 names no
  * shard's inlined doc), so the singleton fast path stays off in the views.
  *
  * Scale shape: per-shard work is unchanged (one bounded Spark job per
  * shard, no cross-shard shuffle, no data movement between shards); the
  * only cross-shard traffic is the per-term stats rows and the ≤k result
  * rows per shard. Shards can live in different storage locations.
  *
  * CONTRACTS:
  *  - docId spaces must be disjoint across shards (explicit docId columns,
  *    or per-shard id bases) — docIds are global identity here.
  *  - nothing is written into a shard searcher: one passed to
  *    [[MultiSearcher.of]] keeps answering standalone with its own
  *    statistics, and concurrent queries share no mutable state.
  *
  * Facets, sort-by-field, grouping and suggestions are the single-index
  * implementations of [[SearchModules]], run over the union of the shards'
  * match sets and docs columns (one Spark plan whose partial aggregation is
  * the per-shard reduce) and over every shard's full suggestion list
  * (merged on the driver).
  *
  * Multi-term queries (prefix/wildcard/fuzzy/range/regexp) expand at the
  * MULTI level: each shard's dictionary is scanned for the leaf, the term
  * lists union (over a partitioned corpus that IS the monolithic dictionary
  * scan — same terms, same sorted clause order), the 1024-clause rewrite
  * budget applies to the union, and the resulting disjunction's stats are
  * merged like any other terms.
  */
final class MultiSearcher private[search] (locals: Seq[IndexSearcher], val field: String)
    extends SearchModules {
  require(locals.nonEmpty, "MultiSearcher needs at least one shard")

  /** The shard views queries run through, one per shard in shard order:
    * each shard's commit and deletes, scored with [[mergedStats]].
    */
  val shards: Seq[IndexSearcher] = locals.map(_.withStats(mergedStats))

  /** The statistics every shard view scores a query with: per key, the
    * shards' own df and ttf summed (absent when no shard has the key); per
    * field, the shards' collection stats summed.
    */
  private def mergedStats(keys: Seq[(String, String)]): StatsView = {
    val per = locals.map(_.localStats(keys))
    StatsView(
      keys.distinct.flatMap(k => per.flatMap(_.terms.get(k)).reduceOption((a, b) =>
        TermStats(a.field, a.term, a.docFreq + b.docFreq, a.totalTermFreq + b.totalTermFreq))
        .map(k -> _)).toMap,
      per.flatMap(_.fields.values).groupBy(_.field).map { case (f, css) =>
        f -> CollectionStats(f,
          maxDoc = css.map(_.maxDoc).sum,
          docCount = css.map(_.docCount).sum,
          sumTotalTermFreq = css.map(_.sumTotalTermFreq).sum,
          sumDocFreq = css.map(_.sumDocFreq).sum)
      },
      Map.empty)
  }

  /** `q0` with its multi-term leaves expanded across the shards. The
    * shards' own statistics of its keys are read here, in parallel, so the
    * views' per-query sums are LRU hits and a cold query waits for the
    * slowest shard's read, not for their sum.
    */
  private def expand(q0: Query): Query = {
    val q = Query.rewrite(expandAcrossShards(q0))
    val keys = Query.leafKeys(q, field)
    inParallel(locals.map(s => () => s.localStats(keys)))
    q
  }

  /** Multi-term leaves rewrite against the UNION of shard dictionaries —
    * identical terms and clause order to the monolithic expansion, so the
    * boolean that reaches the shards (and the stats merged for it) match
    * single-index behavior exactly. Boost/field thread through unchanged.
    */
  private def expandAcrossShards(q: Query): Query = q match {
    case m: MultiTermQuery =>
      // per-shard dictionary reads in parallel (driver-side seeks, or one
      // bounded job each for the pattern and fuzzy kinds); union sorted in
      // UTF-8 BINARY order (Spark's orderBy("term") order —
      // Ordering.String is UTF-16 code-unit order, which diverges for
      // supplementary-plane terms and would reorder the disjunction's
      // float64 sum vs the monolithic expansion)
      val union = inParallel(shards.map(s => () => s.expansionTerms(m)))
        .flatten.distinct.sorted(graft.index.IndexBuilder.utf8Order)
      require(union.size <= 1024,
        s"$m expands to more than 1024 terms across the shards — raise " +
          "specificity (reference maxClauseCount is the rewrite budget)")
      BooleanQuery(union.map(t => BooleanClause(Occur.SHOULD, TermQuery(t, m.boost, m.field))))
    case BooleanQuery(cs, msm, b) =>
      BooleanQuery(cs.map(c => c.copy(query = expandAcrossShards(c.query))), msm, b)
    case DisMaxQuery(cs, tie, b) => DisMaxQuery(cs.map(expandAcrossShards), tie, b)
    case ConstantScoreQuery(q1, s) => ConstantScoreQuery(expandAcrossShards(q1), s)
    case FilteredQuery(q1, f1) =>
      FilteredQuery(expandAcrossShards(q1), expandAcrossShards(f1))
    case other => other
  }

  /** Per-shard searches run CONCURRENTLY from driver threads — each shard's
    * Spark jobs overlap in the scheduler, so sharded latency tracks the
    * slowest shard instead of the sum (OpBench: sequential sharded WAND was
    * exactly 2× mono). Tasks on this pool never submit to it.
    */
  private lazy val pool = java.util.concurrent.Executors.newFixedThreadPool(
    math.min(shards.length, 16),
    r => { val t = new Thread(r, "graft-multisearch"); t.setDaemon(true); t })

  private def inParallel[A](fs: Seq[() => A]): Seq[A] = {
    if (fs.lengthCompare(1) == 0) return Seq(fs.head())
    val futs = fs.map(f => pool.submit(new java.util.concurrent.Callable[A] {
      override def call(): A = f()
    }))
    futs.map(_.get())
  }

  /** The shards' top-k through one [[BoundedHitQueue]] (score desc, docId
    * asc); totalHits sums.
    */
  private def mergeTop(per: Seq[TopDocs], k: Int): TopDocs = {
    val heap = new BoundedHitQueue(k)
    per.foreach(_.scoreDocs.foreach(d => heap.insert(d.docId, d.score)))
    TopDocs(per.map(_.totalHits).sum, heap.toSortedArray, per.exists(_.totalHitsIsLowerBound))
  }

  /** Global top-k + exact global totalHits (each shard runs its ordinary
    * exhaustive collection plan with merged stats).
    */
  def search(q0: Query, k: Int, mode: ScoreMode = ScoreMode.Ref32): TopDocs = {
    val q = expand(q0)
    mergeTop(inParallel(shards.map(s => () => s.search(q, k, mode))), k)
  }

  /** Block-max WAND per shard, merged: each shard's pruned top-k is a
    * superset of its members of the GLOBAL top-k (bounds use the merged
    * stats), so the merge is exact on docs/scores. totalHits sums the
    * shards' counts: exact when no shard pruned (see
    * [[Wand.searchTopK]]), a lower bound — flagged by
    * `totalHitsIsLowerBound` — as soon as one shard pruned, which follows
    * posting volume against each shard's bound, never cache state.
    */
  def searchWand(q0: Query, k: Int, mode: ScoreMode = ScoreMode.Ref32,
      phase1Ranges: Int = 64): TopDocs = {
    val q = expand(q0)
    mergeTop(inParallel(shards.map(s =>
      () => Wand.searchTopK(s, q, k, mode, phase1Ranges))), k)
  }

  /** Union of every shard's full scored match set (one Dataset — downstream
    * joins/facets/sorts stay distributed).
    */
  def scoredDocs(q0: Query, mode: ScoreMode): Dataset[ScoredDoc] = {
    val q = expand(q0)
    shards.map(_.scoredDocs(q, mode)).reduce(_ union _)
  }

  private[search] def sparkSession: SparkSession = locals.head.sparkSession

  /** The shards' docs columns, unioned (each shard checks the column). */
  private[search] def docsColumn(c: String, role: String): DataFrame =
    shards.map(_.docsColumn(c, role)).reduce(_ union _)

  /** Every shard's FULL candidate list (vocabulary-bounded, cached per
    * shard): a per-shard topN could drop a term whose summed df wins.
    */
  private[search] def suggestions(input: String, maxEdits: Int, topN: Option[Int],
      f: String): Seq[(String, Long, Int)] =
    inParallel(shards.map(s => () => s.suggestions(input, maxEdits, None, f))).flatten

  /** MoreLikeThis across shards: the single-index term selection
    * ([[MoreLikeThis]]) ranked with MERGED df and maxDoc, so the selected
    * disjunction (and its ultimate scores through [[search]]) matches what
    * a monolithic index would choose.
    */
  def moreLikeThisQuery(analyzer: graft.analysis.Analyzer, text: String,
      maxQueryTerms: Int = 25, minTermFreq: Int = 1, minDocFreq: Int = 1,
      queryField: Option[String] = None): Query =
    shards.head.moreLikeThisQuery(analyzer, text, maxQueryTerms, minTermFreq, minDocFreq,
      queryField)

  /** Explanation from the shard that owns `docId` (disjoint docId spaces);
    * root value == the merged search score for that doc.
    */
  def explain(q0: Query, docId: Long, mode: ScoreMode = ScoreMode.Ref32): Explanation = {
    val q = expand(q0)
    shards.find(_.doc(docId).nonEmpty) match {
      case Some(s) => s.explain(q, docId, mode)
      case None => Explanation(0.0, s"doc $docId: in no shard", Nil, isMatch = false)
    }
  }

  def close(): Unit = { (shards ++ locals).foreach(_.close()); pool.shutdown() }
}

object MultiSearcher {
  /** Open shard searchers over `paths`; close() of the returned instance
    * closes them.
    */
  def apply(spark: SparkSession, paths: Seq[String], field: String = "content",
      similarity: Similarity = new Bm25Similarity()): MultiSearcher =
    new MultiSearcher(paths.map(p =>
      new IndexSearcher(spark, p, field, similarity)), field)

  /** Search caller-constructed shard searchers (e.g. with per-shard delete
    * views) through merged-stats views; the searchers themselves stay
    * untouched and keep answering standalone. close() of the returned
    * instance closes them too.
    */
  def of(shards: Seq[IndexSearcher]): MultiSearcher = {
    require(shards.map(_.field).distinct.size <= 1,
      "all shards must share the default field")
    new MultiSearcher(shards, shards.head.field)
  }
}
