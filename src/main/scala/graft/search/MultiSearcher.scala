package graft.search

import org.apache.spark.sql.{Dataset, SparkSession}

/** Sharded search over several index directories with GLOBALLY CONSISTENT
  * scoring — the Spark-scale analogue of Lucene's MultiReader/IndexSearcher
  * over multiple leaves (the reference reads a single directory only;
  * /root/reference/core/search/search.go:93-111 iterates the leaves of ONE
  * reader). At 100 TB an index is naturally sharded — by time window, by
  * tenant, by ingest wave — and queries must score ACROSS shards as if the
  * corpus were one index: idf from global docFreq, avgdl from global field
  * totals, tie-breaks on global docIds.
  *
  * Mechanism: before a query runs, its (field, term) statistics are fetched
  * from every shard (driver-side point lookups against each shard's terms
  * dictionary — metadata-sized, cached per key), summed, and SEEDED into
  * each shard searcher's stats caches ([[IndexSearcher.overrideStats]]).
  * Each shard then evaluates the query with its ordinary distributed plan —
  * postings pruned to the query terms, per-range evaluation, its own delete
  * view — but scores with the merged statistics, so per-shard results are
  * bit-identical to what a monolithic index over the union corpus would
  * produce for the same docs (MultiSearcherSpec pins merge ≡ monolithic for
  * every query shape, both score modes). Top-k merging is then a pure
  * driver-side k-way merge by (score desc, docId asc); totalHits sums.
  *
  * Scale shape: per-shard work is unchanged (one bounded Spark job per
  * shard, no cross-shard shuffle, no data movement between shards); the
  * only cross-shard traffic is the per-term stats rows and the ≤k result
  * rows per shard. Shards can live in different storage locations.
  *
  * CONTRACTS:
  *  - docId spaces must be disjoint across shards (explicit docId columns,
  *    or per-shard id bases) — docIds are global identity here.
  *  - shard searchers are OWNED by this MultiSearcher once passed in: their
  *    stats caches are overwritten with merged values, so do not use them
  *    standalone afterwards.
  *
  * Multi-term queries (prefix/wildcard/fuzzy/range/regexp) expand at the
  * MULTI level: each shard's dictionary is scanned for the leaf, the term
  * lists union (over a partitioned corpus that IS the monolithic dictionary
  * scan — same terms, same sorted clause order), the 1024-clause rewrite
  * budget applies to the union, and the resulting disjunction's stats are
  * merged like any other terms.
  */
final class MultiSearcher private[search] (val shards: Seq[IndexSearcher],
    val field: String) {
  require(shards.nonEmpty, "MultiSearcher needs at least one shard")

  /** Merged stats, computed once per key from freshly-fetched shard-local
    * values (None = absent in every shard). Keys merge exactly once: after
    * seeding, shard caches hold MERGED values, so re-fetching them would
    * double-count — this cache prevents that.
    */
  private val mergedTs =
    scala.collection.concurrent.TrieMap.empty[(String, String), Option[TermStats]]
  private val mergedCs =
    scala.collection.concurrent.TrieMap.empty[String, CollectionStats]

  /** Merge + seed statistics for `keys` (each key exactly once), returning
    * the merged stats present in ≥1 shard. Shard caches are overwritten so
    * subsequent shard-local evaluation scores globally.
    *
    * `synchronized`: two concurrent queries on one MultiSearcher (the SQL
    * surface caches and shares instances) must not interleave here — thread
    * B could pass the mergedTs filter, then fetch shard stats AFTER thread
    * A seeded merged values into the shard caches, durably double-counting
    * df/ttf. The merge+seed critical section is driver-side metadata work;
    * the per-shard FETCHES inside it still run concurrently on the shard
    * pool (each a driver-side point read of one shard's terms table).
    */
  private def seedStats(keys: Seq[(String, String)]): Map[(String, String), TermStats] = synchronized {
    val newKeys = keys.filterNot(mergedTs.contains)
    if (newKeys.nonEmpty) {
      // local fetch per shard (cached point lookups), then sum df/ttf —
      // fetched in PARALLEL: latency tracks the slowest shard, not the sum
      val perShard = inParallel(shards.map(s => () => s.termStats(newKeys)))
      newKeys.foreach { k =>
        val present = perShard.flatMap(_.get(k))
        mergedTs.put(k, present.reduceOption((a, b) =>
          TermStats(a.field, a.term, a.docFreq + b.docFreq,
            a.totalTermFreq + b.totalTermFreq)))
      }
      val flds = newKeys.map(_._1).distinct.filterNot(mergedCs.contains)
      flds.foreach(mergedCollectionStats)
      val seedTs = newKeys.flatMap(k => mergedTs(k).map(k -> _)).toMap
      val seedCs = newKeys.map(_._1).distinct
        .flatMap(f => mergedCs.get(f).map(f -> _)).toMap
      shards.foreach(_.overrideStats(seedCs, seedTs))
    }
    keys.flatMap(k => mergedTs(k).map(k -> _)).toMap
  }

  /** Summed collection stats for a field (cached; serialized with
    * [[seedStats]] — same monitor, reentrant from inside it — so a
    * concurrent query can never observe half-seeded collection stats).
    */
  def mergedCollectionStats(f: String): CollectionStats = synchronized {
    mergedCs.getOrElseUpdate(f, {
      val css = inParallel(shards.map(s => () => s.collectionStatsOpt(f))).flatten
      require(css.nonEmpty, s"field '$f' is indexed in no shard")
      CollectionStats(f,
        maxDoc = css.map(_.maxDoc).sum,
        docCount = css.map(_.docCount).sum,
        sumTotalTermFreq = css.map(_.sumTotalTermFreq).sum,
        sumDocFreq = css.map(_.sumDocFreq).sum)
    })
  }

  private def ensureSeeded(q0: Query): Query = {
    val q = Query.rewrite(expandAcrossShards(q0))
    seedStats(Query.leafKeys(q, field))
    q
  }

  /** Multi-term leaves rewrite against the UNION of shard dictionaries —
    * identical terms and clause order to the monolithic expansion, so the
    * boolean that reaches the shards (and the stats seeded for it) match
    * single-index behavior exactly. Boost/field thread through unchanged.
    */
  private def expandAcrossShards(q: Query): Query = q match {
    case m: MultiTermQuery =>
      // per-shard dictionary scans in parallel (independent bounded jobs);
      // union sorted in UTF-8 BINARY order (Spark's orderBy("term") order —
      // Ordering.String is UTF-16 code-unit order, which diverges for
      // supplementary-plane terms and would reorder the disjunction's
      // float64 sum vs the monolithic expansion)
      val union = inParallel(shards.map(s => () => s.expansionTerms(m)))
        .flatten.distinct
        .sorted(new Ordering[String] {
          def compare(a: String, b: String): Int =
            graft.index.IndexBuilder.utf8Cmp(a, b)
        })
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
    * exactly 2× mono). Shards are independent searcher instances (no shared
    * mutable state; seeding happens before, single-threaded).
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

  /** k-way merge by the heap's exact ordering: score desc, docId asc. */
  private def mergeTop(per: Seq[TopDocs], k: Int): TopDocs =
    TopDocs(
      per.map(_.totalHits).sum,
      per.flatMap(_.scoreDocs)
        .sortBy(d => (-d.score, d.docId))
        .take(k).toArray,
      per.exists(_.totalHitsIsLowerBound))

  /** Global top-k + exact global totalHits (each shard runs its ordinary
    * exhaustive collection plan with merged stats).
    */
  def search(q0: Query, k: Int, mode: ScoreMode = ScoreMode.Ref32): TopDocs = {
    val q = ensureSeeded(q0)
    mergeTop(inParallel(shards.map(s => () => s.search(q, k, mode))), k)
  }

  /** Block-max WAND per shard, merged: each shard's pruned top-k is a
    * superset of its members of the GLOBAL top-k (bounds use the seeded
    * merged stats), so the merge is exact on docs/scores. totalHits sums the
    * shards' counts: exact when no shard pruned (see
    * [[Wand.searchTopK]]), a lower bound — flagged by
    * `totalHitsIsLowerBound` — as soon as one shard pruned, which follows
    * posting volume against each shard's bound, never cache state.
    */
  def searchWand(q0: Query, k: Int, mode: ScoreMode = ScoreMode.Ref32,
      phase1Ranges: Int = 64): TopDocs = {
    val q = ensureSeeded(q0)
    mergeTop(inParallel(shards.map(s =>
      () => Wand.searchTopK(s, q, k, mode, phase1Ranges))), k)
  }

  /** Union of every shard's full scored match set (one Dataset — downstream
    * joins/facets/sorts stay distributed).
    */
  def scoredDocs(q0: Query, mode: ScoreMode): Dataset[ScoredDoc] = {
    val q = ensureSeeded(q0)
    shards.map(_.scoredDocs(q, mode)).reduce(_ union _)
  }

  /** Facet value counts over all matches ACROSS shards: each shard
    * contributes its FULL value counts (value-cardinality rows, never
    * corpus rows — per-shard topN truncation would miscount values split
    * across shards), the union re-sums per value, TakeOrdered topN.
    */
  def facetCounts(q0: Query, facetCol: String, topN: Int = 20): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val q = ensureSeeded(q0)
    shards.map(_.facetCounts(q, facetCol, Int.MaxValue))
      .reduce(_ union _)
      .groupBy(col(facetCol))
      .agg(sum(col("matchCount")).as("matchCount"))
      .orderBy(col("matchCount").desc, col(facetCol))
      .limit(topN)
  }

  /** Sort-by-field top-k across shards: per-shard TakeOrdered top-k (each
    * shard's local top-k contains its members of the global one), unioned
    * and re-limited in Spark so sort-value typing/comparison stays native.
    */
  def searchSortBy(q0: Query, sortCol: String, k: Int,
      ascending: Boolean = true): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val q = ensureSeeded(q0)
    val ord = if (ascending) col(sortCol).asc else col(sortCol).desc
    shards.map(_.searchSortBy(q, sortCol, k, ascending))
      .reduce(_ union _)
      .orderBy(ord, col("docId").asc)
      .limit(k)
  }

  /** Grouped search across shards: each shard returns its per-group top
    * `docsPerGroup` for ALL groups (no per-shard group truncation — a
    * group's global rank is unknowable shard-locally), then the bounded
    * union re-ranks within groups and rebuilds the leaderboard. Sound
    * because within-group ordering is (score desc, docId asc) on
    * merged-stat scores: each shard's per-group top-d contains its members
    * of the global per-group top-d.
    */
  def groupedSearch(q0: Query, groupCol: String, topGroups: Int,
      docsPerGroup: Int, mode: ScoreMode = ScoreMode.Ref32): org.apache.spark.sql.DataFrame = {
    // named imports: functions._ would shadow the `mode` parameter
    import org.apache.spark.sql.functions.{broadcast, col, max, row_number}
    val q = ensureSeeded(q0)
    val union = shards
      .map(_.groupedSearch(q, groupCol, Int.MaxValue, docsPerGroup, mode))
      .reduce(_ union _)
      .drop("groupTop", "rank")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col("score").desc, col("docId").asc)
    val leaders = union.groupBy(col(groupCol))
      .agg(max(col("score")).as("groupTop"))
      .orderBy(col("groupTop").desc, col(groupCol)).limit(topGroups)
    union.withColumn("rank", row_number().over(w))
      .where(col("rank") <= docsPerGroup)
      .join(broadcast(leaders), Seq(groupCol))
      .select(col(groupCol), col("groupTop"), col("rank"), col("docId"), col("score"))
  }

  /** Spell suggestions across shards: every shard contributes its FULL
    * candidate set (per-shard topN would drop a term whose SUMMED df wins
    * globally), then union → per-term df sum → (dist, df desc, term) topN.
    * Candidate sets within ≤2 edits are vocabulary-bounded, never
    * corpus-sized.
    */
  def suggestTerms(input: String, maxEdits: Int = 2, topN: Int = 5,
      f: String = field): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, min, sum}
    shards.map(_.suggestTerms(input, maxEdits, Int.MaxValue, f))
      .reduce(_ union _)
      .groupBy(col("term"))
      // (term, docFreq, dist) — the single-index column order
      .agg(sum(col("docFreq")).as("docFreq"), min(col("dist")).as("dist"))
      .orderBy(col("dist"), col("docFreq").desc, col("term"))
      .limit(topN)
      .select(col("term"), col("docFreq"), col("dist"))
  }

  /** MoreLikeThis across shards: the single-index term selection
    * ([[MoreLikeThis]]) ranked with MERGED df and maxDoc, so the selected
    * disjunction (and its ultimate scores through [[search]]) matches what
    * a monolithic index would choose.
    */
  def moreLikeThisQuery(analyzer: graft.analysis.Analyzer, text: String,
      maxQueryTerms: Int = 25, minTermFreq: Int = 1, minDocFreq: Int = 1,
      queryField: Option[String] = None): Query = {
    val fn = queryField.getOrElse(field)
    MoreLikeThis.query(analyzer, text, maxQueryTerms, minTermFreq, minDocFreq, queryField,
      fn, seedStats, mergedCollectionStats(fn).maxDoc)
  }

  /** Explanation from the shard that owns `docId` (disjoint docId spaces);
    * root value == the merged search score for that doc.
    */
  def explain(q0: Query, docId: Long, mode: ScoreMode = ScoreMode.Ref32): Explanation = {
    val q = ensureSeeded(q0)
    shards.find(_.doc(docId).nonEmpty) match {
      case Some(s) => s.explain(q, docId, mode)
      case None => Explanation(0.0, s"doc $docId: in no shard", Nil, isMatch = false)
    }
  }

  def close(): Unit = { shards.foreach(_.close()); pool.shutdown() }
}

object MultiSearcher {
  /** Open shard searchers over `paths` (owned by the returned instance). */
  def apply(spark: SparkSession, paths: Seq[String], field: String = "content",
      similarity: Similarity = new Bm25Similarity()): MultiSearcher =
    new MultiSearcher(paths.map(p =>
      new IndexSearcher(spark, p, field, similarity)), field)

  /** Wrap caller-constructed shard searchers (e.g. with per-shard delete
    * views). They are OWNED by the MultiSearcher from here on — their stats
    * caches get overwritten with merged values.
    */
  def of(shards: Seq[IndexSearcher]): MultiSearcher = {
    require(shards.map(_.field).distinct.size <= 1,
      "all shards must share the default field")
    new MultiSearcher(shards, shards.head.field)
  }
}
