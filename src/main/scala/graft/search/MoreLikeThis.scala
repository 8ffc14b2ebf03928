package graft.search

/** MoreLikeThis term selection (Lucene's MLT module — never ported in the
  * reference), shared by [[IndexSearcher]] and [[MultiSearcher]], which
  * differ only in where term statistics and maxDoc come from. The text is
  * analyzed with the caller's analyzer (normally the index analyzer),
  * candidate terms are filtered by `minTermFreq` (tf within the text) and
  * `minDocFreq` (dictionary df — point lookups bounded by the text's
  * distinct-term count), ranked by tf × BM25-idf interestingness with a
  * deterministic (score desc, term asc) tie-break, and the top
  * `maxQueryTerms` become a SHOULD disjunction. CLAUSE ORDER IS TERM-SORTED
  * — the same stable-under-corpus-growth discipline as every other
  * multi-term rewrite (selection may change with corpus stats; summation
  * order never does). The returned query runs through any search entry
  * point, including WAND.
  */
private[search] object MoreLikeThis {
  def query(analyzer: graft.analysis.Analyzer, text: String, maxQueryTerms: Int,
      minTermFreq: Int, minDocFreq: Int, queryField: Option[String], fn: String,
      termStats: Seq[(String, String)] => Map[(String, String), TermStats],
      maxDoc: => Long): Query = {
    require(maxQueryTerms > 0 && maxQueryTerms <= 1024,
      s"maxQueryTerms must be in 1..1024, got $maxQueryTerms")
    val tf = analyzer(text).tokens.iterator.map(_.term)
      .foldLeft(Map.empty[String, Int]) { (m, t) => m.updated(t, m.getOrElse(t, 0) + 1) }
    val cand = tf.filter(_._2 >= minTermFreq).keys.toSeq.sorted
    require(cand.size <= 8192,
      s"MLT seed text has ${cand.size} distinct terms — cap is 8192 (pass an excerpt)")
    val stats = termStats(cand.map(t => (fn, t)))
    val n = maxDoc
    val scored = cand.flatMap { t =>
      stats.get((fn, t)).filter(_.docFreq >= minDocFreq).map { ts =>
        (t, tf(t).toDouble * Bm25.idfExact(ts.docFreq, n))
      }
    }
    val top = scored.sortBy { case (t, s) => (-s, t) }.take(maxQueryTerms)
      .map(_._1).sorted
    BooleanQuery(top.map(t =>
      BooleanClause(Occur.SHOULD, TermQuery(t, 1.0f, queryField))).toList)
  }
}
