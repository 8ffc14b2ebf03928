package graft.search

/** Query AST — the subset the reference implements and tests
  * (/root/repo/SURVEY.md §2.4): term, exact phrase (slop=0), and boolean
  * combinations with MUST/SHOULD/MUST_NOT and minNrShouldMatch. All leaves
  * target the single configured indexed field.
  */
sealed trait Query

/** `field = None` targets the searcher's default field; `Some(f)` targets a
  * named (typically keyword) field — the reference's fielded term queries
  * (/root/reference/queryparser/classic/queryBuilder.go:23-130).
  */
final case class TermQuery(term: String, boost: Float = 1.0f,
    field: Option[String] = None) extends Query

/** Phrase query. slop=0 is the exact phrase
  * (/root/reference/core/search/exactPhraseScorer.go); slop>0 is the SLOPPY
  * phrase the reference stubs (phrase.go:87 panics, the
  * newSloppyPhraseScorer call at :165 is commented out), so the matching
  * semantics here are this engine's own DEFINED spec (chosen to be
  * ANSI-SQL-reproducible, unlike Lucene's stateful repeat handling):
  * anchored on the first term, an occurrence at position p0 matches iff
  * Σᵢ minₚ∈Pᵢ |p − (p0+i)| ≤ slop — each later term independently picks its
  * nearest position to the in-order slot, total displacement bounded by
  * slop. phraseFreq = #matching p0 (an INTEGER, like the exact path — no
  * order-dependent fractional sums). Reordering matches at slop ≥ 2
  * (`"b a"` has displacement 2), as in Lucene. `field = None` targets the
  * searcher's default field; `Some(f)` a named ANALYZED field (reference
  * phrases are per-field, phrase.go:18-60).
  */
final case class PhraseQuery(terms: Seq[String], boost: Float = 1.0f,
    field: Option[String] = None, slop: Int = 0) extends Query

/** Marker for dictionary-expanded leaves (prefix/wildcard/fuzzy/range):
  * rewritten by IndexSearcher.expandPrefixes into bounded SHOULD
  * disjunctions BEFORE compilation; reaching leafKeys/compile unexpanded is
  * a bug and throws. Every expanded term inherits the leaf's boost and
  * field.
  */
sealed trait MultiTermQuery extends Query {
  def boost: Float
  def field: Option[String]
}

/** Prefix term query `field:pre*`. The reference LEXES the star but its
  * handlers panic (/root/reference/queryparser/classic/queryParserBase.go:
  * 181-199,220-226), so this is additive, like WAND. Evaluation is by
  * ANALYSIS-TIME EXPANSION against the terms dictionary (the searcher
  * rewrites it to a bounded SHOULD disjunction of matching TermQuery
  * leaves in SORTED term order, each scoring with its OWN statistics —
  * Lucene's SCORING_BOOLEAN_QUERY_REWRITE): a sorted-parquet dictionary
  * range scan is metadata-cheap, and the existing 1024-clause cap is the
  * rewrite budget (expansion beyond it errors). Never reaches compile
  * unexpanded.
  */
final case class PrefixQuery(prefix: String, boost: Float = 1.0f,
    field: Option[String] = None) extends MultiTermQuery

/** Wildcard term query `field:a*b?c` (`*` = any run, `?` = one char).
  * Absent in the reference (the classic QP lexes the tokens but the
  * handlers panic, queryParserBase.go:220-226) — additive, evaluated like
  * [[PrefixQuery]] by analysis-time dictionary expansion: the literal
  * prefix before the first wildcard bounds a byte-range read of the terms
  * table, the full pattern is checked as an anchored regex in the tasks of
  * one job over the terms files, and the ≤1024 surviving terms become a
  * sorted SHOULD disjunction with per-term statistics. A LEADING wildcard
  * has no byte range and scans the field's vocabulary — vocabulary-sized,
  * never corpus-sized, but prefer an anchored pattern at scale.
  */
final case class WildcardQuery(pattern: String, boost: Float = 1.0f,
    field: Option[String] = None) extends MultiTermQuery

/** Fuzzy term query `term~N` (N = max Levenshtein edits, 0..2; bare `~`
  * means 2 — classic syntax; the reference has no fuzzy machinery at all).
  * Engine-defined distance = CLASSIC Levenshtein (insert/delete/substitute,
  * no transpositions) over code points, so Spark's `levenshtein` (whose
  * `UTF8String` distance the expansion's tasks run over the dictionary)
  * and DuckDB's `levenshtein` in the oracle agree with it. Expansion terms
  * score with their OWN statistics (SCORING_BOOLEAN_QUERY_REWRITE), same
  * as prefix/wildcard; a length window (|len(term) − len(q)| ≤ N, both in
  * code points) skips the distance for most terms.
  */
final case class FuzzyQuery(term: String, maxEdits: Int = 2,
    boost: Float = 1.0f, field: Option[String] = None) extends MultiTermQuery

/** Term range query `field:[a TO b]` (inclusive) / `{a TO b}` (exclusive),
  * absent in the reference. Bounds compare as raw term strings
  * (lexicographic — the dictionary's sort order); `None` leaves a side
  * open. Both bounds are parquet predicates of a driver-side read of the
  * terms table (UTF-8 byte order, no Spark job); the 1024-clause cap is
  * the rewrite budget like every other multi-term query.
  */
final case class TermRangeQuery(lower: Option[String], upper: Option[String],
    includeLower: Boolean = true, includeUpper: Boolean = true,
    boost: Float = 1.0f, field: Option[String] = None) extends MultiTermQuery

/** Regexp term query `/pattern/` — anchored full-term match over the
  * dictionary. The reference lexes REGEXPTERM but panics in the handler
  * (/root/reference/queryparser/classic/queryParserBase.go:192-193), so the
  * SEMANTICS are engine-defined: Java regex as Spark's `rlike` runs it
  * (`^(?:pattern)$` anchoring), checked in the tasks of one job over the
  * vocabulary-sized terms table, with the pattern's leading literal run
  * (when no quantifier or alternation can skip it) as a byte range. The
  * pattern is matched against
  * index terms AS STORED (analyzed fields hold lowercase terms — write
  * lowercase patterns; lowering a regex would corrupt classes like [A-Z]).
  */
final case class RegexpQuery(pattern: String, boost: Float = 1.0f,
    field: Option[String] = None) extends MultiTermQuery

/** Matches every live (non-deleted) document with constant score = boost —
  * Lucene's MatchAllDocsQuery (absent in the reference; `*:*` in the classic
  * syntax). Supported at the TOP LEVEL of a query (alone, or as the scored
  * side of [[FilteredQuery]]): the range-group evaluator only sees docs
  * touched by query postings, so an all-docs leaf evaluates against the
  * docs table instead — a different physical plan, special-cased at every
  * search entry point. Nesting it inside a BooleanQuery throws at compile
  * with a clear message (use FilteredQuery for the match-all+restrict
  * shape).
  */
final case class MatchAllQuery(boost: Float = 1.0f) extends Query

/** Lucene 4.x FilteredQuery / modern Occur.FILTER sugar (the reference
  * STUBS it — /root/reference/core/search/search.go:113-118 panics when a
  * filter is non-nil, filter.go is an empty shell): score comes from
  * `query` only; `filter` restricts the match set without contributing
  * score, coord, or queryNorm. Desugared by [[Query.rewrite]] into a
  * BooleanQuery with a FILTER clause (`FilteredQuery(MatchAllQuery, f)`
  * becomes the pure-FILTER boolean, which scores 0 — Lucene's FILTER-only
  * semantics).
  */
final case class FilteredQuery(query: Query, filter: Query) extends Query

/** Lucene DisjunctionMaxQuery (absent in the reference — only the SUM
  * disjunction exists, /root/reference/core/search/disjunctionSumScorer.go):
  * matches any doc where ≥1 clause matches; score = max over matching
  * clause scores + tieBreaker × (sum of the OTHER matching clause scores)
  * = (1−tie)·max + tie·sum. tieBreaker ∈ [0,1]: 0 = pure best-field max,
  * 1 ≡ the SHOULD sum. No coord factor (Lucene DisMax has none). The
  * float64 twin computes `mx + tie*(sm − mx)` with `sm` summed in clause
  * order — keep the SQL oracle's expression shape identical.
  */
final case class DisMaxQuery(clauses: Seq[Query], tieBreaker: Float = 0.0f,
    boost: Float = 1.0f) extends Query {
  // outside [0,1] the WAND bound formula loses monotonicity in the max
  // term ((1−tie) goes negative) — the same domain Lucene documents
  require(tieBreaker >= 0.0f && tieBreaker <= 1.0f,
    s"tieBreaker must be in [0,1], got $tieBreaker")
}

/** Lucene ConstantScoreQuery (absent in the reference): matches exactly
  * `query`'s match set, scores the CONSTANT `score` — no tf/idf/norm, no
  * coord overlap, and (engine spec) no queryNorm participation, so the
  * constant is emitted verbatim under EVERY similarity (BM25's queryNorm is
  * 1 anyway; under TF-IDF Lucene would normalize the constant — we
  * deliberately don't, keeping it SQL-reproducible; pinned by spec).
  * Parser syntax: `clause^=N` (the modern Lucene constant-score operator).
  * An outer `^B` boost MULTIPLIES the constant (foldBoost).
  */
final case class ConstantScoreQuery(query: Query, score: Float = 1.0f) extends Query

sealed trait Occur
object Occur {
  case object MUST extends Occur
  case object SHOULD extends Occur
  case object MUST_NOT extends Occur
  /** Must match, contributes nothing: no score, no coord overlap, no
    * queryNorm (Lucene BooleanClause.Occur.FILTER; the reference's stubbed
    * FilteredQuery is the 4.x spelling of the same idea).
    */
  case object FILTER extends Occur
}

final case class BooleanClause(occur: Occur, query: Query)

final case class BooleanQuery(
    clauses: Seq[BooleanClause],
    minShouldMatch: Int = 0,
    boost: Float = 1.0f) extends Query

object Query {
  /** All distinct leaf (field, term) keys, in first-appearance order (the
    * canonical float32 summation order — /root/repo/SURVEY.md §7.3).
    * Unfielded leaves resolve to `defaultField`.
    */
  def leafKeys(q: Query, defaultField: String): Seq[(String, String)] = {
    val buf = scala.collection.mutable.LinkedHashSet.empty[(String, String)]
    def walk(q: Query): Unit = q match {
      case TermQuery(t, _, f) => buf += ((f.getOrElse(defaultField), t))
      case PhraseQuery(ts, _, f, _) => ts.foreach(t => buf += ((f.getOrElse(defaultField), t)))
      case BooleanQuery(cs, _, _) => cs.foreach(c => walk(c.query))
      case MatchAllQuery(_) => () // no terms — matches via the docs table
      case FilteredQuery(q1, f1) => walk(q1); walk(f1)
      case DisMaxQuery(cs, _, _) => cs.foreach(walk)
      case ConstantScoreQuery(q1, _) => walk(q1)
      case p: MultiTermQuery => throw new IllegalStateException(
        s"unexpanded $p reached leafKeys — multi-term queries must go through " +
          "IndexSearcher.expandPrefixes first (search/scoredDocs/explain/Wand do)")
    }
    walk(q)
    buf.toSeq
  }

  /** (field, term) keys that need positions decoded (phrase members). */
  def phraseTerms(q: Query, defaultField: String): Set[(String, String)] = q match {
    case PhraseQuery(ts, _, f, _) => ts.map(t => (f.getOrElse(defaultField), t)).toSet
    case BooleanQuery(cs, _, _) => cs.flatMap(c => phraseTerms(c.query, defaultField)).toSet
    case FilteredQuery(q1, f1) =>
      phraseTerms(q1, defaultField) ++ phraseTerms(f1, defaultField)
    case DisMaxQuery(cs, _, _) => cs.flatMap(phraseTerms(_, defaultField)).toSet
    case ConstantScoreQuery(q1, _) => phraseTerms(q1, defaultField)
    case _ => Set.empty
  }

  /** Reference rewrite fixpoint (/root/reference/core/search/search.go:171-179):
    * 1-clause non-prohibited boolean → the clause with folded boost
    * (boolean.go:351-389); 1-term phrase → term (phrase.go:237-248);
    * optional==minShouldMatch → promote to required (boolean.go:164-169).
    */
  def rewrite(q: Query): Query = q match {
    case PhraseQuery(Seq(t), boost, f, _) => TermQuery(t, boost, f)
    case t: TermQuery => t
    case FilteredQuery(q1, f1) =>
      // desugar to a FILTER clause; FilteredQuery(MatchAll, f) becomes the
      // pure-FILTER boolean (score 0 — Lucene FILTER-only semantics)
      rewrite(q1) match {
        case MatchAllQuery(b) =>
          BooleanQuery(Seq(BooleanClause(Occur.FILTER, rewrite(f1))), 0, b)
        case rq => rewrite(BooleanQuery(Seq(
          BooleanClause(Occur.MUST, rq),
          BooleanClause(Occur.FILTER, rewrite(f1)))))
      }
    case DisMaxQuery(Seq(one), _, b) =>
      // 1-clause dismax ≡ the clause (Lucene DisjunctionMaxQuery.rewrite)
      foldBoost(rewrite(one), b)
    case DisMaxQuery(cs, tie, b) => DisMaxQuery(cs.map(rewrite), tie, b)
    case ConstantScoreQuery(q1, s) => ConstantScoreQuery(rewrite(q1), s)
    case bq @ BooleanQuery(cs, msm, boost) =>
      val rewritten = cs.map(c => c.copy(query = rewrite(c.query)))
      val nShould = rewritten.count(_.occur == Occur.SHOULD)
      val promoted =
        if (msm > 0 && nShould == msm)
          BooleanQuery(rewritten.map(c =>
            if (c.occur == Occur.SHOULD) c.copy(occur = Occur.MUST) else c), 0, boost)
        else BooleanQuery(rewritten, msm, boost)
      promoted match {
        // a lone FILTER clause must NOT fold to its bare query — that would
        // turn a non-scoring restriction into a scoring leaf
        case BooleanQuery(Seq(BooleanClause(o, inner)), 0, b)
            if o != Occur.MUST_NOT && o != Occur.FILTER =>
          foldBoost(inner, b)
        case other => if (other == bq) bq else rewrite(other)
      }
    case other => other
  }

  private def foldBoost(q: Query, b: Float): Query = q match {
    case TermQuery(t, b0, f) => TermQuery(t, b0 * b, f)
    case PhraseQuery(ts, b0, f, sl) => PhraseQuery(ts, b0 * b, f, sl)
    case PrefixQuery(pre, b0, f) => PrefixQuery(pre, b0 * b, f)
    case WildcardQuery(pat, b0, f) => WildcardQuery(pat, b0 * b, f)
    case FuzzyQuery(t, e, b0, f) => FuzzyQuery(t, e, b0 * b, f)
    case TermRangeQuery(lo, hi, il, iu, b0, f) => TermRangeQuery(lo, hi, il, iu, b0 * b, f)
    case RegexpQuery(pat, b0, f) => RegexpQuery(pat, b0 * b, f)
    case BooleanQuery(cs, m, b0) => BooleanQuery(cs, m, b0 * b)
    case MatchAllQuery(b0) => MatchAllQuery(b0 * b)
    case FilteredQuery(q1, f1) => FilteredQuery(foldBoost(q1, b), f1)
    case DisMaxQuery(cs, tie, b0) => DisMaxQuery(cs, tie, b0 * b)
    // an outer boost multiplies the constant (Lucene CSQ boost semantics)
    case ConstantScoreQuery(q1, s) => ConstantScoreQuery(q1, s * b)
  }

  /** Multiply a query's boost (parser `^N` syntax; reference CARAT token —
    * lexed but `handleBoost` panics, queryParserBase.go:220-226).
    */
  def boosted(q: Query, b: Float): Query = if (b == 1.0f) q else foldBoost(q, b)
}

/** Search result envelope (/root/reference/core/search/collect.go:53-57):
  * totalHits counts ALL matching docs, not just the returned k.
  * `totalHitsIsLowerBound` is set by the WAND-pruned path (which skips
  * ranges that provably cannot reach the top-k): top-k docs/scores remain
  * exact, the hit count becomes a ≥ bound — the TotalHits.Relation idea of
  * modern Lucene, absent in the 4.10 reference. WAND prunes only queries
  * whose posting volume exceeds the searcher's `localSearchMaxPostings`,
  * so the flag never depends on what a searcher has cached.
  */
final case class TopDocs(totalHits: Long, scoreDocs: Array[ScoredDoc],
    totalHitsIsLowerBound: Boolean = false)
final case class ScoredDoc(docId: Long, score: Double)

/** Scoring arithmetic mode — see [[Bm25]]. */
sealed trait ScoreMode extends Serializable {
  /** The result of one `+`, `-` or `*` in this mode's arithmetic, given the
    * float64 result of the same operation on this mode's operands. Every
    * score composition (plan evaluation, queryNorm, explain) applies it.
    */
  private[search] def round(x: Double): Double
}
object ScoreMode {
  /** float32 + byte-quantized norms: rank/score parity with the reference.
    * A float32 `+`, `-` or `*` equals the float64 operation on the widened
    * operands rounded once to float32, bit for bit (53 ≥ 2·24 + 2, so the
    * double rounding is innocuous) — the whole float32 arithmetic is this
    * rounding over float64.
    */
  case object Ref32 extends ScoreMode {
    private[search] def round(x: Double): Double = x.toFloat.toDouble
  }
  /** float64 + exact doc lengths: reproducible by an ANSI-SQL oracle. */
  case object ExactDouble extends ScoreMode {
    private[search] def round(x: Double): Double = x
  }
}
