package graft.search

import graft.codec.SmallFloat
import graft.index.Jobs

/** Block-max-WAND-style pruned top-k (north-star requirement; additive over
  * the reference — Lucene 4.10 predates impacts, /root/repo/SURVEY.md §4.2).
  *
  * Every posting row carries block-max metadata (maxFreq, minDl). For ANY
  * boolean tree of term/phrase leaves, a docId range's score is
  * upper-bounded by a recursive bound over the tree (MUST bounds sum raw,
  * SHOULD bounds clamp at 0, phrase bounds from member-row extremes);
  * additionally a range can only contain a match if every MUST subtree and
  * >= minShouldMatch SHOULD subtrees are matchable there (the reference's
  * leapfrog cost-ordering of conjunctionScorer.go:16-40, restated
  * range-wise and recursively). Two phases:
  *
  *  1. evaluate the B highest-bound eligible ranges → candidate top-k →
  *     threshold τ = kth score;
  *  2. evaluate only the remaining eligible ranges whose bound reaches τ
  *     (>= — an exactly-attainable bound can hide a tie-break winner).
  *
  * Ranges skipped in phase 2 provably contain no top-k doc, so the returned
  * top-k (docIds AND scores) is identical to the exhaustive search — verified
  * by WandSpec against the exact path. Only totalHits degrades to a lower
  * bound. Both phases read row *metadata* without payloads (Parquet column
  * pruning); payload decode happens only for surviving ranges.
  *
  * Scale: the bound scan is one plain RDD over the postings reader's
  * per-file read ([[IndexSearcher.rowBoundsByRange]]): metadata columns
  * only, grouped by rangeId on the range partitions of the distributed
  * evaluation, so its shuffle moves a few bytes per row and builds no
  * Catalyst plan. Phase 1 is a `takeOrdered` of that RDD, phase 2 filters
  * the same RDD (both read the one shuffle's output), and surviving-range
  * selection collects at most [[SurvivorCollectMax]] ids — beyond that the
  * survivor set stays distributed and joins the posting rows on the range
  * partitions, so nothing driver-side grows with the corpus.
  */
object Wand {

  /** Survivor sets up to this size are collected and pushed down as a
    * rangeId predicate (row-group and page pruning); larger sets stay
    * distributed ([[RangeSel.Df]]). Bounded constant — never O(corpus).
    */
  val SurvivorCollectMax = 256

  /** Safe per-row upper bound for one term's score within the row's range:
    * freq ≤ maxFreq and dl ≥ minDl. byte315 is monotone INCREASING: a larger
    * byte decodes to a larger norm float, i.e. a SMALLER decoded doc length
    * and a HIGHER BM25 score. Docs in the range carry bytes ≤
    * encode(1/√minDl) = b, so stepping UP one bucket (b+1) upper-bounds the
    * Ref32 score of any byte ≤ b (encode rounds down: decode(b) ≤ 1/√minDl <
    * decode(b+1), hence decodedLen(b+1) < minDl ≤ decodedLen(b)).
    * Evaluates the scorer's boundScore, not score: models whose score is
    * NOT nonincreasing in dl (LM Pitman-Yor) supply their own valid bound
    * (advisor round-4 fix).
    */
  private[search] def rowBound(scorer: Similarity.Scorer, maxFreq: Int, minDl: Int): Float = {
    val b = SmallFloat.floatToByte315(
      (1.0 / math.sqrt(math.max(minDl, 1).toDouble)).toFloat)
    val safeByte = math.min((b & 0xff) + 1, 255).toByte
    scorer.boundScore(maxFreq.toFloat, safeByte)
  }

  /** Pruned top-k for ANY query tree of term/phrase leaves and nested
    * booleans (MUST/SHOULD/FILTER/MUST_NOT at every level, any
    * minShouldMatch, dismax, constant score) — the bound tree is derived
    * from the plan the searcher compiled.
    *
    * Route: a query with no term leaves, only df=1 terms, or postings
    * within the searcher's driver-local bound ([[IndexSearcher.fitsDriver]])
    * takes the searcher's own path — one row fetch fills the row cache, so
    * a repeat costs zero Spark jobs. Only above the bound, where skipping
    * payload reads pays for the bound-scan rounds, does pruning run.
    *
    * totalHits: EXACT (`totalHitsIsLowerBound == false`) on that route and
    * when too few phase-1 candidates force the exhaustive fallback; a LOWER
    * BOUND when pruning ran (skipped ranges are never counted). It depends
    * only on posting volume against the bound, never on cache state. The
    * top-k (docIds and scores) is identical to exhaustive search either way.
    */
  def searchTopK(searcher: IndexSearcher, q0: Query, k: Int,
      mode: ScoreMode = ScoreMode.Ref32, phase1Ranges: Int = 64): TopDocs = {
    val q = Query.rewrite(searcher.expandPrefixes(q0))
    if (Query.leafKeys(q, searcher.field).isEmpty) return searcher.search(q, k, mode)
    val p = searcher.prepare(q, mode)
    if (p.stats.terms.values.forall(_.docFreq == 1) || searcher.fitsDriver(p))
      searcher.evalRanges(p, None, k)
    else pruned(searcher, p, k, phase1Ranges)
  }

  /** Serializable range-bound tree mirroring the compiled query plan: one
    * node per scoring clause (a term duplicated across clauses scores once
    * per clause in Eval, so each clause carries its OWN scorer and bounds
    * sum per clause). Leaves name their term by its index into the plan's
    * keys. MUST_NOT children are dropped entirely — they only remove docs,
    * so ignoring them keeps the bound an upper bound and the eligibility a
    * superset. `BNever` marks a subtree that can match nowhere (a
    * term/phrase member with no dictionary entry).
    */
  private sealed trait BNode extends Serializable
  private final case class BTerm(idx: Int, scorer: LeafScorer) extends BNode
  private final case class BPhrase(idxs: Array[Int], scorer: LeafScorer, slop: Int) extends BNode
  /** `filters` are Occur.FILTER children: gate eligibility like MUST,
    * contribute exactly 0 to the bound (they never score).
    */
  private final case class BBool(must: Array[BNode], should: Array[BNode],
      filters: Array[BNode], msm: Int) extends BNode
  /** DisjunctionMax bound: (1−tie)·max + tie·sum over ELIGIBLE children
    * bounds — an upper bound for tie ∈ [0,1] because the matching set is a
    * subset of the eligible set and each per-clause score ≤ its bound.
    */
  private final case class BDisMax(children: Array[BNode], tie: Float) extends BNode
  /** ConstantScore bound: exactly the constant; eligibility = child's. */
  private final case class BConst(child: BNode, score: Float) extends BNode
  private case object BNever extends BNode

  /** Bound tree of a compiled plan. Leaves reuse the plan's mode-bound
    * scorers ([[LeafScorer.bound]]), so τ and every bound share the
    * arithmetic the evaluation runs in. A BooleanQuery whose MUST or FILTER
    * child can match nowhere collapses to BNever.
    */
  private def boundTree(n: CNode): BNode = {
    def walk(n: CNode): BNode = n match {
      case CLeafTerm(idx, _, sc) => if (idx < 0) BNever else BTerm(idx, sc)
      case CLeafPhrase(idxs, _, sc, slop) => BPhrase(idxs, sc, slop)
      case CBool(must0, should0, filters0, _, msm, _) =>
        val must = must0.map(walk)
        // an unmatchable SHOULD clause never counts toward msm
        val should = should0.map(walk).filter(_ != BNever)
        val filters = filters0.map(walk)
        if (must.contains(BNever) || filters.contains(BNever)) BNever
        else if (should.length < msm) BNever
        else if (must.isEmpty && should.isEmpty && filters.isEmpty) BNever
        else BBool(must, should, filters, msm)
      case CDisMax(cs, tie) =>
        val children = cs.map(walk).filter(_ != BNever)
        if (children.isEmpty) BNever else BDisMax(children, tie)
      case CConst(child, s) =>
        walk(child) match { // child gates only; boost lives in the constant
          case BNever => BNever
          case c => BConst(c, s)
        }
    }
    walk(n)
  }

  /** Per-range (bound, canMatch) over the tree given the range's per-term
    * (maxFreq, minDl) row lists (null = the term has no row in the range).
    * MUST bounds sum raw (negative-scoring LM models: every MUST clause
    * matches), SHOULD bounds clamp at 0 (a non-matching clause contributes
    * 0 — a common term's negative bound must not drag the range below a doc
    * matching only the rare term). Eligibility: every MUST child matchable,
    * >= msm SHOULD children matchable, and — with no MUSTs — at least one
    * scoring child matchable (terms cannot match from another range).
    */
  private def evalNode(n: BNode,
      byIdx: Array[scala.collection.mutable.ArrayBuffer[(Int, Int)]]): (Double, Boolean) =
    n match {
      case BTerm(idx, sc) => byIdx(idx) match {
        case null => (0.0, false)
        case rs => (rs.iterator.map(e => sc.bound(e._1, e._2)).sum, true)
      }
      case BPhrase(idxs, sc, slop) =>
        // slop=0: phraseFreq <= min over members of the range's maxFreq.
        // slop>0: matches anchor on the FIRST member's positions, and one
        // later-member position can serve MANY anchors — only the first
        // member's maxFreq bounds the count. Either way a matching doc
        // contains EVERY member, so max over members' minDl is a valid dl
        // lower bound (a sloppy match still requires every member present).
        if (idxs.forall(byIdx(_) != null)) {
          val maxF =
            if (slop == 0) idxs.iterator.map(i => byIdx(i).iterator.map(_._1).max).min
            else byIdx(idxs(0)).iterator.map(_._1).max
          val minDl = idxs.iterator.map(i => byIdx(i).iterator.map(_._2).min).max
          (sc.bound(maxF, minDl), true)
        } else (0.0, false)
      case BBool(must, should, filters, msm) =>
        var bound = 0.0
        var ok = true
        var i = 0
        while (i < must.length) {
          val (b, e) = evalNode(must(i), byIdx)
          if (!e) ok = false
          bound += b
          i += 1
        }
        i = 0
        while (i < filters.length) { // gate like MUST, bound contribution 0
          val (_, e) = evalNode(filters(i), byIdx)
          if (!e) ok = false
          i += 1
        }
        var sat = 0
        i = 0
        while (i < should.length) {
          val (b, e) = evalNode(should(i), byIdx)
          if (e) { sat += 1; bound += math.max(0.0, b) }
          i += 1
        }
        if (sat < msm) ok = false
        if (must.isEmpty && filters.isEmpty && sat == 0) ok = false
        (bound, ok)
      case BDisMax(children, tie) =>
        var mx = 0.0
        var sm = 0.0
        var any = false
        var i = 0
        while (i < children.length) {
          val (b, e) = evalNode(children(i), byIdx)
          if (e) {
            any = true
            sm += b
            if (b > mx) mx = b
          }
          i += 1
        }
        if (any) (mx + tie.toDouble * (sm - mx), true) else (0.0, false)
      case BConst(child, s) =>
        val (_, e) = evalNode(child, byIdx)
        (if (e) s.toDouble else 0.0, e)
      case BNever => (0.0, false)
    }

  private def pruned(searcher: IndexSearcher, p: Prepared, k: Int, phase1Count: Int): TopDocs = {
    val root = boundTree(p.ge.planRoot)
    if (root == BNever) return TopDocs(0, Array.empty)

    // terms the tree actually scores (MUST_NOT and unmatchable leaves are out)
    def treeIdxs(n: BNode): Seq[Int] = n match {
      case BTerm(idx, _) => Seq(idx)
      case BPhrase(idxs, _, _) => idxs.toSeq
      // filter terms are needed for ELIGIBILITY even though they never score
      case BBool(m, s0, f0, _) => (m ++ s0 ++ f0).flatMap(treeIdxs).toSeq
      case BDisMax(cs0, _) => cs0.flatMap(treeIdxs).toSeq
      case BConst(c0, _) => treeIdxs(c0)
      case BNever => Nil
    }
    val scoringKeys = treeIdxs(root).distinct.map(p.keys)

    // per-range bound + eligibility over the range's metadata rows, which
    // one shuffle groups by rangeId; both phases' jobs read that shuffle's
    // output, so the metadata is scanned once per query
    val termIdx = p.keys.zipWithIndex.toMap
    val eligible = searcher.rowBoundsByRange(scoringKeys).flatMap { case (rangeId, rows) =>
      val byIdx = new Array[scala.collection.mutable.ArrayBuffer[(Int, Int)]](termIdx.size)
      rows.foreach { case (key, maxFreq, minDl) =>
        val i = termIdx(key)
        if (byIdx(i) == null) byIdx(i) = scala.collection.mutable.ArrayBuffer.empty
        byIdx(i) += ((maxFreq, minDl))
      }
      val (b, e) = evalNode(root, byIdx)
      if (e) Some((rangeId, b)) else None
    }

    // phase 1: best-bound eligible ranges (bound desc, rangeId asc; a
    // distributed top-B, tiny)
    val phase1 = Jobs.describe(eligible.sparkContext, s"graft wand phase 1 bounds: ${p.keyText}") {
      eligible.takeOrdered(phase1Count)(
        Ordering.by[(Long, Double), (Double, Long)](r => (-r._2, r._1)))
    }
    if (phase1.isEmpty) return TopDocs(0, Array.empty)
    val phase1Set = phase1.map(_._1).toSet
    val r1 = searcher.evalRanges(p, Some(RangeSel.Ids(phase1Set.toSeq)), k)
    if (r1.scoreDocs.length < k) {
      // not enough candidates among the best ranges → exhaustive (rare:
      // k larger than phase-1 coverage)
      return searcher.evalRanges(p, None, k)
    }
    val tau = r1.scoreDocs.last.score

    // phase 2: only eligible ranges that can still beat τ. Collect a BOUNDED
    // prefix: small survivor sets get a rangeId pushdown, anything larger
    // stays distributed and joins the rows on the range partitions.
    // bound >= τ, NOT strict >: for norm-insensitive scorers (b=0) the bound
    // is exactly attainable, and a doc scoring exactly τ with a smaller docId
    // wins the (score desc, docId asc) tie-break — strict > would prune it
    // and break 'pruned ≡ exhaustive' (advisor round-2 fix, WandSpec case)
    val survivors = eligible.filter(r => r._2 >= tau && !phase1Set(r._1)).map(_._1)
    val probe = Jobs.describe(eligible.sparkContext, s"graft wand phase 2 survivors: ${p.keyText}") {
      survivors.mapPartitions(_.take(SurvivorCollectMax + 1)).collect()
    }
    val merged = new BoundedHitQueue(k)
    r1.scoreDocs.foreach(d => merged.insert(d.docId, d.score))
    var total = r1.totalHits
    if (probe.nonEmpty) {
      val sel =
        if (probe.length <= SurvivorCollectMax) RangeSel.Ids(probe.toSeq)
        else RangeSel.Df(survivors)
      val r2 = searcher.evalRanges(p, Some(sel), k)
      r2.scoreDocs.foreach(d => merged.insert(d.docId, d.score))
      total += r2.totalHits
    }
    TopDocs(total, merged.toSortedArray, totalHitsIsLowerBound = true)
  }
}
