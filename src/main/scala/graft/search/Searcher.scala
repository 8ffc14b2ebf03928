package graft.search

import scala.reflect.ClassTag

import org.apache.spark.Partitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.codec.PostingsCodec
import graft.index.{IndexManifest, Jobs, PointReader}
import org.apache.parquet.example.data.Group
import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate, Operators}
import org.apache.parquet.io.api.Binary
import org.apache.spark.unsafe.types.UTF8String

/** Compiled, serializable query plan: per-leaf scorers bound to term indexes
  * within the query's term universe (up to 1024 distinct terms, mirroring the
  * reference's maxClauseCount — presence checks read the per-term freq
  * arrays directly, so no bitmask width limit applies). `fi` is the leaf's
  * field index: dl/norm are PER FIELD (a keyword field's dl=1 must not leak
  * into a content leaf's BM25 normalization and vice versa).
  */
private[search] sealed trait CNode extends Serializable
private[search] final case class CLeafTerm(idx: Int, fi: Int, scorer: LeafScorer) extends CNode
private[search] final case class CLeafPhrase(
    idxs: Array[Int], fi: Int, scorer: LeafScorer, slop: Int) extends CNode
/** coords(i) = similarity.coord(i, maxOverlap) — 1.0 for BM25-family.
  * `filters` are Occur.FILTER clauses: must match, contribute no score and
  * no coord overlap (maxOverlap counts scoring clauses only).
  */
private[search] final case class CBool(
    must: Array[CNode], should: Array[CNode], filters: Array[CNode],
    mustNot: Array[CNode], msm: Int, coords: Array[Float]) extends CNode
/** DisjunctionMax: (1−tie)·max + tie·sum over MATCHING children, computed
  * as `mx + tie*(sm − mx)` with `sm` accumulated in clause order (the
  * expression shape the SQL oracle mirrors). No coord.
  */
private[search] final case class CDisMax(children: Array[CNode], tie: Float) extends CNode
/** ConstantScore: child gates the match, `score` is emitted verbatim (no
  * norm/queryNorm/coord — engine spec, see [[ConstantScoreQuery]]).
  */
private[search] final case class CConst(child: CNode, score: Float) extends CNode

/** A plan leaf's scorer, bound to the plan's score mode when the plan
  * compiles: the leaf's score, its WAND range bound and its explain factors,
  * each from a freq plus the slot's norm byte (Ref32) or exact dl
  * (ExactDouble) in the leaf's field. Values are the mode's arithmetic
  * widened to Double.
  */
private[search] sealed trait LeafScorer extends Serializable {
  def score(freq: Int, acc: RangeAccum, fi: Int, slot: Int): Double
  /** Upper bound of `score` over freq ≤ maxFreq and dl ≥ minDl. */
  def bound(maxFreq: Int, minDl: Int): Double
  /** Factors whose product in mode arithmetic, in order, equals `score`. */
  def explainFactors(freq: Int, acc: RangeAccum, fi: Int, slot: Int): Seq[(String, Double)]
}
private[search] final case class Ref32Leaf(s: Similarity.Scorer) extends LeafScorer {
  def score(freq: Int, acc: RangeAccum, fi: Int, slot: Int): Double =
    s.score(freq.toFloat, acc.norms(fi)(slot)).toDouble
  def bound(maxFreq: Int, minDl: Int): Double = Wand.rowBound(s, maxFreq, minDl).toDouble
  def explainFactors(freq: Int, acc: RangeAccum, fi: Int, slot: Int): Seq[(String, Double)] =
    s.explainFactors(freq.toFloat, acc.norms(fi)(slot)).map { case (l, x) => (l, x.toDouble) }
}
/** The bound evaluates the exact scorer's boundScore at (maxFreq, minDl) —
  * τ and bounds share the float64 arithmetic (a float32 bound one ulp below
  * a float64 τ could prune a tie-break winner when the norm-quantization
  * margin vanishes, e.g. b=0). boundScore defaults to score, valid for every
  * model nondecreasing in freq and nonincreasing in dl; LM Pitman-Yor (whose
  * discount term grows with dl) overrides it with a dl-independent bound.
  */
private[search] final case class ExactLeaf(s: Similarity.ExactScorer) extends LeafScorer {
  def score(freq: Int, acc: RangeAccum, fi: Int, slot: Int): Double =
    s.score(freq.toDouble, acc.dls(fi)(slot).toDouble)
  def bound(maxFreq: Int, minDl: Int): Double =
    s.boundScore(maxFreq.toDouble, math.max(minDl, 1).toDouble)
  def explainFactors(freq: Int, acc: RangeAccum, fi: Int, slot: Int): Seq[(String, Double)] =
    s.explainFactors(freq.toDouble, acc.dls(fi)(slot).toDouble)
}

/** Range selection for filtered evaluation (WAND phases, explain).
  *
  * `Ids` is for BOUNDED driver-side lists (phase-1 budget, a single explain
  * range): the rangeId predicate prunes row groups and pages. `Df` is the
  * scale path for unbounded survivor sets: the distributed rangeIds join the
  * posting rows through the range partitioner of the distributed evaluation
  * ([[RangeJob.byRange]]) — nothing range-shaped is ever collected to the
  * driver.
  */
private[search] sealed trait RangeSel
private[search] object RangeSel {
  final case class Ids(ids: Seq[Long]) extends RangeSel
  final case class Df(rangeIds: RDD[Long]) extends RangeSel
}

/** The statistics one query compiles and scores with, resolved once per
  * query by the searcher's stats source: dictionary stats of its present
  * (field, term) keys, collection stats per field, and the docIds the
  * dictionary inlines for docFreq == 1 keys (singleton pulsing, reference
  * postingsWriter.go:412-417; empty for merged cross-shard stats). A value:
  * the plan, the singleton path, WAND's bounds and explain all read the
  * same numbers, whatever happens to any cache meanwhile.
  */
private[search] final case class StatsView(
    terms: Map[(String, String), TermStats],
    fields: Map[String, CollectionStats],
    singletons: Map[(String, String), Long])

/** Compiled query + everything the executors need: the expanded, rewritten
  * query, its distinct (field, term) keys (a leaf's term index points into
  * `keys`), the statistics it compiled with and the per-range evaluator
  * holding the plan. Exhaustive search, explain and WAND's bound tree all
  * read this one compilation.
  */
private[search] final case class Prepared(
    q: Query, keys: Seq[(String, String)], stats: StatsView, ge: GroupEval) {
  /** The keys as `field:term` words — the query in job descriptions. */
  def keyText: String = keys.map { case (f, t) => s"$f:$t" }.mkString(" ")
}

/** Key of one entry in a commit's byte-bounded LRU; `V` is the value
  * stored under it and `weight` its approximate heap size in bytes.
  */
private[search] sealed abstract class CacheKey[V] {
  def weight(v: V): Long
}
/** Dictionary stats of one (field, term) and its inlined singleton docId
  * (negative unless docFreq == 1); None: the term is not in the dictionary.
  */
private[search] final case class StatsKey(field: String, term: String)
    extends CacheKey[Option[(TermStats, Long)]] {
  def weight(v: Option[(TermStats, Long)]): Long = 160L + 4L * (field.length + term.length)
}
/** Collected posting rows of one (field, term), with or without positions. */
private[search] final case class RowsKey(field: String, term: String, positions: Boolean)
    extends CacheKey[Array[PRow]] {
  def weight(rs: Array[PRow]): Long =
    rs.map(r => 64L + r._5.length + (if (r._6 == null) 0 else r._6.length)).sum
}
/** Sorted dictionary terms of one multi-term leaf (boost and field cleared). */
private[search] final case class ExpansionKey(field: String, leaf: MultiTermQuery)
    extends CacheKey[Seq[String]] {
  def weight(ts: Seq[String]): Long = 64L + ts.map(48L + 2L * _.length).sum
}
/** Spelling suggestions (term, docFreq, distance) for one input: the
  * first topN, or all of them when None.
  */
private[search] final case class SuggestKey(input: String, maxEdits: Int, topN: Option[Int],
    field: String) extends CacheKey[Seq[(String, Long, Int)]] {
  def weight(ss: Seq[(String, Long, Int)]): Long = 64L + ss.map(64L + 2L * _._1.length).sum
}
/** Stored-doc row of one docId (None: the docs table has no such doc). */
private[search] final case class DocKey(docId: Long)
    extends CacheKey[Option[graft.index.DocRow]] {
  def weight(d: Option[graft.index.DocRow]): Long = 64L + d.fold(0L)(r =>
    2L * (r.repo.length + r.path.length + r.commit.length + r.lang.length +
      r.contentSha.length) + r.fieldDls.keys.map(48L + 2L * _.length).sum)
}

/** Per-doc leaf data assembled from decoded postings for one docId range. */
private[search] final class RangeAccum(
    val base: Long,
    val width: Int,
    val numTerms: Int,
    numFields: Int,
    needPositions: Array[Boolean]) {
  val touched = new Array[Boolean](width)
  val dls: Array[Array[Int]] = Array.tabulate(numFields)(_ => new Array[Int](width))
  val norms: Array[Array[Byte]] = Array.tabulate(numFields)(_ => new Array[Byte](width))
  val freqs: Array[Array[Int]] = Array.tabulate(numTerms)(_ => new Array[Int](width))
  val positions: Array[Array[Array[Int]]] =
    needPositions.map(n => if (n) new Array[Array[Int]](width) else null)
}

private[search] object Eval {
  /** Score of `node` at one slot in mode `m`'s arithmetic; NaN = no match.
    * Leaves score through their mode-bound [[LeafScorer]]; every `+`, `-`
    * and `*` composing them goes through `m.round`, so Ref32 reproduces
    * float32 sums in clause order and ExactDouble stays float64.
    * Boolean semantics follow the reference planner
    * (/root/reference/core/search/boolean.go:133-252): all MUST match, no
    * MUST_NOT matches, ≥minShouldMatch SHOULD match, at least one scoring
    * clause matches; score = sum of matching clause scores (BM25 coord = 1,
    * /root/reference/core/search/similarities/similarity.go:34-36).
    */
  def eval(node: CNode, acc: RangeAccum, slot: Int, m: ScoreMode): Double = node match {
    case CLeafTerm(idx, fi, scorer) =>
      if (idx >= 0 && acc.freqs(idx)(slot) > 0) scorer.score(acc.freqs(idx)(slot), acc, fi, slot)
      else Double.NaN
    case CLeafPhrase(idxs, fi, scorer, slop) =>
      val pf = phraseFreq(idxs, acc, slot, slop)
      if (pf > 0) scorer.score(pf, acc, fi, slot) else Double.NaN
    case CBool(must, should, filters, mustNot, msm, coords) =>
      var score = 0.0
      var i = 0
      while (i < mustNot.length) {
        if (!eval(mustNot(i), acc, slot, m).isNaN) return Double.NaN
        i += 1
      }
      i = 0
      while (i < filters.length) { // must match, contributes nothing
        if (eval(filters(i), acc, slot, m).isNaN) return Double.NaN
        i += 1
      }
      i = 0
      while (i < must.length) {
        val s = eval(must(i), acc, slot, m)
        if (s.isNaN) return Double.NaN
        score = m.round(score + s)
        i += 1
      }
      var matched = 0
      i = 0
      while (i < should.length) {
        val s = eval(should(i), acc, slot, m)
        if (!s.isNaN) { matched += 1; score = m.round(score + s) }
        i += 1
      }
      if (matched < msm) return Double.NaN
      // with a FILTER present, SHOULD clauses are truly optional (Lucene:
      // any required clause — MUST or FILTER — makes SHOULD score-only)
      if (must.isEmpty && filters.isEmpty && matched == 0) return Double.NaN
      // coord is 1.0f for every model but TF-IDF, where the float32 factor
      // (widened) is what the SQL oracle reproduces (×1.0 is bit-exact)
      m.round(score * coords(must.length + matched).toDouble)
    case CDisMax(children, tie) =>
      var mx = Double.NaN
      var sm = 0.0
      var i = 0
      while (i < children.length) {
        val s = eval(children(i), acc, slot, m)
        if (!s.isNaN) {
          sm = m.round(sm + s)
          if (mx.isNaN || s > mx) mx = s
        }
        i += 1
      }
      if (mx.isNaN) Double.NaN else m.round(mx + m.round(tie.toDouble * m.round(sm - mx)))
    case CConst(child, s) =>
      if (eval(child, acc, slot, m).isNaN) Double.NaN else s.toDouble
  }

  /** Phrase occurrence count. slop=0: #positions p of term0 such that term
    * i sits at p+i for all i (semantics of
    * /root/reference/core/search/exactPhraseScorer.go:141-279, without the
    * 4096-chunking — position arrays here are per-doc and small). slop>0:
    * the engine's DEFINED sloppy spec (the reference stubs sloppy phrases,
    * phrase.go:87,165): p matches when the total displacement
    * Σᵢ minₚ∈Pᵢ |p − (p+i)| ≤ slop, each later term independently snapping
    * to its nearest position (separable per term given the anchor, so it is
    * exactly reproducible by the ANSI-SQL oracle; reorders match at
    * slop ≥ 2). Repeated terms may snap to one shared position — documented
    * behavior of this spec.
    */
  def phraseFreq(idxs: Array[Int], acc: RangeAccum, slot: Int, slop: Int): Int = {
    var i = 0
    while (i < idxs.length) {
      val idx = idxs(i)
      if (idx < 0 || acc.freqs(idx)(slot) == 0) return 0
      if (acc.positions(idx) == null || acc.positions(idx)(slot) == null) return 0
      i += 1
    }
    val first = acc.positions(idxs(0))(slot)
    var count = 0
    var j = 0
    while (j < first.length) {
      val p = first(j)
      if (slop == 0) {
        var ok = true
        var k = 1
        while (ok && k < idxs.length) {
          ok = java.util.Arrays.binarySearch(acc.positions(idxs(k))(slot), p + k) >= 0
          k += 1
        }
        if (ok) count += 1
      } else {
        var d = 0
        var k = 1
        while (d <= slop && k < idxs.length) {
          val arr = acc.positions(idxs(k))(slot)
          val target = p + k
          val ins = java.util.Arrays.binarySearch(arr, target)
          if (ins < 0) { // distance to the nearest position around the slot
            val ip = -ins - 1
            var best = Int.MaxValue
            if (ip < arr.length) best = arr(ip) - target
            if (ip > 0 && target - arr(ip - 1) < best) best = target - arr(ip - 1)
            d += best
          }
          k += 1
        }
        if (d <= slop) count += 1
      }
      j += 1
    }
    count
  }
}

/** Everything searchers derive from one commit of one index: manifest,
  * point readers, the docs table, field statistics and the byte-bounded LRU
  * (the reference's query-cache analogue; a commit is a point-in-time view,
  * so entries never go stale) of what is read per query input: term stats
  * (absent terms included), posting rows, multi-term expansions,
  * suggestions and stored docs. Nothing here depends on deletes,
  * similarity or other indexes, so every searcher view of the commit shares
  * one instance and pays each read once.
  */
private[search] final class CommitState(spark: SparkSession, val indexPath: String) {
  val manifest: IndexManifest = IndexManifest.load(spark, indexPath)

  /** Parquet point readers, the only read of the terms and postings
    * tables: driver lookups (term stats, prefix and range expansion, posting
    * rows, stored docs) read through these with no Spark job, and every job
    * over terms or postings runs the same per-file read in its tasks
    * ([[PointReader.rdd]]). Each reads exactly the files the commit lists,
    * so a wave written or merged after the commit, committed or not, is
    * invisible to it.
    */
  private def hadoopConf = spark.sparkContext.hadoopConfiguration
  val termsReader = new PointReader(hadoopConf, manifest.termsPaths)
  val postingsReader = new PointReader(hadoopConf, manifest.paths("postings"))
  val docsReader = new PointReader(hadoopConf, manifest.paths("docs"))

  /** Stored docs as a Spark table for facets, sort, grouping and
    * match-all; version-1 indexes predate per-field dls and read an empty
    * map (the per-field read paths fall back to dl).
    */
  lazy val docsDF: DataFrame = {
    val d = spark.read.option("basePath", s"$indexPath/docs").parquet(docsReader.paths: _*)
    if (d.columns.contains("fieldDls")) d
    else d.withColumn("fieldDls", typedLit(Map.empty[String, Int]))
  }

  /** Per-field statistics: the manifest's copy (no I/O), or the fieldstats
    * table for manifests written before the copy existed.
    */
  lazy val fieldStats: Map[String, CollectionStats] =
    manifest.fieldStatsOrTable(hadoopConf).map(fs => fs.field ->
      CollectionStats(fs.field, maxDoc = fs.maxDoc, docCount = fs.docCount,
        sumTotalTermFreq = fs.sumTotalTermFreq, sumDocFreq = fs.sumDocFreq)).toMap

  /** docId ranges of the commit, and the partitions of its distributed
    * range evaluation: one per range, at most the cluster's default
    * parallelism. A range's posting rows and its delete array land in the
    * same partition index.
    */
  lazy val rangeCount: Long = {
    val hi = if (manifest.maxDocId >= 0) manifest.maxDocId else manifest.maxDoc - 1
    math.max(hi, 0L) / manifest.docsPerRange + 1
  }
  lazy val rangeParts: Int =
    math.min(rangeCount, spark.sparkContext.defaultParallelism.toLong).toInt

  /** This commit's own statistics of `keys`: dictionary stats and singleton
    * ids through the LRU (one terms point read for the keys it misses), and
    * the field statistics.
    */
  def stats(keys: Seq[(String, String)]): StatsView = {
    val entries = getAll(keys.distinct, None: Option[(TermStats, Long)])(k =>
        StatsKey(k._1, k._2)) { missing =>
      termsReader.read(Seq("field", "term", "docFreq", "totalTermFreq", "singletonDocId"),
          Some(PointReader.pairs(missing))) { g =>
        val (f, t) = (g.getString("field", 0), g.getString("term", 0))
        (f, t) -> Some((TermStats(f, t, g.getLong("docFreq", 0), g.getLong("totalTermFreq", 0)),
          g.getLong("singletonDocId", 0)))
      }.toMap
    }.flatten
    StatsView(entries.map { case (ts, _) => (ts.field, ts.term) -> ts }.toMap, fieldStats,
      entries.collect { case (ts, sid) if ts.docFreq == 1 && sid >= 0 =>
        (ts.field, ts.term) -> sid }.toMap)
  }

  /** The LRU's byte budget ([[IndexSearcher.rowCacheMaxBytes]]). */
  @volatile var maxBytes: Long = 64L << 20
  private var bytes = 0L
  private val lru = new java.util.LinkedHashMap[CacheKey[_], (Any, Long)](64, 0.75f, true)

  def get[V](key: CacheKey[V]): Option[V] =
    lru.synchronized(Option(lru.get(key)).map(_._1.asInstanceOf[V]))

  /** Insert unless present, then evict least-recently-used entries down to
    * the budget — never the entry just inserted (the live query needs it).
    */
  def put[V](key: CacheKey[V], v: V): Unit = lru.synchronized {
    if (!lru.containsKey(key)) {
      val w = key.weight(v)
      lru.put(key, (v, w))
      bytes += w
      val it = lru.entrySet().iterator()
      while (bytes > maxBytes && it.hasNext) {
        val e = it.next()
        if (e.getKey != key) {
          bytes -= e.getValue._2
          it.remove()
        }
      }
    }
  }

  def cached[V](key: CacheKey[V])(compute: => V): V =
    get(key).getOrElse { val v = compute; put(key, v); v }

  /** The values of `keys`: cached entries, plus one `fetch` of the missing
    * keys, whose results enter the LRU (`absent` for a key it omits).
    */
  def getAll[K, V](keys: Seq[K], absent: V)(key: K => CacheKey[V])(
      fetch: Seq[K] => Map[K, V]): Seq[V] = {
    val hits = keys.map(k => k -> get(key(k)))
    val missing = hits.collect { case (k, None) => k }
    val fetched = if (missing.isEmpty) Map.empty[K, V] else fetch(missing)
    missing.foreach(k => put(key(k), fetched.getOrElse(k, absent)))
    hits.map { case (k, hit) => hit.getOrElse(fetched.getOrElse(k, absent)) }
  }

  /** Summed weight of the LRU's entries. */
  def bytesInUse: Long = lru.synchronized(bytes)

  def clear(): Unit = lru.synchronized { lru.clear(); bytes = 0L }
}

/** Distributed BM25 top-k search over a built index.
  *
  * Read-path plan (restating /root/repo/SURVEY.md §3.2 Spark-first):
  * query-term stats resolve from the terms dictionary via a driver-side
  * lookup shipped inside the compiled plan (the "broadcast query-term
  * dictionary"); postings rows of the query (field, term) pairs are read
  * with parquet predicate pushdown — on the driver below
  * [[localSearchMaxPostings]], else by one executor task per postings file
  * in one plain RDD job — and grouped by their docId range: every
  * boolean/phrase combination completes WITHIN a range group (all terms'
  * rows for a range meet there), so no per-document shuffle ever happens;
  * per-partition top-k heaps then merge on the driver (treeAggregate
  * pattern, reference collector semantics
  * /root/reference/core/search/collect.go:193-346 incl. tie-break:
  * score desc, docId asc).
  *
  * Fielded leaves (TermQuery.field = Some(f)) resolve against that field's
  * postings and collection stats — the reference's multi-field model
  * (/root/reference/queryparser/classic/queryBuilder.go:23-130,
  * core/document/field.go:16-48) with keyword fields indexed as single
  * unanalyzed tokens (StringField).
  */
final class IndexSearcher private (
    spark: SparkSession,
    commit: CommitState,
    val field: String,
    val similarity: Similarity,
    extraDeletes: Array[Long],
    extraDeletesDF: Option[DataFrame],
    /** Delete sets up to this size ship as a sorted-docId broadcast
      * (8 B/doc); beyond it the searcher switches to the RANGED path:
      * per-rangeId delete arrays joined onto the query's posting rows
      * (per-segment liveDocs,
      * /root/reference/core/codec/lucene40/bitVector.go) — no `.collect()`
      * of deletes on the query path, so bulk refreshes (re-crawl 10% of a
      * corpus) can never blow the driver.
      */
    val deleteBroadcastMax: Long,
    /** The statistics a query scores with; None: the commit's own. */
    statsOf: Option[Seq[(String, String)] => StatsView],
    /** This searcher opened `commit`: its close() releases the LRU. */
    ownsCommit: Boolean) extends SearchModules with Serializable {
  import spark.implicits._

  /** A searcher over the index's current commit. */
  def this(spark: SparkSession, indexPath: String, field: String = "content",
      similarity: Similarity = new Bm25Similarity(),
      extraDeletes: Array[Long] = Array.emptyLongArray,
      extraDeletesDF: Option[DataFrame] = None,
      deleteBroadcastMax: Long = 1000000L) =
    this(spark, new CommitState(spark, indexPath), field, similarity, extraDeletes,
      extraDeletesDF, deleteBroadcastMax, None, ownsCommit = true)

  private[graft] def indexPath: String = commit.indexPath
  def manifest: IndexManifest = commit.manifest

  private lazy val persistedDeleteCount: Long =
    graft.index.Deletes.count(spark, indexPath)

  /** True when deletes evaluate via the distributed per-range join. */
  lazy val rangedDeletes: Boolean =
    extraDeletesDF.nonEmpty || persistedDeleteCount > deleteBroadcastMax

  /** liveDocs SMALL path: persisted deletes ∪ searcher-scoped extras, sorted
    * for binary search inside the range evaluator. Applied on every path —
    * matches, totalHits, explain — without touching postings.
    */
  private lazy val deletedSorted: Array[Long] =
    if (rangedDeletes) Array.emptyLongArray // all deletes ride the range join
    else {
      val persisted = graft.index.Deletes.load(spark, indexPath)
      if (extraDeletes.isEmpty) persisted
      else (persisted ++ extraDeletes).distinct.sorted
    }

  /** liveDocs RANGED path: (rangeId, sorted delete array) per range, every
    * array bounded by docsPerRange, partitioned and sorted like the
    * distributed evaluation's rows ([[RangeJob.deleteArrays]]); built and
    * persisted once per searcher view because deletes change rarely
    * relative to query volume.
    */
  @volatile private var delRangesInit = false
  private lazy val delRanges: RDD[(Long, Array[Long])] = {
    delRangesInit = true
    RangeJob.deleteArrays(
      deletesUnion.getOrElse(sys.error("ranged delete view with no delete sources")).as[Long].rdd,
      commit.rangeParts, manifest.docsPerRange)
      .setName(s"graft ranged deletes of $indexPath")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  /** Release what this searcher pins: its ranged-delete arrays and, on the
    * searcher that opened the commit (not on views derived from it), the
    * commit's LRU. Idempotent; the searcher and its views stay usable
    * (caches simply rebuild).
    */
  def close(): Unit = {
    if (delRangesInit) delRanges.unpersist(blocking = false)
    if (ownsCommit) commit.clear()
  }

  /** A view of this searcher's commit that differs in deletes, similarity
    * or stats source only. It shares the commit state — manifest, readers,
    * field stats, LRU — so it scores against the same commit as this
    * searcher, whatever was published since, and reads nothing twice.
    */
  private def view(
      similarity: Similarity = this.similarity,
      extraDeletes: Array[Long] = this.extraDeletes,
      extraDeletesDF: Option[DataFrame] = this.extraDeletesDF,
      statsOf: Option[Seq[(String, String)] => StatsView] = this.statsOf): IndexSearcher = {
    val v = new IndexSearcher(spark, commit, field, similarity, extraDeletes, extraDeletesDF,
      deleteBroadcastMax, statsOf, ownsCommit = false)
    v.localSearchMaxPostings = localSearchMaxPostings
    v
  }

  /** A view of this commit with additional (non-persisted) deleted docIds. */
  def withDeletes(docIds: Array[Long]): IndexSearcher =
    view(extraDeletes = extraDeletes ++ docIds)

  /** A view with every doc MATCHING `q` deleted (reference delete-by-query
    * buffering, /root/reference/core/index/bufferedDeletes.go): the match
    * set resolves through the distributed scoring path and rides the ranged
    * delete join — no docId ever touches the driver. Persist with
    * `graft.index.Deletes.append(spark, dir, ids)` when the deletion should
    * outlive the searcher.
    */
  def withDeletesQuery(q: Query): IndexSearcher =
    withDeletesDF(scoredDocs(q, ScoreMode.ExactDouble).map(_.docId).toDF("docId"))

  /** A view with an additional DISTRIBUTED delete set (first column = docId):
    * always evaluates via the ranged join, whatever its size.
    */
  def withDeletesDF(docIds: DataFrame): IndexSearcher = {
    val merged = extraDeletesDF match {
      case Some(prev) => prev.select(col(prev.columns.head).cast("long").as("docId"))
        .union(docIds.select(col(docIds.columns.head).cast("long").as("docId")))
      case None => docIds
    }
    view(extraDeletesDF = Some(merged))
  }

  /** A view of this commit scored by `sim` (statistics do not depend on
    * the similarity).
    */
  private[graft] def withSimilarity(sim: Similarity): IndexSearcher = view(similarity = sim)

  /** A view of this commit scoring with `statsOf`'s statistics — the merged
    * cross-shard view [[MultiSearcher]] runs each shard through.
    */
  private[search] def withStats(statsOf: Seq[(String, String)] => StatsView): IndexSearcher =
    view(statsOf = Some(statsOf))

  /** The statistics a query with `keys` scores with: the commit's own, or
    * the stats source this view was derived with.
    */
  private[search] def stats(keys: Seq[(String, String)]): StatsView =
    statsOf.fold(commit.stats(keys))(_(keys))

  /** This commit's own statistics of `keys`, whatever this view scores
    * with — what [[MultiSearcher]] sums across shards.
    */
  private[search] def localStats(keys: Seq[(String, String)]): StatsView = commit.stats(keys)

  /** Statistics of field `f`; fails naming the field when this index never
    * indexed it.
    */
  def collectionStats(f: String): CollectionStats =
    collectionStatsOpt(f).getOrElse(throw new IllegalArgumentException(
      s"field '$f' is not indexed in $indexPath (no fieldstats row)"))

  def collectionStats: CollectionStats = collectionStats(field)

  /** As [[collectionStats]] but None when this index never indexed `f` —
    * sharded search ([[MultiSearcher]]) merges stats across shards whose
    * field sets may differ.
    */
  def collectionStatsOpt(f: String): Option[CollectionStats] = stats(Nil).fields.get(f)

  /** Dictionary stats of the query's few (field, term) keys that are
    * present: a driver-side point read of the terms table for the keys the
    * commit's LRU misses (broadcast-join equivalent; the terms table never
    * ships anywhere), so repeated query terms cost zero jobs (the
    * reference's TermContext reuse).
    */
  def termStats(keys: Seq[(String, String)]): Map[(String, String), TermStats] =
    stats(keys).terms

  /** Single-field convenience (default field). */
  def termStatsOf(terms: Seq[String]): Map[String, TermStats] =
    termStats(terms.map(t => (field, t))).map { case ((_, t), ts) => t -> ts }

  /** Byte budget of the commit's LRU ([[CommitState]]), shared by every
    * view of the commit; close() of the searcher that opened the commit
    * empties it. Posting-row entries are bypassed under ranged deletes
    * (rows would bake in a join product).
    */
  def rowCacheMaxBytes: Long = commit.maxBytes
  def rowCacheMaxBytes_=(n: Long): Unit = commit.maxBytes = n

  /** Summed weight of the commit LRU's entries. */
  private[graft] def cacheBytesInUse: Long = commit.bytesInUse

  /** Compile a rewritten query into a plan whose leaves carry scorers
    * bound to `mode` — the one place a score mode is chosen. TF-IDF's
    * two-phase queryNorm (search.go:152-169: v = Σ leaf weight², qn = f(v);
    * 1 for every other model) runs in the mode's arithmetic: float32 boost
    * products and sums under Ref32, float64 under ExactDouble. Exact leaf
    * scorers still receive the float32 boost product, widened.
    */
  private def compile(
      q0: Query,
      view: StatsView,
      termIdx: Map[(String, String), Int],
      fieldIdx: Map[String, Int],
      mode: ScoreMode): CNode = {
    val sim = similarity
    val stats = view.terms
    val exact = mode == ScoreMode.ExactDouble
    def fld(of: Option[String]): String = of.getOrElse(field)
    def unsupported(q: Query): Nothing = q match {
      case p: MultiTermQuery => throw new IllegalStateException(
        s"unexpanded $p — expandPrefixes must run before compile")
      case _ => throw new IllegalArgumentException(
        s"$q inside a BooleanQuery is not supported — use it top-level or " +
          "as FilteredQuery(MatchAllQuery(), filter)")
    }
    def normWeight(ts: TermStats, fn: String, boost: Double): Double =
      if (exact) sim.exactValueForNormalization(ts, view.fields(fn), boost)
      else sim.valueForNormalization(ts, view.fields(fn), boost.toFloat).toDouble
    def v(q: Query, topBoost: Double): Double = q match {
      case TermQuery(t, boost, f) =>
        stats.get((fld(f), t)).fold(0.0)(normWeight(_, fld(f), mode.round(boost * topBoost)))
      case PhraseQuery(ts, boost, f, _) =>
        val fn = fld(f)
        if (ts.forall(t => stats.contains((fn, t))))
          normWeight(
            TermStats(fn, ts.mkString(" "),
              ts.map(t => stats((fn, t)).docFreq).min,
              ts.map(t => stats((fn, t)).totalTermFreq).sum),
            fn, mode.round(boost * topBoost))
        else 0.0
      case BooleanQuery(clauses, _, boost) =>
        // FILTER clauses are non-scoring: no queryNorm contribution (Lucene)
        clauses.filter(c => c.occur != Occur.MUST_NOT && c.occur != Occur.FILTER)
          .foldLeft(0.0)((s, c) => mode.round(s + v(c.query, mode.round(boost * topBoost))))
      case DisMaxQuery(cs, _, boost) =>
        cs.foldLeft(0.0)((s, c) => mode.round(s + v(c, mode.round(boost * topBoost))))
      case ConstantScoreQuery(_, _) => 0.0 // the constant is never normalized
      case FilteredQuery(q1, _) => v(q1, topBoost) // filter side never scores
      case other => unsupported(other)
    }
    val vq = v(Query.rewrite(q0), 1.0)
    val qn =
      if (exact) sim.exactQueryNorm(math.max(vq, Double.MinPositiveValue))
      else sim.queryNorm(math.max(vq.toFloat, Float.MinPositiveValue)).toDouble
    def termLeaf(ts: TermStats, cs: CollectionStats, b: Float): LeafScorer =
      if (exact) ExactLeaf(sim.exactTermScorer(ts, cs, b.toDouble).normalize(qn))
      else Ref32Leaf(sim.termScorer(ts, cs, b).normalize(qn.toFloat))
    def phraseLeaf(tss: Seq[TermStats], cs: CollectionStats, b: Float): LeafScorer =
      if (exact) ExactLeaf(sim.exactPhraseScorer(tss, cs, b.toDouble).normalize(qn))
      else Ref32Leaf(sim.phraseScorer(tss, cs, b).normalize(qn.toFloat))

    def node(q: Query, topBoost: Float): CNode = q match {
      case TermQuery(t, boost, f) =>
        val fn = fld(f)
        stats.get((fn, t)) match {
          case Some(ts) =>
            CLeafTerm(termIdx((fn, t)), fieldIdx(fn),
              termLeaf(ts, view.fields(fn), boost * topBoost))
          case None => CLeafTerm(-1, 0, null)
        }
      case PhraseQuery(ts, boost, f, slop) =>
        val fn = fld(f)
        if (ts.forall(t => stats.contains((fn, t))))
          CLeafPhrase(ts.map(t => termIdx((fn, t))).toArray, fieldIdx(fn),
            phraseLeaf(ts.map(t => stats((fn, t))), view.fields(fn), boost * topBoost), slop)
        else CLeafTerm(-1, 0, null)
      case BooleanQuery(clauses, msm, boost) =>
        val b = boost * topBoost
        val must = clauses.filter(_.occur == Occur.MUST).map(c => node(c.query, b)).toArray
        val should = clauses.filter(_.occur == Occur.SHOULD).map(c => node(c.query, b)).toArray
        val maxOverlap = must.length + should.length // scoring clauses only
        CBool(
          must, should,
          // filter scorers are compiled but their scores discarded (boost
          // immaterial) — only the presence test runs
          clauses.filter(_.occur == Occur.FILTER).map(c => node(c.query, 1.0f)).toArray,
          clauses.filter(_.occur == Occur.MUST_NOT).map(c => node(c.query, 1.0f)).toArray,
          msm,
          Array.tabulate(maxOverlap + 1)(i => sim.coord(i, math.max(maxOverlap, 1))))
      case DisMaxQuery(cs, tie, boost) =>
        CDisMax(cs.map(c => node(c, boost * topBoost)).toArray, tie)
      case ConstantScoreQuery(q1, s) =>
        // child gates only — its scorers are compiled but discarded
        CConst(node(q1, 1.0f), s)
      case f: FilteredQuery => // rewrite() desugars these before compile
        node(Query.rewrite(f), topBoost)
      case other => unsupported(other)
    }
    node(Query.rewrite(q0), 1.0f)
  }

  /** Sorted terms of field `f` in the UTF-8 byte range `range` passing
    * `check`, at most 1024 — the reference maxClauseCount as the rewrite
    * budget, so the read is bounded whatever the vocabulary; `what` names
    * the leaf and `remedy` the fix in the over-budget error. Each terms
    * file yields at most 1025 matches (one past the budget) in its term
    * order, and the files merge in UTF-8 binary order, Spark's
    * `orderBy("term")`.
    */
  private def dictionaryTerms(f: String, range: Option[FilterPredicate],
      check: Option[TermCheck], what: String, remedy: String): Seq[String] = {
    val terms = scanTerms(f, range, check, Seq("field", "term"), 1025, s"graft expand $what")(
      _.getString("term", 0)).sorted(graft.index.IndexBuilder.utf8Order).take(1025)
    require(terms.size <= 1024,
      s"$what expands to more than 1024 terms (reference maxClauseCount is the " +
        s"rewrite budget) — $remedy")
    terms
  }

  /** Rows of field `f`'s dictionary in `range` passing `check`, at most
    * `limitPerFile` from each terms file. Without a check the cap bounds a
    * driver-side read (no Spark job); a check may reject any number of rows
    * before the cap, so those files are read by the tasks of one job
    * described `job`, each running the same per-file read
    * ([[PointReader.rdd]]).
    */
  private def scanTerms[T: ClassTag](f: String, range: Option[FilterPredicate],
      check: Option[TermCheck], columns: Seq[String], limitPerFile: Int, job: String)(
      row: Group => T): Seq[T] = {
    val pred = (PointReader.stringIn("field", Seq(f)) +: (range.toSeq ++ check.map(_.predicate)))
      .reduce(FilterApi.and)
    if (check.isEmpty) commit.termsReader.read(columns, Some(pred), limitPerFile)(row)
    else Jobs.describe(spark.sparkContext, job) {
      commit.termsReader.rdd(spark.sparkContext, columns, pred, limitPerFile)(row).collect().toSeq
    }
  }

  /** `term` within UTF-8 byte bounds, each (bound, inclusive); None when
    * both sides are open.
    */
  private def termRange(lo: Option[(Binary, Boolean)],
      hi: Option[(Binary, Boolean)]): Option[FilterPredicate] = {
    val t = FilterApi.binaryColumn("term")
    // typed as FilterPredicate: the branches' inferred common type is
    // package-private in parquet and fails access checks at run time
    (lo.map[FilterPredicate] { case (b, inc) =>
      if (inc) FilterApi.gtEq[Binary, Operators.BinaryColumn](t, b)
      else FilterApi.gt[Binary, Operators.BinaryColumn](t, b)
    } ++ hi.map[FilterPredicate] { case (b, inc) =>
      if (inc) FilterApi.ltEq[Binary, Operators.BinaryColumn](t, b)
      else FilterApi.lt[Binary, Operators.BinaryColumn](t, b)
    }).reduceOption(FilterApi.and)
  }

  /** The terms starting with `prefix`: [prefix, UTF-8 successor). */
  private def startsWith(prefix: String): Option[FilterPredicate] =
    if (prefix.isEmpty) None
    else termRange(Some((Binary.fromString(prefix), true)),
      PointReader.utf8Successor(prefix).map((_, false)))

  /** Matching dictionary terms for a wildcard pattern (`*` any run, `?` one
    * char): the literal prefix before the first wildcard bounds the byte
    * range, and the full pattern, as an anchored regex, is the row check
    * of one job over the terms files. A leading wildcard scans the field's
    * whole vocabulary — dictionary-sized, never corpus-sized.
    */
  private def wildcardTerms(f: String, pattern: String): Seq[String] = {
    require(pattern.exists(c => c != '*' && c != '?'),
      s"wildcard pattern '$pattern' has no literal characters")
    // literal runs are quoted whole, so a surrogate pair stays one character
    val rx = pattern.split("(?<=[*?])|(?=[*?])").map {
      case "*" => ".*"
      case "?" => "."
      case run => java.util.regex.Pattern.quote(run)
    }.mkString
    dictionaryTerms(f, startsWith(pattern.takeWhile(c => c != '*' && c != '?')),
      Some(RegexCheck(rx)), s"wildcard '$f:$pattern'", "narrow the pattern")
  }

  /** Matching dictionary terms for an anchored regex: the pattern's leading
    * literal run bounds the byte range — minus its last character when a
    * quantifier that allows zero repeats follows it, and not at all when
    * the pattern holds an alternation — and the full `^(?:pat)$` match is
    * the row check (same shape as [[wildcardTerms]]).
    */
  private def regexpTerms(f: String, pattern: String): Seq[String] = {
    require(pattern.nonEmpty, "empty regexp pattern")
    // cheap insurance on a user-facing query type: the pattern runs over
    // the vocabulary, so a catastrophic-backtracking pattern would stall
    // every dictionary task. Dictionary-sized input already caps the blast
    // radius; these guards make the failure a fast driver-side error.
    require(pattern.length <= 256,
      s"regexp pattern is ${pattern.length} chars — cap is 256")
    java.util.regex.Pattern.compile(pattern) // fail fast on driver with a clear error
    require(!nestsQuantifier(pattern),
      s"regexp '/$pattern/' nests a quantifier inside a quantified group " +
        "(catastrophic-backtracking guard) — rewrite without nested quantifiers")
    val run = pattern.takeWhile(c => !"\\^$.|?*+()[]{}".contains(c))
    val pre =
      if (pattern.contains('|')) ""
      else if (run.nonEmpty && run.length < pattern.length && "?*{".contains(pattern(run.length)))
        run.substring(0, run.offsetByCodePoints(run.length, -1))
      else run
    dictionaryTerms(f, startsWith(pre), Some(RegexCheck(pattern)),
      s"regexp '$f:/$pattern/'", "narrow the pattern")
  }

  /** Rewrite multi-term leaves (PrefixQuery, WildcardQuery) into bounded
    * SHOULD disjunctions of dictionary terms in sorted order, each scoring
    * with its own statistics (Lucene SCORING_BOOLEAN_QUERY_REWRITE). An
    * expansion with no matching terms becomes an empty BooleanQuery (matches
    * nothing — same contract as a TermQuery on an absent term). Every query
    * entry point (search/scoredDocs/explain, Wand.searchTopK) expands before
    * compiling.
    */
  def expandPrefixes(q: Query): Query = q match {
    case m: MultiTermQuery =>
      BooleanQuery(expansionTerms(m).map(t =>
        BooleanClause(Occur.SHOULD, TermQuery(t, m.boost, m.field))))
    case BooleanQuery(cs, msm, boost) =>
      BooleanQuery(cs.map(c => c.copy(query = expandPrefixes(c.query))), msm, boost)
    case FilteredQuery(q1, f1) => FilteredQuery(expandPrefixes(q1), expandPrefixes(f1))
    case DisMaxQuery(cs, tie, boost) => DisMaxQuery(cs.map(expandPrefixes), tie, boost)
    case ConstantScoreQuery(q1, s) => ConstantScoreQuery(expandPrefixes(q1), s)
    case other => other
  }

  /** Expanded term list for ONE multi-term leaf against THIS searcher's
    * dictionary — [[MultiSearcher]] unions these across shards (the union
    * of per-shard expansions over a partitioned corpus IS the monolithic
    * expansion: same matching terms, same sorted order). Cached in the
    * commit's LRU under the leaf itself with boost and field normalized away,
    * so each expansion kind has its own key space and a boost never splits
    * an entry. Prefix and term range (either side open, in UTF-8 byte
    * order) are byte ranges of `term` read on the driver; fuzzy checks
    * CLASSIC Levenshtein distance over the field's vocabulary
    * ([[FuzzyCheck]]), a vocabulary-sized scan, never corpus-sized.
    */
  private[search] def expansionTerms(m: MultiTermQuery): Seq[String] = {
    val fn = m.field.getOrElse(field)
    val leaf: MultiTermQuery = m match {
      case q: PrefixQuery => q.copy(boost = 1.0f, field = None)
      case q: WildcardQuery => q.copy(boost = 1.0f, field = None)
      case q: FuzzyQuery => q.copy(boost = 1.0f, field = None)
      case q: TermRangeQuery => q.copy(boost = 1.0f, field = None)
      case q: RegexpQuery => q.copy(boost = 1.0f, field = None)
    }
    commit.cached(ExpansionKey(fn, leaf)) {
      leaf match {
        case PrefixQuery(p, _, _) =>
          require(p.nonEmpty, "empty prefix (bare '*' queries are not supported)")
          dictionaryTerms(fn, startsWith(p), None, s"prefix '$fn:$p*'", "narrow the prefix")
        case WildcardQuery(pat, _, _) => wildcardTerms(fn, pat)
        case FuzzyQuery(t, e, _, _) =>
          require(e >= 0 && e <= 2, s"fuzzy maxEdits must be 0..2 (Lucene's classic bound), got $e")
          dictionaryTerms(fn, None, Some(FuzzyCheck(t, e)), s"fuzzy '$fn:$t~$e'",
            "raise specificity")
        case TermRangeQuery(lo, hi, il, iu, _, _) =>
          require(lo.nonEmpty || hi.nonEmpty, "term range needs at least one bound")
          dictionaryTerms(fn, termRange(lo.map(l => (Binary.fromString(l), il)),
              hi.map(h => (Binary.fromString(h), iu))), None,
            s"range '$fn:[${lo.getOrElse("*")} TO ${hi.getOrElse("*")}]'", "narrow the bounds")
        case RegexpQuery(pat, _, _) => regexpTerms(fn, pat)
      }
    }
  }

  private[search] def prepare(q0: Query, mode: ScoreMode): Prepared = {
    val q = Query.rewrite(expandPrefixes(q0))
    val keys = Query.leafKeys(q, field)
    // reference maxClauseCount (/root/reference/core/search/boolean.go:9)
    require(keys.size <= 1024, s"more than 1024 distinct query terms: ${keys.size}")
    val termIdx = keys.zipWithIndex.toMap
    val fields = keys.map(_._1).distinct
    val fieldIdx = fields.zipWithIndex.toMap
    val stats = this.stats(keys)
    val plan = compile(q, stats, termIdx, fieldIdx, mode)
    val pts = Query.phraseTerms(q, field)
    val needPos = keys.map(pts.contains).toArray
    Prepared(q, keys, stats,
      new GroupEval(manifest.docsPerRange, keys.size, fields.size, needPos,
        termIdx, fieldIdx, plan, mode, deletedSorted))
  }

  def sparkSession: SparkSession = spark

  /** Stored-fields lookup (the reference's reader.Document(hit.Doc),
    * core/document/document.go:75-133): a docId point read
    * through the docs table's driver-side reader, once per call, of the
    * docIds not in the LRU (`DocKey`), so a repeated lookup — every
    * singleton hit makes one — costs nothing. Rows come back in `docIds`
    * order, once each; version-1 rows (no `fieldDls`) read an empty map.
    */
  def doc(docId: Long): Option[graft.index.DocRow] = docs(Seq(docId)).headOption

  def docs(docIds: Seq[Long]): Seq[graft.index.DocRow] = {
    commit.getAll(docIds.distinct, None: Option[graft.index.DocRow])(DocKey) { missing =>
      commit.docsReader.read(Seq("docId", "segId", "repo", "path", "commit", "lang",
          "contentSha", "dl", "norm", "fieldDls"), Some(PointReader.longIn("docId", missing))) { g =>
        def str(c: String) = PointReader.opt(g, c)(g.getString(c, 0)).orNull
        val fieldDls = PointReader.opt(g, "fieldDls")(g.getGroup("fieldDls", 0)).fold(
          Map.empty[String, Int]) { m =>
          (0 until m.getFieldRepetitionCount("key_value")).map { i =>
            val kv = m.getGroup("key_value", i)
            kv.getString("key", 0) -> kv.getInteger("value", 0)
          }.toMap
        }
        graft.index.DocRow(g.getLong("docId", 0), g.getInteger("segId", 0), str("repo"),
          str("path"), str("commit"), str("lang"), str("contentSha"), g.getInteger("dl", 0),
          g.getInteger("norm", 0).toByte, fieldDls)
      }.map(d => d.docId -> Some(d)).toMap
    }.flatten
  }

  /** MoreLikeThis: a SHOULD disjunction of the text's most interesting
    * terms by this index's statistics — see [[MoreLikeThis]].
    */
  def moreLikeThisQuery(analyzer: graft.analysis.Analyzer, text: String,
      maxQueryTerms: Int = 25, minTermFreq: Int = 1, minDocFreq: Int = 1,
      queryField: Option[String] = None): Query = {
    val fn = queryField.getOrElse(field)
    MoreLikeThis.query(analyzer, text, maxQueryTerms, minTermFreq, minDocFreq, queryField,
      fn, termStats, collectionStats(fn).maxDoc)
  }

  private[search] def docsColumn(c: String, role: String): DataFrame = {
    val internal = Set("docId", "segId", "dl", "norm", "fieldDls", "wave", "contentSha")
    require(commit.docsDF.columns.contains(c) && !internal.contains(c),
      s"$role column '$c' is not a stored metadata column " +
        s"(available: ${commit.docsDF.columns.filterNot(internal).mkString(", ")})")
    commit.docsDF.select(col("docId"), col(c))
  }

  /** Suggestion candidates of `input`: one job over field `f`'s vocabulary
    * with the fuzzy expansion's [[FuzzyCheck]] (postings untouched), the
    * input dropped,
    * ranked and cut on the driver when `topN` is given. Cached like the
    * expansions: one input's candidates are vocabulary-bounded, so a repeat
    * runs no job.
    */
  private[search] def suggestions(input: String, maxEdits: Int, topN: Option[Int],
      f: String): Seq[(String, Long, Int)] =
    commit.cached(SuggestKey(input, maxEdits, topN, f)) {
      val u = UTF8String.fromString(input)
      val all = scanTerms(f, None, Some(FuzzyCheck(input, maxEdits)),
          Seq("field", "term", "docFreq"), Int.MaxValue, s"graft suggest '$f:$input'~$maxEdits")(
          g => (g.getString("term", 0), g.getLong("docFreq", 0))).collect {
        case (t, df) if t != input => (t, df, UTF8String.fromString(t).levenshteinDistance(u))
      }
      topN.fold(all)(all.sortBy { case (t, df, dist) => (dist, -df, t) }(
        Ordering.Tuple3(Ordering.Int, Ordering.Long, graft.index.IndexBuilder.utf8Order)).take)
    }

  /** True when a group quantified by `*`, `+` or `{n}` has a body (nested
    * groups included) that already holds a `*` or `+` quantifier — the
    * (a+)+ catastrophic-backtracking shape; see [[regexpTerms]]. Escaped
    * characters and character classes quantify nothing, so `(a\+b)*` and
    * `([+-]x)*` pass.
    */
  private def nestsQuantifier(pattern: String): Boolean = {
    val open = scala.collection.mutable.Stack.empty[Boolean] // body quantified?
    var closedQuantified = false // the group closing just before i
    var i = 0
    while (i < pattern.length) {
      val c = pattern.charAt(i)
      val afterGroup = closedQuantified
      closedQuantified = false
      c match {
        case '\\' => i += 1 // the escaped character is a literal
        case '[' => // skip the class: a leading ']' (or '^]') is literal
          var depth = 1
          i += 1
          if (i < pattern.length && pattern.charAt(i) == '^') i += 1
          if (i < pattern.length && pattern.charAt(i) == ']') i += 1
          while (i < pattern.length && depth > 0) {
            pattern.charAt(i) match {
              case '\\' => i += 1
              case '[' => depth += 1
              case ']' => depth -= 1
              case _ => ()
            }
            if (depth > 0) i += 1
          }
        case '(' => open.push(false)
        case ')' if open.nonEmpty =>
          closedQuantified = open.pop()
          if (closedQuantified && open.nonEmpty) { open.pop(); open.push(true) }
        case '*' | '+' | '{' =>
          if (afterGroup) return true
          if (c != '{' && open.nonEmpty) { open.pop(); open.push(true) }
        case _ => ()
      }
      i += 1
    }
    false
  }

  /** Structured score breakdown for one document (reference Explain,
    * /root/reference/core/search/explanation.go, term.go:163-193): the
    * root value reproduces search()'s score for that doc exactly —
    * asserted by ExplainSpec on the reference query set.
    */
  def explain(q0: Query, docId: Long, mode: ScoreMode = ScoreMode.Ref32): Explanation = {
    Query.rewrite(expandPrefixes(q0)) match {
      case MatchAllQuery(b) =>
        val exists = docs(Seq(docId)).nonEmpty
        val deleted =
          if (!rangedDeletes) java.util.Arrays.binarySearch(deletedSorted, docId) >= 0
          else deletesUnion.exists(_.where(col("docId") === docId).limit(1).count() > 0)
        return if (exists && !deleted)
          Explanation(b.toDouble, s"match_all (boost=$b)")
        else
          Explanation(0.0, s"no match: match_all (${if (exists) "deleted" else "no such doc"})",
            Nil, isMatch = false)
      case _ => ()
    }
    val p = prepare(q0, mode)
    val rangeId = docId / manifest.docsPerRange
    val rows = fetchRows(p.keys, p.ge.needPos.exists(identity), Some(Seq(rangeId)))
    Explain.forDoc(p, rows, rangeId, docId, field, similarity.name, mode)
  }

  /** Per-occurrence CHARACTER OFFSETS of `term` in field `f` across all
    * live matching docs, as a distributed DataFrame (docId, startOff,
    * endOff) — the highlighting/snippet primitive (reference postings
    * carry offsets behind IndexOptions flags, postingsWriter.go:323-381).
    * Requires a format-3 index (IndexConfig.withOffsets); decode is one
    * pass over the term's posting rows, read by the distributed evaluation's
    * per-file tasks, with both delete paths applied — never a stored-content
    * re-tokenize.
    */
  def offsets(f: String, term: String): DataFrame = {
    require(manifest.formatVersion >= graft.index.IndexManifest.FormatOffsets,
      s"index stores no offsets (format ${manifest.formatVersion}); " +
        "build with IndexConfig(withOffsets = true)")
    val rows = commit.postingsReader.rdd(spark.sparkContext,
        Seq("field", "term", "rangeId", "payload", "offPayload"),
        PointReader.pairs(Seq((f, term)))) { g =>
      (g.getLong("rangeId", 0),
        (g.getBinary("payload", 0).getBytes, PointReader.bytesOrNull(g, "offPayload")))
    }
    val withDels: RDD[(Array[Byte], Array[Byte], Array[Long])] =
      if (rangedDeletes)
        RangeJob.byRange(rows, commit.rangeParts, Some(delRanges), None).flatMap {
          case (_, rs, dels) => rs.iterator.map { case (payload, off) => (payload, off, dels) }
        }
      else rows.map { case (_, (payload, off)) => (payload, off, null: Array[Long]) }
    val smallDels = deletedSorted
    withDels.flatMap { case (payload, off, dels) =>
      val dec = PostingsCodec.decode(payload)
      val offs =
        if (off == null) null else PostingsCodec.decodeOffsets(off, dec.freqs)
      (0 until dec.length).iterator.flatMap { i =>
        val id = dec.docIds(i)
        val live =
          (smallDels.isEmpty || java.util.Arrays.binarySearch(smallDels, id) < 0) &&
            (dels == null || dels.isEmpty ||
              java.util.Arrays.binarySearch(dels, id) < 0)
        if (live && offs != null) {
          val os = offs(i)
          (0 until os.length by 2).iterator.map(k => (id, os(k), os(k + 1)))
        } else Iterator.empty
      }
    }.toDF("docId", "startOff", "endOff")
  }

  /** Merged, overlap-coalesced matched spans of the query's `f`-field term
    * leaves for the given (bounded, typically top-k) docIds — the highlight
    * input for a hit page (pair with [[Snippets.render]] over the caller's
    * copy of the text). Prefix/wildcard leaves expand first; phrase members
    * contribute their individual term spans (Lucene-highlighter behavior).
    * docIds are assumed LIVE (they come from a search); ≤ a page of ids, so
    * the read is a rangeId-pruned point fetch.
    */
  def matchedSpans(q0: Query, docIds: Seq[Long], f: String = field)
      : Map[Long, Seq[(Int, Int)]] = {
    require(manifest.formatVersion >= graft.index.IndexManifest.FormatOffsets,
      s"index stores no offsets (format ${manifest.formatVersion}); " +
        "build with IndexConfig(withOffsets = true)")
    val q = Query.rewrite(expandPrefixes(q0))
    val keys = Query.leafKeys(q, field).filter(_._1 == f)
    if (keys.isEmpty || docIds.isEmpty) return Map.empty
    val idSet = docIds.toSet
    val ranges = docIds.map(_ / manifest.docsPerRange)
    val rows = commit.postingsReader.read(Seq("field", "term", "rangeId", "payload", "offPayload"),
        Some(FilterApi.and(PointReader.pairs(keys), PointReader.longIn("rangeId", ranges)))) { g =>
      (g.getBinary("payload", 0).getBytes, PointReader.bytesOrNull(g, "offPayload"))
    }
    val acc = scala.collection.mutable.HashMap
      .empty[Long, scala.collection.mutable.ArrayBuffer[(Int, Int)]]
    rows.foreach { case (payload, off) =>
      if (off != null) {
        val dec = PostingsCodec.decode(payload)
        val offs = PostingsCodec.decodeOffsets(off, dec.freqs)
        var i = 0
        while (i < dec.length) {
          if (idSet.contains(dec.docIds(i))) {
            val buf = acc.getOrElseUpdate(dec.docIds(i),
              scala.collection.mutable.ArrayBuffer.empty)
            val os = offs(i)
            var k = 0
            while (k < os.length) { buf += ((os(k), os(k + 1))); k += 2 }
          }
          i += 1
        }
      }
    }
    acc.map { case (id, spans) => id -> Snippets.coalesce(spans.toSeq) }.toMap
  }

  /** WAND's bound scan: `(key, maxFreq, minDl)` of the posting rows of
    * `keys` (payloads never read), one task per postings file
    * ([[PointReader.rdd]]), grouped by rangeId on the range partitions.
    */
  private[search] def rowBoundsByRange(
      keys: Seq[(String, String)]): RDD[(Long, Iterable[((String, String), Int, Int)])] =
    commit.postingsReader.rdd(spark.sparkContext,
        Seq("field", "term", "rangeId", "maxFreq", "minDl"), PointReader.pairs(keys)) { g =>
      (g.getLong("rangeId", 0), ((g.getString("field", 0), g.getString("term", 0)),
        g.getInteger("maxFreq", 0), g.getInteger("minDl", 0)))
    }.groupByKey(new RangeJob.ByRange(commit.rangeParts, 1))

  /** Collected rows for a full-key (unfiltered) driver-local evaluation,
    * served from / inserted into the cache per term.
    */
  private def collectRows(p: Prepared): Array[PRow] = {
    if (rangedDeletes) return fetchRows(p.keys, p.ge.needPos.exists(identity), None)
    val keys = p.keys.zip(p.ge.needPos).map { case ((f, t), pos) => RowsKey(f, t, pos) }
    commit.getAll(keys, Array.empty[PRow])(identity) { missing =>
      val byKey = fetchRows(missing.map(k => (k.field, k.term)), missing.exists(_.positions), None)
        .groupBy(r => (r._1, r._2))
      missing.flatMap(k => byKey.get((k.field, k.term)).map(k -> _)).toMap
    }.flatten.toArray
  }

  /** Posting rows of `keys` (of the ranges `rangeIds` only, when given)
    * collected to the driver through the postings point reader, projecting
    * `posPayload` only when `anyPos`; in RANGED delete mode each row then
    * carries its range's delete array.
    */
  private def fetchRows(keys: Seq[(String, String)], anyPos: Boolean,
      rangeIds: Option[Seq[Long]]): Array[PRow] =
    if (keys.isEmpty || rangeIds.exists(_.isEmpty)) Array.empty
    else withRangeDels(commit.postingsReader.read(RangeJob.rowColumns(anyPos),
      Some(RangeJob.rowPredicate(keys, rangeIds)))(RangeJob.row(anyPos)).toArray)

  /** `rows` with their ranges' delete arrays attached (RANGED mode; other
    * modes return `rows`): one job over the partitions of the persisted
    * delete arrays that hold the rows' ranges.
    */
  private def withRangeDels(rows: Array[PRow]): Array[PRow] =
    if (!rangedDeletes || rows.isEmpty) rows
    else {
      val ranges = rows.map(_._3).toSet
      val byRange = new RangeJob.ByRange(commit.rangeParts, 1)
      val dels = Jobs.describe(spark.sparkContext, s"graft search ranged deletes: ${ranges.size} ranges") {
        spark.sparkContext.runJob(delRanges,
          (it: Iterator[(Long, Array[Long])]) => it.filter(d => ranges(d._1)).toArray,
          ranges.toSeq.map(byRange.getPartition).distinct)
      }.flatten.toMap
      rows.map(r => r.copy(_7 = dels.getOrElse(r._3, null)))
    }

  /** Union of every delete source as a one-column `docId` DataFrame (ranged
    * path; never collected).
    */
  private def deletesUnion: Option[DataFrame] = {
    val parts = graft.index.Deletes.df(spark, indexPath).toSeq ++
      extraDeletesDF.map(d => d.select(col(d.columns.head).cast("long").as("docId"))).toSeq ++
      (if (extraDeletes.isEmpty) Nil else Seq(extraDeletes.toSeq.toDF("docId")))
    parts.reduceOption(_ union _).map(_.select(col("docId").cast("long").as("docId")))
  }

  /** MatchAllQuery evaluation: every live docId at constant score = boost.
    * The range-group machinery only sees docs touched by query postings, so
    * an all-docs leaf scans the DOCS table instead — column-pruned to docId
    * — with deletes applied the same two ways as the postings path:
    * broadcast binary-search below deleteBroadcastMax, a left-anti join
    * against the (never collected) delete set beyond it.
    */
  private def matchAllScored(boost: Float): Dataset[ScoredDoc] = {
    val score = boost.toDouble
    val ids = commit.docsDF.select(col("docId")).as[Long]
    val live =
      if (!rangedDeletes) {
        val delB = spark.sparkContext.broadcast(deletedSorted)
        if (deletedSorted.isEmpty) ids
        else ids.filter((id: Long) => java.util.Arrays.binarySearch(delB.value, id) < 0)
      } else deletesUnion match {
        case Some(dels) => ids.toDF("docId").join(dels, Seq("docId"), "left_anti").as[Long]
        case None => ids
      }
    live.map(id => ScoredDoc(id, score))
  }

  /** All matching docs with scores — the full scored result set as a Dataset
    * (top-k and TotalHits both derive from it in one pass).
    */
  def scoredDocs(q0: Query, mode: ScoreMode): Dataset[ScoredDoc] =
    Query.rewrite(expandPrefixes(q0)) match {
      case MatchAllQuery(b) => matchAllScored(b)
      case _ => spark.createDataset(scored(prepare(q0, mode), None))
    }

  /** Distributed scoring of a prepared plan as one plain RDD (no Catalyst
    * plan): one task per postings file that can hold the query keys reads
    * its rows through the postings reader ([[PointReader.rdd]]). A
    * single-key plan scores each row in place — every doc lives in exactly
    * one row; otherwise rows shuffle onto the range partitions and stream one
    * range at a time through [[GroupEval.eval]], with the range's delete
    * array (RANGED mode) and, for a distributed range selection, only the
    * surviving ranges ([[RangeJob.byRange]]).
    */
  private def scored(p: Prepared, rangeFilter: Option[RangeSel]): RDD[ScoredDoc] =
    if (p.keys.isEmpty) spark.sparkContext.emptyRDD[ScoredDoc]
    else {
      val anyPos = p.ge.needPos.exists(identity)
      val rows = commit.postingsReader.rdd(spark.sparkContext, RangeJob.rowColumns(anyPos),
        RangeJob.rowPredicate(p.keys, rangeFilter.collect { case RangeSel.Ids(rs) => rs }))(
        RangeJob.row(anyPos))
      RangeJob.score(rows, p.ge, p.keys.size == 1, commit.rangeParts,
        if (rangedDeletes) Some(delRanges) else None,
        rangeFilter.collect { case RangeSel.Df(ids) => ids })
    }

  /** Description of a distributed evaluation: the path, its size and the
    * query's keys.
    */
  private def distributedJob(p: Prepared, rangeFilter: Option[RangeSel]): String = {
    val sel = rangeFilter match {
      case Some(RangeSel.Ids(rs)) => s", ${rs.size} selected ranges"
      case Some(RangeSel.Df(_)) => ", distributed survivor ranges"
      case None => ""
    }
    val ranges = if (commit.rangeCount == 1) "1 range" else s"${commit.rangeCount} ranges"
    s"graft search distributed: ${p.keys.size} keys, $ranges$sel: ${p.keyText}"
  }

  /** Query terms' summed docFreq below this → driver-local evaluation (one
    * driver-side row read, no Spark job) — the Lucene-style per-node search
    * path.
    * 2M postings ≈ a few MB of packed blocks and ~10 ms of local decode;
    * only genuinely large result sets go distributed, and only they prune
    * under [[Wand.searchTopK]] (0 pins WAND to its pruned plan).
    */
  var localSearchMaxPostings: Long = 2000000L

  /** The path selector: a plan runs driver-local (one row fetch through
    * the row cache) when summed docFreq, and summed totalTermFreq of the
    * members whose positions load (a hot phrase term must not pull
    * hundreds of MB onto the driver), are within [[localSearchMaxPostings]].
    */
  private[search] def fitsDriver(p: Prepared): Boolean = {
    val stats = p.keys.map(p.stats.terms.get)
    val dfSum = stats.map(_.fold(0L)(_.docFreq)).sum
    val posSum = stats.zip(p.ge.needPos).collect { case (Some(ts), true) => ts.totalTermFreq }.sum
    dfSum <= localSearchMaxPostings && posSum <= localSearchMaxPostings
  }

  /** Top-k with reference tie-break + TotalHits, in ONE distributed pass:
    * per-partition bounded heaps merge on the driver (treeAggregate shape).
    */
  def search(q: Query, k: Int, mode: ScoreMode = ScoreMode.Ref32): TopDocs =
    topK(q, k, mode, None)

  /** Pagination (reference TopDocsCollector.TopDocsRange,
    * /root/reference/core/search/collect.go:158-191): results
    * [offset, offset+howMany).
    */
  def searchPage(q: Query, offset: Int, howMany: Int,
      mode: ScoreMode = ScoreMode.Ref32): TopDocs = {
    val full = search(q, offset + howMany, mode)
    TopDocs(full.totalHits, full.scoreDocs.slice(offset, offset + howMany),
      full.totalHitsIsLowerBound)
  }

  /** Cursor pagination (Lucene's searchAfter; absent in the reference —
    * collect.go:254-272 only has the offset-window TopDocsRange): the next
    * `k` results STRICTLY after the `after` cursor in (score desc, docId
    * asc) order. `totalHits` still counts every match. Unlike
    * [[searchPage]], whose heap grows to offset+howMany, the heap here
    * stays k-bounded however deep the cursor — the scale path for paging
    * through a large result set. The cursor must come from a result in the
    * SAME ScoreMode (scores compare for equality on the tie-break).
    */
  def searchAfter(q: Query, after: ScoredDoc, k: Int,
      mode: ScoreMode = ScoreMode.Ref32): TopDocs =
    topK(q, k, mode, Some(after))

  private def topK(q: Query, k: Int, mode: ScoreMode, after: Option[ScoredDoc]): TopDocs =
    Query.rewrite(expandPrefixes(q)) match {
      case MatchAllQuery(b) => RangeJob.topK(matchAllScored(b).rdd, k, after)
      case _ => searchFiltered(prepare(q, mode), k, None, after)
    }

  /** Evaluate a prepared plan over the given docId ranges, or over all of
    * them (WAND phases and its exhaustive fallback).
    */
  private[search] def evalRanges(p: Prepared, ranges: Option[RangeSel], k: Int): TopDocs =
    searchFiltered(p, k, ranges, None)

  private def searchFiltered(p: Prepared, k: Int, rangeFilter: Option[RangeSel],
      after: Option[ScoredDoc]): TopDocs = {
    // singleton pulsing (reference postingsWriter.go:412-417,571-575): when
    // EVERY present query term has docFreq == 1, its docId is already inlined
    // in the terms dict and its freq equals its totalTermFreq — the ≤1024
    // candidate docs' dl/norm come from the stored per-field dls, so the
    // query completes with ZERO postings reads (terms + docs point lookups
    // only). Phrases (need positions) and ranged deletes fall through.
    val present = p.keys.flatMap(kk => p.stats.terms.get(kk).map(kk -> _))
    val singles = p.stats.singletons
    if (rangeFilter.isEmpty && !rangedDeletes && !p.ge.needPos.exists(identity) &&
      present.nonEmpty && present.forall { case (kk, _) => singles.contains(kk) }) {
      val docIds = present.map { case (kk, _) => singles(kk) }.distinct
      val byId = docs(docIds).map(d => d.docId -> d).toMap
      val rows: Array[PRow] = present.flatMap { case ((f, t), ts) =>
        val docId = singles((f, t))
        byId.get(docId).map { d =>
          val dl = if (f == field) d.dl else d.fieldDls.getOrElse(f, 1)
          val enc = PostingsCodec.encode(
            Array(graft.codec.PostingEntry(docId, ts.totalTermFreq.toInt, dl,
              graft.codec.SmallFloat.encodeNorm(dl, 0), Array.emptyIntArray)),
            withPositions = false)
          (f, t, docId / manifest.docsPerRange, docId, enc.payload,
            null: Array[Byte], null: Array[Long])
        }
      }.toArray
      return localTopK(p, rows, k, after)
    }

    // local fast path: fetch the (few) posting rows, evaluate on the driver.
    // Unfiltered fetches go through the per-term row cache: a repeated
    // query term costs zero Spark jobs on this commit. A distributed range
    // selection always evaluates distributed.
    rangeFilter match {
      case None if fitsDriver(p) => localTopK(p, collectRows(p), k, after)
      case Some(RangeSel.Ids(rs)) if rs.size <= 256 || fitsDriver(p) =>
        localTopK(p, fetchRows(p.keys, p.ge.needPos.exists(identity), Some(rs)), k, after)
      case _ =>
        Jobs.describe(spark.sparkContext, distributedJob(p, rangeFilter))(RangeJob.topK(scored(p, rangeFilter), k, after))
    }
  }

  /** Driver-side count + top-k over posting rows already on the driver
    * (fetched or synthesized): ranges decode and score in parallel (a
    * serial loop was a single-threaded latency floor at the 2M-posting
    * threshold), each into its own k-bounded heap.
    */
  private def localTopK(p: Prepared, rows: Array[PRow], k: Int,
      after: Option[ScoredDoc]): TopDocs = {
    val keep = RangeJob.afterGate(after)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val partials = Await.result(
      Future.sequence(rows.groupBy(_._3).toSeq.map { case (rangeId, rs) => Future {
        val h = new BoundedHitQueue(k)
        var c = 0L
        p.ge.eval(rangeId, rs.iterator).foreach { sd =>
          c += 1; if (keep(sd)) h.insert(sd.docId, sd.score)
        }
        (c, h)
      }}), scala.concurrent.duration.Duration.Inf)
    val heap = new BoundedHitQueue(k)
    partials.foreach { case (_, h) => heap.merge(h) }
    TopDocs(partials.map(_._1).sum, heap.toSortedArray)
  }
}

/** Serializable per-range evaluator shared by the distributed and the
  * driver-local search paths.
  */
private[search] final class GroupEval(
    width: Int,
    nTerms: Int,
    nFields: Int,
    val needPos: Array[Boolean],
    termIdx: Map[(String, String), Int],
    fieldIdx: Map[String, Int],
    plan: CNode,
    mode: ScoreMode,
    deleted: Array[Long] = Array.emptyLongArray) extends Serializable {

  /** liveDocs check: the small-set broadcast (sorted binary search) AND the
    * range's joined delete array (RANGED mode) — whichever is populated.
    */
  private[search] def live(docId: Long, rangeDels: Array[Long]): Boolean =
    (deleted.isEmpty || java.util.Arrays.binarySearch(deleted, docId) < 0) &&
      (rangeDels == null || rangeDels.isEmpty ||
        java.util.Arrays.binarySearch(rangeDels, docId) < 0)

  def eval(rangeId: Long, rows: Iterator[PRow]): Iterator[ScoredDoc] = {
    val arr = rows.toArray
    // every row of a range carries the same joined delete array (or null)
    val dels = if (arr.isEmpty) null else arr(0)._7
    val acc = fill(rangeId, arr.iterator)
    val out = Array.newBuilder[ScoredDoc]
    var slot = 0
    while (slot < width) {
      if (acc.touched(slot) && live(acc.base + slot, dels)) {
        val s = scoreAt(acc, slot)
        if (!s.isNaN) out += ScoredDoc(acc.base + slot, s)
      }
      slot += 1
    }
    out.result().iterator
  }

  /** Decode this range's rows into the per-slot accumulator (shared with
    * Explain, which needs the raw leaf data too).
    */
  private[search] def fill(rangeId: Long, rows: Iterator[PRow]): RangeAccum = {
    val acc = new RangeAccum(rangeId * width, width, nTerms, nFields, needPos)
    // a (term, rangeId) can span two build waves → concat sorted slices
    rows.toArray.sortBy(_._4).foreach { case (fieldName, term, _, _, payload, posPayload, _) =>
      val ti = termIdx((fieldName, term))
      val fi = fieldIdx(fieldName)
      val dec = PostingsCodec.decode(payload)
      val poss =
        if (needPos(ti) && posPayload != null)
          PostingsCodec.decodePositions(posPayload, dec.freqs)
        else null
      var i = 0
      while (i < dec.length) {
        val slot = (dec.docIds(i) - acc.base).toInt
        acc.touched(slot) = true
        acc.dls(fi)(slot) = dec.dls(i)
        acc.norms(fi)(slot) = dec.norms(i)
        acc.freqs(ti)(slot) = dec.freqs(i)
        if (poss != null) acc.positions(ti)(slot) = poss(i)
        i += 1
      }
    }
    acc
  }

  /** Score of the plan (or of one of its subtrees — Explain) at `slot`;
    * NaN = no match.
    */
  private[search] def scoreAt(acc: RangeAccum, slot: Int, node: CNode = plan): Double =
    Eval.eval(node, acc, slot, mode)

  private[search] def planRoot: CNode = plan
}

/** Building blocks of the distributed range evaluation. Every task closure
  * of a query is written here, not in [[IndexSearcher]]: Spark's closure
  * cleaner parses the class file of each closure's defining class on every
  * call, and the searcher's is ~150 KB — moving the closures here took a
  * warm distributed phrase call on a 6k-doc index (local[4], 4 cores) from
  * ~22 to ~14 ms of driver time before its job starts. Closures here
  * capture only what they name.
  */
private[search] object RangeJob {
  /** Partitions `Long` keys by range: `key / width` (width 1 for rangeIds,
    * docsPerRange for docIds) modulo `numPartitions`, so a range's posting
    * rows and its deletes land in the same partition index.
    */
  final class ByRange(val numPartitions: Int, width: Long) extends Partitioner {
    def getPartition(key: Any): Int =
      java.lang.Math.floorMod(key.asInstanceOf[Long] / width, numPartitions.toLong).toInt
  }

  /** Posting-row columns the evaluation reads: `posPayload` only when a
    * phrase needs positions (`field` and `term` also feed the predicate).
    */
  def rowColumns(anyPos: Boolean): Seq[String] =
    Seq("field", "term", "rangeId", "firstDocId", "payload") ++
      (if (anyPos) Seq("posPayload") else Nil)

  /** The keys' rows, of the ranges `rangeIds` only when given. */
  def rowPredicate(keys: Seq[(String, String)], rangeIds: Option[Seq[Long]]) =
    rangeIds.fold(PointReader.pairs(keys))(rs =>
      FilterApi.and(PointReader.pairs(keys), PointReader.longIn("rangeId", rs)))

  /** One posting row as the evaluation's [[PRow]] (no delete array yet). */
  def row(anyPos: Boolean)(g: Group): PRow =
    (g.getString("field", 0), g.getString("term", 0), g.getLong("rangeId", 0),
      g.getLong("firstDocId", 0), g.getBinary("payload", 0).getBytes,
      if (anyPos) PointReader.bytesOrNull(g, "posPayload") else null, null: Array[Long])

  /** Runs of equal `group(key)` in a key-sorted iterator, one run buffered
    * at a time.
    */
  private def runs[V: ClassTag](it: Iterator[(Long, V)],
      group: Long => Long): Iterator[(Long, Array[V])] = {
    val b = it.buffered
    new Iterator[(Long, Array[V])] {
      def hasNext: Boolean = b.hasNext
      def next(): (Long, Array[V]) = {
        val g = group(b.head._1)
        val out = Array.newBuilder[V]
        while (b.hasNext && group(b.head._1) == g) out += b.next()._2
        (g, out.result())
      }
    }
  }

  /** Sorted, distinct delete arrays per range, on `parts` partitions of
    * [[ByRange]] and sorted by rangeId within each: the layout
    * [[byRange]] merges against.
    */
  def deleteArrays(docIds: RDD[Long], parts: Int, docsPerRange: Int): RDD[(Long, Array[Long])] =
    docIds.map(id => (id, id))
      .repartitionAndSortWithinPartitions(new ByRange(parts, docsPerRange.toLong))
      .mapPartitions(it => runs(it, _ / docsPerRange).map { case (r, ids) => (r, ids.distinct) })

  /** Scores of `ge`'s plan over `rows`: a single-key plan (`singleKey`)
    * without deletes or survivors scores each row in place — every doc
    * lives in exactly one row; otherwise rows stream one range at a time
    * through [[byRange]] with the range's delete array.
    */
  def score(rows: RDD[PRow], ge: GroupEval, singleKey: Boolean, parts: Int,
      dels: Option[RDD[(Long, Array[Long])]], survivors: Option[RDD[Long]]): RDD[ScoredDoc] =
    if (singleKey && dels.isEmpty && survivors.isEmpty)
      rows.flatMap(r => ge.eval(r._3, Iterator.single(r)))
    else
      byRange(rows.map(r => (r._3, r)), parts, dels, survivors).flatMap {
        case (rangeId, rs, ds) => ge.eval(rangeId, rs.iterator.map(_.copy(_7 = ds)))
      }

  /** Cursor gate (searchAfter): matches at-or-before the cursor still COUNT
    * but never enter a heap — captured by value in executor closures.
    */
  def afterGate(after: Option[ScoredDoc]): ScoredDoc => Boolean = after match {
    case None => _ => true
    case Some(a) => sd => sd.score < a.score || (sd.score == a.score && sd.docId > a.docId)
  }

  /** Distributed count + top-k: per-partition heaps merge in O(log P)
    * combiner rounds (treeAggregate, depth 2) — the driver receives O(√P)
    * pre-merged k-heaps instead of P; at 10^5 partitions × k=1000 a flat
    * collect would ship 10^8 rows.
    */
  def topK(scored: RDD[ScoredDoc], k: Int, after: Option[ScoredDoc]): TopDocs = {
    val keep = afterGate(after)
    val (total, heap) = scored.treeAggregate((0L, new BoundedHitQueue(k)))(
      seqOp = (acc: (Long, BoundedHitQueue), sd: ScoredDoc) => {
        if (keep(sd)) acc._2.insert(sd.docId, sd.score); (acc._1 + 1, acc._2)
      },
      combOp = (a: (Long, BoundedHitQueue), b: (Long, BoundedHitQueue)) =>
        (a._1 + b._1, a._2.merge(b._2)),
      depth = 2)
    TopDocs(total, heap.toSortedArray)
  }

  /** RangeId-keyed values shuffled onto `parts` range partitions, sorted,
    * and streamed one range at a time (task memory bounded by one range),
    * each with its delete array from `dels` (null without one) and, when
    * `survivors` is given, only the ranges it holds — both merged in
    * rangeId order on the same partitioning.
    */
  def byRange[V: ClassTag](rows: RDD[(Long, V)], parts: Int,
      dels: Option[RDD[(Long, Array[Long])]],
      survivors: Option[RDD[Long]]): RDD[(Long, Array[V], Array[Long])] = {
    val part = new ByRange(parts, 1)
    val ranges = rows.repartitionAndSortWithinPartitions(part).mapPartitions(runs(_, identity))
    val kept = survivors.fold(ranges)(s =>
      ranges.zipPartitions(s.map(r => (r, r)).repartitionAndSortWithinPartitions(part)) {
        (rs, ss) =>
          val b = ss.map(_._1).buffered
          rs.filter { case (r, _) =>
            while (b.hasNext && b.head < r) b.next()
            b.hasNext && b.head == r
          }
      })
    dels match {
      case None => kept.map { case (r, vs) => (r, vs, null: Array[Long]) }
      case Some(d) => kept.zipPartitions(d) { (rs, ds) =>
        val b = ds.buffered
        rs.map { case (r, vs) =>
          while (b.hasNext && b.head._1 < r) b.next()
          (r, vs, if (b.hasNext && b.head._1 == r) b.head._2 else null)
        }
      }
    }
  }
}

/** Size-bounded hit queue with the reference collector's ordering: keep the
  * k best by (score desc, docId asc)
  * (/root/reference/core/search/collect.go:206-213,293-298).
  */
final class BoundedHitQueue(k: Int) extends Serializable {
  private val pq = new java.util.PriorityQueue[ScoredDoc](
    math.max(1, k), BoundedHitQueue.WorstFirst)

  /** Fold another queue's hits in (treeAggregate combOp). */
  def merge(other: BoundedHitQueue): BoundedHitQueue = {
    val it = other.pq.iterator()
    while (it.hasNext) { val d = it.next(); insert(d.docId, d.score) }
    this
  }

  def insert(docId: Long, score: Double): Unit = {
    if (pq.size < k) pq.add(ScoredDoc(docId, score))
    else {
      val worst = pq.peek()
      val better = score > worst.score || (score == worst.score && docId < worst.docId)
      if (better) { pq.poll(); pq.add(ScoredDoc(docId, score)) }
    }
  }

  def toSortedArray: Array[ScoredDoc] = {
    val arr = pq.toArray(new Array[ScoredDoc](pq.size))
    scala.util.Sorting.stableSort(arr, (a: ScoredDoc, b: ScoredDoc) =>
      a.score > b.score || (a.score == b.score && a.docId < b.docId))
    arr
  }
}

object BoundedHitQueue {
  /** head = WORST kept hit: lower score first; on equal score, larger docId
    * first. A named Serializable comparator — the queue ships as a
    * treeAggregate zero/partial value, and a SAM lambda would not serialize.
    */
  private object WorstFirst extends java.util.Comparator[ScoredDoc] with Serializable {
    def compare(a: ScoredDoc, b: ScoredDoc): Int =
      if (a.score != b.score) java.lang.Double.compare(a.score, b.score)
      else java.lang.Long.compare(b.docId, a.docId)
  }
}
