package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.search._
import graft.tools.SyntheticCorpus

/** Seeded input generators. The same seed gives the same inputs; a new seed
  * gives new documents with the same term-skew profile.
  */
object Gen {

  /** Seed `s` draws code files from its own index range of
    * [[SyntheticCorpus]]: documents differ, the skew profile does not.
    */
  def corpusBase(seed: Long): Long = (seed & 0x7fffffffL) << 32

  /** Writes code files [from, from + n) of the seed's corpus as parquet. */
  def writeCorpus(spark: SparkSession, seed: Long, from: Long, n: Long, parts: Int,
      path: String): Unit = corpus(spark, seed, from, n, parts).write.parquet(path)

  def corpus(spark: SparkSession, seed: Long, from: Long, n: Long, parts: Int): DataFrame = {
    import spark.implicits._
    val b = corpusBase(seed) + from
    spark.range(0L, n, 1L, parts).map(i => SyntheticCorpus.file(b + i.longValue)).toDF()
  }

  def contents(seed: Long, from: Long, n: Int): Seq[String] =
    (0 until n).map(i => SyntheticCorpus.content(corpusBase(seed) + from + i))

  // ---- search_hot queries ---------------------------------------------

  /** A distinct query of the search stream. `wand` queries run through
    * `Wand.searchTopK` with its defaults, the rest through `search`.
    */
  final case class Q(cls: String, query: Query, wand: Boolean = false)

  private def or(ts: Seq[String]): Query =
    BooleanQuery(ts.map(t => BooleanClause(Occur.SHOULD, TermQuery(t))))

  /** The query pool, in Zipf rank order (rank 1 is asked most). The order
    * is an assumed traffic profile, not a measured one: one query per class
    * in the order term (hot, mid, rare), boolean (OR, AND, minShouldMatch,
    * many-term), exact phrase (rare, hot), prefix, singleton, WAND. The seed
    * picks the terms inside each class; the classes and their ranks never
    * change, so every seed asks the same mix.
    */
  def queryPool(seed: Long, docs: Long): IndexedSeq[Q] = {
    val r = new scala.util.Random(seed * 7919L + 17L)
    val mid = r.shuffle(SyntheticCorpus.mid.toSeq)
    val hot = r.shuffle(SyntheticCorpus.hot.toSeq)
    val ws = Seq.fill(4)(s"w${r.nextInt(500)}")
    val single = s"uniqtoken_${corpusBase(seed) + (r.nextLong() & Long.MaxValue) % docs}"
    IndexedSeq(
      Q("term", TermQuery(hot(0))),
      Q("term", TermQuery(mid(0))),
      Q("term", TermQuery(ws(0))),
      Q("bool", or(Seq(mid(1), mid(2)))),
      Q("bool", BooleanQuery(Seq(
        BooleanClause(Occur.MUST, TermQuery(hot(1))), BooleanClause(Occur.MUST, TermQuery(mid(3)))))),
      Q("bool", BooleanQuery(
        Seq(mid(4), mid(5), mid(6)).map(t => BooleanClause(Occur.SHOULD, TermQuery(t))), minShouldMatch = 2)),
      Q("bool", or(Seq(hot(2), mid(7), ws(1), ws(2), mid(0), mid(1), ws(0), ws(3)))),
      Q("phrase", PhraseQuery(Seq(mid(5), mid(6)))),
      Q("phrase", PhraseQuery(Seq(hot(0), hot(1)))),
      Q("prefix", PrefixQuery(s"w${1 + r.nextInt(9)}")),
      Q("singleton", TermQuery(single)),
      Q("wand", or(Seq(hot(2), mid(8), ws(3))), wand = true))
  }

  /** Zipf(1) stream over pool ranks 0 until n, drawn in blocks: each block
    * holds rank k exactly max(1, round(300 / (k H_n))) times, in a seeded
    * order. Every block asks the same mix, so runs differ in the order of
    * queries and in their terms, not in how many heavy queries they drew.
    */
  final class ZipfBlocks(n: Int, seed: Long) {
    private val r = new scala.util.Random(seed)
    private val h = (1 to n).map(1.0 / _).sum
    val block: IndexedSeq[Int] =
      (0 until n).flatMap(k => Seq.fill(math.max(1, math.round(300.0 / ((k + 1) * h)).toInt))(k))
    private var pending: List[Int] = Nil
    def next(): Int = {
      if (pending.isEmpty) pending = r.shuffle(block).toList
      val k = pending.head
      pending = pending.tail
      k
    }
  }

  // ---- dedup inputs ---------------------------------------------------

  private val words = IndexedSeq("spark", "sort", "column", "batch", "scan", "hash", "join",
    "table", "value", "order", "group", "filter", "window", "stream", "vector", "query",
    "merge", "index", "shard", "token", "buffer", "parser", "cache", "line", "part",
    "small", "big", "fast", "slow", "key", "data", "agg", "row", "page", "block", "file",
    "node", "task", "stage", "plan", "split", "range", "limit", "count", "score", "rank",
    "field", "term", "doc", "list", "map", "set", "tree", "heap", "queue", "graph")

  /** Text documents with planted duplicates, plus their ground truth.
    *  - 60% of docs open with one shared 20-word header (a license block):
    *    its shingles are common to all of them, so some LSH band values are
    *    shared by a large share of the corpus and buckets are skewed, while
    *    header docs stay below the near-duplicate threshold of each other:
    *    two with L own words share 18 of about 2L + 18 distinct word
    *    3-grams, and L >= 40 keeps that near 0.2, far enough below 0.3
    *    that chance overlaps of their own words do not reach it.
    *  - 5% are exact copies of an earlier doc (`copyOf`).
    *  - 5% are near-duplicates of an earlier doc: one word changed (`nearOf`).
    */
  final case class DedupText(ids: Array[Long], texts: Array[String],
      copyOf: Map[Long, Long], nearOf: Map[Long, Long])

  def dedupText(seed: Long, n: Int): DedupText = {
    val r = new scala.util.Random(seed * 104729L + 3L)
    val header = Seq.fill(20)(words(r.nextInt(words.size))).mkString(" ")
    val texts = new Array[String](n)
    val copyOf = Map.newBuilder[Long, Long]
    val nearOf = Map.newBuilder[Long, Long]
    for (i <- 0 until n) {
      val u = r.nextDouble()
      if (i > 10 && u < 0.05) {
        val src = r.nextInt(i)
        texts(i) = texts(src)
        copyOf += i.toLong -> src.toLong
      } else if (i > 10 && u < 0.10) {
        val src = r.nextInt(i)
        val ws = texts(src).split(' ')
        val at = ws.length - 1 - r.nextInt(math.min(10, ws.length))
        ws(at) = s"edit${r.nextInt(1000000)}"
        texts(i) = ws.mkString(" ")
        nearOf += i.toLong -> src.toLong
      } else {
        val own = Seq.fill(40 + r.nextInt(20))(words(r.nextInt(words.size))).mkString(" ")
        texts(i) = if (r.nextDouble() < 0.6) s"$header $own" else own
      }
    }
    DedupText(Array.tabulate(n)(_.toLong), texts, copyOf.result(), nearOf.result())
  }

  /** 64-dimensional embeddings in 16 planted clusters; 5% of the vectors
    * are near-copies (cosine > 0.99) of an earlier vector.
    */
  final case class DedupVecs(vecs: Array[Array[Float]])

  def dedupVecs(seed: Long, n: Int): DedupVecs = {
    val (clusters, dim) = (16, 64)
    val r = new scala.util.Random(seed * 15485863L + 5L)
    val centers = Array.fill(clusters, dim)(r.nextGaussian())
    val vecs = new Array[Array[Float]](n)
    for (i <- 0 until n) {
      if (i > 10 && r.nextDouble() < 0.05) {
        val src = r.nextInt(i)
        vecs(i) = vecs(src).map(x => (x + 0.01 * r.nextGaussian()).toFloat)
      } else {
        val c = centers(r.nextInt(clusters))
        vecs(i) = c.map(x => (x + 0.6 * r.nextGaussian()).toFloat)
      }
    }
    DedupVecs(vecs)
  }
}
