package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.analysis.{Analyzer, SimpleAnalyzer, StandardCodeAnalyzer}
import graft.search._

/** SQL-native search surface: the engine's top-k as a DataSource V2 table,
  * so BM25 queries compose with plain Spark SQL —
  *
  * {{{
  * CREATE TEMPORARY VIEW hits
  * USING `graft-search`
  * OPTIONS (index '/idx', query '+import parser', k '20');
  * SELECT * FROM hits WHERE score > 1.5 ORDER BY score DESC LIMIT 5;
  * }}}
  *
  * or `spark.read.format("graft-search").option(...).load()`.
  *
  * Options: `index` (required; a COMMA-SEPARATED list opens a sharded
  * [[graft.search.MultiSearcher]] view — global idf/avgdl merged across the
  * shard dictionaries, results identical to one index over the union),
  * `query` (required, classic parser syntax),
  * `k` (default 10), `mode` (`ref32`|`exact`), `field` (default field,
  * default `content`), `keywordFields` / `analyzedFields` (comma-separated,
  * for `field:value` and fielded text/phrase routing),
  * `analyzer` (`standard`|`simple`), `wand` (`true` to prune),
  * `similarity` (`bm25` default | `bm25l`|`bm25plus`|`atire`|`modbm25`|
  * `tfidf`|`lmdirichlet`|`lmjelinekmercer`|`lmhiemstra`|`lmabsdisc`|
  * `lmtwostage`|`dfr`|`ib`|`dfi`),
  * `strictFields` (`true` to reject unknown `field:` prefixes; default false
  * — free-text queries with colons are searched, not errored).
  *
  * Catalyst integration: `LIMIT n` pushes down into `k`
  * (SupportsPushDownLimit) — `SELECT * FROM hits LIMIT 3` evaluates a k=3
  * search, not k=10 truncated. The search itself is a driver-coordinated
  * distributed job (planInputPartitions runs on the driver); the bounded
  * top-k result ships to executors as one InputPartition.
  */
class GraftSearchSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-search"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GraftSearchTable.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new GraftSearchTable(new CaseInsensitiveStringMap(properties))
}

object GraftSearchTable {
  val Schema: StructType = StructType(Seq(
    StructField("docId", LongType, nullable = false),
    StructField("score", DoubleType, nullable = false)))

  // searchers are expensive to warm (manifest + stats cache) → share per
  // (index, field, similarity) across queries in this JVM, keyed by a
  // freshness token: the commit (which names every file a searcher reads,
  // so any publish, append or merge changes it) plus the deletes dir. One
  // live searcher per key: a token change replaces it and closes the one
  // it displaces (no unbounded growth under frequent publishes).
  private val searchers =
    new java.util.concurrent.ConcurrentHashMap[(String, String, String), (String, IndexSearcher)]

  private def freshness(spark: SparkSession, index: String): String = {
    val conf = spark.sparkContext.hadoopConfiguration
    val d = new org.apache.hadoop.fs.Path(s"$index/deletes")
    val fs = d.getFileSystem(conf)
    val dels =
      if (!fs.exists(d)) "-"
      else fs.listStatus(d).map(s => s"${s.getPath.getName}:${s.getLen}:${s.getModificationTime}")
        .sorted.mkString("|")
    // full strings, no lossy hashing
    s"${graft.index.IndexManifest.commitText(conf, index).getOrElse("-")}/$dels"
  }

  /** The cached value of `key` when its token is `tok`, else `open()`'s,
    * which replaces it; atomic per key, so concurrent callers that see a new
    * token open one value between them. The displaced value is closed.
    */
  private[graft] def reuseOrOpen[K, V](cache: java.util.concurrent.ConcurrentHashMap[K, (String, V)],
      key: K, tok: String)(open: => V)(close: V => Unit): V = {
    var displaced: Option[V] = None
    val (_, v) = cache.compute(key, (_, cur) =>
      if (cur != null && cur._1 == tok) cur
      else { displaced = Option(cur).map(_._2); (tok, open) })
    displaced.foreach(close)
    v
  }

  /** `similarity` option → scoring model (default bm25). */
  private[sources] def similarityFor(name: String): Similarity =
    name.toLowerCase match {
      case "bm25" => new Bm25Similarity
      case "bm25l" => new Bm25LSimilarity
      case "bm25plus" | "bm25+" => new Bm25PlusSimilarity
      case "atire" => new AtireBm25Similarity
      case "modbm25" => new ModBm25Similarity
      case "tfidf" | "classic" => new TfIdfSimilarity
      case "lmdirichlet" | "lmd" => new LMDirichletSimilarity
      case "lmjelinekmercer" | "lmjm" => new LMJelinekMercerSimilarity
      case "lmhiemstra" | "lmh" => new LMHiemstraSimilarity
      case "lmabsdisc" | "lmad" => new LMAbsoluteDiscountingSimilarity
      case "lmtwostage" | "lmts" => new LMTwoStageSimilarity
      case "dfr" => new DFRSimilarity
      case "ib" => new IBSimilarity
      case "dfi" => new DFISimilarity
      case other => throw new IllegalArgumentException(
        s"unknown similarity '$other' (bm25|bm25l|bm25plus|atire|modbm25|" +
          "tfidf|lmdirichlet|lmjelinekmercer|lmhiemstra|lmabsdisc|lmtwostage|dfr|ib|dfi)")
    }

  private[graft] def searcher(index: String, field: String,
      simName: String = "bm25"): IndexSearcher = {
    val spark = SparkSession.active
    reuseOrOpen(searchers, (index, field, simName.toLowerCase), freshness(spark, index))(
      new IndexSearcher(spark, index, field, similarityFor(simName)))(_.close())
  }

  /** Test hook: live cached searchers (for cache-release assertions). */
  private[graft] def cachedSearchers: Seq[IndexSearcher] =
    searchers.values().asScala.map(_._2).toSeq

  // sharded views: `index 'dirA,dirB,…'` → a MultiSearcher over its own
  // shard searchers, so evicting it closes nothing the single-index entries
  // still use. Freshness token = every shard's token joined, so a
  // publish/delete/merge on ANY shard refreshes the whole group; eviction
  // closes all shards.
  private val multiSearchers =
    new java.util.concurrent.ConcurrentHashMap[(String, String, String), (String, MultiSearcher)]

  private[graft] def multiSearcher(indexes: String, field: String,
      simName: String = "bm25"): MultiSearcher = {
    val spark = SparkSession.active
    val dirs = indexes.split(',').map(_.trim).filter(_.nonEmpty).toSeq
    reuseOrOpen(multiSearchers, (indexes, field, simName.toLowerCase),
      dirs.map(freshness(spark, _)).mkString("§"))(
      MultiSearcher(spark, dirs, field, similarityFor(simName)))(_.close())
  }
}

final class GraftSearchTable(options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  override def name(): String =
    s"graft-search(${options.get("index")}, '${options.get("query")}')"
  override def schema(): StructType = GraftSearchTable.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(caseInsensitiveStringMap: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(options)
}

final class GraftScanBuilder(options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownLimit {
  private var limit: Int = -1
  override def pushLimit(l: Int): Boolean = { limit = l; true }
  override def build(): Scan = new GraftScan(options, limit)
}

final class GraftScan(options: CaseInsensitiveStringMap, limit: Int)
    extends Scan with Batch {
  override def readSchema(): StructType = GraftSearchTable.Schema
  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] = {
    val index = options.get("index")
    val queryStr = options.get("query")
    require(index != null && queryStr != null,
      "graft-search requires OPTIONS (index '...', query '...')")
    val field = options.getOrDefault("field", "content")
    val k0 = options.getInt("k", 10)
    val k = if (limit >= 0) math.min(k0, limit) else k0
    val mode = options.getOrDefault("mode", "ref32").toLowerCase match {
      case "exact" | "exactdouble" => ScoreMode.ExactDouble
      case _ => ScoreMode.Ref32
    }
    val analyzer: Analyzer = options.getOrDefault("analyzer", "standard").toLowerCase match {
      case "simple" => new SimpleAnalyzer(Analyzer.EnglishStopWords)
      case _ => new StandardCodeAnalyzer()
    }
    def fieldSet(opt: String): Set[String] = Option(options.get(opt))
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet).getOrElse(Set.empty[String])
    val kw = fieldSet("keywordFields")
    val af = fieldSet("analyzedFields")
    // free-text surface → lenient by default (colons in `std::vector`/URLs
    // are query text, not field prefixes); opt back in with strictFields=true
    val strict = options.getBoolean("strictFields", false)
    val q = new QueryParser(analyzer, field, kw, strictFields = strict,
      analyzedFields = af).parse(queryStr)
    val simName = options.getOrDefault("similarity", "bm25")
    val wand = options.getBoolean("wand", false)
    // comma-separated dirs → sharded search with merged global stats
    val top =
      if (index.contains(',')) {
        val multi = GraftSearchTable.multiSearcher(index, field, simName)
        if (wand) multi.searchWand(q, k, mode) else multi.search(q, k, mode)
      } else {
        val searcher = GraftSearchTable.searcher(index, field, simName)
        if (wand) Wand.searchTopK(searcher, q, k, mode)
        else searcher.search(q, k, mode)
      }
    Array(GraftResultPartition(top.scoreDocs.map(d => (d.docId, d.score))))
  }

  override def createReaderFactory(): PartitionReaderFactory = GraftReaderFactory
}

final case class GraftResultPartition(rows: Array[(Long, Double)]) extends InputPartition

object GraftReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val rows = partition.asInstanceOf[GraftResultPartition].rows
      private var i = -1
      override def next(): Boolean = { i += 1; i < rows.length }
      override def get(): InternalRow = InternalRow(rows(i)._1, rows(i)._2)
      override def close(): Unit = ()
    }
}
