package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.analysis.StandardCodeAnalyzer
import graft.index.{IndexBuilder, IndexConfig}
import graft.search.{IndexSearcher, MultiSearcher, QueryParser, ScoreMode}

/** Command-line surface of the engine.
  *
  * {{{
  * sbt "runMain graft.Cli build <corpusParquet> <indexDir>"   # corpus: (repo,path,commit,lang,content) or documents.parquet
  * sbt "runMain graft.Cli search <indexDir> <k> <query...>"   # classic query syntax
  * sbt "runMain graft.Cli delete <indexDir> <field> <term>"   # persistent delete-by-term
  * sbt "runMain graft.Cli check <indexDir>"                   # CheckIndex validation
  * sbt "runMain graft.Cli merge <indexDir>"                   # tiered merge (reclaim-aware), each merge committed
  * sbt "runMain graft.Cli expunge <indexDir> [minFrac]"       # rewrite delete-heavy waves, each committed
  * sbt "runMain graft.Cli facets <indexDir> <col> <query...>" # value counts over all matches
  * sbt "runMain graft.Cli suggest <indexDir> <term> [maxEdits]" # did-you-mean spelling suggestions
  * sbt "runMain graft.Cli sort <indexDir> <col> <k> <query...>" # matches ordered by a stored column
  * sbt "runMain graft.Cli msearch <dir1,dir2,...> <k> <query...>" # sharded search, merged global stats
  * sbt "runMain graft.Cli hybrid <indexDir> <embParquet> <vecId> <k> <query...>" # RRF lexical+vector fusion
  * sbt "runMain graft.Cli group <dir[,dir2]> <col> <topGroups> <docsPerGroup> <query...>" # result grouping (sharded with a comma list)
  * }}}
  */
object Cli {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[8]"))
      .appName("graft-cli")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, args.toList)
    finally spark.stop()
  }

  private def run(spark: SparkSession, args: List[String]): Unit = args match {
    case "build" :: corpus :: indexDir :: Nil =>
      val raw = spark.read.parquet(corpus)
      // accept either the CodeFile shape or the documents.parquet shape;
      // the latter's doc_id becomes the ENGINE docId (explicitDocIdCol), so
      // CLI search hits, deletes, and `hybrid`'s embedding join all speak
      // the table's ids directly
      val documentsShape = !raw.columns.contains("content")
      val df =
        if (!documentsShape) raw.select("repo", "path", "commit", "lang", "content")
        else raw.select(
          col("doc_id"),
          col("source").as("repo"),
          col("doc_id").cast("string").as("path"),
          lit("").as("commit"),
          col("lang"),
          col("text").as("content"))
      val cfg = IndexConfig(analyzer = new StandardCodeAnalyzer(),
        explicitDocIdCol = if (documentsShape) Some("doc_id") else None)
      val m = new IndexBuilder(spark, cfg).build(df, indexDir)
      println(s"BUILT index at $indexDir: maxDoc=${m.maxDoc} docCount=${m.docCount}")
    case "search" :: indexDir :: k :: rest if rest.nonEmpty =>
      val searcher = new IndexSearcher(spark, indexDir)
      // lenient fields: free-text surface — colons are ordinary code/query
      // characters (`std::vector`, URLs), not field prefixes to reject
      val q = new QueryParser(new StandardCodeAnalyzer(), strictFields = false)
        .parse(rest.mkString(" "))
      println(s"QUERY: $q")
      val top = searcher.search(q, k.toInt, ScoreMode.Ref32)
      println(s"totalHits=${top.totalHits}")
      top.scoreDocs.foreach(d => println(f"  doc=${d.docId}%6d score=${d.score}%.4f"))
    // sharded search: comma-separated index dirs, merged global stats
    case "msearch" :: indexDirs :: k :: rest if rest.nonEmpty =>
      val multi = MultiSearcher(spark, indexDirs.split(',').toSeq)
      val q = new QueryParser(new StandardCodeAnalyzer(), strictFields = false)
        .parse(rest.mkString(" "))
      println(s"QUERY: $q  (${indexDirs.split(',').length} shards)")
      val top = multi.search(q, k.toInt, ScoreMode.Ref32)
      println(s"totalHits=${top.totalHits}")
      top.scoreDocs.foreach(d => println(f"  doc=${d.docId}%6d score=${d.score}%.4f"))
    // hybrid lexical+vector: BM25 top-50 RRF-fused (k0=60) with the cosine
    // top-50 around the embedding of queryVecId
    case "hybrid" :: indexDir :: embParquet :: queryVecId :: k :: rest if rest.nonEmpty =>
      val searcher = new IndexSearcher(spark, indexDir)
      val q = new QueryParser(new StandardCodeAnalyzer(), strictFields = false)
        .parse(rest.mkString(" "))
      println(s"QUERY: $q  + vec#$queryVecId")
      val lexTop = searcher.search(q, 50, ScoreMode.Ref32).scoreDocs.map(_.docId).toSeq
      val emb = spark.read.parquet(embParquet)
      val vec = graft.pipeline.Hybrid.vectorRanks(emb, emb.columns(0), "embedding",
        queryVecId.toLong, 50)
      graft.pipeline.Hybrid.rrfFuse(spark, lexTop, vec, 60, k.toInt).collect()
        .foreach(r => println(f"  doc=${r.getLong(0)}%6d rrf=${r.getDouble(1)}%.5f " +
          s"lrank=${if (r.isNullAt(2)) "-" else r.getLong(2)} " +
          s"vrank=${if (r.isNullAt(3)) "-" else r.getLong(3)}"))
    // grouped search (top groups by best hit, top docs per group); a
    // comma-separated dir list runs it SHARDED with merged global stats
    case "group" :: indexDirs :: groupCol :: tg :: dpg :: rest if rest.nonEmpty =>
      val q = new QueryParser(new StandardCodeAnalyzer(), strictFields = false)
        .parse(rest.mkString(" "))
      println(s"QUERY: $q")
      val rows =
        if (indexDirs.contains(','))
          MultiSearcher(spark, indexDirs.split(',').toSeq)
            .groupedSearch(q, groupCol, tg.toInt, dpg.toInt)
        else new IndexSearcher(spark, indexDirs)
          .groupedSearch(q, groupCol, tg.toInt, dpg.toInt)
      rows.orderBy(col("groupTop").desc, col(groupCol), col("rank")).collect()
        .foreach(r => println(f"  ${r.getString(0)}%-10s top=${r.getDouble(1)}%.4f " +
          f"rank=${r.getInt(2)} doc=${r.getLong(3)}%6d score=${r.getDouble(4)}%.4f"))
    case "delete" :: indexDir :: field :: term :: Nil =>
      val before = graft.index.Deletes.count(spark, indexDir)
      graft.index.Deletes.deleteByTerm(spark, indexDir, Seq((field, term)))
      val after = graft.index.Deletes.count(spark, indexDir)
      println(s"DELETED ${after - before} docs matching $field:$term (total deleted: $after)")
    case "check" :: indexDir :: Nil =>
      val report = graft.index.CheckIndex.run(spark, indexDir)
      if (report.ok) println("CHECK OK")
      else {
        println(s"CHECK FAILED:\n  ${report.problems.mkString("\n  ")}")
        sys.exit(1)
      }
    case "merge" :: indexDir :: Nil =>
      val delsBefore = graft.index.Deletes.count(spark, indexDir)
      val merged = graft.index.TieredMerge.maybeMergeReclaim(spark, indexDir) // each merge commits
      val delsAfter = graft.index.Deletes.count(spark, indexDir)
      println(s"MERGED ${merged.size} groups into waves ${merged.mkString(",")}; " +
        s"deletes $delsBefore -> $delsAfter")
    case "expunge" :: indexDir :: rest if rest.size <= 1 =>
      val frac = rest.headOption.map(_.toDouble).getOrElse(0.1)
      val delsBefore = graft.index.Deletes.count(spark, indexDir)
      val rewritten = graft.index.TieredMerge.expungeDeletes(spark, indexDir, frac)
      val delsAfter = graft.index.Deletes.count(spark, indexDir)
      println(s"EXPUNGED ${rewritten.size} waves (deleted fraction >= $frac); " +
        s"deletes $delsBefore -> $delsAfter")
    case "facets" :: indexDir :: facetCol :: rest if rest.nonEmpty =>
      val searcher = new IndexSearcher(spark, indexDir)
      val q = new QueryParser(new StandardCodeAnalyzer(), strictFields = false)
        .parse(rest.mkString(" "))
      println(s"QUERY: $q")
      searcher.facetCounts(q, facetCol, topN = 20).collect()
        .foreach(r => println(f"  ${r.get(0)}%-24s ${r.getLong(1)}%8d"))
    case "suggest" :: indexDir :: term :: rest if rest.size <= 1 =>
      val maxEdits = rest.headOption.map(_.toInt).getOrElse(2)
      val searcher = new IndexSearcher(spark, indexDir)
      val rows = searcher.suggestTerms(term, maxEdits, topN = 8).collect()
      if (rows.isEmpty) println(s"no suggestions within $maxEdits edits of '$term'")
      else rows.foreach(r =>
        println(f"  ${r.getString(0)}%-24s dist=${r.getInt(2)} df=${r.getLong(1)}%d"))
    case "sort" :: indexDir :: sortCol :: k :: rest if rest.nonEmpty =>
      val searcher = new IndexSearcher(spark, indexDir)
      val q = new QueryParser(new StandardCodeAnalyzer(), strictFields = false)
        .parse(rest.mkString(" "))
      println(s"QUERY: $q")
      searcher.searchSortBy(q, sortCol, k.toInt).collect()
        .foreach(r => println(f"  doc=${r.getLong(0)}%6d $sortCol=${r.get(1)}"))
    case other =>
      System.err.println("usage: build <corpusParquet> <indexDir> | search <indexDir> <k> <query...> | " +
        s"delete <indexDir> <field> <term> | check <indexDir> | merge <indexDir> | " +
        s"expunge <indexDir> [minFrac] | facets <indexDir> <col> <query...> | " +
        s"suggest <indexDir> <term> [maxEdits] | sort <indexDir> <col> <k> <query...> | " +
        s"msearch <dir1,dir2,...> <k> <query...> | " +
        s"hybrid <indexDir> <embParquet> <queryVecId> <k> <query...> | " +
        s"group <dir[,dir2]> <col> <topGroups> <docsPerGroup> <query...> (got: $other)")
      sys.exit(2)
  }
}
