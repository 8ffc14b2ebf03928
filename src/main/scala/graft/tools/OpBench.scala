package graft.tools

import org.apache.spark.sql.SparkSession

import graft.FtQueries
import graft.search._

/** Hot-path latency of the round-5 serving surfaces against the driver
  * tables: monolithic vs SHARDED search (MultiSearcher over the doc_id%2
  * pair), exhaustive vs WAND on both, RRF hybrid fusion, and the module
  * analogues (facets on both, sharded grouping and suggest). Protocol per
  * BENCH.md: ≥20 INTERLEAVED reps per op on warmed searchers, p50 + p95
  * reported (host noise arrives in windows — interleaving exposes it to
  * every op equally). `cold_*` rows clear their searcher's LRU (`close()`)
  * before every rep, so each rep reads the terms table; `mono_wand_pruned`
  * has a zero driver-local bound, so each rep runs WAND's bound scan.
  *
  * Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 sbt 'runMain graft.tools.OpBench'
  */
object OpBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .appName("graft-opbench")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val q = BooleanQuery(Seq(
      BooleanClause(Occur.SHOULD, TermQuery("merge")),
      BooleanClause(Occur.SHOULD, TermQuery("spark"))))
    val mono = FtQueries.searcher(spark, sfDir)
    val multi = FtQueries.multiSearcher(spark, sfDir)
    val cold = new IndexSearcher(spark, FtQueries.indexPath(spark, sfDir))
    val pruned = new IndexSearcher(spark, FtQueries.indexPath(spark, sfDir))
    pruned.localSearchMaxPostings = 0
    def coldOp(f: IndexSearcher => Any): () => Unit = () => { cold.close(); f(cold); () }

    val ops: Seq[(String, () => Unit)] = Seq(
      ("mono_search", () => { mono.search(q, 10, ScoreMode.ExactDouble); () }),
      ("mono_wand", () => { Wand.searchTopK(mono, q, 10, ScoreMode.ExactDouble); () }),
      ("sharded_search", () => { multi.search(q, 10, ScoreMode.ExactDouble); () }),
      ("sharded_wand", () => { multi.searchWand(q, 10, ScoreMode.ExactDouble); () }),
      ("hybrid_rrf", () => { FtQueries.hybridDF(spark, sfDir, q, 0L, 50, 60, 10).collect(); () }),
      ("mono_facets", () => { mono.facetCounts(q, "lang").collect(); () }),
      ("sharded_facets", () => { multi.facetCounts(q, "lang").collect(); () }),
      ("sharded_grouped", () => {
        multi.groupedSearch(q, "lang", 3, 4, ScoreMode.ExactDouble).collect(); () }),
      ("sharded_suggest", () => { multi.suggestTerms("sart", 2, 5).collect(); () }),
      ("mono_wand_pruned", () => { Wand.searchTopK(pruned, q, 10, ScoreMode.ExactDouble); () }),
      ("cold_suggest", coldOp(_.suggestTerms("sart", 2, 5).collect()))) ++
      Seq("wildcard" -> "*ue*", "regexp" -> "/s[ct][a-z]+/", "fuzzy" -> "vale~2",
          "range" -> "commit:[100 TO 104]").map { case (kind, text) =>
        val cq = FtQueries.parser.parse(text)
        (s"cold_$kind", coldOp(_.search(cq, 10, ScoreMode.ExactDouble)))
      }

    // warm every path (index builds resume from cache; stats caches fill)
    ops.foreach { case (_, f) => f(); f() }

    val reps = sys.env.getOrElse("GRAFT_OPBENCH_REPS", "20").toInt
    val times = scala.collection.mutable.Map.empty[String, Vector[Double]]
      .withDefaultValue(Vector.empty)
    for (_ <- 0 until reps; (name, f) <- ops) { // interleaved
      val t0 = System.nanoTime()
      f()
      times(name) = times(name) :+ ((System.nanoTime() - t0) / 1e6)
    }
    def pct(v: Vector[Double], p: Double): Double = {
      val s = v.sorted
      s(math.min(s.length - 1, math.ceil(p * s.length).toInt - 1).max(0))
    }
    println(f"| op | p50 ms | p95 ms |  ($reps interleaved reps, $sfDir)")
    ops.foreach { case (name, _) =>
      val v = times(name)
      println(f"| $name%-16s | ${pct(v, 0.50)}%8.1f | ${pct(v, 0.95)}%8.1f |")
    }
    spark.stop()
  }
}
