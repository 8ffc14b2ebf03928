package graft.tools

import org.apache.spark.sql.SparkSession

/** Prints formatted physical plans of the Catalyst pipelines (quality,
  * exact dedup, ANN brute force) so their scan pushdown, exchanges and
  * codegen coverage can be audited (the "explain and iterate" loop). The
  * searcher reads its terms and postings through point readers, not
  * Catalyst, so it has no plan here.
  * Usage: runMain graft.tools.ExplainAudit <sfDir>
  */
object ExplainAudit {
  def main(args: Array[String]): Unit = {
    require(args.length == 1, "usage: ExplainAudit <sfDir>")
    val sfDir = args(0)
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def audit(name: String)(df: org.apache.spark.sql.DataFrame): Unit = {
      println(s"\n========== $name ==========")
      println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    audit("quality pipeline (codegen, no shuffle)") {
      graft.pipeline.TextOps.quality(docs, "text", "doc_id")
    }
    audit("exact dedup (single hash agg)") {
      graft.pipeline.Dedup.exactDupGroups(docs, "text", "doc_id")
    }
    audit("ann brute force (broadcast join)") {
      graft.pipeline.Ann.cosineTopK(
        spark.read.parquet(s"$sfDir/embeddings.parquet"), "vec_id", "embedding", 5L, 5)
    }
    spark.stop()
  }
}
